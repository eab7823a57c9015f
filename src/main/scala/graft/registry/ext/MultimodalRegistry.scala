package graft.registry.ext

import graft.core.{Diff, DiffOptions, Records}
import graft.ext.{Assemble, AudioHash, Curation, Dedup, ImageHash, Multimodal, Similarity, TextAnalysis, VideoHash}
import graft.mapper.Mapper
import graft.pipeline.{ImportService, Preset}
import graft.sources.InlineSource
import graft.targets.{FileTarget, JdbcTarget}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.registry.Shared._

/** Binary media tier: PPM/PNG/JPEG/Y4M/WAV
  codec walks, tolerant corrupt channels, perceptual image/video/
  audio fingerprints with clusters + incremental ingest, clip-in-
  corpus search (per-query and persisted), streaming media dedup.
  *
  * One ExtRegistry domain file (split from the
  * monolith, r15 verdict task 7) — entries moved
  * verbatim; [[graft.registry.ExtRegistry]]
  * aggregates the domain maps. */
private[graft] object MultimodalRegistry {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // multimodal: binary columns + typed metadata (oracle-checked)
    "q_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.synthesize(
        s.read.parquet(t(dir, "documents")), "doc_id", "text")
      Multimodal.withMeta(media)
        .select(col("media_id"), col("media_type"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.sha256").as("sha256"))
    }),

    // multimodal decode plumbing: stubbed codec via mapPartitions
    // (rows-only: the fake feature values are JVM-hash derived)
    // decode stub over mapPartitions batches — oracle-checked: the
    // deterministic fake dimensions derive from the portable 60-bit
    // md5 hash, which DuckDB replays (the real-codec swap point keeps
    // the same schema/batch contract)
    "q_multimodal_decode" -> ((s, dir) => {
      val media = Multimodal.synthesize(
        s.read.parquet(t(dir, "documents")), "doc_id", "text")
      Multimodal.decodeStub(media).toDF()
        .select(col("media_id"), col("media_type"), col("n_bytes"),
          col("width"), col("height"), col("duration_ms"))
    }),

    // frame-sample plan: per-video sampled timestamps exploded from
    // METADATA only (frame bytes never materialize); durations come
    // from the portable-hash decode stub, so the oracle replays the
    // exact sampled grid
    "q_multimodal_frames" -> ((s, dir) => {
      val media = Multimodal.synthesize(
        s.read.parquet(t(dir, "documents")), "doc_id", "text")
      Multimodal.frameSamplePlan(
        Multimodal.decodeStub(media).toDF(), everyMs = 60000L)
    }),

    // aspect-preserving resize plan in exact integer arithmetic
    // (no round-half convention in the contract)
    "q_multimodal_resize" -> ((s, dir) => {
      val media = Multimodal.synthesize(
        s.read.parquet(t(dir, "documents")), "doc_id", "text")
      Multimodal.resizePlan(
        Multimodal.decodeStub(media).toDF(), maxSide = 512)
    }),

    // ── REAL codec tier: one valid binary P6 PPM per document
    // (dimensions + pixel bytes are pure integer arithmetic in the
    // doc_id), decoded by an actual header parser + payload
    // aggregation in the mapPartitions batch shape. The oracle
    // replays every feature — width, height, per-channel sums and
    // floor-milli means — from the id formula without touching the
    // binary, which certifies the decoder read the bytes it was
    // handed. (decodeStub remains the audio/video swap point; this
    // row retires the "codec is only a stub" gap for images.) ──
    "q_multimodal_ppm" -> ((s, dir) => {
      val media = Multimodal.synthesizePpm(
        s.read.parquet(t(dir, "documents")), "doc_id")
      Multimodal.decodePpm(media).toDF()
    }),

    // perceptual near-dup tier for images: REAL P6 decode →
    // 9×8 gradient-sign dHash (exact integer luma/box math) → banded
    // LSH pair join (4×16-bit bands + dims in the block key;
    // pigeonhole-complete for hamming ≤ 3) → bit_count(xor) verify.
    // Every 10th image gets a single-pixel-vandalized twin (id+"v")
    // — a PLANTED hamming≤1 pair the banded join must recover, so
    // the row certifies recall, not just precision.
    "q_image_dhash" -> ((s, dir) => {
      val base = Multimodal.synthesizePpm(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val twins = ImageHash.vandalizeFirstPixel(
        base.filter(col("media_id").cast("long") % 10 === 0), "v")
      ImageHash.dhashPairs(base.unionByName(twins))
    }),

    // the PRODUCTION path of the perceptual tier: pair enumeration is
    // quadratic in duplicate-cluster size (the ~sf1 key-growth smoke
    // measured 3,088 → 517,776 within-cluster pairs for 10× data), so
    // the scale output is a per-image cluster assignment — exact-hash
    // collapse, banded pairing + connected components over the
    // DISTINCT hash table, one join back. Same planted-twin input as
    // the pair row, so recall is certified here too.
    "q_image_dhash_clusters" -> ((s, dir) => {
      val base = Multimodal.synthesizePpm(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val twins = ImageHash.vandalizeFirstPixel(
        base.filter(col("media_id").cast("long") % 10 === 0), "v")
      ImageHash.dhashClusters(base.unionByName(twins))
    }),

    // incremental perceptual ingest, IMAGE tier: today's batch is
    // the single-pixel-vandalized RE-UPLOADS of every 10th image
    // (the realistic ingest case — slightly-edited copies arriving
    // against the accumulated corpus), banded-joined against the
    // full base corpus with no corpus self-comparison. Every batch
    // image has a guaranteed hamming ≤ 1 source, so the row
    // certifies cross-join RECALL, not just precision.
    "q_image_dhash_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizePpm(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val batch = ImageHash.vandalizeFirstPixel(
        media.filter(col("media_id").cast("long") % 10 === 0), "v")
      ImageHash.dhashPairsAgainst(batch, media)
    }),

    // RE-ENCODE-robust perceptual dedup: the realistic near-dup is a
    // lossy RE-SAVE, not pixel vandalism — every 10th JPEG is decoded
    // (full T.81) and re-encoded at quantScale=4 (different DQT,
    // different entropy bytes ⇒ sha256 dedup misses it), then the
    // re-upload batch is banded-joined against the full JPEG corpus.
    // For the flat-tile corpus the quant-4 round trip is provably
    // pixel-exact (DC error ≤ 4/16 < the 0.5 rounding radius), so
    // the gradient-sign hash survives with hamming 0 BY CONSTRUCTION
    // — the oracle replays every twin's hash as its source's hash
    // from the tile formula and recomputes the full ≤3 pair set.
    "q_image_dhash_reencode" -> ((s, dir) => {
      val media = Multimodal.synthesizeJpeg(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val batch = ImageHash.reencodeJpeg(
        media.filter(col("media_id").cast("long") % 10 === 0), "r",
        quantScale = 4)
      ImageHash.jpegDHashPairsAgainst(batch, media)
    }),

    // the PRODUCTION path for re-encoded corpora (the key-growth
    // smoke read the pair row at 100× output): exact-hash collapse +
    // banded pairing + CC over representatives over the SAME
    // corpus ∪ re-encoded twins — O(n) cluster assignments instead
    // of output-quadratic pair enumeration
    "q_image_dhash_reencode_clusters" -> ((s, dir) => {
      val media = Multimodal.synthesizeJpeg(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val batch = ImageHash.reencodeJpeg(
        media.filter(col("media_id").cast("long") % 10 === 0), "r",
        quantScale = 4)
      ImageHash.jpegDHashClusters(media.unionByName(batch))
    }),

    // audio counterpart of q_multimodal_corrupt: id%7==3 WAVs
    // truncated mid-container; the tolerant RIFF walker emits ok=0
    // casualties and decodes the rest
    "q_wav_corrupt" -> ((s, dir) => {
      val media = Multimodal.synthesizeWav(
          s.read.parquet(t(dir, "documents")), "doc_id")
        .withColumn("content",
          when(pmod(col("media_id").cast("long"), lit(7)) === 3,
            expr("substring(content, 1, 20)"))
            .otherwise(col("content")))
      Multimodal.decodeWavChannel(media).toDF()
    }),

    // lossy-codec counterpart of q_multimodal_corrupt: id%7==5 JFIF
    // streams truncated to 40 bytes (mid-header — before any SOS);
    // the tolerant T.81 channel emits ok=0 casualties and decodes
    // the rest bit-exactly
    "q_jpeg_corrupt" -> ((s, dir) => {
      val media = Multimodal.synthesizeJpeg(
          s.read.parquet(t(dir, "documents")), "doc_id")
        .withColumn("content",
          when(pmod(col("media_id").cast("long"), lit(7)) === 5,
            expr("substring(content, 1, 40)"))
            .otherwise(col("content")))
      Multimodal.decodeJpegChannel(media).toDF()
    }),

    // VIDEO rung of the codec ladder (image→audio→video): real
    // YUV4MPEG2 container walk — stream-header params, per-frame
    // FRAME markers, fixed-stride plane accumulation over BOTH
    // C420jpeg (even ids) and C444 (odd ids) layouts; every decoded
    // feature replays from the id formula
    "q_multimodal_y4m" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4m(
        s.read.parquet(t(dir, "documents")), "doc_id")
      Multimodal.decodeY4m(media).toDF()
    }),

    // VIDEO rung of the perceptual ladder: per-frame luma dHash over
    // the real Y4M container walk, banded LSH on the frame-0 hash,
    // max-over-aligned-frames verification; planted first-luma-byte
    // twins (doc_id%10=0) certify recall through the banded join
    "q_video_dhash" -> ((s, dir) => {
      val base = Multimodal.synthesizeY4m(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val twins = VideoHash.vandalizeFirstLuma(
        base.filter(col("media_id").cast("long") % 10 === 0), "v")
      VideoHash.y4mDhashPairs(base.unionByName(twins))
    }),

    // production path of the video tier (the q_image_dhash_clusters
    // argument): exact frame-signature collapse + CC over
    // representatives — O(n) output where pair enumeration read
    // 16.2M rows at key-growth ~sf1
    "q_video_dhash_clusters" -> ((s, dir) => {
      val base = Multimodal.synthesizeY4m(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val twins = VideoHash.vandalizeFirstLuma(
        base.filter(col("media_id").cast("long") % 10 === 0), "v")
      VideoHash.y4mDhashClusters(base.unionByName(twins))
    }),

    // CLIP-IN-CORPUS video search: 2-frame clips sliced from real
    // Y4M bytes and re-encoded as standalone streams (certifying the
    // container path end to end), located by an exact-key join of
    // 2-frame window keys (dims + both frame hashes — n_frames NOT
    // in the key, so a clip is found inside LONGER videos); clips
    // from id%4==1 videos with >= 2 frames at offset id mod (nf-1)
    "q_video_clip_match" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4m(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val clips = VideoHash.extractClips(
        media.filter(col("media_id").cast("long") % 5 =!= 0 &&
          col("media_id").cast("long") % 4 === 1), 2, "c")
      VideoHash.clipMatches(clips, media)
    }),

    // ── PERSISTED incremental clip-search index, VIDEO tier — the
    // q_audio_clip_incremental scenario over 2-frame window keys:
    // build from a v0 corpus (%7!=0 files, %3==0 carrying STALE
    // video — first luma byte vandalized), then TWO ChangeSet-driven
    // syncs (sync1 adds %7==0 + updates the stale %3==0 to true
    // content via version bump; sync2 removes the %5==4 slice), then
    // probe with REAL extracted 2-frame clips re-encoded through the
    // Y4M container path. The oracle replays the search over the
    // final corpus from the luma formula, so any refresh drift
    // (stale windows surviving, dropped rows missing, duplicated
    // ids) hash-mismatches: refresh ≡ full rebuild, bit-exact.
    // Index: flat segments keyed by hi0 behind the generation
    // pointer. ──
    "q_video_clip_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4m(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val idL = col("media_id").cast("long")
      val root = tempStateDir() + "/vclipidx"
      val stale = VideoHash.vandalizeFirstLuma(
        media.filter(idL % 7 =!= 0 && idL % 3 === 0), "")
      val initial = media.filter(idL % 7 =!= 0 && idL % 3 =!= 0)
        .unionByName(stale)
      VideoHash.buildClipIndex(s, initial, root)
      def keyed(src: DataFrame) =
        Records.keyRecords(src, "id", Some("version"))
      // sync 1: every id, true content, stale files version-bumped
      val src1 = media.select(col("media_id").as("id"),
        when(idL % 3 === 0, 2L).otherwise(1L).as("version"),
        col("content"))
      val st1 = initial.select(col("media_id").as("id"),
        lit(1L).as("version"))
      val cs1 = Diff.computeDataChanges(keyed(src1), st1)
      VideoHash.refreshClipIndex(s, root,
        cs1.added.unionByName(cs1.updated)
          .select(col("id").as("media_id"), col("content")),
        cs1.removedIds.unionByName(cs1.updated.select(col("id"))))
      // sync 2: the %5==4 slice leaves the corpus
      val src2 = media.filter(idL % 5 =!= 4)
        .select(col("media_id").as("id"),
          when(idL % 3 === 0, 2L).otherwise(1L).as("version"),
          col("content"))
      val st2 = media.select(col("media_id").as("id"),
        when(idL % 3 === 0, 2L).otherwise(1L).as("version"))
      val cs2 = Diff.computeDataChanges(keyed(src2), st2)
      VideoHash.refreshClipIndex(s, root,
        cs2.added.unionByName(cs2.updated)
          .select(col("id").as("media_id"), col("content")),
        cs2.removedIds.unionByName(cs2.updated.select(col("id"))))
      val clips = VideoHash.extractClips(
        media.filter(idL % 4 === 1 && idL % 5 =!= 0 && idL % 5 =!= 4),
        2, "c")
      VideoHash.searchClipIndex(s, root, clips)
    }),

    // incremental perceptual ingest, VIDEO tier: the vandalized
    // re-uploads of every 10th video banded-joined (frame-0 hash)
    // against the full corpus, aligned-frame max verification —
    // closes the pairs/clusters/incremental × image/video/audio
    // matrix; guaranteed hamming ≤ 1 sources certify recall
    "q_video_dhash_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4m(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val batch = VideoHash.vandalizeFirstLuma(
        media.filter(col("media_id").cast("long") % 10 === 0), "v")
      VideoHash.y4mDhashPairsAgainst(batch, media)
    }),

    // video casualties: id%7==4 streams truncated to 15 bytes (mid
    // stream-header); the tolerant channel emits ok=0 and decodes
    // the rest exactly
    "q_y4m_corrupt" -> ((s, dir) => {
      val media = Multimodal.synthesizeY4m(
          s.read.parquet(t(dir, "documents")), "doc_id")
        .withColumn("content",
          when(pmod(col("media_id").cast("long"), lit(7)) === 4,
            expr("substring(content, 1, 15)"))
            .otherwise(col("content")))
      Multimodal.decodeY4mChannel(media).toDF()
    }),

    // AUDIO rung of the perceptual ladder (images → video → audio):
    // real RIFF walk → channel-0 lag-1 |diff| envelope over 65 integer
    // time boxes → 64 sign-of-envelope-delta bits (Haitsma-Kalker
    // 2002 restated in exact integers) → banded LSH pair join
    // (4×16-bit bands + format params in the block key;
    // pigeonhole-complete for hamming ≤ 3) → bit_count(xor) verify.
    // Every 10th file gets a first-sample-zeroed twin (id+"v") — a
    // PLANTED hamming≤1 pair the banded join must recover, so the
    // row certifies recall, not just precision.
    "q_audio_fp" -> ((s, dir) => {
      val base = Multimodal.synthesizeWav(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val twins = AudioHash.vandalizeFirstSample(
        base.filter(col("media_id").cast("long") % 10 === 0), "v")
      AudioHash.wavFpPairs(base.unionByName(twins))
    }),

    // production path of the audio tier (the q_image_dhash_clusters
    // argument): exact-fingerprint collapse + CC over representatives
    // — O(n) output where pair enumeration is quadratic in
    // duplicate-clique size
    "q_audio_fp_clusters" -> ((s, dir) => {
      val base = Multimodal.synthesizeWav(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val twins = AudioHash.vandalizeFirstSample(
        base.filter(col("media_id").cast("long") % 10 === 0), "v")
      AudioHash.wavFpClusters(base.unionByName(twins))
    }),

    // incremental perceptual ingest: today's batch (id%3==0)
    // banded-joined against the accumulated corpus (id%3!=0) — the
    // q_minhash_incremental shape for the audio tier: candidate
    // volume scales with the batch, the corpus never self-compares.
    // (An even/odd split would be vacuous here: the synthetic channel
    // count is 1 + id%2, so opposite parities never share a format
    // block — %3 mixes both parities on both sides.)
    "q_audio_fp_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizeWav(
        s.read.parquet(t(dir, "documents")), "doc_id")
      AudioHash.wavFpPairsAgainst(
        media.filter(col("media_id").cast("long") % 3 === 0),
        media.filter(col("media_id").cast("long") % 3 =!= 0))
    }),

    // CLIP-IN-CORPUS audio search (Haitsma-Kalker block search): a
    // sliding-window sub-fingerprint index over every file (32-bit
    // envelope fp + positional checksum per aligned offset; ~28-byte
    // rows, bytes never shuffle), probed by REAL extracted clips —
    // frames [id%7, id%7+32) sliced and re-encoded as standalone
    // RIFF/WAVE, so a match certifies the byte-level codec path end
    // to end while the oracle replays the clip key as the source
    // window key at the extraction offset
    "q_audio_clip_match" -> ((s, dir) => {
      val media = Multimodal.synthesizeWav(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val clips = AudioHash.extractClips(
        media.filter(col("media_id").cast("long") % 5 === 0), 32, "c")
      AudioHash.clipMatches(clips, media)
    }),

    // ── PERSISTED incremental clip-search index: the window-
    // fingerprint table is the corpus-scale artifact (rows ∝ total
    // duration), so it must refresh from ChangeSet deltas, not
    // rebuild per query. Build from a v0 corpus (%7!=0 files, %3==0
    // carrying STALE audio — first sample zeroed), then TWO
    // ChangeSet-driven syncs: sync1 adds the %7==0 files and updates
    // the stale %3==0 ones to true content (version bump drives the
    // diff); sync2 removes the %5==4 slice. The probe then searches
    // REAL extracted clips (%5==0 sources, offset id%7) against the
    // refreshed index — the oracle replays the search over the final
    // corpus from the sample formula, so any refresh drift (stale
    // windows surviving, dropped rows missing, duplicated ids) would
    // hash-mismatch: refresh ≡ full rebuild, bit-exact. Index layout:
    // flat segments keyed by fp behind the generation pointer. ──
    "q_audio_clip_incremental" -> ((s, dir) => {
      val media = Multimodal.synthesizeWav(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val idL = col("media_id").cast("long")
      val root = tempStateDir() + "/clipidx"
      val stale = AudioHash.vandalizeFirstSample(
        media.filter(idL % 7 =!= 0 && idL % 3 === 0), "")
      val initial = media.filter(idL % 7 =!= 0 && idL % 3 =!= 0)
        .unionByName(stale)
      AudioHash.buildClipIndex(s, initial, root)
      def keyed(src: DataFrame) =
        Records.keyRecords(src, "id", Some("version"))
      // sync 1: every id, true content, stale files version-bumped
      val src1 = media.select(col("media_id").as("id"),
        when(idL % 3 === 0, 2L).otherwise(1L).as("version"),
        col("content"))
      val st1 = initial.select(col("media_id").as("id"),
        lit(1L).as("version"))
      val cs1 = Diff.computeDataChanges(keyed(src1), st1)
      AudioHash.refreshClipIndex(s, root,
        cs1.added.unionByName(cs1.updated)
          .select(col("id").as("media_id"), col("content")),
        cs1.removedIds.unionByName(cs1.updated.select(col("id"))))
      // sync 2: the %5==4 slice leaves the corpus
      val src2 = media.filter(idL % 5 =!= 4)
        .select(col("media_id").as("id"),
          when(idL % 3 === 0, 2L).otherwise(1L).as("version"),
          col("content"))
      val st2 = media.select(col("media_id").as("id"),
        when(idL % 3 === 0, 2L).otherwise(1L).as("version"))
      val cs2 = Diff.computeDataChanges(keyed(src2), st2)
      AudioHash.refreshClipIndex(s, root,
        cs2.added.unionByName(cs2.updated)
          .select(col("id").as("media_id"), col("content")),
        cs2.removedIds.unionByName(cs2.updated.select(col("id"))))
      val clips = AudioHash.extractClips(
        media.filter(idL % 5 === 0), 32, "c")
      AudioHash.searchClipIndex(s, root, clips)
    }),

    // STREAMING perceptual ingest: the q_audio_fp_incremental batch
    // arrives as 4 micro-batches through a real foreachBatch stream
    // (the production ingest sink shape — a banded candidate join
    // with its own aggregations is per-ingest-batch work a streaming
    // plan cannot express); each micro-batch pairs against the
    // static corpus and appends to a distributed parquet sink with
    // its batch ordinal. Union over batches = exactly the
    // incremental pair set, which is what the oracle certifies,
    // batch stamps included. (The corpus index is re-derived per
    // batch here; production persists it — q_ann_persisted's shape.)
    "q_stream_media_dedup" -> ((s, dir) => {
      val media = Multimodal.synthesizeWav(
        s.read.parquet(t(dir, "documents")), "doc_id")
      val corpus = media.filter(col("media_id").cast("long") % 3 =!= 0)
      val arriving = media.filter(col("media_id").cast("long") % 3 === 0)
      graft.streaming.IncrementalSync.replayForeachBatch(
        s, arriving,
        expr("pmod(CAST(media_id AS BIGINT) div 3, 4)").cast("int"),
        tempStateDir(), nBatches = 4)(
        b => AudioHash.wavFpPairsAgainst(b, corpus))
        .select(col("batch_id"), col("corpus_id"), col("hamming"),
          col("__batch").as("batch"))
    }),

    // corrupt-media isolation: every id%7==2 blob truncated to its
    // first 10 bytes — the tolerant channel decodes the rest and
    // emits ok=0 rows for the casualties instead of failing the
    // stage (oracle replays both halves from the id formula alone)
    "q_multimodal_corrupt" -> ((s, dir) => {
      val media = Multimodal.synthesizePpm(
          s.read.parquet(t(dir, "documents")), "doc_id")
        .withColumn("content",
          when(pmod(col("media_id").cast("long"), lit(7)) === 2,
            expr("substring(content, 1, 10)"))
            .otherwise(col("content")))
      Multimodal.decodePpmChannel(media).toDF()
    }),

    // ── REAL codec tier #3, compressed images: one valid PNG per
    // document (zlib-deflated, per-row filters cycling all five
    // types, two IDAT chunks, ancillary tEXt, CRC32 everywhere);
    // decode = CRC-verified chunk walk + inflate + filter
    // reconstruction. The oracle replays every feature from the
    // id formula, so a broken Paeth/Average/inflate path cannot
    // hash-match. ──
    "q_multimodal_png" -> ((s, dir) => {
      val media = Multimodal.synthesizePng(
        s.read.parquet(t(dir, "documents")), "doc_id")
      Multimodal.decodePng(media).toDF()
    }),

    // ── REAL codec tier #1b, lossy: one valid baseline JFIF per
    // document — flat 8×8 tiles make the lossy pipeline exact (all-
    // ones quant tables ⇒ only DC survives, which round-trips
    // bit-exactly), so the full T.81 decode path (marker walk, DHT
    // canonical Huffman, entropy decode, dequant, float IDCT, BT.601
    // conversion) certifies against a pure id-formula oracle that
    // replays the YCbCr round-trip arithmetic in SQL. ──
    "q_multimodal_jpeg" -> ((s, dir) => {
      val media = Multimodal.synthesizeJpeg(
        s.read.parquet(t(dir, "documents")), "doc_id")
      Multimodal.decodeJpeg(media).toDF()
    }),

    // the web-default 4:2:0 layout through the same decoder: 16×16
    // flat tiles keep the subsampled pipeline exact (flat chroma
    // downsamples and replication-upsamples to itself), so the
    // general MCU-interleave/upsample path certifies against the
    // same pure id-formula oracle shape
    "q_multimodal_jpeg420" -> ((s, dir) => {
      val media = Multimodal.synthesizeJpeg420(
        s.read.parquet(t(dir, "documents")), "doc_id")
      Multimodal.decodeJpeg(media).toDF()
    }),

    // ── REAL codec tier #2, audio: one valid RIFF/WAVE PCM file per
    // document (rate/channels/samples pure integer arithmetic in the
    // doc_id, plus a LIST junk chunk the parser must word-align
    // past), decoded by an actual chunk walker + payload aggregation
    // in the same mapPartitions batch shape. The oracle replays every
    // feature — rate, channels, frame count, floor-ms duration,
    // per-channel sums, absolute energy, peak — from the id formula
    // without touching the binary, certifying the decoder read the
    // bytes it was handed. ──
    "q_multimodal_wav" -> ((s, dir) => {
      val media = Multimodal.synthesizeWav(
        s.read.parquet(t(dir, "documents")), "doc_id")
      Multimodal.decodeWav(media).toDF()
    }),
  )

  /** DuckDB oracles for this file's queries. */
  val oracles: Map[String, String] = Map(

    // dHash replay at PER-PIXEL granularity from the synthesis
    // formula: same luma weights, same (x·9 div w, y·8 div h) box
    // partition, same floor-milli cells, same hi/lo 32-bit packing,
    // same hamming ≤ 3 cut; pair order under VARCHAR ids, matching
    // the engine's opaque-string media ids. Twin rows (doc_id%10=0,
    // id||'v') replay the single-pixel vandalism exactly: luma at
    // pixel 0 is 128·(299+587+114) = 128000.
    "q_image_dhash" ->
      s"""WITH $dhashPairsCtes
         |SELECT id_a, id_b, hamming FROM pairs""".stripMargin,

    // the cluster row replays the SAME per-pixel pair derivation, then
    // the recursive reachability closure + component min — transitive,
    // so the oracle covers exactly the engine's "every image with at
    // least one near-duplicate" output set (identical-hash siblings
    // are hamming-0 pairs here, cross-hash edges are the banded ones)
    "q_image_dhash_clusters" ->
      s"""WITH RECURSIVE $dhashPairsCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT a AS n, b AS r FROM edges
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a
         |)
         |SELECT n AS media_id, least(n, min(r)) AS cluster_id
         |FROM reach GROUP BY n""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT CAST(doc_id AS VARCHAR) AS media_id,
        |       (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS media_type,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       sha256(text) AS sha256
        |FROM documents""".stripMargin,

    "q_multimodal_decode" ->
      s"""WITH m AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         |         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
         |           AS media_type,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |         ${duckHash60("text")} AS h
         |  FROM documents)
         |SELECT media_id, media_type, n_bytes,
         |       CAST(h % 1920 + 1 AS INT) AS width,
         |       CAST(h % 1080 + 1 AS INT) AS height,
         |       CASE WHEN media_type = 'image' THEN CAST(0 AS BIGINT)
         |            ELSE h % 600000 END AS duration_ms
         |FROM m""".stripMargin,

    "q_multimodal_frames" ->
      s"""WITH m AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         |         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
         |           AS media_type,
         |         ${duckHash60("text")} AS h
         |  FROM documents),
         |v AS (SELECT media_id, h % 600000 AS duration_ms FROM m
         |      WHERE media_type = 'video')
         |SELECT media_id,
         |  CAST(unnest(range(0, duration_ms + 1, 60000)) AS BIGINT)
         |    AS frame_ts_ms
         |FROM v""".stripMargin,

    "q_multimodal_resize" ->
      s"""WITH m AS (
         |  SELECT CAST(doc_id AS VARCHAR) AS media_id,
         |         (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1]
         |           AS media_type,
         |         ${duckHash60("text")} AS h
         |  FROM documents),
         |i AS (SELECT media_id,
         |        CAST(h % 1920 + 1 AS INT) AS width,
         |        CAST(h % 1080 + 1 AS INT) AS height
         |      FROM m WHERE media_type = 'image'),
         |x AS (SELECT *, greatest(width, height) AS mx FROM i)
         |SELECT media_id, width, height,
         |  CAST(CASE WHEN mx <= 512 THEN width
         |       ELSE greatest((width * 512) // mx, 1) END AS INT)
         |    AS out_width,
         |  CAST(CASE WHEN mx <= 512 THEN height
         |       ELSE greatest((height * 512) // mx, 1) END AS INT)
         |    AS out_height
         |FROM x""".stripMargin,

    // replays the synthetic-PPM pixel rule (byte of pixel p, channel c
    // = (id·31 + p·7 + c·13) mod 256) from the id alone — certifying
    // the engine's decoder parsed the real header and summed the real
    // payload bytes it was handed
    // replays graft.ext.Multimodal.synthesizePng's id formulas —
    // byte of pixel p channel c = (id·37 + p·11 + c·17) mod 256 over
    // width = 9 + id mod 12, height = 5 + id mod 7; n_idat pinned to
    // the encoder's two-chunk split
    "q_multimodal_png" ->
      """WITH dim AS (
        |  SELECT doc_id,
        |         CAST(9 + doc_id % 12 AS INT) AS width,
        |         CAST(5 + doc_id % 7 AS INT) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |         unnest(range(0, CAST(width AS BIGINT) * height)) AS p
        |       FROM dim),
        |ch AS (SELECT doc_id, width, height, p, c,
        |         (doc_id * 37 + p * 11 + c * 17) % 256 AS v
        |       FROM px, unnest([0, 1, 2]) t(c)),
        |s AS (SELECT doc_id, width, height,
        |        CAST(width AS BIGINT) * height AS n_pix,
        |        CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS r_sum,
        |        CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS g_sum,
        |        CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS b_sum
        |      FROM ch GROUP BY 1, 2, 3, 4)
        |SELECT CAST(doc_id AS VARCHAR) AS media_id, width, height,
        |       CAST(8 AS INT) AS bit_depth, CAST(2 AS INT) AS color_type,
        |       CAST(2 AS INT) AS n_idat, n_pix, r_sum, g_sum, b_sum,
        |       CAST(r_sum * 1000 // n_pix AS BIGINT) AS r_mean_milli,
        |       CAST(g_sum * 1000 // n_pix AS BIGINT) AS g_mean_milli,
        |       CAST(b_sum * 1000 // n_pix AS BIGINT) AS b_mean_milli
        |FROM s""".stripMargin,

    // JPEG: the oracle replays the encoder's RGB→YCbCr floor/clamp
    // and the decoder's YCbCr→RGB floor/clamp per flat tile (e-
    // notation literals parse as DOUBLE in DuckDB — identical IEEE
    // arithmetic to the JVM's), ×64 pixels per tile
    "q_multimodal_jpeg" ->
      """WITH dim AS (
        |  SELECT doc_id,
        |         CAST(8 * (1 + doc_id % 3) AS INT) AS width,
        |         CAST(8 * (1 + doc_id % 2) AS INT) AS height
        |  FROM documents),
        |blk AS (SELECT doc_id, width, height,
        |          unnest(range(0, CAST(width // 8 AS BIGINT)
        |            * (height // 8))) AS bi
        |        FROM dim),
        |rgb AS (SELECT doc_id, width, height,
        |          (doc_id * 31 + bi * 59 + 7) % 256 AS r,
        |          (doc_id * 17 + bi * 83 + 3) % 256 AS g,
        |          (doc_id * 13 + bi * 29 + 11) % 256 AS b
        |        FROM blk),
        |ycc AS (SELECT doc_id, width, height,
        |   greatest(0, least(255, CAST(floor(
        |     2.99e-1 * r + 5.87e-1 * g + 1.14e-1 * b + 5e-1)
        |     AS INT)))AS y,
        |   greatest(0, least(255, CAST(floor(
        |     -1.68736e-1 * r - 3.31264e-1 * g + 5e-1 * b + 1.285e2)
        |     AS INT))) AS cb,
        |   greatest(0, least(255, CAST(floor(
        |     5e-1 * r - 4.18688e-1 * g - 8.1312e-2 * b + 1.285e2)
        |     AS INT))) AS cr
        |  FROM rgb),
        |dec AS (SELECT doc_id, width, height,
        |   greatest(0, least(255, CAST(floor(
        |     y + 1.402e0 * (cr - 128) + 5e-1) AS INT))) AS r2,
        |   greatest(0, least(255, CAST(floor(
        |     y - 3.44136e-1 * (cb - 128) - 7.14136e-1 * (cr - 128)
        |     + 5e-1) AS INT))) AS g2,
        |   greatest(0, least(255, CAST(floor(
        |     y + 1.772e0 * (cb - 128) + 5e-1) AS INT))) AS b2
        |  FROM ycc),
        |s AS (SELECT doc_id, width, height,
        |        CAST(width AS BIGINT) * height AS n_pix,
        |        CAST(sum(r2) * 64 AS BIGINT) AS r_sum,
        |        CAST(sum(g2) * 64 AS BIGINT) AS g_sum,
        |        CAST(sum(b2) * 64 AS BIGINT) AS b_sum
        |      FROM dec GROUP BY 1, 2, 3)
        |SELECT CAST(doc_id AS VARCHAR) AS media_id, width, height,
        |       CAST(3 AS INT) AS n_components, n_pix,
        |       r_sum, g_sum, b_sum,
        |       CAST(r_sum * 1000 // n_pix AS BIGINT) AS r_mean_milli,
        |       CAST(g_sum * 1000 // n_pix AS BIGINT) AS g_mean_milli,
        |       CAST(b_sum * 1000 // n_pix AS BIGINT) AS b_mean_milli
        |FROM s""".stripMargin,

    "q_multimodal_ppm" ->
      """WITH dim AS (
        |  SELECT doc_id,
        |         CAST(8 + doc_id % 16 AS INT) AS width,
        |         CAST(6 + doc_id % 9 AS INT) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |         unnest(range(0, CAST(width AS BIGINT) * height)) AS p
        |       FROM dim),
        |ch AS (SELECT doc_id, width, height, p, c,
        |         (doc_id * 31 + p * 7 + c * 13) % 256 AS v
        |       FROM px, unnest([0, 1, 2]) t(c)),
        |s AS (SELECT doc_id, width, height,
        |        CAST(width AS BIGINT) * height AS n_pix,
        |        CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS r_sum,
        |        CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS g_sum,
        |        CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS b_sum
        |      FROM ch GROUP BY 1, 2, 3, 4)
        |SELECT CAST(doc_id AS VARCHAR) AS media_id, width, height,
        |       CAST(255 AS INT) AS maxval, n_pix, r_sum, g_sum, b_sum,
        |       CAST(r_sum * 1000 // n_pix AS BIGINT) AS r_mean_milli,
        |       CAST(g_sum * 1000 // n_pix AS BIGINT) AS g_mean_milli,
        |       CAST(b_sum * 1000 // n_pix AS BIGINT) AS b_mean_milli
        |FROM s""".stripMargin,

    // audio casualties at id%7==3; survivors replay the
    // q_multimodal_wav id formulas
    "q_wav_corrupt" ->
      """WITH p AS (
        |  SELECT doc_id AS d,
        |         8000 + 4000 * (doc_id % 4) AS sr,
        |         1 + doc_id % 2 AS ch,
        |         50 + doc_id % 101 AS nf
        |  FROM documents),
        |s AS (SELECT d, sr, ch, nf, c,
        |        ((d * 37 + f * 11 + c * 5) % 4001) - 2000 AS v
        |      FROM p,
        |           LATERAL unnest(range(0, nf)) t(f),
        |           LATERAL unnest(range(0, ch)) u(c)),
        |a AS (SELECT d, sr, ch, nf,
        |        CAST(max(abs(v)) AS BIGINT) AS peak
        |      FROM s GROUP BY 1, 2, 3, 4)
        |SELECT CAST(d AS VARCHAR) AS media_id,
        |       CAST(CASE WHEN d % 7 = 3 THEN 0 ELSE 1 END AS BIGINT) AS ok,
        |       CASE WHEN d % 7 = 3 THEN NULL
        |            ELSE CAST(sr AS INT) END AS sample_rate,
        |       CASE WHEN d % 7 = 3 THEN NULL
        |            ELSE CAST(ch AS INT) END AS channels,
        |       CASE WHEN d % 7 = 3 THEN NULL
        |            ELSE CAST(nf AS BIGINT) END AS n_frames,
        |       CASE WHEN d % 7 = 3 THEN NULL ELSE peak END AS peak
        |FROM a""".stripMargin,

    // Y4M replay: per-frame per-plane byte formulas summed over the
    // frame count; chroma plane size switches on the id-parity
    // colorspace (C420jpeg even ids → quarter-res planes, C444 odd)
    "q_multimodal_y4m" ->
      """WITH dim AS (
        |  SELECT doc_id AS d,
        |         CAST(4 + 2 * (doc_id % 6) AS INT) AS w,
        |         CAST(4 + 2 * (doc_id % 4) AS INT) AS h,
        |         1 + doc_id % 5 AS nf,
        |         doc_id % 2 = 0 AS is420
        |  FROM documents),
        |yf AS (SELECT d,
        |         CAST(sum((d * 17 + f * 29 + p * 7) % 256) AS BIGINT)
        |           AS y_sum
        |       FROM dim,
        |            LATERAL unnest(range(0, nf)) t(f),
        |            LATERAL unnest(range(0, CAST(w AS BIGINT) * h)) u(p)
        |       GROUP BY 1),
        |cf AS (SELECT d,
        |         CAST(sum((d * 23 + f * 31 + q * 11 + 1) % 256) AS BIGINT)
        |           AS cb_sum,
        |         CAST(sum((d * 19 + f * 37 + q * 13 + 2) % 256) AS BIGINT)
        |           AS cr_sum,
        |         count(*) AS n_c
        |       FROM dim,
        |            LATERAL unnest(range(0, nf)) t(f),
        |            LATERAL unnest(range(0,
        |              CASE WHEN is420
        |                   THEN CAST(w // 2 AS BIGINT) * (h // 2)
        |                   ELSE CAST(w AS BIGINT) * h END)) u(q)
        |       GROUP BY 1)
        |SELECT CAST(d AS VARCHAR) AS media_id, w AS width, h AS height,
        |       CAST(25 AS INT) AS fps_num, CAST(1 AS INT) AS fps_den,
        |       CASE WHEN is420 THEN 'C420jpeg' ELSE 'C444' END
        |         AS colorspace,
        |       CAST(nf AS BIGINT) AS n_frames,
        |       CAST(nf * 40 AS BIGINT) AS duration_ms,
        |       y_sum, cb_sum, cr_sum,
        |       CAST(y_sum * 1000 // (nf * w * h) AS BIGINT)
        |         AS y_mean_milli,
        |       CAST(cb_sum * 1000 // n_c AS BIGINT) AS cb_mean_milli,
        |       CAST(cr_sum * 1000 // n_c AS BIGINT) AS cr_mean_milli
        |FROM dim JOIN yf USING (d) JOIN cf USING (d)""".stripMargin,

    // video casualties at id%7==4 (mid-header truncation → ok=0,
    // features NULL); survivors replay the q_multimodal_y4m formulas
    "q_y4m_corrupt" ->
      """WITH dim AS (
        |  SELECT doc_id AS d,
        |         CAST(4 + 2 * (doc_id % 6) AS INT) AS w,
        |         CAST(4 + 2 * (doc_id % 4) AS INT) AS h,
        |         1 + doc_id % 5 AS nf
        |  FROM documents),
        |yf AS (SELECT d,
        |         CAST(sum((d * 17 + f * 29 + p * 7) % 256) AS BIGINT)
        |           AS y_sum
        |       FROM dim,
        |            LATERAL unnest(range(0, nf)) t(f),
        |            LATERAL unnest(range(0, CAST(w AS BIGINT) * h)) u(p)
        |       GROUP BY 1)
        |SELECT CAST(d AS VARCHAR) AS media_id,
        |       CAST(CASE WHEN d % 7 = 4 THEN 0 ELSE 1 END AS BIGINT)
        |         AS ok,
        |       CASE WHEN d % 7 = 4 THEN NULL ELSE w END AS width,
        |       CASE WHEN d % 7 = 4 THEN NULL ELSE h END AS height,
        |       CASE WHEN d % 7 = 4 THEN NULL
        |            ELSE CAST(nf AS BIGINT) END AS n_frames,
        |       CASE WHEN d % 7 = 4 THEN NULL
        |            ELSE CAST(y_sum * 1000 // (nf * w * h) AS BIGINT)
        |            END AS y_mean_milli
        |FROM dim JOIN yf USING (d)""".stripMargin,

    // per-pixel per-FRAME dHash replay from the Y4M luma formula
    // (d·17 + f·29 + p·7 mod 256; the twin's f=0,p=0 byte is 128),
    // then the all-pairs max-over-aligned-frames hamming — the banded
    // engine join must produce exactly this set (pigeonhole recall)
    "q_video_dhash" ->
      s"""WITH $videoDhashPairsCtes
         |SELECT id_a, id_b, hamming_max FROM vpairs""".stripMargin,

    // re-upload batch × base corpus from the same per-frame replay
    "q_video_dhash_incremental" -> videoDhashIncrementalSql,

    // 2-frame window keys from the per-frame replay; clip of d =
    // source window at d mod (nf-1)
    "q_video_clip_match" -> videoClipMatchSql,

    // final two-sync corpus = %5 != 4, all-true content; clips from
    // the %4==1, nf>=2 files still in the corpus — a pass proves the
    // refreshed persisted video index equals the full rebuild
    "q_video_clip_incremental" -> videoClipSearchSql(
      corpusPred = "a.d % 5 <> 4",
      clipPred = "c.d % 4 = 1 AND c.d % 5 <> 0 AND c.d % 5 <> 4"),

    // video cluster row: same per-pixel pair replay + the recursive
    // reachability closure + component min (the q_image_dhash_clusters
    // convention) — covers exactly the engine's signature-collapsed CC
    "q_video_dhash_clusters" ->
      s"""WITH RECURSIVE $videoDhashPairsCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM vpairs
         |          UNION SELECT id_b, id_a FROM vpairs),
         |reach AS (
         |  SELECT a AS n, b AS r FROM edges
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a
         |)
         |SELECT n AS media_id, least(n, min(r)) AS cluster_id
         |FROM reach GROUP BY n""".stripMargin,

    // batch × corpus cross pairs from the same per-pixel replay
    // (base files, no twins), gated by id mod 3
    "q_image_dhash_incremental" -> imageDhashIncrementalSql,

    "q_image_dhash_reencode" -> jpegDhashReencodeSql,

    "q_image_dhash_reencode_clusters" -> jpegDhashReencodeClustersSql,

    // audio-fingerprint replay at PER-SAMPLE granularity from the
    // synthesis formula: same lag-1 |diff| stream, 65-box integer
    // partition, floor-milli envelope, hi/lo packing, and hamming ≤ 3
    // cut as the engine; pair order under VARCHAR ids. Twin rows
    // (doc_id%10=0, id||'v') replay the zeroed first sample exactly.
    "q_audio_fp" ->
      s"""WITH $audioFpPairsCtes
         |SELECT id_a, id_b, hamming FROM apairs""".stripMargin,

    // the cluster row replays the SAME per-sample pair derivation,
    // then the recursive reachability closure + component min — the
    // q_image_dhash_clusters convention, covering exactly the
    // engine's "every file with at least one near-duplicate" set
    // batch × corpus cross pairs from the same per-sample replay
    // (base files, no twins), gated by id parity
    "q_audio_fp_incremental" -> audioFpIncrementalSql,

    // window keys replayed per (file, offset) from the sample
    // formula; the clip of file d is the source window at d mod 7
    "q_audio_clip_match" -> audioClipMatchSql,

    // final two-sync corpus = %5 != 4, all-true content; clips from
    // the %5==0 files at offset d%7 — a pass proves the refreshed
    // persisted index equals the full rebuild bit-exactly
    "q_audio_clip_incremental" -> audioClipSearchSql(
      corpusPred = "d % 5 <> 4", clipPred = "c.d % 5 = 0"),

    // the streaming row is the SAME incremental pair set with each
    // pair stamped by its arrival micro-batch, (d div 3) mod 4 —
    // certifying the foreachBatch replay applied every batch exactly
    // once against the static corpus
    "q_stream_media_dedup" -> streamMediaDedupSql,

    "q_audio_fp_clusters" ->
      s"""WITH RECURSIVE $audioFpPairsCtes,
         |edges AS (SELECT id_a AS a, id_b AS b FROM apairs
         |          UNION SELECT id_b, id_a FROM apairs),
         |reach AS (
         |  SELECT a AS n, b AS r FROM edges
         |  UNION
         |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a
         |)
         |SELECT n AS media_id, least(n, min(r)) AS cluster_id
         |FROM reach GROUP BY n""".stripMargin,

    // both halves from the id formula: id%7==2 rows are the truncated
    // casualties (ok=0, all features NULL); everything else replays
    // the q_multimodal_ppm means
    // 4:2:0 replay: same YCbCr round-trip arithmetic over 16×16
    // tiles (×256 pixels per tile), dims 16·(1+d%2) × 16·(1+d%3)
    "q_multimodal_jpeg420" ->
      """WITH dim AS (
        |  SELECT doc_id,
        |         CAST(16 * (1 + doc_id % 2) AS INT) AS width,
        |         CAST(16 * (1 + doc_id % 3) AS INT) AS height
        |  FROM documents),
        |blk AS (SELECT doc_id, width, height,
        |          unnest(range(0, CAST(width // 16 AS BIGINT)
        |            * (height // 16))) AS bi
        |        FROM dim),
        |rgb AS (SELECT doc_id, width, height,
        |          (doc_id * 41 + bi * 67 + 5) % 256 AS r,
        |          (doc_id * 23 + bi * 71 + 9) % 256 AS g,
        |          (doc_id * 19 + bi * 37 + 13) % 256 AS b
        |        FROM blk),
        |ycc AS (SELECT doc_id, width, height,
        |   greatest(0, least(255, CAST(floor(
        |     2.99e-1 * r + 5.87e-1 * g + 1.14e-1 * b + 5e-1)
        |     AS INT)))AS y,
        |   greatest(0, least(255, CAST(floor(
        |     -1.68736e-1 * r - 3.31264e-1 * g + 5e-1 * b + 1.285e2)
        |     AS INT))) AS cb,
        |   greatest(0, least(255, CAST(floor(
        |     5e-1 * r - 4.18688e-1 * g - 8.1312e-2 * b + 1.285e2)
        |     AS INT))) AS cr
        |  FROM rgb),
        |dec AS (SELECT doc_id, width, height,
        |   greatest(0, least(255, CAST(floor(
        |     y + 1.402e0 * (cr - 128) + 5e-1) AS INT))) AS r2,
        |   greatest(0, least(255, CAST(floor(
        |     y - 3.44136e-1 * (cb - 128) - 7.14136e-1 * (cr - 128)
        |     + 5e-1) AS INT))) AS g2,
        |   greatest(0, least(255, CAST(floor(
        |     y + 1.772e0 * (cb - 128) + 5e-1) AS INT))) AS b2
        |  FROM ycc),
        |s AS (SELECT doc_id, width, height,
        |        CAST(width AS BIGINT) * height AS n_pix,
        |        CAST(sum(r2) * 256 AS BIGINT) AS r_sum,
        |        CAST(sum(g2) * 256 AS BIGINT) AS g_sum,
        |        CAST(sum(b2) * 256 AS BIGINT) AS b_sum
        |      FROM dec GROUP BY 1, 2, 3)
        |SELECT CAST(doc_id AS VARCHAR) AS media_id, width, height,
        |       CAST(3 AS INT) AS n_components, n_pix,
        |       r_sum, g_sum, b_sum,
        |       CAST(r_sum * 1000 // n_pix AS BIGINT) AS r_mean_milli,
        |       CAST(g_sum * 1000 // n_pix AS BIGINT) AS g_mean_milli,
        |       CAST(b_sum * 1000 // n_pix AS BIGINT) AS b_mean_milli
        |FROM s""".stripMargin,

    // the q_multimodal_jpeg replay gated by the id%7=5 casualty rule
    "q_jpeg_corrupt" ->
      """WITH dim AS (
        |  SELECT doc_id,
        |         CAST(8 * (1 + doc_id % 3) AS INT) AS width,
        |         CAST(8 * (1 + doc_id % 2) AS INT) AS height
        |  FROM documents),
        |blk AS (SELECT doc_id, width, height,
        |          unnest(range(0, CAST(width // 8 AS BIGINT)
        |            * (height // 8))) AS bi
        |        FROM dim),
        |rgb AS (SELECT doc_id, width, height,
        |          (doc_id * 31 + bi * 59 + 7) % 256 AS r,
        |          (doc_id * 17 + bi * 83 + 3) % 256 AS g,
        |          (doc_id * 13 + bi * 29 + 11) % 256 AS b
        |        FROM blk),
        |ycc AS (SELECT doc_id, width, height,
        |   greatest(0, least(255, CAST(floor(
        |     2.99e-1 * r + 5.87e-1 * g + 1.14e-1 * b + 5e-1)
        |     AS INT)))AS y,
        |   greatest(0, least(255, CAST(floor(
        |     -1.68736e-1 * r - 3.31264e-1 * g + 5e-1 * b + 1.285e2)
        |     AS INT))) AS cb,
        |   greatest(0, least(255, CAST(floor(
        |     5e-1 * r - 4.18688e-1 * g - 8.1312e-2 * b + 1.285e2)
        |     AS INT))) AS cr
        |  FROM rgb),
        |dec AS (SELECT doc_id, width, height,
        |   greatest(0, least(255, CAST(floor(
        |     y + 1.402e0 * (cr - 128) + 5e-1) AS INT))) AS r2,
        |   greatest(0, least(255, CAST(floor(
        |     y - 3.44136e-1 * (cb - 128) - 7.14136e-1 * (cr - 128)
        |     + 5e-1) AS INT))) AS g2,
        |   greatest(0, least(255, CAST(floor(
        |     y + 1.772e0 * (cb - 128) + 5e-1) AS INT))) AS b2
        |  FROM ycc),
        |s AS (SELECT doc_id, width, height,
        |        CAST(width AS BIGINT) * height AS n_pix,
        |        CAST(sum(r2) * 64 AS BIGINT) AS r_sum,
        |        CAST(sum(g2) * 64 AS BIGINT) AS g_sum,
        |        CAST(sum(b2) * 64 AS BIGINT) AS b_sum
        |      FROM dec GROUP BY 1, 2, 3)
        |SELECT CAST(doc_id AS VARCHAR) AS media_id,
        |       CAST(CASE WHEN doc_id % 7 = 5 THEN 0 ELSE 1 END AS BIGINT)
        |         AS ok,
        |       CASE WHEN doc_id % 7 = 5 THEN NULL ELSE width END AS width,
        |       CASE WHEN doc_id % 7 = 5 THEN NULL ELSE height END AS height,
        |       CASE WHEN doc_id % 7 = 5 THEN NULL
        |            ELSE CAST(r_sum * 1000 // n_pix AS BIGINT) END
        |         AS r_mean_milli,
        |       CASE WHEN doc_id % 7 = 5 THEN NULL
        |            ELSE CAST(g_sum * 1000 // n_pix AS BIGINT) END
        |         AS g_mean_milli,
        |       CASE WHEN doc_id % 7 = 5 THEN NULL
        |            ELSE CAST(b_sum * 1000 // n_pix AS BIGINT) END
        |         AS b_mean_milli
        |FROM s""".stripMargin,

    "q_multimodal_corrupt" ->
      """WITH dim AS (
        |  SELECT doc_id,
        |         CAST(8 + doc_id % 16 AS INT) AS width,
        |         CAST(6 + doc_id % 9 AS INT) AS height
        |  FROM documents),
        |px AS (SELECT doc_id, width, height,
        |         unnest(range(0, CAST(width AS BIGINT) * height)) AS p
        |       FROM dim),
        |ch AS (SELECT doc_id, width, height, p, c,
        |         (doc_id * 31 + p * 7 + c * 13) % 256 AS v
        |       FROM px, unnest([0, 1, 2]) t(c)),
        |s AS (SELECT doc_id, width, height,
        |        CAST(width AS BIGINT) * height AS n_pix,
        |        CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS r_sum,
        |        CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS g_sum,
        |        CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS b_sum
        |      FROM ch GROUP BY 1, 2, 3, 4)
        |SELECT CAST(doc_id AS VARCHAR) AS media_id,
        |       CAST(CASE WHEN doc_id % 7 = 2 THEN 0 ELSE 1 END AS BIGINT)
        |         AS ok,
        |       CASE WHEN doc_id % 7 = 2 THEN NULL ELSE width END AS width,
        |       CASE WHEN doc_id % 7 = 2 THEN NULL ELSE height END AS height,
        |       CASE WHEN doc_id % 7 = 2 THEN NULL
        |            ELSE CAST(r_sum * 1000 // n_pix AS BIGINT) END
        |         AS r_mean_milli,
        |       CASE WHEN doc_id % 7 = 2 THEN NULL
        |            ELSE CAST(g_sum * 1000 // n_pix AS BIGINT) END
        |         AS g_mean_milli,
        |       CASE WHEN doc_id % 7 = 2 THEN NULL
        |            ELSE CAST(b_sum * 1000 // n_pix AS BIGINT) END
        |         AS b_mean_milli
        |FROM s""".stripMargin,

    // replays graft.ext.Multimodal.synthesizeWav's id formulas —
    // sample of frame f channel c = ((id·37 + f·11 + c·5) mod 4001)
    // − 2000 over nf = 50 + id mod 101 frames — entirely from doc_id
    "q_multimodal_wav" ->
      """WITH p AS (
        |  SELECT doc_id AS d,
        |         8000 + 4000 * (doc_id % 4) AS sr,
        |         1 + doc_id % 2 AS ch,
        |         50 + doc_id % 101 AS nf
        |  FROM documents),
        |s AS (SELECT d, sr, ch, nf, c,
        |        ((d * 37 + f * 11 + c * 5) % 4001) - 2000 AS v
        |      FROM p,
        |           LATERAL unnest(range(0, nf)) t(f),
        |           LATERAL unnest(range(0, ch)) u(c)),
        |a AS (SELECT d, sr, ch, nf,
        |        CAST(sum(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS c0_sum,
        |        CAST(sum(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS c1_sum,
        |        CAST(sum(abs(v)) AS BIGINT) AS abs_sum,
        |        CAST(max(abs(v)) AS BIGINT) AS peak
        |      FROM s GROUP BY 1, 2, 3, 4)
        |SELECT CAST(d AS VARCHAR) AS media_id,
        |       CAST(sr AS INT) AS sample_rate, CAST(ch AS INT) AS channels,
        |       CAST(16 AS INT) AS bits, CAST(nf AS BIGINT) AS n_frames,
        |       CAST(nf * 1000 // sr AS BIGINT) AS duration_ms,
        |       c0_sum, c1_sum, abs_sum, peak
        |FROM a""".stripMargin,
  )
}
