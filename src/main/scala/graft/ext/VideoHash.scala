package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/**
 * Perceptual VIDEO near-duplicate detection — the video rung of the
 * perceptual ladder ([[ImageHash]] is the image rung). A re-encoded
 * or slightly-edited copy of a video is invisible to exact digest
 * dedup; the perceptual key here is the per-frame 9×8 gradient-sign
 * dHash over the LUMA plane (Y4M streams carry Y directly — no color
 * conversion), computed with [[ImageHash.dhashGrid]]'s exact integer
 * math so an oracle can replay every bit from the synthesis formula.
 *
 * Two videos are near-duplicates when they have the same dimensions
 * and frame count and EVERY temporally-aligned frame pair is within
 * `maxHamming` gradient bits — the strictest alignment semantics,
 * chosen because it composes: frame-sampling or shot-segmentation
 * relaxations reduce to running the same machinery over a sampled
 * frame subset.
 *
 * Scale shape: hashing is one mapPartitions pass over the media
 * batches — video bytes never shuffle; only (id, dims, frame#, 2×32-bit
 * hash) rows leave the scan (≤ n_frames small rows per video). The
 * candidate join is banded LSH over the FIRST frame's hash (4 disjoint
 * 16-bit bands; hamming(frame 0) ≤ the all-frames max, so pigeonhole
 * completeness for maxHamming < 4 carries over from the image rung),
 * with (width, height, n_frames, band#, value) as the block key.
 * Verification joins the per-frame hash table on both sides, aligned
 * by frame number, and keeps pairs whose MAX per-frame hamming passes.
 */
object VideoHash {

  /** One frame's luma dHash. `n_frames` rides along so the pair join
    * can block on it without a second scan. */
  final case class FrameDHash(
      media_id: String, width: Int, height: Int, n_frames: Int,
      frame: Int, hi: Long, lo: Long)

  /** Decode Y4M bytes ([[Multimodal.y4mWalk]] — the same strict
    * container walk as the feature decoder) and hash every frame's
    * luma plane. */
  def y4mFrameDHash(media: DataFrame): Dataset[FrameDHash] = {
    implicit val enc = Encoders.product[FrameDHash]
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getString(0)
        val b = r.getAs[Array[Byte]](1)
        val lay = Multimodal.y4mWalk(id, b)
        val w = lay.width; val h = lay.height
        lay.frameOffsets.iterator.zipWithIndex.map { case (pos, f) =>
          val (hi, lo) =
            ImageHash.dhashGrid(w, h, (x, y) => b(pos + y * w + x) & 0xffL)
          FrameDHash(id, w, h, lay.frameOffsets.length, f, hi, lo)
        }
      }
    }
  }

  /**
   * Synthesize perceptual near-dup twins: copy each video, overwrite
   * frame 0's first luma byte with 128, suffix the id. Pixel (0,0)
   * only perturbs frame 0's cell(0,0) mean, and cell(0,0) feeds
   * exactly one gradient bit (the left operand of gy=0,gx=0), so the
   * all-frames max hamming is ≤ 1 by construction — a guaranteed
   * planted pair per input video, replayable by a per-pixel oracle
   * (the twin's luma at f=0, p=0 is exactly 128).
   */
  def vandalizeFirstLuma(media: DataFrame, suffix: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "media_type", "content")
      .map { r =>
        val id = r.getString(0)
        val b = r.getAs[Array[Byte]](2).clone()
        val lay = Multimodal.y4mWalk(id, b)
        b(lay.frameOffsets(0)) = 128.toByte
        (id + suffix, r.getString(1), b)
      }.toDF("media_id", "media_type", "content")
  }

  /**
   * Near-duplicate video pairs: banded candidate join on the frame-0
   * hash, then max-over-aligned-frames hamming verification. Complete
   * (zero false negatives) for `maxHamming` < 4 by the band
   * pigeonhole on frame 0.
   *
   * @return (id_a, id_b, hamming_max), id_a < id_b under the id
   *         column's own ordering.
   */
  def y4mDhashPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "banded completeness holds for maxHamming < 4")
    pairsOverFrameHashes(y4mFrameDHash(media).toDF(), maxHamming)
  }

  /** Banded pairing + aligned-frame verification over an explicit
    * per-frame hash table — shared by [[y4mDhashPairs]] (all videos)
    * and [[y4mDhashClusters]] (signature representatives only). */
  private def pairsOverFrameHashes(
      fh: DataFrame, maxHamming: Int): DataFrame = {
    val f0 = fh.filter(col("frame") === 0)
    val bands = f0.select(col("media_id"), col("width"), col("height"),
      col("n_frames"),
      posexplode(array(
        col("hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("hi"), 16).bitwiseAND(lit(0xffffL)),
        col("lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("lo"), 16).bitwiseAND(lit(0xffffL))))
        .as(Seq("band", "v")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.width") === col("b.width") &&
          col("a.height") === col("b.height") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    // aligned per-frame verification: same n_frames on both sides, so
    // the inner join on frame# covers every frame exactly once
    cand
      .join(fh.select(col("media_id").as("id_a"), col("frame"),
        col("hi").as("hi_a"), col("lo").as("lo_a")), Seq("id_a"))
      .join(fh.select(col("media_id").as("id_b"), col("frame"),
        col("hi").as("hi_b"), col("lo").as("lo_b")), Seq("id_b", "frame"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
        bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
        .cast("long").as("hamming_max"))
      .filter(col("hamming_max") <= maxHamming)
  }

  /**
   * Extract a real clip from each video: frames `[off, off + len)`
   * re-encoded as a standalone YUV4MPEG2 stream at the source's
   * header params, id suffixed. `off` is the deterministic
   * `id mod (nf − 1)` (callers must pass videos with ≥ `len`
   * frames). The clip goes back through the full container path —
   * slice, encode, re-walk, hash — so a match certifies the codec
   * end to end ([[AudioHash.extractClips]]'s convention).
   */
  def extractClips(media: DataFrame, len: Int, suffix: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "media_type", "content")
      .map { r =>
        val id = r.getString(0)
        val b = r.getAs[Array[Byte]](2)
        val lay = Multimodal.y4mWalk(id, b)
        val nf = lay.frameOffsets.length
        require(nf >= len, s"clip needs >= $len frames, got $nf: $id")
        val off = math.floorMod(
          Multimodal.idSeed(id), (nf - len + 1).toLong).toInt
        val cLen =
          if (lay.colorspace.startsWith("420"))
            (lay.width / 2) * (lay.height / 2)
          else lay.width * lay.height
        val frameLen = lay.width * lay.height + 2 * cLen
        val frames = (off until off + len).map { f =>
          java.util.Arrays.copyOfRange(
            b, lay.frameOffsets(f), lay.frameOffsets(f) + frameLen)
        }
        (id + suffix, r.getString(1),
          Multimodal.y4mEncode(lay.width, lay.height, lay.fpsNum,
            lay.fpsDen, lay.colorspace, frames))
      }.toDF("media_id", "media_type", "content")
  }

  /** Sliding 2-frame window keys over the per-frame hash table:
    * (id, dims, off, frame-off hash, frame-off+1 hash) — the video
    * sub-fingerprint index for subsequence search. N_frames is NOT
    * in the key: a clip must be findable inside longer videos. */
  private def frameWindowKeys(fh: DataFrame): DataFrame =
    fh.as("a").join(fh.as("b"),
        col("a.media_id") === col("b.media_id") &&
          col("b.frame") === col("a.frame") + 1)
      .select(col("a.media_id"), col("a.width"), col("a.height"),
        col("a.frame").as("off"),
        col("a.hi").as("hi0"), col("a.lo").as("lo0"),
        col("b.hi").as("hi1"), col("b.lo").as("lo1"))

  /**
   * Locate 2-frame clips inside the corpus: each clip's single
   * window exact-key joined against the corpus window index on
   * (dims, both frame hashes) — the [[AudioHash.clipMatches]] block
   * search for video. Only (id, dims, off, 4×32-bit hash) rows leave
   * the hashing scan; the probe is a plain shuffle join.
   *
   * @return (clip_id, src_id, src_offset)
   */
  def clipMatches(clips: DataFrame, corpus: DataFrame): DataFrame = {
    val cw = frameWindowKeys(y4mFrameDHash(clips).toDF())
      .select(col("media_id").as("clip_id"), col("width"), col("height"),
        col("hi0"), col("lo0"), col("hi1"), col("lo1"))
    val ww = frameWindowKeys(y4mFrameDHash(corpus).toDF())
      .select(col("media_id").as("src_id"), col("width"), col("height"),
        col("hi0"), col("lo0"), col("hi1"), col("lo1"),
        col("off").cast("long").as("src_offset"))
    cw.join(ww,
        Seq("width", "height", "hi0", "lo0", "hi1", "lo1"))
      .select(col("clip_id"), col("src_id"), col("src_offset"))
  }

  // ── Persisted clip-search index ──────────────────────────────────
  // The video twin of [[AudioHash.buildClipIndex]]: the 2-frame
  // window-key table is the corpus-scale artifact (rows ∝ total
  // frames), so it must refresh from ChangeSet deltas, not rebuild
  // per query. Layout under `root`: parquet rows (media_id, width,
  // height, off, hi0, lo0, hi1, lo1) in flat segment files
  // hash-partitioned and sorted by `hi0`. Commit discipline:
  // [[graft.util.BucketedSwapIndex]] (shared with the audio tier).

  private def windowKeyRows(media: DataFrame): DataFrame =
    frameWindowKeys(y4mFrameDHash(media).toDF())

  /** Build (or rebuild) the persisted window-key index from a media
    * corpus. One hashing scan — bytes never shuffle; only the narrow
    * key rows move into the `hi0`-keyed segment files. */
  def buildClipIndex(
      spark: org.apache.spark.sql.SparkSession, media: DataFrame,
      root: String): Unit = {
    graft.util.BucketedSwapIndex.stageAndSwap(
      root, windowKeyRows(media), col("hi0"))
  }

  /** ChangeSet-driven refresh: `changedMedia` (added ∪ updated, with
    * media_id + content) re-hash; `droppedIds` (removed ∪ updated,
    * one `id` column) drop. Refresh ≡ full rebuild bit-exact — the
    * q_video_clip_incremental oracle certifies it. The commit is
    * DELTA-PROPORTIONAL ([[graft.util.BucketedSwapIndex
    * .refreshAndSwap]]: one delta segment + tombstone ledger,
    * previous segments hard-linked; compaction past the segment
    * bound). */
  def refreshClipIndex(
      spark: org.apache.spark.sql.SparkSession, root: String,
      changedMedia: DataFrame, droppedIds: DataFrame): Unit =
    graft.util.BucketedSwapIndex.refreshAndSwap(root,
      windowKeyRows(changedMedia), droppedIds.select(col("id")),
      col("hi0"))

  /** Probe the persisted index with real extracted clips: each
    * clip's single 2-frame window key exact-joined against the
    * persisted corpus index — the [[clipMatches]] semantics
    * served from disk, no corpus re-hashing in the plan.
    *
    * @return (clip_id, src_id, src_offset) */
  def searchClipIndex(
      spark: org.apache.spark.sql.SparkSession, root: String,
      clips: DataFrame): DataFrame = {
    val cw = windowKeyRows(clips)
      .select(col("media_id").as("clip_id"), col("width"), col("height"),
        col("hi0"), col("lo0"), col("hi1"), col("lo1"))
    val ww = graft.util.BucketedSwapIndex.read(spark, root)
    // broadcast the clip side: the index scan stays shuffle-free
    ww.join(broadcast(cw),
        Seq("width", "height", "hi0", "lo0", "hi1", "lo1"))
      .select(col("clip_id"), col("media_id").as("src_id"),
        col("off").cast("long").as("src_offset"))
  }

  /**
   * Incremental near-dup pairing: an arriving BATCH of videos
   * banded-joined (frame-0 hash) against the accumulated CORPUS,
   * verified over aligned frames — the [[ImageHash.dhashPairsAgainst]]
   * ingest shape for the video tier; the corpus never self-compares.
   *
   * @return (batch_id, corpus_id, hamming_max) within `maxHamming`.
   */
  def y4mDhashPairsAgainst(
      batch: DataFrame, corpus: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "banded completeness holds for maxHamming < 4")
    val fb = y4mFrameDHash(batch).toDF()
    val fc = y4mFrameDHash(corpus).toDF()
    def bands(fh: DataFrame) = fh.filter(col("frame") === 0)
      .select(col("media_id"), col("width"), col("height"),
        col("n_frames"),
        posexplode(array(
          col("hi").bitwiseAND(lit(0xffffL)),
          shiftright(col("hi"), 16).bitwiseAND(lit(0xffffL)),
          col("lo").bitwiseAND(lit(0xffffL)),
          shiftright(col("lo"), 16).bitwiseAND(lit(0xffffL))))
          .as(Seq("band", "v")))
    val cand = bands(fb).as("a").join(bands(fc).as("b"),
        col("a.width") === col("b.width") &&
          col("a.height") === col("b.height") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.band") === col("b.band") && col("a.v") === col("b.v"))
      .select(col("a.media_id").as("batch_id"),
        col("b.media_id").as("corpus_id"))
      .distinct()
    cand
      .join(fb.select(col("media_id").as("batch_id"), col("frame"),
        col("hi").as("hi_a"), col("lo").as("lo_a")), Seq("batch_id"))
      .join(fc.select(col("media_id").as("corpus_id"), col("frame"),
        col("hi").as("hi_b"), col("lo").as("lo_b")),
        Seq("corpus_id", "frame"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(max(bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
        bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
        .cast("long").as("hamming_max"))
      .filter(col("hamming_max") <= maxHamming)
  }

  /**
   * Near-duplicate video CLUSTERS — the production-scale counterpart
   * of [[y4mDhashPairs]], same argument as
   * [[ImageHash.dhashClusters]]: pair enumeration is quadratic in
   * duplicate-clique size (the ~sf1 key-growth smoke read 161k →
   * 16.2M pair rows for 10× data — the synthetic corpus repeats
   * byte-identical videos), so the usable output at scale is a
   * per-video cluster assignment, O(n) rows.
   *
   * The exact-collapse key is the video's full ordered frame-hash
   * signature (an array<struct> groupBy — EXACT, not a digest, so
   * distinct videos can never merge by hash collision); banding,
   * verification, and connected components run only over one
   * representative per signature. For very long videos the signature
   * array is n_frames structs of 20 bytes — still metadata-sized next
   * to the media bytes, which never leave the hashing scan.
   *
   * Output: (media_id, cluster_id) for every video with at least one
   * near-duplicate; cluster_id = the component's minimum media_id,
   * the same convention as [[ImageHash.dhashClusters]].
   */
  def y4mDhashClusters(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "banded completeness holds for maxHamming < 4")
    // the per-frame hash pass walks the Y4M container bytes — by far
    // the expensive leg. Four consumers read it (sigs twice via the
    // final join, the rep frames, and the pair graph's checkpoint), so
    // without the persist the codec walk re-runs per consumer; the
    // result materializes via localCheckpoint before the caches drop
    val fh = y4mFrameDHash(media).toDF().persist()
    val sigs = fh.groupBy("media_id", "width", "height", "n_frames")
      .agg(sort_array(collect_list(
        struct(col("frame"), col("hi"), col("lo")))).as("sig"))
      .persist()
    try {
      val groups = sigs.groupBy("width", "height", "n_frames", "sig")
        .agg(min("media_id").as("rep"), count(lit(1)).as("members"))
      val repFrames = fh.join(
        groups.select(col("rep").as("media_id")), Seq("media_id"), "left_semi")
      val cc = Dedup.connectedComponents(
          pairsOverFrameHashes(repFrames, maxHamming), "id_a", "id_b")
        .withColumnRenamed("id", "rep")
        .withColumnRenamed("cluster_id", "cc_id")
      sigs.join(groups, Seq("width", "height", "n_frames", "sig"))
        .join(cc, Seq("rep"), "left")
        .filter(col("members") > 1 || col("cc_id").isNotNull)
        .select(col("media_id"),
          coalesce(col("cc_id"), col("rep")).as("cluster_id"))
        .localCheckpoint()
    } finally { sigs.unpersist(); fh.unpersist(); () }
  }
}
