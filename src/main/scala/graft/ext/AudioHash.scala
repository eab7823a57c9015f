package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/**
 * Perceptual AUDIO fingerprinting — the audio rung of the perceptual
 * near-duplicate ladder ([[ImageHash]] images, [[VideoHash]] video).
 * Exact digest dedup only collapses byte-identical files; a re-gained
 * or DC-shifted copy of a recording needs a PERCEPTUAL key. The
 * fingerprint here is the sign-of-energy-delta idea of the classic
 * Philips audio fingerprint (Haitsma & Kalker 2002, "A Highly Robust
 * Audio Fingerprinting System") restated in exact integer arithmetic
 * so an oracle can replay every bit from the synthesis formula:
 *
 *  - the channel-0 PCM stream is high-passed by the lag-1 absolute
 *    difference `d[i] = |x[i] − x[i−1]|` (a first-difference filter is
 *    the integer stand-in for HK's band energies — it kills DC
 *    exactly, so the fingerprint is INVARIANT to a constant sample
 *    offset by construction, the audio analog of [[ImageHash]]'s
 *    brightness-shift invariance);
 *  - the n−1 diffs partition into 65 time boxes by the same integer
 *    box rule as the image grid, `g = (i−1)·65 div (n−1)`, each box
 *    summarized by its floor-milli mean (empty boxes — possible below
 *    66 frames — contribute 0, same convention both sides);
 *  - bit m (0 ≤ m < 64) is the sign of the envelope delta,
 *    `env(m+1) > env(m)`, packed as two NON-NEGATIVE 32-bit halves
 *    (`hi` = bits 0–31, `lo` = bits 32–63) — two longs sidestep
 *    64-bit sign wrap in every engine's BIGINT.
 *
 * Scale shape: fingerprinting is one mapPartitions pass over the media
 * batches — audio bytes never shuffle; only (id, format params, 2×32-bit
 * fingerprint) rows leave the scan. Pairing is the banded LSH join of
 * the image rung: 4 disjoint 16-bit bands, block key = (sample_rate,
 * channels, n_frames, band#, value) — hamming ≤ 3 implies at least one
 * band is untouched, so the candidate join is COMPLETE for the shipped
 * threshold while never going all-pairs. Verification is an id-keyed
 * join back to the fingerprint frame and a codegen'd `bit_count(xor)`
 * filter.
 */
object AudioHash {

  /** One audio file's envelope fingerprint. Format params ride along
    * so the pair join can block on them without a second scan. */
  final case class WavFp(
      media_id: String, sample_rate: Int, channels: Int, n_frames: Long,
      hi: Long, lo: Long)

  /** Decode RIFF/WAVE bytes ([[Multimodal.wavLayout]] — the same
    * strict chunk walk as the feature decoder) and fingerprint the
    * channel-0 stream. */
  def wavFingerprint(media: DataFrame): Dataset[WavFp] = {
    implicit val enc = Encoders.product[WavFp]
    media.select("media_id", "content").mapPartitions { rows =>
      rows.map { r => fpOne(r.getString(0), r.getAs[Array[Byte]](1)) }
    }
  }

  private[ext] def fpOne(id: String, b: Array[Byte]): WavFp = {
    val lay = Multimodal.wavLayout(id, b)
    // frame indices address a byte array, so > Int.MaxValue frames
    // cannot be fingerprinted — reject loudly instead of truncating
    require(lay.nFrames <= Int.MaxValue,
      s"fingerprint supports <= 2^31-1 frames, got ${lay.nFrames}: $id")
    val nf = lay.nFrames.toInt
    require(nf >= 2, s"fingerprint needs >= 2 frames: media_id=$id")
    val stride = lay.channels * 2
    def x(f: Int): Int = {
      val o = lay.dataOff + f * stride
      ((b(o) & 0xff) | (b(o + 1) << 8)).toShort.toInt
    }
    val sums = new Array[Long](65)
    val cnts = new Array[Long](65)
    var i = 1
    var prev = x(0)
    while (i < nf) {
      val cur = x(i)
      // box index in Long — (i-1)*65 overflows Int beyond ~33M frames
      val g = ((i - 1).toLong * 65L / (nf - 1).toLong).toInt
      sums(g) += math.abs(cur - prev); cnts(g) += 1
      prev = cur; i += 1
    }
    def env(g: Int): Long = sums(g) * 1000L / math.max(cnts(g), 1L)
    var hi = 0L; var lo = 0L
    var m = 0
    while (m < 64) {
      if (env(m + 1) > env(m)) {
        if (m < 32) hi |= 1L << m else lo |= 1L << (m - 32)
      }
      m += 1
    }
    WavFp(id, lay.sampleRate, lay.channels, lay.nFrames, hi, lo)
  }

  /**
   * Synthesize perceptual near-dup twins: copy each file, zero the
   * frame-0 channel-0 sample, suffix the id. x[0] feeds exactly one
   * lag-1 diff (`d[1] = |x[1] − x[0]|`), whose box is always g = 0, so
   * only env(0) moves — and env(0) feeds exactly one sign bit (the
   * right operand of bit 0). hamming(original, twin) ≤ 1 by
   * construction: a guaranteed planted pair per input file,
   * replayable by a per-sample oracle (the twin's x[0] is exactly 0).
   */
  def vandalizeFirstSample(media: DataFrame, suffix: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "media_type", "content")
      .map { r =>
        val id = r.getString(0)
        val b = r.getAs[Array[Byte]](2).clone()
        val lay = Multimodal.wavLayout(id, b)
        b(lay.dataOff) = 0; b(lay.dataOff + 1) = 0
        (id + suffix, r.getString(1), b)
      }.toDF("media_id", "media_type", "content")
  }

  /**
   * Near-duplicate audio pairs: banded candidate join, hamming ≤
   * `maxHamming` verification. Complete (zero false negatives)
   * whenever `maxHamming` < number of bands (pigeonhole over the 4
   * disjoint 16-bit bands); the block key includes the format params,
   * so a band value shared across formats never widens a bucket.
   *
   * @return (id_a, id_b, hamming), id_a < id_b under the id column's
   *         own ordering.
   */
  def wavFpPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "banded completeness holds for maxHamming < 4")
    pairsOverFps(wavFingerprint(media).toDF(), maxHamming)
  }

  /** Banded pairing over an explicit fingerprint frame — shared by
    * [[wavFpPairs]] (all files) and [[wavFpClusters]] (distinct
    * fingerprints only). */
  private def pairsOverFps(h: DataFrame, maxHamming: Int): DataFrame = {
    val bands = h.select(col("media_id"), col("sample_rate"),
      col("channels"), col("n_frames"),
      posexplode(array(
        col("hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("hi"), 16).bitwiseAND(lit(0xffffL)),
        col("lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("lo"), 16).bitwiseAND(lit(0xffffL))))
        .as(Seq("band", "v")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.sample_rate") === col("b.sample_rate") &&
          col("a.channels") === col("b.channels") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"))
      .distinct()
    cand
      .join(h.select(col("media_id").as("id_a"),
        col("hi").as("hi_a"), col("lo").as("lo_a")), Seq("id_a"))
      .join(h.select(col("media_id").as("id_b"),
        col("hi").as("hi_b"), col("lo").as("lo_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** One aligned window's sub-fingerprint: 32 envelope-delta sign
    * bits over the `winLen`-sample channel-0 window at `off`, plus a
    * positional checksum — the Haitsma–Kalker BLOCK-SEARCH key (a
    * clip is located inside a longer recording by matching its
    * sub-fingerprint against every aligned window of the corpus). */
  final case class WavWindowFp(
      media_id: String, sample_rate: Int, channels: Int,
      off: Int, fp: Long, ck: Long)

  /**
   * Sliding-window sub-fingerprint index: for every aligned offset
   * `off ∈ [0, nf − winLen]` of every file, the 32-bit
   * envelope-delta fingerprint of the window (lag-1 |diff| stream
   * into 33 integer boxes, floor-milli means, sign bits — the
   * [[fpOne]] construction at window granularity) and a positional
   * checksum `floorMod(Σ (x[off+i]+2000)·(i+1), 1e9+7)` (exact
   * integers; the +2000 lifts the SYNTHETIC sample range — which
   * never drops below −2000 — to non-negative, and the floorMod
   * accumulation keeps the checksum non-negative for arbitrary
   * 16-bit PCM, where x can reach −32768). Only
   * (id, format, off, fp, ck) rows leave the scan — ~28 bytes per
   * window; audio bytes never shuffle. At corpus scale this IS the
   * persisted sub-fingerprint index of the Philips design: rows ∝
   * total duration, partitionable by fp for the exact-key probe.
   */
  def wavWindowFps(media: DataFrame, winLen: Int = 32): Dataset[WavWindowFp] = {
    require(winLen >= 2, "winLen >= 2")
    implicit val enc = Encoders.product[WavWindowFp]
    media.select("media_id", "content").mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getString(0)
        val b = r.getAs[Array[Byte]](1)
        val lay = Multimodal.wavLayout(id, b)
        require(lay.nFrames <= Int.MaxValue,
          s"window index supports <= 2^31-1 frames, got ${lay.nFrames}: $id")
        val nf = lay.nFrames.toInt
        val stride = lay.channels * 2
        def x(f: Int): Int = {
          val o = lay.dataOff + f * stride
          ((b(o) & 0xff) | (b(o + 1) << 8)).toShort.toInt
        }
        (0 to nf - winLen).iterator.map { off =>
          val sums = new Array[Long](33)
          val cnts = new Array[Long](33)
          var ck = 0L
          var i = 0
          while (i < winLen) {
            val cur = x(off + i)
            // floorMod: a real PCM sample can be < -2000, making the
            // term negative — the checksum invariant is non-negative
            ck = math.floorMod(ck + (cur + 2000L) * (i + 1), 1000000007L)
            if (i >= 1) {
              val g = (i - 1) * 33 / (winLen - 1)
              sums(g) += math.abs(cur - x(off + i - 1)); cnts(g) += 1
            }
            i += 1
          }
          def env(g: Int): Long = sums(g) * 1000L / math.max(cnts(g), 1L)
          var fp = 0L
          var m = 0
          while (m < 32) {
            if (env(m + 1) > env(m)) fp |= 1L << m
            m += 1
          }
          WavWindowFp(id, lay.sampleRate, lay.channels, off, fp, ck)
        }
      }
    }
  }

  /**
   * Extract a real clip from each file: frames `[off, off + len)`
   * across ALL channels, re-encoded as a standalone RIFF/WAVE at the
   * source's format, id suffixed. `off` is the deterministic
   * `idSeed mod 7` — a numeric id's own value, a non-numeric id's
   * stable codepoint hash ([[Multimodal.idSeed]]); every synthesized
   * file has ≥ 50 frames, so off + 32 always fits. The clip goes back through the full
   * byte-level codec path — slice, encode, re-decode, fingerprint —
   * so a match certifies the codecs end to end, while the oracle
   * replays the clip's key as the SOURCE window key at `off`.
   */
  def extractClips(media: DataFrame, len: Int, suffix: String): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "media_type", "content")
      .map { r =>
        val id = r.getString(0)
        val b = r.getAs[Array[Byte]](2)
        val lay = Multimodal.wavLayout(id, b)
        val off = math.floorMod(Multimodal.idSeed(id), 7L).toInt
        require(off + len <= lay.nFrames,
          s"clip [$off, ${off + len}) exceeds ${lay.nFrames} frames: $id")
        val stride = lay.channels * 2
        val samples = new Array[Short](len * lay.channels)
        var i = 0
        while (i < len * lay.channels) {
          val o = lay.dataOff + off * stride + i * 2
          samples(i) = ((b(o) & 0xff) | (b(o + 1) << 8)).toShort
          i += 1
        }
        (id + suffix, r.getString(1),
          Multimodal.wavEncode(lay.sampleRate, lay.channels, samples))
      }.toDF("media_id", "media_type", "content")
  }

  /**
   * Locate clips inside the corpus: each clip's whole-file window
   * (its `nf == winLen` index has exactly one row) exact-key joined
   * against the corpus window index on (sample_rate, channels, fp,
   * checksum). The guaranteed hit is the clip's own source at the
   * extraction offset; byte-identical content elsewhere surfaces as
   * additional locations — exactly the Philips block-search
   * semantics, as a plain shuffle join on the fingerprint key.
   *
   * @return (clip_id, src_id, src_offset)
   */
  def clipMatches(
      clips: DataFrame, corpus: DataFrame, winLen: Int = 32): DataFrame = {
    val cw = wavWindowFps(clips, winLen).toDF()
      .select(col("media_id").as("clip_id"), col("sample_rate"),
        col("channels"), col("fp"), col("ck"))
    val ww = wavWindowFps(corpus, winLen).toDF()
      .select(col("media_id").as("src_id"), col("sample_rate"),
        col("channels"), col("fp"), col("ck"),
        col("off").cast("long").as("src_offset"))
    cw.join(ww, Seq("sample_rate", "channels", "fp", "ck"))
      .select(col("clip_id"), col("src_id"), col("src_offset"))
  }

  // ── Persisted clip-search index ──────────────────────────────────
  // At corpus scale the window-fingerprint table IS the persisted
  // artifact of the Philips design (rows ∝ total duration) — it must
  // not be rebuilt per query. Layout under `root`: parquet rows
  // (media_id, sample_rate, channels, off, fp, ck) in flat segment
  // files hash-partitioned and sorted by `fp`, under the
  // generation-pointer commit ([[graft.util.BucketedSwapIndex]]).
  // Refresh is ChangeSet-driven: re-fingerprint ONLY the
  // added+updated files, drop the removed+updated ids — refresh ≡
  // full rebuild bit-exact, which the q_audio_clip_incremental oracle
  // certifies.

  /** Build (or rebuild) the persisted window-fingerprint index from a
    * media corpus. One fingerprint scan — bytes never shuffle; only
    * the ~28-byte window rows move into the `fp`-keyed segment files.
    * Staging/swap mechanics live in [[graft.util.BucketedSwapIndex]]
    * (shared with the video tier). */
  def buildClipIndex(
      spark: org.apache.spark.sql.SparkSession, media: DataFrame,
      root: String, winLen: Int = 32): Unit = {
    graft.util.BucketedSwapIndex.stageAndSwap(
      root, wavWindowFps(media, winLen).toDF(), col("fp"))
  }

  /** ChangeSet-driven refresh: `changedMedia` (added ∪ updated, with
    * media_id + content) re-fingerprint; `droppedIds` (removed ∪
    * updated, one `id` column) drop. The commit is
    * DELTA-PROPORTIONAL ([[graft.util.BucketedSwapIndex
    * .refreshAndSwap]]: one delta segment + tombstone ledger,
    * previous segments hard-linked; compaction past the segment
    * bound) — only the delta re-fingerprints, and only delta-sized
    * bytes write. */
  def refreshClipIndex(
      spark: org.apache.spark.sql.SparkSession, root: String,
      changedMedia: DataFrame, droppedIds: DataFrame,
      winLen: Int = 32): Unit =
    graft.util.BucketedSwapIndex.refreshAndSwap(root,
      wavWindowFps(changedMedia, winLen).toDF(),
      droppedIds.select(col("id")), col("fp"))

  /** Probe the persisted index with real extracted clips: each clip's
    * whole-file window key exact-joined against the persisted
    * corpus index — the [[clipMatches]] semantics served from disk,
    * no corpus re-fingerprinting in the plan.
    *
    * @return (clip_id, src_id, src_offset) */
  def searchClipIndex(
      spark: org.apache.spark.sql.SparkSession, root: String,
      clips: DataFrame, winLen: Int = 32): DataFrame = {
    val cw = wavWindowFps(clips, winLen).toDF()
      .select(col("media_id").as("clip_id"), col("sample_rate"),
        col("channels"), col("fp"), col("ck"))
    val ww = graft.util.BucketedSwapIndex.read(spark, root)
    // broadcast the clip side: the index scan stays shuffle-free
    ww.join(broadcast(cw), Seq("sample_rate", "channels", "fp", "ck"))
      .select(col("clip_id"), col("media_id").as("src_id"),
        col("off").cast("long").as("src_offset"))
  }

  /**
   * Incremental near-dup pairing: today's BATCH banded-joined against
   * the accumulated CORPUS — the production ingest path (the
   * [[Dedup.minhashPairsAgainst]] shape): candidate volume scales
   * with the batch, the corpus never self-compares. Same block key
   * and pigeonhole completeness as [[wavFpPairs]].
   *
   * @return (batch_id, corpus_id, hamming) for every cross pair
   *         within `maxHamming`.
   */
  def wavFpPairsAgainst(
      batch: DataFrame, corpus: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "banded completeness holds for maxHamming < 4")
    val hb = wavFingerprint(batch).toDF()
    val hc = wavFingerprint(corpus).toDF()
    def bands(h: DataFrame) = h.select(col("media_id"),
      col("sample_rate"), col("channels"), col("n_frames"),
      posexplode(array(
        col("hi").bitwiseAND(lit(0xffffL)),
        shiftright(col("hi"), 16).bitwiseAND(lit(0xffffL)),
        col("lo").bitwiseAND(lit(0xffffL)),
        shiftright(col("lo"), 16).bitwiseAND(lit(0xffffL))))
        .as(Seq("band", "v")))
    val cand = bands(hb).as("a").join(bands(hc).as("b"),
        col("a.sample_rate") === col("b.sample_rate") &&
          col("a.channels") === col("b.channels") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.band") === col("b.band") && col("a.v") === col("b.v"))
      .select(col("a.media_id").as("batch_id"),
        col("b.media_id").as("corpus_id"))
      .distinct()
    cand
      .join(hb.select(col("media_id").as("batch_id"),
        col("hi").as("hi_a"), col("lo").as("lo_a")), Seq("batch_id"))
      .join(hc.select(col("media_id").as("corpus_id"),
        col("hi").as("hi_b"), col("lo").as("lo_b")), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Near-duplicate audio CLUSTERS — the production-scale counterpart
   * of [[wavFpPairs]], same argument as [[ImageHash.dhashClusters]]:
   * pair enumeration is quadratic in duplicate-clique size, so the
   * usable output at corpus scale is a per-file cluster assignment,
   * O(n) rows. Exact-fingerprint collapse (identical files are
   * hamming-0 cliques) → banded pairing + [[Dedup.connectedComponents]]
   * (large-star/small-star, O(log² n) rounds) over one representative
   * per distinct (format, fingerprint) → one fingerprint-keyed join
   * assigns every file its component.
   *
   * Output: (media_id, cluster_id) for every file with at least one
   * near-duplicate; cluster_id = the component's minimum media_id
   * under the id column's own ordering — singletons are omitted, the
   * [[ImageHash.dhashClusters]] convention.
   */
  def wavFpClusters(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "banded completeness holds for maxHamming < 4")
    // the fingerprint pass decodes WAV bytes and feeds three consumers
    // (groups, the pair graph, the final join) — persist it so the
    // decode runs once; the result materializes via localCheckpoint
    // before the cache drops (the clustersOverHashes convention)
    val h = wavFingerprint(media).toDF().persist()
    try {
      val groups = h.groupBy("sample_rate", "channels", "n_frames", "hi", "lo")
        .agg(min("media_id").as("rep"), count(lit(1)).as("members"))
      val reps = groups.select(col("rep").as("media_id"),
        col("sample_rate"), col("channels"), col("n_frames"),
        col("hi"), col("lo"))
      val cc = Dedup.connectedComponents(
          pairsOverFps(reps, maxHamming), "id_a", "id_b")
        .withColumnRenamed("id", "rep")
        .withColumnRenamed("cluster_id", "cc_id")
      h.join(groups, Seq("sample_rate", "channels", "n_frames", "hi", "lo"))
        .join(cc, Seq("rep"), "left")
        .filter(col("members") > 1 || col("cc_id").isNotNull)
        .select(col("media_id"),
          coalesce(col("cc_id"), col("rep")).as("cluster_id"))
        .localCheckpoint()
    } finally { h.unpersist(); () }
  }
}
