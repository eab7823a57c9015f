package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines (engine
 * extension; BASELINE.json north star). Five tiers, cheapest first:
 *
 *  1. exact       — hash-groupBy on a normalized fingerprint;
 *  2. minhash+LSH — shingle → minhash signature → banded bucket join;
 *  3. simhash     — 64-bit weighted-projection fingerprint, hamming;
 *  4. n-gram Jaccard — verification metric for candidate pairs;
 *  5. embedding cosine — semantic near-dup via Similarity.
 *
 * Scale design: every tier is candidate-generation-by-key (shuffle on
 * a short hash key) followed by within-bucket verification — never an
 * all-pairs cross join. At 100 TB the band/bucket shuffle is the only
 * wide dependency, and bucket sizes are bounded by construction
 * (a band collision requires r equal minhashes), so no single task
 * explodes. All hashes are deterministic (xxhash64 with fixed seeds),
 * so results are reproducible across runs and cluster sizes.
 */
object Dedup {

  // ── 1. exact ────────────────────────────────────────────────────

  /** Exact dedup: keep the smallest id per normalized-text
    * fingerprint. One shuffle on the 128-bit key. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val in = graft.util.Tables.spread(df)
    val fp = TextAnalysis.fingerprint(col(textCol))
    val w = Window.partitionBy(col("fingerprint")).orderBy(col(idCol))
    in.withColumn("fingerprint", fp)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // ── shingling (shared by minhash / jaccard) ─────────────────────

  /**
   * Word n-gram shingles of the normalized text (distinct, SORTED in
   * binary order — the contract the native `sorted_intersect_size`
   * verification kernel relies on; set semantics downstream are
   * order-independent).
   *
   * This zip_with-shifted-slices form is ~10× faster than a
   * `transform(i => slice(toks, i, n))` one. A fused codegen kernel
   * won the shingle pass in isolation but lost at query level
   * (OPTIMIZATION_r18.md item 7) and on the `dedup_index` benchmark
   * (`read_s` 6.33 vs 5.36 s, medians of 6 pairs on 4 cores).
   */
  def shingles(text: Column, n: Int = 3): Column = {
    val tokens = TextAnalysis.normTokens(text)
    val nTok = size(tokens)
    val grams = (2 to n).foldLeft(tokens) { (acc, k) =>
      zip_with(acc, slice(tokens, lit(k), greatest(nTok - k + 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))
    }
    array_sort(array_distinct(
      when(nTok < n, array(concat_ws(" ", tokens)))
        .otherwise(slice(grams, lit(1), nTok - n + 1))))
  }

  // ── 2. minhash + LSH ────────────────────────────────────────────

  /**
   * MinHash signature: k independent permutations approximated by
   * seeded xxhash64 of each shingle; signature[i] = min over shingles.
   * Pure expression (transform + array_min over a literal seed array)
   * — no UDF, no MLlib vector conversion overhead.
   */
  def minhashSignature(text: Column, k: Int = 32, n: Int = 3): Column = {
    val sh = shingles(text, n)
    val seeds = (0 until k).map(lit(_))
    array(seeds.map(seed =>
      array_min(transform(sh, s => xxhash64(s, seed)))): _*)
  }

  /**
   * MinHash signatures as a DataFrame — the SCALE shape: explode
   * shingles to (id, shingle) rows, hash each shingle once per seed,
   * and min-aggregate by id. One shuffle with map-side partial mins;
   * linear in |shingles| × k. (The pure-expression
   * [[minhashSignature]] recomputes the shingle array per seed —
   * Catalyst inlines the common subexpression k times — so it is kept
   * only as the single-row reference implementation.)
   */
  /** Mersenne prime 2^31 - 1: the universal-hash modulus. With the
    * base hash reduced mod p, a*h + b stays below 2^62 — exact in
    * 64-bit integer arithmetic in both Spark and DuckDB. */
  val MinhashP: Long = 2147483647L

  /** Deterministic (a_i, b_i) pairs for the k permutation
    * approximations m_i = (a_i * h + b_i) mod p — Knuth's
    * multiplicative constant spreads the a_i; any fixed nonzero a_i
    * works. Shared verbatim by the DuckDB oracle generator. */
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map(i =>
      ((2654435761L * (i + 1)) % MinhashP, (40503L * (i + 7919)) % MinhashP))

  /** Signatures from an already-shingled (id, sh) frame — lets
    * [[minhashDedup]] share ONE shingling pass between candidate
    * generation and verification. */
  private[graft] def signaturesFromShingled(
      docs: DataFrame, k: Int, baseHash: Column => Column): DataFrame = {
    // each shingle is hashed ONCE; the k "permutations" are universal
    // hashes of that value — k multiply-mods instead of k full hashes
    val sh = docs.select(col("id"), explode(col("sh")).as("s"))
      .select(col("id"), pmod(baseHash(col("s")), lit(MinhashP)).as("h"))
    val params = minhashParams(k)
    val hashed = sh.select(col("id") +:
      params.zipWithIndex.map { case ((a, b), i) =>
        pmod(col("h") * a + b, lit(MinhashP)).as(s"h$i") }: _*)
    hashed.groupBy("id")
      .agg(min(s"h0").as("m0"),
        (1 until k).map(i => min(s"h$i").as(s"m$i")): _*)
  }

  private[graft] def shingled(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.util.Tables.spread(df).select(col(idCol).as("id"),
      shingles(col(textCol), n).as("sh"))

  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, n: Int = 3,
      baseHash: Column => Column = xxhash64(_)): DataFrame =
    signaturesFromShingled(shingled(df, idCol, textCol, n), k, baseHash)

  /**
   * LSH candidate pairs: signatures split into `bands` bands of
   * r = k/bands rows; docs sharing any band bucket become a candidate
   * pair. The band hash is the shuffle key; bucket sizes stay small
   * because a collision needs r equal minhashes.
   */
  /** Note: with `maxBucket > 0` this lazy-contract entry point leaves
    * the internal bucket-size checkpoint to the ContextCleaner (the
    * returned plan still needs it); [[minhashDedup]] /
    * [[minhashPairsAgainst]] materialize and release deterministically
    * — prefer them for long-lived sessions. */
  def minhashCandidates(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3,
      baseHash: Column => Column = xxhash64(_),
      maxBucket: Int = 0): DataFrame =
    bandedCandidates(
      minhashSignatures(df, idCol, textCol, k, n, baseHash), k, bands,
      maxBucket)._1

  private[graft] def bandedSignatures(
      sig: DataFrame, k: Int, bands: Int): DataFrame = {
    val r = k / bands
    sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",",
          (b * r until (b + 1) * r).map(i => col(s"m$i")): _*), lit(b))): _*)))
      .toDF("id", "band", "bucket")
  }

  private def bandedCandidates(
      sig: DataFrame, k: Int, bands: Int,
      maxBucket: Int = 0): (DataFrame, () => Unit) = {
    val banded0 = bandedSignatures(sig, k, bands)
    // Opt-in hot-bucket cap: a degenerate bucket of size m (near-empty
    // docs, boilerplate, adversarial shingle collisions) contributes
    // m·(m-1)/2 candidate pairs to the self-join — at 100 TB one
    // million-doc bucket is 5·10¹¹ pairs in a single task. Capping
    // drops ONLY buckets above the limit, and a pair survives unless
    // EVERY band it collides in is hot, so recall loss is confined to
    // pathological families; the drop is LOGGED, never silent.
    // maxBucket = 0 (default) disables the cap — the oracle-checked
    // queries run uncapped.
    val (banded, release) = if (maxBucket > 0)
      capHotBuckets(banded0, maxBucket)
    else (banded0, () => ())
    val l = banded.as("l"); val rgt = banded.as("r")
    (l.join(rgt,
        col("l.band") === col("r.band") &&
        col("l.bucket") === col("r.bucket") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct(), release)
  }

  /** Deterministically free a `localCheckpoint`ed frame's blocks
    * instead of waiting for the ContextCleaner to notice the RDD is
    * unreachable (best-effort: if the plan isn't the expected
    * LogicalRDD, the cleaner still reclaims it eventually). Only call
    * once every plan derived from the frame has been materialized. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Drop (band, bucket) groups larger than `maxBucket` from a banded
    * frame, loudly. The bucket-size table is `localCheckpoint`ed so
    * the banded input is evaluated ONCE for the sizes (the drop
    * report reads the checkpointed sizes, not a recompute) — the
    * returned plan re-reads only the banded side. Returns the capped
    * frame plus a release handle for the sizes checkpoint: callers
    * that materialize their result MUST invoke it (at scale the size
    * table is one row per bucket — too big to leave to driver GC);
    * lazy-contract callers leave it to the ContextCleaner. */
  private def capHotBuckets(
      banded: DataFrame, maxBucket: Int): (DataFrame, () => Unit) = {
    val sizes = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .localCheckpoint()
    val hot = sizes.filter(col("bsz") > maxBucket)
      .agg(count(lit(1)), sum(col("bsz"))).collect()(0)
    if (hot.getLong(0) > 0)
      System.err.println(
        s"[graft.Dedup] minhash hot-bucket cap $maxBucket dropped " +
          s"${hot.getLong(0)} buckets covering ${hot.getLong(1)} " +
          "band entries — pairs confined to those buckets are lost")
    (banded.join(sizes.filter(col("bsz") <= maxBucket),
      Seq("band", "bucket"), "left_semi"),
      () => releaseCheckpoint(sizes))
  }

  /**
   * LSH bucket-skew pre-flight diagnostic: per band, the bucket-size
   * distribution and the exact candidate-pair count the banded
   * self-join would generate (Σ c·(c-1)/2 over buckets). THE number to
   * look at before running [[minhashDedup]] on a new corpus — a single
   * hot bucket shows up here as a `max_bucket` spike and a pair count
   * orders of magnitude above `n_docs`, and picks the `maxBucket` cap.
   * One shuffle on (band, bucket); output is `bands` rows.
   */
  def lshBucketStats(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, n: Int = 3,
      baseHash: Column => Column = xxhash64(_)): DataFrame =
    bandedSignatures(
      minhashSignatures(df, idCol, textCol, k, n, baseHash), k, bands)
      .groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("c"))
      .groupBy(col("band")).agg(
        count(lit(1)).as("n_buckets"),
        max(col("c")).as("max_bucket"),
        // c·(c-1) is even, so `div 2` is exact — and everything stays
        // integral (`/` would go through double and lose precision
        // once the pair count passes 2^53)
        expr("sum(c * (c - 1)) div 2").as("n_cand_pairs"))

  /** MinHash near-dedup: candidates verified by true n-gram Jaccard
    * ≥ threshold. */
  def minhashDedup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 8,
      n: Int = 3,
      baseHash: Column => Column = xxhash64(_),
      maxBucket: Int = 0): DataFrame = {
    // one shingling pass feeds signatures AND both verification
    // joins; eager materialization + unpersist, as in
    // [[ngramJaccardPairs]] (returning the lazy plan would leak the
    // cache or re-shingle 3×). localCheckpoint: computed,
    // lineage-free, no caller unpersist obligation (see
    // ngramJaccardPairs for the full rationale).
    val docs = shingled(df, idCol, textCol, n).persist()
    val (cands, releaseCap) = bandedCandidates(
      signaturesFromShingled(docs, k, baseHash), k, bands, maxBucket)
    try {
      val verified = cands
        .join(docs.withColumnRenamed("id", "id_a")
          .withColumnRenamed("sh", "sh_a"), "id_a")
        .join(docs.withColumnRenamed("id", "id_b")
          .withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("jaccard", jaccardExpr(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
      verified.localCheckpoint()
    } finally { docs.unpersist(); releaseCap() }
  }

  /**
   * Two-corpus (incremental) minhash near-dup pairs: every verified
   * pair has its LEFT id from `left` and RIGHT id from `right` — the
   * daily-increment production pattern, where `left` is today's batch
   * and `right` the accumulated corpus. Dropping batch docs that pair
   * with the corpus is then one anti-join:
   * {{{
   *   val pairs = Dedup.minhashPairsAgainst(batch, corpus, "id", "text")
   *   val novel = batch.join(pairs.select(col("id_l").as("id")).distinct(),
   *     Seq("id"), "left_anti")   // then minhashDedup(novel) intra-batch
   * }}}
   * Same banded LSH as [[minhashDedup]], but the candidate join is
   * batch-bands × corpus-bands instead of a self-join — candidate
   * volume scales with |batch|·collision-rate, NOT |corpus|², and the
   * corpus side never compares against itself (at 100 TB re-verifying
   * the historical corpus every day is the cost that matters).
   * Ids equal across the two sides are excluded (a doc already in the
   * corpus is not "a near-dup of itself"). `maxBucket` (opt-in, as in
   * [[minhashCandidates]]) caps the COMBINED batch+corpus size of a
   * (band, bucket) group — the candidate blowup here is the
   * batch-side × corpus-side product, so the cap must see both sides.
   */
  def minhashPairsAgainst(
      left: DataFrame, right: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 8, n: Int = 3,
      baseHash: Column => Column = xxhash64(_),
      maxBucket: Int = 0): DataFrame = {
    val dl = shingled(left, idCol, textCol, n).persist()
    val dr = shingled(right, idCol, textCol, n).persist()
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    try {
      val bl0 = bandedSignatures(signaturesFromShingled(dl, k, baseHash), k, bands)
      val br0 = bandedSignatures(signaturesFromShingled(dr, k, baseHash), k, bands)
      // side markers survive the union so ONE capped frame splits back
      // into the two join sides; the capped union is checkpointed —
      // without it, each side's filter would re-run both corpora's
      // signature pipelines as separate subtrees of the candidate join
      val (bl, br) = if (maxBucket > 0) {
        val (capped, relSizes) = capHotBuckets(
          bl0.withColumn("side", lit("l"))
            .unionByName(br0.withColumn("side", lit("r"))), maxBucket)
        val both = capped.localCheckpoint()
        releases += relSizes
        releases += (() => releaseCheckpoint(both))
        (both.filter(col("side") === "l").drop("side"),
          both.filter(col("side") === "r").drop("side"))
      } else (bl0, br0)
      val cands = bl.as("l").join(br.as("r"),
          col("l.band") === col("r.band") &&
          col("l.bucket") === col("r.bucket") &&
          col("l.id") =!= col("r.id"))
        .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
        .distinct()
      val verified = cands
        .join(dl.withColumnRenamed("id", "id_l")
          .withColumnRenamed("sh", "sh_l"), "id_l")
        .join(dr.withColumnRenamed("id", "id_r")
          .withColumnRenamed("sh", "sh_r"), "id_r")
        .withColumn("jaccard", jaccardExpr(col("sh_l"), col("sh_r")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_l"), col("id_r"),
          round(col("jaccard"), 6).as("jaccard"))
      verified.localCheckpoint()
    } finally {
      dl.unpersist(); dr.unpersist(); releases.foreach(_.apply())
    }
  }

  // ── 3. simhash ──────────────────────────────────────────────────

  /**
   * SimHash: 64-bit fingerprint where bit j is the sign of
   * Σ_tokens (token-hash bit j ? +1 : -1). Near-dups differ in few
   * bits. Expression-only: per-bit vote via transform/aggregate.
   */
  def simhash(text: Column, n: Int = 3): Column = {
    val sh = shingles(text, n)
    (0 until 64).map { j =>
      val vote = aggregate(sh, lit(0L), (acc, s) =>
        acc + when(shiftright(xxhash64(s), j).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce[Column](_ bitwiseOR _)
  }

  /** Hamming distance between two simhash fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash signatures as a DataFrame — explode shingles, hash each
   * ONCE, then 64 conditional-sum bit votes in one aggregation
   * (map-side partial; columnar sums). The expression [[simhash]]
   * recomputes shingles per bit (64×) and is kept as the single-row
   * reference implementation.
   */
  def simhashSignatures(
      df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      bits: Int = 64,
      hashFn: Column => Column = xxhash64(_)): DataFrame = {
    require(bits >= 1 && bits <= 64, "bits must be in [1, 64]")
    val hashed = graft.util.Tables.spread(df).select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("s"))
      .select(col("id"), hashFn(col("s")).as("h"))
    val votes = hashed.groupBy("id").agg(
      sum(when(shiftright(col("h"), 0).bitwiseAND(1) === 1, 1L)
        .otherwise(-1L)).as("v0"),
      (1 until bits).map(j =>
        sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)).as(s"v$j")): _*)
    votes.select(col("id"),
      (0 until bits).map(j =>
        when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L))
        .reduce[Column](_ bitwiseOR _).as("sig"))
  }

  /**
   * SimHash near-dup pairs, blocked by the pigeonhole principle
   * (Manku et al., WWW'07 §3 — cited as published algorithm, not
   * code): the signature is split into `maxHamming + cleanSegments`
   * near-equal segments, so any pair within hamming ≤ maxHamming has
   * at most maxHamming dirty segments and MUST agree on at least
   * `cleanSegments` of them — one "table" per `cleanSegments`-sized
   * segment combination, keyed by those segments' concatenated bits.
   * Blocking is exact at the configured radius for EVERY
   * cleanSegments; full hamming over the complete signature verifies
   * each candidate.
   *
   * `cleanSegments` is the corpus-size knob. At 1 (default) there
   * are maxHamming+1 tables with bits/(k+1)-wide keys — cheapest
   * explode, but a 60-bit/9-segment key is only 6–7 bits, so blocks
   * beyond ~10⁶ docs go quadratic inside a bucket. At 2 the key
   * widens to ~12–13 bits (4096+ buckets/table): candidate volume
   * per doc-pair drops ~13× (C(10,2)=45 tables ÷ 2¹² keys vs 9 ÷
   * 2⁶) at the cost of a 45-row explode — the classical Manku
   * multi-table trade. [[simhashPairsAuto]] switches on measured
   * corpus size.
   */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, n: Int = 3, bits: Int = 64,
      hashFn: Column => Column = xxhash64(_),
      cleanSegments: Int = 1): DataFrame = {
    require(cleanSegments >= 1, "cleanSegments must be >= 1")
    val nSeg = maxHamming + cleanSegments
    require(nSeg <= bits,
      "maxHamming + cleanSegments segments need at least as many bits")
    // segment widths as even as possible: bits = nSeg*base + rem
    val base = bits / nSeg; val rem = bits % nSeg
    val widths = Seq.tabulate(nSeg)(i => if (i < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    def segment(i: Int): Column = {
      val w = widths(i)
      val mask = if (w >= 64) -1L else (1L << w) - 1 // 1L<<64 wraps to 1
      shiftright(col("sig"), offsets(i)).bitwiseAND(mask)
    }
    // one table per combination: key = the combination's segments
    // packed bit-adjacent into one long (≤ cleanSegments·⌈bits/nSeg⌉
    // bits — well under 64 for every realistic setting)
    val combos = (0 until nSeg).combinations(cleanSegments).toSeq
    val tableKeys = combos.map { combo =>
      combo.foldLeft((lit(0L), 0)) { case ((acc, shift), segIdx) =>
        (acc.bitwiseOR(shiftleft(segment(segIdx), shift)),
          shift + widths(segIdx))
      }._1
    }
    val sigs = simhashSignatures(df, idCol, textCol, n, bits, hashFn)
    val blocked = sigs.select(col("id"), col("sig"),
      posexplode(array(tableKeys: _*)))
      .toDF("id", "sig", "segment", "block")
    val l = blocked.as("l"); val r = blocked.as("r")
    l.join(r,
        col("l.segment") === col("r.segment") &&
        col("l.block") === col("r.block") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        hamming(col("l.sig"), col("r.sig")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** [[simhashPairs]] with `cleanSegments` chosen from the measured
    * corpus size: single-segment keys while the corpus is small
    * enough that 2^(bits/(k+1)) buckets keep blocks subquadratic,
    * two-segment (multi-table) keys beyond `switchAt` docs. The
    * count is one cheap job over ids (column-pruned scan). */
  def simhashPairsAuto(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, n: Int = 3, bits: Int = 64,
      hashFn: Column => Column = xxhash64(_),
      switchAt: Long = 1000000L): DataFrame = {
    val clean = if (df.select(idCol).count() >= switchAt) 2 else 1
    simhashPairs(df, idCol, textCol, maxHamming, n, bits, hashFn, clean)
  }

  // ── 4. n-gram Jaccard ───────────────────────────────────────────

  /**
   * Train/test contamination check — the standard n-gram-overlap
   * decontamination pass an LLM data pipeline runs before training:
   * for every test/eval document, the count and fraction of its
   * distinct `n`-grams (default 13, the common convention) that
   * appear anywhere in the training corpus.
   *
   * Scale shape: both corpora explode to (id, gram-hash) rows; the
   * training side collapses to DISTINCT 8-byte hashes (one shuffle),
   * the test side left-semi-joins it on the hash (second shuffle) and
   * re-aggregates per document. Nothing is broadcast or collected —
   * at 100 TB the distinct-gram frame shards across executors like
   * any other key set, and AQE picks a broadcast semi-join by itself
   * whenever the training gram set is genuinely small.
   */
  /** (id, gram-hash) explosion shared by [[contamination]] and
    * [[contaminationBloom]] — ONE definition, because the bloom
    * variant's oracle is literally the plain variant's SQL: the
    * bit-identical-output guarantee holds only while both sides hash
    * the same grams the same way. */
  private def gramHashFrame(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    graft.util.Tables.spread(df)
      .select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("g"))
      .select(col("id"), TextAnalysis.portableHash60(col("g")).as("gh"))

  /**
   * Cross-source n-gram leakage matrix: for every pair of corpus
   * sources, the number of distinct shared n-grams and their Jaccard
   * overlap in truncating integer ppm — the corpus-level view of
   * contamination (which benchmark leaks into which crawl slice,
   * which two vendors resell the same scrape). Shape: distinct
   * (source, gram-hash) — ONE shuffle keyed on the gram — then a
   * self-join on the gram whose per-gram fan-out is bounded by the
   * number of sources carrying it (≤ S·(S−1)/2, and S is a small
   * enumerable set at any corpus size), aggregated straight down to
   * the ≤ S²/2-row matrix with map-side combine. Per-source totals
   * join back onto that driver-sized matrix broadcast-side.
   */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val grams = graft.util.Tables.spread(df)
      .select(col(groupCol).as("src"),
        explode(shingles(col(textCol), n)).as("g"))
      .select(col("src"), TextAnalysis.portableHash60(col("g")).as("gh"))
      .distinct()
      .persist()
    try {
      val totals = grams.groupBy(col("src")).agg(count(lit(1)).as("total"))
      val shared = grams.as("a").join(grams.as("b"), Seq("gh"))
        .filter(col("a.src") < col("b.src"))
        .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
        .agg(count(lit(1)).as("shared_grams"))
      shared
        .join(broadcast(totals.select(
          col("src").as("src_a"), col("total").as("ta"))), Seq("src_a"))
        .join(broadcast(totals.select(
          col("src").as("src_b"), col("total").as("tb"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("shared_grams"),
          expr("shared_grams * 1000000L div (ta + tb - shared_grams)")
            .as("jaccard_ppm"))
        .localCheckpoint()
    } finally grams.unpersist()
  }

  def contamination(
      train: DataFrame, test: DataFrame, idCol: String, textCol: String,
      n: Int = 13): DataFrame = {
    val trainGrams = gramHashFrame(train, idCol, textCol, n)
      .select(col("gh")).distinct()
    // the test grams feed BOTH the totals and the hit join — persist
    // for the call so the test corpus shingles once; result handed
    // back localCheckpoint'ed (computed, lineage-free, no unpersist
    // obligation on the caller; not recomputable under executor
    // loss — persist to storage for long-lived use)
    val testGrams = gramHashFrame(test, idCol, textCol, n).persist()
    try {
      // shingles() emits distinct grams, so count(*) = distinct grams
      val totals = testGrams.groupBy(col("id"))
        .agg(count(lit(1)).as("n_grams"))
      val hits = testGrams.join(trainGrams, Seq("gh"), "left_semi")
        .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
      totals.join(hits, Seq("id"), "left")
        .select(col("id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_grams"), 6).as("contaminated_frac"))
        .localCheckpoint()
    } finally { testGrams.unpersist() }
  }

  /**
   * Bloom-prefiltered contamination — same OUTPUT as [[contamination]]
   * (the green oracle row certifies that), different scale shape. The
   * plain version collapses the TRAINING side's grams to DISTINCT
   * hashes first: at 100 TB that distinct is a full shuffle of every
   * training gram, even though only the tiny test-overlapping slice
   * matters. Here a Bloom filter built over the TEST grams (test sets
   * are benchmark suites — thousands of docs, not billions) rides the
   * plan as a binary literal probed by Spark's native
   * `BloomFilterMightContain`, applied to the training grams as a
   * NARROW map-side filter, so only bloom survivors (≈ test-gram
   * count + fpp·train) reach the distinct shuffle. No false negatives, and the exact
   * semi-join still follows, so the bloom's false positives never
   * reach the output — exactness is preserved by construction.
   *
   * The bloom build itself is one aggregation job over the test grams
   * (`DataFrameStatFunctions.bloomFilter`); sized from an exact count
   * of distinct test grams, `fpp` = 1% by default.
   */
  def contaminationBloom(
      train: DataFrame, test: DataFrame, idCol: String, textCol: String,
      n: Int = 13, fpp: Double = 0.01): DataFrame = {
    val testGrams = gramHashFrame(test, idCol, textCol, n).persist()
    try {
      val distinctTest = testGrams.select(col("gh")).distinct().persist()
      try {
        val nTest = distinctTest.count()
        // Spark's stat.bloomFilter NPEs on an empty frame — and with
        // zero test grams no train gram can matter anyway
        val trainHits = if (nTest == 0L) distinctTest else {
          val bloom = distinctTest.stat.bloomFilter("gh", nTest, fpp)
          val bytes = new java.io.ByteArrayOutputStream()
          bloom.writeTo(bytes)
          // native probe (BloomFilterMightContain): the sketch rides
          // the plan as a binary literal, deserialized ONCE per task,
          // and the probe codegens into the scan's WholeStageCodegen
          // span — a Scala closure UDF here would break codegen on
          // the 100 TB side's hot prefilter
          val mightContain = graft.functions.GraftFunctions
            .bloom_might_contain(lit(bytes.toByteArray), col("gh"))
          // narrow prefilter BEFORE the distinct shuffle — the whole point
          gramHashFrame(train, idCol, textCol, n)
            .filter(mightContain)
            .select(col("gh")).distinct()
        }
        val totals = testGrams.groupBy(col("id"))
          .agg(count(lit(1)).as("n_grams"))
        val hits = testGrams.join(trainHits, Seq("gh"), "left_semi")
          .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
        totals.join(hits, Seq("id"), "left")
          .select(col("id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_grams"), 6).as("contaminated_frac"))
          .localCheckpoint()
      } finally distinctTest.unpersist()
    } finally testGrams.unpersist()
  }

  // ── 6. connected components (cluster collapse) ──────────────────

  /**
   * Connected components over an undirected near-dup pair graph — the
   * collapse step after ANY pair generator ([[minhashDedup]],
   * [[simhashPairs]], `Similarity.bucketedPairs`): transitive closure
   * turns pairs into clusters so "keep one per cluster" drops a whole
   * dup family, not just the second half of each pair (A~B, B~C must
   * collapse to ONE survivor even when A~C was never emitted).
   *
   * Algorithm: alternating large-star / small-star (Kiveris et al.,
   * "Connected Components in MapReduce and Beyond", SoCC'14) — each
   * half-round is one grouped min + one join over the edge list, and
   * the edge set converges to per-component stars centered at the
   * minimum id in O(log² n) rounds REGARDLESS of component diameter.
   * Naive min-label propagation is O(diameter) rounds: a 1M-doc chain
   * (pathological but real — chained near-dups) would need 1M shuffles;
   * this needs ~40. Every round is equi-join + groupBy — no driver
   * collect, nothing broadcast; edges localCheckpoint each round so
   * lineage stays O(1) instead of O(rounds).
   *
   * Returns (id, cluster_id) for every node appearing in at least one
   * NON-SELF pair (a row with id_a = id_b asserts no relation to any
   * other doc and is dropped, so its node gets no label row), with
   * cluster_id = min id of the node's component. Ids must be an
   * orderable column type (the min is the cluster representative).
   * Deterministic. Throws if `maxIter` rounds don't converge (loud,
   * never silently-partial clusters).
   *
   * Fault-tolerance note: rounds are `localCheckpoint`ed — O(1)
   * lineage, but blocks live on executors, so an executor loss
   * mid-run fails the job (retry = rerun). For multi-hour runs on a
   * preemptible cluster, set `spark.sparkContext.setCheckpointDir`
   * and swap ALL of this function's `localCheckpoint()` calls (input
   * canonicalization, per-round, final labels) for `checkpoint()` —
   * same algorithm, durable rounds.
   */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    // canonical undirected edge list, self-loops dropped
    var edges = pairs
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint()

    // large-star: connect every neighbor v > u to m = min(Γ(u) ∪ {u});
    // small-star: connect every neighbor v ≤ u (and u) to that min.
    // The per-node min is a groupBy + join-back, NOT a whole-partition
    // window: the min itself combines map-side (a 10⁶-degree star
    // center — one boilerplate family — contributes ONE row per map
    // partition instead of 10⁶ rows through one window task), and the
    // join-back is a plain equi-join AQE can skew-split; a window
    // partition cannot be split at all. Costs one more exchange per
    // half-round than the window form — robustness over round-trips.
    // Intermediate duplicate edges are tolerated (they can't change a
    // min) and collapsed once, by the round-final distinct.
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      und.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // direct each edge large→small: (u, v) with v < u; m ≤ v < u,
      // so min(v) alone is the neighborhood min
      val dir = e.select(col("b").as("u"), col("a").as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(mins, "u")
        .select(col("v"), col("m"))
        .unionByName(mins.select(col("u").as("v"), col("m")))
        .select(least(col("v"), col("m")).as("a"),
          greatest(col("v"), col("m")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    // convergence = edge set unchanged; order-free signature
    // (count + XOR of per-edge hashes — xor, not sum: sum of 2^63-range
    // hashes overflows under ANSI mode), computed right after the
    // round's checkpoint materializes
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(a, b))")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    // O(rounds) checkpointed edge copies would otherwise pile up on
    // executors until a driver GC lets the ContextCleaner reclaim
    // them — release each round deterministically (releaseCheckpoint)
    // once the next round is materialized.
    //
    // The initial signature job is deliberate, not redundant: an input
    // that is ALREADY a star forest converges at round 1 (round 1's
    // signature equals the input's), keeping the documented contract
    // that maxIter bounds the number of improvement rounds — a
    // sentinel would make tight-maxIter calls throw on inputs the
    // function previously handled.
    var sig = signature(edges)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      releaseCheckpoint(edges)
      edges = next
      sig = nextSig
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: no convergence after $maxIter rounds " +
        s"(${sig._1} edges) — raise maxIter")
    // converged edge set is a star per component: (member, center)
    // with center = component min; centers label themselves. The
    // labels are materialized so the final round's blocks can be
    // released too — the caller gets a computed, lineage-free frame.
    val labels = edges
      .select(col("b").as("id"), col("a").as("cluster_id"))
      .unionByName(
        edges.select(col("a").as("id"), col("a").as("cluster_id"))
          .distinct())
      .localCheckpoint()
    releaseCheckpoint(edges)
    labels
  }

  /**
   * End-to-end fuzzy dedup: [[minhashDedup]] pairs →
   * [[connectedComponents]] clusters → keep each cluster's min id —
   * the composition a curation pipeline actually runs. Transitive:
   * A~B, B~C drops BOTH B and C even though (A, C) was never a pair
   * (pairwise drop-the-higher-id would keep C whenever the A~C edge
   * is missing). Returns the surviving rows of `df`, all columns.
   */
  def fuzzyDedup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 8, n: Int = 3,
      baseHash: Column => Column = xxhash64(_),
      maxBucket: Int = 0): DataFrame = {
    val pairs = minhashDedup(df, idCol, textCol, threshold, k, bands, n,
      baseHash, maxBucket)
    val drop = connectedComponents(pairs, "id_a", "id_b")
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /**
   * [[fuzzyDedup]] with QUALITY-AWARE survivor selection — the
   * Dolma/FineWeb convention: within each near-dup cluster keep the
   * row maximizing `metric` (ties break by lowest id — a total
   * order, so selection replays anywhere), not the lowest id. The
   * metric column is evaluated against `df` (length, quality score,
   * any scorer from this tier). Clusters are tiny relative to the
   * corpus, so the extra cost over [[fuzzyDedup]] is one window over
   * CLUSTER-MEMBER rows only (non-members never shuffle: the
   * components frame contains only ids that appear in some pair).
   */
  def fuzzyDedupBest(
      df: DataFrame, idCol: String, textCol: String, metric: Column,
      threshold: Double = 0.8, k: Int = 32, bands: Int = 8, n: Int = 3,
      baseHash: Column => Column = xxhash64(_),
      maxBucket: Int = 0): DataFrame = {
    val pairs = minhashDedup(df, idCol, textCol, threshold, k, bands, n,
      baseHash, maxBucket)
    val members = connectedComponents(pairs, "id_a", "id_b")
    val scored = members.join(
      df.select(col(idCol).as("id"), metric.as("__m")), Seq("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("__m").desc, col("id"))
    val drop = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** |A∩B| / |A∪B| over SORTED shingle arrays: one codegen'd merge
    * pass (graft.functions.SortedIntersectSize) instead of the
    * hash-set-per-call `array_intersect`/`array_union` pair;
    * |A∪B| = |A| + |B| - |A∩B|. */
  def jaccardExpr(a: Column, b: Column): Column = {
    val inter = graft.functions.GraftFunctions.sorted_intersect_size(a, b)
    inter.cast("double") /
      greatest(size(a) + size(b) - inter, lit(1)).cast("double")
  }

  /** All-pairs n-gram Jaccard within a blocking key (e.g. a length
    * bucket or LSH bucket) — the verification join used by tests and
    * small-scope audits; production paths go through minhashDedup. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCol: Column, threshold: Double, n: Int = 3,
      dfOrder: Boolean = false): DataFrame = {
    // Prefix-filtered inverted index (AllPairs / PPJoin family,
    // Bayardo et al. WWW'07) — exact, not approximate:
    //  1. explode (id, shingle) and compute each shingle's document
    //     frequency within the block;
    //  2. order each doc's shingles rarest-first (df asc) — a global
    //     canonical order — and index only the PREFIX of length
    //     |x| - ceil(t·|x|) + 1: any pair with J ≥ t MUST share a
    //     prefix shingle under a common order, so candidate
    //     generation is exact;
    //  3. join prefixes on (block, shingle) — rare shingles have tiny
    //     df, so Σ df² collapses versus a full inverted-index join,
    //     and the size-ratio bound J ≤ min(sz)/max(sz) prunes the
    //     rest cheaply;
    //  4. verify candidates with the true array intersection.
    // Scale shape: shuffles on (block, shingle-hash) and (block, id)
    // only; no |block|² pair enumeration anywhere. Candidate
    // generation runs on xxhash64(shingle) — an 8-byte shuffle key
    // instead of a ~20-byte string — which is sound because a hash
    // collision can only MERGE universe elements, i.e. only ADD
    // candidates; exact verification on the string arrays prunes them.
    // the shingled docs feed candidate generation AND verification —
    // persist so shingling (the hottest expression) runs once
    val docs = graft.util.Tables.spread(df)
      .select(col(idCol).as("id"), blockCol.as("block"),
        shingles(col(textCol), n).as("sh"))
      .withColumn("sz", size(col("sh")))
      .persist()
    // Prefix order strategy. PPJoin's exactness only needs a COMMON
    // GLOBAL order on the shingle universe; which order changes the
    // candidate count, not the result:
    //  - hash order (default): sort each doc's shingle hashes and
    //    slice the prefix — a pure per-row expression, ZERO extra
    //    shuffles. Measured 4× faster end-to-end at sf0.1.
    //  - document-frequency order (`dfOrder = true`): rarest-first
    //    minimizes candidates (the textbook choice) at the cost of a
    //    per-block df aggregation + a rank window — two more shuffles.
    //    Prefer it when blocks are huge and candidate volume, not
    //    plan depth, dominates (the 10⁹-docs-per-block regime).
    val prefixLen = (col("sz") - ceil(lit(threshold) * col("sz")) + 1)
    val prefix = (if (dfOrder) {
      val inv = docs.select(col("id"), col("block"), col("sz"),
        explode(col("sh")).as("s"))
        .withColumn("s64", xxhash64(col("s"))).drop("s")
      val dfreq = inv.groupBy(col("block"), col("s64"))
        .agg(count(lit(1)).as("df"))
      val rankW = org.apache.spark.sql.expressions.Window
        .partitionBy(col("block"), col("id")).orderBy(col("df"), col("s64"))
      inv.join(dfreq, Seq("block", "s64"))
        .withColumn("rk", row_number().over(rankW))
        .filter(col("rk") <= prefixLen)
        .drop("rk", "df")
    } else {
      docs.select(col("id"), col("block"), col("sz"),
        explode(slice(array_sort(transform(col("sh"), s => xxhash64(s))),
          lit(1), prefixLen.cast("int"))).as("s64"))
    }).persist() // self-joined below: build the index once
    try {
      val l = prefix.as("l"); val r = prefix.as("r")
      val cands = l.join(r,
          col("l.s64") === col("r.s64") && col("l.block") === col("r.block") &&
          col("l.id") < col("r.id") &&
          least(col("l.sz"), col("r.sz")).cast("double") >=
            lit(threshold) * greatest(col("l.sz"), col("r.sz")))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .distinct()
      val verified = cands
        .join(docs.select(col("id").as("id_a"), col("sh").as("sh_a"),
          col("sz").as("sz_a")), "id_a")
        .join(docs.select(col("id").as("id_b"), col("sh").as("sh_b"),
          col("sz").as("sz_b")), "id_b")
        .withColumn("inter", graft.functions.GraftFunctions
          .sorted_intersect_size(col("sh_a"), col("sh_b")))
        // |A∪B| = |A|+|B|-|A∩B|
        .withColumn("jaccard", col("inter").cast("double") /
          greatest(col("sz_a") + col("sz_b") - col("inter"), lit(1)).cast("double"))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      // materialize while the intermediates are cached, then release
      // them — returning the lazy plan would either leak both persisted
      // frames for the session (round-1 bench fallout) or recompute
      // shingling 3×. localCheckpoint (not persist) hands the caller a
      // computed, lineage-free frame with NO unpersist obligation: its
      // blocks are ContextCleaner-managed (freed when the frame is
      // GC'd) and never enter the SQL cache registry. The survivor set
      // is tiny (pairs over threshold), so materializing it is cheap.
      verified.localCheckpoint()
    } finally { docs.unpersist(); prefix.unpersist() }
  }
}
