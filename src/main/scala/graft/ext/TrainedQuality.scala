package graft.ext

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/**
 * TRAINED model-based quality filtering — the discriminative
 * classifier gate of the GPT-3/CCNet/FineWeb curation recipes (score
 * every document with a linear model LEARNED from labeled examples,
 * keep the positives), completing the repo's quality ladder: hand
 * rules ([[TextAnalysis.gopherSignals]]), generative LM scoring
 * ([[Assemble.unigramSurprisal]] family), importance reweighting
 * ([[Sampling.dsirSelect]]), and the UNtrained pseudo-weight
 * classifier shape ([[TextAnalysis.hashedClassifierScore]]) — none
 * of which fit parameters to labels.
 *
 * The model is multinomial Naive Bayes over hashed bag-of-words
 * counts (the fastText feature map: token →
 * [[TextAnalysis.portableHash60]] → one of `dim` buckets): per-bucket
 * log-likelihood-ratio weights with add-one smoothing, plus a class
 * prior. Training is ONE mergeable aggregation — per-bucket
 * (positive, negative) token counts plus the two class doc counts —
 * so it is a single map-side-combined pass at ANY corpus size, and
 * the fitted weights are independent of partitioning and row order.
 * NB is the textbook convergent one-pass trainer for this layout; an
 * iterative batch-update learner (batch perceptron was measured here
 * first) oscillates between all-positive and all-negative on
 * balanced corpora and never beats chance — a worked example of why
 * the one-pass closed-form fit is also the SCALE-correct choice.
 *
 * Exact replay: weights truncate to integer MICRO-NATS —
 * `floor(1e6 · (ln((c₊+1)/(T₊+dim)) − ln((c₋+1)/(T₋+dim))))` — the
 * [[Assemble.unigramSurprisal]] oracle convention: the ln arguments
 * are IEEE divisions of exactly-representable integers (exact below
 * 2^53 ≈ 9·10¹⁵ tokens per class ≈ tens of PB of text), both engines
 * truncate the same libm value, and every downstream margin is an
 * exact integer `prior + Σ cnt·w[bucket]` — sums of Longs, order-
 * independent, bit-replayable by the DuckDB oracle
 * (`q_quality_trained`).
 *
 * Scale shape (the distributed-linear-model layout): the sparse
 * feature table (id, bucket, cnt) is one narrow explode+groupBy
 * pass; training collects `dim` rows of count metadata to the driver
 * (the [[VectorIndex]] model-table discipline) and ships the fitted
 * weights back as ONE literal array riding a codegen'd projection —
 * the model never shuffles, and scoring is one scan with a map-side
 * partial (id)-keyed sum.
 */
object TrainedQuality {

  /** The fixed stopword list the TEACHER rule counts. Tiny and
    * explicit so an oracle can inline it verbatim. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

  /** (id, tok) exploded normalized tokens; null text drops the doc
    * (the [[TextAnalysis.hashedClassifierScore]] convention), empty
    * text contributes one "" token. */
  private def toks(df: DataFrame, idCol: String, textCol: String) =
    graft.util.Tables.spread(df).select(col(idCol).as("id"),
      explode(TextAnalysis.normTokens(col(textCol))).as("tok"))

  /** ONE tokenize pass feeding everything: (id, bucket, cnt,
    * stop_cnt) — the sparse features plus, per bucket, how many of
    * its tokens were teacher stopwords, so labels derive from THIS
    * (already token-collapsed) frame instead of a second explode of
    * the corpus. Every consumer (fit, labels, scoring) is a cheap
    * aggregation over these rows. */
  private def bucketAgg(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0, "dim must be positive")
    toks(df, idCol, textCol).groupBy(col("id"),
        pmod(TextAnalysis.portableHash60(col("tok")), lit(dim.toLong))
          .as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        count(when(col("tok").isInCollection(Stopwords), 1))
          .as("stop_cnt"))
  }

  /** Sparse hashed multinomial features: one (id, bucket, cnt) row
    * per document × occupied bucket; row count bounded by the token
    * count. All downstream train/score math over this layout is
    * codegen'd join+sum — no per-row lambda. */
  def features(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame =
    bucketAgg(df, idCol, textCol, dim)
      .select(col("id"), col("bucket"), col("cnt"))

  /** Teacher labels (id, y ∈ {+1,−1}) from a [[bucketAgg]] frame:
    * +1 iff the document's stopword ratio reaches `stopPct`%
    * (integer cross-multiplication, no FP). Stopword density is the
    * classic cheap fluency signal — the teacher a pipeline distills
    * into a classifier that generalizes over the REST of the
    * vocabulary through the hashed buckets (measured 0.84 held-out
    * agreement at dim=64 on the gate corpus vs the 0.53 base
    * rate). */
  private def labelsFrom(ba: DataFrame, stopPct: Int): DataFrame =
    ba.groupBy(col("id"))
      .agg(when(lit(100) * sum(col("stop_cnt")) >=
          lit(stopPct.toLong) * sum(col("cnt")),
        lit(1L)).otherwise(lit(-1L)).as("y"))

  /** Teacher labels over a corpus (standalone entry point — shares
    * the [[bucketAgg]] pass when called through [[nbQuality]] /
    * [[buildModel]]). */
  def teacherLabels(
      df: DataFrame, idCol: String, textCol: String,
      stopPct: Int = 6): DataFrame =
    labelsFrom(bucketAgg(df, idCol, textCol, 1), stopPct)

  /** Fitted model: per-bucket micro-nat log-likelihood-ratio weights
    * (size `dim`, index = bucket) + the micro-nat class prior. */
  final case class NbModel(weights: Array[Long], prior: Long)

  /** Fit multinomial NB from a labeled sparse feature table
    * `trainFeat(id, bucket, cnt, y)`. One aggregation pass: per-
    * bucket class token counts (`dim` driver rows — bounded model
    * metadata) + the two class doc counts; weights truncate to
    * micro-nats with add-one smoothing over the `dim`-bucket
    * vocabulary. Buckets unseen in training get the pure smoothing
    * weight, so held-out docs always score. */
  def train(trainFeat: DataFrame, dim: Int): NbModel = {
    val counts = trainFeat.groupBy(col("bucket")).agg(
        sum(when(col("y") === 1L, col("cnt")).otherwise(0L)).as("cp"),
        sum(when(col("y") === -1L, col("cnt")).otherwise(0L)).as("cn"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2)))
      .toMap
    val docs = trainFeat.select(col("id"), col("y")).distinct()
      .groupBy().agg(
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nn"))
      .collect()(0)
    // empty training set: the whole-frame sums are NULL — fit the
    // pure-smoothing model (all weights from add-one counts alone)
    val (nPos, nNeg) = (
      if (docs.isNullAt(0)) 0L else docs.getLong(0),
      if (docs.isNullAt(1)) 0L else docs.getLong(1))
    val tPos = counts.valuesIterator.map(_._1).sum
    val tNeg = counts.valuesIterator.map(_._2).sum
    // two-ln shape (no cross-products): each argument is a double
    // division of exact integers, so the truncated micro-nat value
    // replays bit-identically in any IEEE/libm engine
    def w(cp: Long, cn: Long): Long =
      math.floor(1e6 * (
        math.log((cp + 1).toDouble / (tPos + dim).toDouble) -
          math.log((cn + 1).toDouble / (tNeg + dim).toDouble))).toLong
    val weights = Array.tabulate(dim) { b =>
      val (cp, cn) = counts.getOrElse(b, (0L, 0L))
      w(cp, cn)
    }
    val prior = math.floor(1e6 *
      math.log((nPos + 1).toDouble / (nNeg + 1).toDouble)).toLong
    NbModel(weights, prior)
  }

  /** Margins + keep decisions for every document in `feat` under the
    * fitted model: margin = prior + Σ cnt·w[bucket] (exact Long),
    * clf_keep = margin > 0. */
  def scoreWith(feat: DataFrame, model: NbModel): DataFrame = {
    val wLit = typedLit(model.weights.toSeq)
    feat.withColumn("w", element_at(wLit, (col("bucket") + 1).cast("int")))
      .groupBy(col("id"))
      .agg((sum(col("cnt") * col("w")) + model.prior).as("margin"))
      .select(col("id"), col("margin"),
        (col("margin") > 0L).cast("long").as("clf_keep"))
  }

  /**
   * The end-to-end row: featurize, teacher-label, fit NB on the
   * `id % trainMod < trainLt` slice, score EVERY document with the
   * fitted model. Output per doc: the teacher label `y`, the exact
   * integer micro-nat `margin`, and `clf_keep` (margin > 0). The
   * held-out slice (ids ≥ trainLt) is scored by a model that never
   * saw it — the usual fit/apply split.
   */
  def nbQuality(
      df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64, stopPct: Int = 6,
      trainMod: Int = 10, trainLt: Int = 8): DataFrame = {
    // one tokenize pass, persisted across the consumers — the fit's
    // two aggregations, the label join, and the scoring plan — then
    // RELEASED before returning (the buildModel discipline): the
    // result is materialized via an eager localCheckpoint (its size is
    // the returned per-doc score table itself, not the token frame),
    // so the cached token partitions don't accumulate across calls
    val ba = bucketAgg(df, idCol, textCol, dim).persist()
    try {
      val feat = ba.select(col("id"), col("bucket"), col("cnt"))
      val labels = labelsFrom(ba, stopPct)
      val trainFeat = feat.join(labels, Seq("id"))
        .filter(pmod(col("id"), lit(trainMod.toLong)) < trainLt)
      val model = train(trainFeat, dim)
      scoreWith(feat, model).join(labels, Seq("id"))
        .select(col("id"), col("y"), col("margin"), col("clf_keep"))
        .localCheckpoint()
    } finally { ba.unpersist(); () }
  }

  // ── persisted model store: incremental fit maintenance ──────────
  //
  // The fitted model is nothing but integer COUNT TABLES, and counts
  // are mergeable — so unlike a gradient-fitted model, the store can
  // be maintained under a ChangeSet exactly: add the delta's counts,
  // SUBTRACT the retracted documents' counts (recovered from the
  // stored per-doc feature table, so callers never need the old
  // text), and the result is BIT-EQUAL to refitting from scratch on
  // the final corpus (spec-pinned). At 100 TB that is the difference
  // between a daily full-corpus text pass and a delta-sized one —
  // the same argument as [[DedupIndex]], whose generation-pointer
  // layout this store reuses:
  //  - `gen-<n>/feat/seg=<k>/` (id, bucket, cnt, y) — per-doc labeled
  //    features: the retractable state a refresh aggregates for
  //    removed ids (and the only full-corpus-sized table). Each
  //    segment is flat files hash-partitioned and sorted by `id`
  //    (GenIndex.writeSegment); refreshes APPEND one delta-sized
  //    segment and mask drops via the `gen-<n>/tomb/` ledger
  //    (GenIndex.readSegmented) — commit write volume is
  //    delta-proportional like the compute, compacting past
  //    GenIndex.MaxSegments segments
  //  - `gen-<n>/counts/` (bucket, cp, cn) — dim rows, the model
  //  - `gen-<n>/docs/`   (np, nn) — one row, the prior's counts
  //  - `gen-<n>/params/` (dim, stop_pct) — one row; refreshes and
  //    probes read the build's parameters instead of trusting
  //    callers to repeat them

  private def featPath(dir: String) = s"$dir/feat"
  private def countsPath(dir: String) = s"$dir/counts"
  private def docsPath(dir: String) = s"$dir/docs"
  private def paramsPath(dir: String) = s"$dir/params"
  private def tombPath(dir: String) = s"$dir/tomb"

  /** LIVE feature rows (segments unioned, tombstone ledger applied)
    * — what refreshes retract from and specs inspect. */
  def featTable(spark: org.apache.spark.sql.SparkSession,
      genDir: String): DataFrame =
    graft.util.GenIndex.readSegmented(
      spark, featPath(genDir), tombPath(genDir))

  private def writeFeat(segDir: String, feat: DataFrame): Unit =
    graft.util.GenIndex.writeSegment(feat, segDir, col("id"))

  /** Stage the four store tables into a generation dir; `stageFeat`
    * writes the (corpus-sized) feature table — full on build,
    * delta-narrowed on refresh. All four writes run concurrently and
    * ALL settle before return ([[graft.util.GenIndex.writeAll]]): a
    * feat-write failure never leaves the small-table jobs running
    * detached against the abandoned generation dir. */
  private def stageStore(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      stageFeat: () => Unit, counts: Seq[(Int, Long, Long)],
      nPos: Long, nNeg: Long, dim: Int, stopPct: Int): Unit = {
    import spark.implicits._
    graft.util.GenIndex.writeAll(
      stageFeat,
      () => graft.util.GenIndex.writeParams(
        counts.toDF("bucket", "cp", "cn"), countsPath(dir)),
      () => graft.util.GenIndex.writeParams(
        Seq((nPos, nNeg)).toDF("np", "nn"), docsPath(dir)),
      () => graft.util.GenIndex.writeParams(
        Seq((dim, stopPct)).toDF("dim", "stop_pct"), paramsPath(dir)))
  }

  /** Per-bucket (cp, cn) + class doc counts of a labeled feature
    * frame — the ONE mergeable aggregation everything here runs on.
    * Collected driver-side: ≤ dim+1 rows of model metadata. */
  private def countsOf(feat: DataFrame, dim: Int)
      : (Map[Int, (Long, Long)], Long, Long) = {
    // the two aggregations are independent reads of the same
    // (persisted) frame — overlap them, same rationale as stageStore
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val bcF = Future {
      feat.groupBy(col("bucket")).agg(
          sum(when(col("y") === 1L, col("cnt")).otherwise(0L)).as("cp"),
          sum(when(col("y") === -1L, col("cnt")).otherwise(0L)).as("cn"))
        .collect()
        .map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2)))
        .toMap
    }
    val d = feat.select(col("id"), col("y")).distinct().groupBy().agg(
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === -1L, 1L).otherwise(0L)).as("nn"))
      .collect()(0)
    val bc = Await.result(bcF, scala.concurrent.duration.Duration.Inf)
    (bc, if (d.isNullAt(0)) 0L else d.getLong(0),
      if (d.isNullAt(1)) 0L else d.getLong(1))
  }

  /** Fit on `labeledDocs` and commit the store (generation-pointer:
    * readers keep serving across refreshes, commits are O(pointer)
    * on object stores). The training set of a store is the whole
    * ingested corpus — the fit/apply split is between the store and
    * the batches [[scoreFromStore]] gates. */
  def buildModel(
      spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      root: String, dim: Int = 64, stopPct: Int = 6,
      idCol: String = "doc_id", textCol: String = "text"): Unit = {
    // cache the single tokenize pass: the label self-join, the two
    // fit aggregations, and the feat-table write all read it
    val ba = bucketAgg(docs, idCol, textCol, dim).persist()
    val feat = ba.select(col("id"), col("bucket"), col("cnt"))
      .join(labelsFrom(ba, stopPct), Seq("id"))
      .persist()
    try {
      val (bc, np, nn) = countsOf(feat, dim)
      val rows = (0 until dim).map { b =>
        val (cp, cn) = bc.getOrElse(b, (0L, 0L)); (b, cp, cn)
      }
      val gen = graft.util.GenSwap.nextDir(root)
      stageStore(spark, gen,
        () => writeFeat(s"${featPath(gen)}/seg=0", feat),
        rows, np, nn, dim, stopPct)
      graft.util.GenSwap.commit(root, gen)
    } finally { feat.unpersist(); ba.unpersist(); () }
  }

  /** ChangeSet-driven refresh: `changedDocs` (added ∪ updated, with
    * idCol/textCol) featurize+label and ADD to the counts;
    * `droppedIds` (removed ∪ updated, one `id` column) retract —
    * their exact contributions aggregate from the STORED feature
    * table, never from re-read text. The merged counts are integer
    * sums, so the committed model is bit-equal to a from-scratch
    * [[buildModel]] on the final corpus (TrainedQualitySpec).
    *
    * The feat-table commit is DELTA-PROPORTIONAL (segment/tombstone
    * — [[graft.util.GenIndex]] scaladoc): one delta-sized `seg=<k>`
    * plus the tombstone ledger Spark-write; previous segments
    * hard-link forward. Past [[graft.util.GenIndex.MaxSegments]]
    * segments the refresh COMPACTS; `deltaCommit = false` forces the
    * compaction path — the full-rewrite reference that
    * TrainedQualitySpec's delta test compares the segmented commit
    * against. An empty change set (no changed docs, no drops)
    * returns without committing. */
  def refreshModel(
      spark: org.apache.spark.sql.SparkSession, root: String,
      changedDocs: DataFrame, droppedIds: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      deltaCommit: Boolean = true): Unit = {
    val cur = graft.util.GenSwap.currentDir(root).getOrElse(
      throw new IllegalStateException(
        s"no committed quality model at $root — buildModel first"))
    val p = spark.read.parquet(paramsPath(cur)).collect()(0)
    val (dim, stopPct) = (p.getInt(0), p.getInt(1))
    val drop = droppedIds.select(col("id")).persist()
    // one tokenize pass over the delta (the buildModel convention)
    val ba = bucketAgg(changedDocs, idCol, textCol, dim).persist()
    val added = ba.select(col("id"), col("bucket"), col("cnt"))
      .join(labelsFrom(ba, stopPct), Seq("id")).persist()
    try {
      // both frames are cached: an empty refresh is caught before any
      // generation is staged, at one tiny job for a non-empty one
      if (drop.isEmpty && ba.isEmpty) return
      val prevLive = featTable(spark, cur)
      val segs = graft.util.GenIndex.segValues(featPath(cur))
      val delta = deltaCommit && segs.size < graft.util.GenIndex.MaxSegments
      val removed = prevLive.join(drop, Seq("id"), "left_semi")
      // retraction and addition counts are independent aggregations
      // over disjoint inputs — overlap them (each already overlaps
      // its own two aggregates internally; this stacks the pairs)
      val remF = {
        import scala.concurrent.Future
        import scala.concurrent.ExecutionContext.Implicits.global
        Future(countsOf(removed, dim))
      }
      val (addBc, addNp, addNn) = countsOf(added, dim)
      val (remBc, remNp, remNn) = scala.concurrent.Await.result(
        remF, scala.concurrent.duration.Duration.Inf)
      val prevC = spark.read.parquet(countsPath(cur)).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
      val d = spark.read.parquet(docsPath(cur)).collect()(0)
      val rows = (0 until dim).map { b =>
        val (cp0, cn0) = prevC.getOrElse(b, (0L, 0L))
        val (rp, rn) = remBc.getOrElse(b, (0L, 0L))
        val (ap, an) = addBc.getOrElse(b, (0L, 0L))
        (b, cp0 - rp + ap, cn0 - rn + an)
      }
      val gen = graft.util.GenSwap.nextDir(root)
      val stageFeat: () => Unit =
        if (delta) () => {
          val sv = segs.max + 1
          writeFeat(s"${featPath(gen)}/seg=$sv", added)
          graft.util.GenIndex.carrySegs(featPath(cur), featPath(gen))
          graft.util.GenIndex.stageTomb(spark, tombPath(cur),
            tombPath(gen), drop, sv)
        }
        else () => {
          val merged = prevLive.join(drop, Seq("id"), "left_anti")
            .unionByName(added)
          writeFeat(s"${featPath(gen)}/seg=0", merged)
        }
      stageStore(spark, gen, stageFeat, rows,
        d.getLong(0) - remNp + addNp, d.getLong(1) - remNn + addNn,
        dim, stopPct)
      graft.util.GenSwap.commit(root, gen)
    } finally { drop.unpersist(); added.unpersist(); ba.unpersist(); () }
  }

  /** The committed model, derived from the stored count tables (the
    * dim-row model metadata — the [[VectorIndex]] model-read
    * discipline). */
  def readStore(spark: org.apache.spark.sql.SparkSession,
      root: String): (NbModel, Int) = {
    val cur = graft.util.GenSwap.currentDir(root).getOrElse(
      throw new IllegalStateException(
        s"no committed quality model at $root — buildModel first"))
    val dim = spark.read.parquet(paramsPath(cur)).collect()(0).getInt(0)
    val c = spark.read.parquet(countsPath(cur)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val d = spark.read.parquet(docsPath(cur)).collect()(0)
    val (nPos, nNeg) = (d.getLong(0), d.getLong(1))
    val tPos = c.valuesIterator.map(_._1).sum
    val tNeg = c.valuesIterator.map(_._2).sum
    def w(cp: Long, cn: Long): Long =
      math.floor(1e6 * (
        math.log((cp + 1).toDouble / (tPos + dim).toDouble) -
          math.log((cn + 1).toDouble / (tNeg + dim).toDouble))).toLong
    val weights = Array.tabulate(dim) { b =>
      val (cp, cn) = c.getOrElse(b, (0L, 0L)); w(cp, cn)
    }
    val prior = math.floor(1e6 *
      math.log((nPos + 1).toDouble / (nNeg + 1).toDouble)).toLong
    (NbModel(weights, prior), dim)
  }

  /** Quality-gate an ingest batch from the persisted model: only the
    * BATCH featurizes (one narrow pass); the model is dim rows of
    * stored metadata shipped as a literal. Output per batch doc:
    * (id, margin, clf_keep). */
  def scoreFromStore(
      spark: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (model, dim) = readStore(spark, root)
    scoreWith(features(batch, idCol, textCol, dim), model)
  }
}
