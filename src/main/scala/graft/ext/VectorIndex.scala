package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Persisted IVF-PQ vector index — the build-once / probe-many split a
 * production vector store runs on, instead of re-training centroids
 * and re-encoding the corpus inside every query
 * (cf. `q_ann_ivf_trained`, which certifies the in-query path).
 *
 * Layout under each generation dir `root/gen-<n>/` (all parquet):
 *  - `centroids/`  (cell, centroid)           — nCells rows
 *  - `codebooks/`  (subspace, code, codeword) — m·k rows
 *  - `corpus/seg=<k>/` (id, codes, vec, cell, __cbucket=…) — each
 *    segment PARTITIONED BY the bounded cell bucket, rows sorted by
 *    cell within (the IVF inverted lists ARE the partition layout);
 *    refreshes APPEND one delta-sized segment and mask drops via the
 *    `tomb/` ledger ([[graft.util.GenIndex.readSegmented]]) — the
 *    delta-proportional-commit layout, compacted past
 *    [[graft.util.GenIndex.MaxSegments]] segments
 *
 * Commit discipline ([[graft.util.GenSwap]]): every build/refresh
 * stages a fresh immutable generation dir and flips the `root/CURRENT`
 * pointer to it. Every probe resolves the pointer once and plans
 * against that generation, so a half-written index is never read,
 * and a plan captured before a refresh keeps serving the complete
 * previous generation until the commit after next. A crashed stage
 * leaves an orphan dir that the next commit prunes.
 *
 * Refresh is ChangeSet-driven ([[refresh]]): re-encode ONLY the
 * added+updated vectors, drop the removed+updated ids, keep the
 * trained model tables untouched (retraining is a deliberate,
 * separate [[build]] — the FAISS/IVF operational convention). The
 * model tables are the only driver-side reads (nCells + m·k rows —
 * bounded index METADATA, same discipline as the ≤2048-vector
 * training samples); corpus vectors never collect.
 */
object VectorIndex {

  private def centroidsPath(gen: String) = s"$gen/centroids"
  private def codebooksPath(gen: String) = s"$gen/codebooks"
  private def corpusPath(gen: String) = s"$gen/corpus"
  private def tombPath(gen: String) = s"$gen/tomb"

  private def committedDir(root: String): String =
    graft.util.GenSwap.currentDir(root).getOrElse(
      throw new IllegalStateException(
        s"no committed generation at $root — build first"))

  /** LIVE corpus rows of generation dir `gen` (segments unioned,
    * tombstone ledger applied) — the read every probe and refresh
    * plans against. */
  private def corpusAt(spark: SparkSession, gen: String): DataFrame =
    graft.util.GenIndex.readSegmented(
      spark, corpusPath(gen), tombPath(gen))

  /** LIVE corpus rows of the committed generation — the spec-side view
    * of committed state. */
  def corpusTable(spark: SparkSession, root: String): DataFrame =
    corpusAt(spark, committedDir(root))

  private def stageModel(
      spark: SparkSession, gen: String,
      cents: Seq[Seq[Float]], cbs: Seq[Seq[Seq[Float]]]): Unit = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
      .repartition(1).write.parquet(centroidsPath(gen))
    cbs.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cw, c) => (j, c, cw) }
    }.toDF("subspace", "code", "codeword")
      .repartition(1).write.parquet(codebooksPath(gen))
  }

  /** Fixed count of corpus partition DIRECTORIES. A `partitionBy`
    * over the raw cell id writes one dir per cell — fine at the
    * pinned certification cell counts, absurd under occupancy sizing
    * (nCells ∝ corpus: ~4M dirs at 10⁹ vectors, where dir listing
    * alone dwarfs the probe). Cells hash into a BOUNDED set of
    * `__cbucket` dirs instead, with rows SORTED BY `cell` inside each
    * bucket: dynamic partition pruning narrows the scan to the probed
    * buckets, and parquet row-group stats on the sorted cell column
    * prune within them — two-level pruning whose dir count never
    * grows with the corpus. (pmod keeps small pinned indexes
    * one-cell-per-dir: nCells ≤ 64 ⇒ bucket == cell.) */
  private val CorpusBuckets = 64

  private def bucketOfCell(cell: Column): Column =
    pmod(cell, lit(CorpusBuckets))

  private def writeCorpus(
      spark: SparkSession, segDir: String, encoded: DataFrame): Unit =
    encoded.withColumn("__cbucket", bucketOfCell(col("cell")))
      .repartition(col("__cbucket"))
      .sortWithinPartitions(col("cell"))
      .write.partitionBy("__cbucket").parquet(segDir)

  private def stageCorpus(
      spark: SparkSession, gen: String, encoded: DataFrame): Unit = {
    writeCorpus(spark, s"${corpusPath(gen)}/seg=0", encoded)
    // Degenerate (zero-row) corpus: a partitionBy write of an empty
    // frame leaves no data file to infer a schema from. Detected
    // driver-side AFTER the single write (a pre-probe of the plan —
    // the old persist+isEmpty — cost a second partial execution of
    // the possibly refresh-merged plan); the empty marker then
    // rewrites flat from an explicit empty frame (no plan
    // re-execution), with `__cbucket` as a data column — the probe
    // join handles that identically, it just loses pruning.
    graft.util.GenIndex.ensureSegReadable(spark, corpusPath(gen),
      s"${corpusPath(gen)}/seg=0",
      encoded.withColumn("__cbucket", lit(0)).schema)
  }

  /** Stage the REFRESHED corpus into `dir` — DELTA-PROPORTIONAL via
    * the segment/tombstone layout ([[graft.util.GenIndex]] scaladoc):
    * Spark writes ONE delta-sized `seg=<k>` (the re-encoded changed
    * vectors) plus the tombstone ledger; previous segments hard-link
    * forward. Past [[graft.util.GenIndex.MaxSegments]] segments the
    * refresh COMPACTS — a full rewrite of the live state into a
    * fresh seg=0 with the ledger cleared. `deltaCommit = false`
    * forces the compaction path (the [[graft.tools.RefreshScale]]
    * A/B hook); the degenerate empty-corpus marker falls back
    * automatically. */
  private def stageRefreshedCorpus(
      spark: SparkSession, dir: String, prevRoot: String,
      changedVecs: DataFrame, droppedIds: DataFrame,
      cents: Seq[Seq[Float]], cbs: Seq[Seq[Seq[Float]]],
      idCol: String, vecCol: String, deltaCommit: Boolean): Unit = {
    val prev = corpusAt(spark, prevRoot).drop("__cbucket")
    // carry EVERY corpus column except the layout bucket — metadata
    // columns a build declared ride through refreshes; changedVecs
    // must carry them under the same names
    val metaCols = prev.columns.toSeq
      .filterNot(Set("id", "codes", "vec", "cell"))
    val drop = droppedIds.select(col("id"))
    val segs = graft.util.GenIndex.segValues(corpusPath(prevRoot))
    if (deltaCommit && segs.nonEmpty &&
        segs.size < graft.util.GenIndex.MaxSegments) {
      val sv = segs.max + 1
      // delta segment and tombstone ledger are independent writes —
      // overlap them (the DedupIndex.refresh writeAll discipline)
      graft.util.GenIndex.writeAll(
        () => {
          writeCorpus(spark, s"${corpusPath(dir)}/seg=$sv",
            encode(changedVecs, cents, cbs, idCol, vecCol, metaCols))
          graft.util.GenIndex.carrySegs(
            corpusPath(prevRoot), corpusPath(dir))
        },
        () => graft.util.GenIndex.stageTomb(spark, tombPath(prevRoot),
          tombPath(dir), drop, sv))
    } else {
      val kept = prev.join(drop, Seq("id"), "left_anti")
      val merged = kept.unionByName(
        encode(changedVecs, cents, cbs, idCol, vecCol, metaCols))
      stageCorpus(spark, dir, merged)
    }
  }

  /** One-pass corpus encode: cell assignment + PQ codes + the raw
    * vector (kept for the exact re-rank fetch) + any carried
    * metadata columns (the filtered-probe payload), using the exact
    * [[Similarity.pqEncode]] / [[Similarity.centroidAssign]]
    * semantics. */
  private def encode(
      corpus: DataFrame, cents: Seq[Seq[Float]],
      cbs: Seq[Seq[Seq[Float]]], idCol: String,
      vecCol: String, metaCols: Seq[String]): DataFrame =
    graft.util.Tables.spread(corpus).select(
      Seq(col(idCol).as("id"),
        Similarity.pqCodesCol(col(vecCol), cbs).as("codes"),
        col(vecCol).as("vec"),
        Similarity.centroidAssign(col(vecCol), cents).as("cell")) ++
        metaCols.map(col): _*)

  /**
   * Train (centroids + codebooks) and encode the whole corpus into a
   * fresh generation of `root`, then flip the pointer to it. The ONLY
   * full-corpus passes are ONE deterministic 2048-row training-sample
   * scan (shared by both trainers — [[Similarity.trainSample]]) and
   * the one encode scan. Shared by [[build]] and [[buildAuto]].
   */
  private def commitFull(
      spark: SparkSession, root: String, corpus: DataFrame,
      nCells: Int, m: Int, k: Int, idCol: String,
      vecCol: String, sampleN: Int = 2048,
      metaCols: Seq[String] = Nil): Unit = {
    val sample = Similarity.trainSample(corpus, sampleN,
      idCol = idCol, vecCol = vecCol)
    val cents = Similarity.trainCentroidsOnSample(sample, nCells)
    val cbs = Similarity.trainPqCodebooksOnSample(sample, m = m, k = k)
    val enc =
      if (cents.isEmpty || cbs.isEmpty)
        // degenerate training corpus ⇒ empty index, schema preserved
        corpus.select(Seq(col(idCol).as("id"),
          array().cast("array<int>").as("codes"),
          col(vecCol).as("vec"), lit(0).as("cell")) ++
          metaCols.map(col): _*).limit(0)
      else encode(corpus, cents, cbs, idCol, vecCol, metaCols)
    val gen = graft.util.GenSwap.nextDir(root)
    // the model tables and the encoded corpus are independent writes
    // into the same generation dir — overlap them (the DedupIndex.build
    // writeAll discipline); all settle before the pointer flips
    graft.util.GenIndex.writeAll(
      () => stageModel(spark, gen, cents, cbs),
      () => stageCorpus(spark, gen, enc))
    graft.util.GenSwap.commit(root, gen)
  }

  /** `metaCols`: corpus columns carried verbatim into the index's
    * corpus table — the payload [[probe]]'s `filter` evaluates
    * against (filtered vector search served FROM the index, predicate
    * pushed to the parquet scan). */
  def build(
      spark: SparkSession, corpus: DataFrame, root: String,
      nCells: Int = 8, m: Int = 16, k: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaCols: Seq[String] = Nil): Unit =
    commitFull(spark, root, corpus, nCells, m, k, idCol, vecCol,
      metaCols = metaCols)

  /** [[build]] with the cell count SIZED FROM THE CORPUS
    * ([[Similarity.sizedCells]]: constant expected occupancy) — the
    * production entry point at scale. The pinned-nCells [[build]] is
    * the oracle-certification shape: its exhaustive-recall oracle
    * probes at TOTAL cell coverage, which makes the ADC candidate
    * volume O(|queries|·n) — measured 7.0× wall for 3.3× data at
    * 100× key-growth (BASELINE.md r16). Sizing holds candidates per
    * query at O(nProbe · targetPerCell) instead, trading recall the
    * IVF way (a true neighbor can land outside the probed cells);
    * raise nProbe/targetPerCell for recall-critical serving. The
    * training sample grows with the cell count (≥16 samples per
    * centroid, capped) so Lloyd's rounds still see enough points per
    * cell; it stays bounded driver-side metadata. Returns the cell
    * count chosen. */
  def buildAuto(
      spark: SparkSession, corpus: DataFrame, root: String,
      targetPerCell: Int = 256, m: Int = 16, k: Int = 32,
      idCol: String = "vec_id", vecCol: String = "embedding",
      metaCols: Seq[String] = Nil): Int = {
    val n = corpus.filter(col(vecCol).isNotNull).count()
    val nCells = Similarity.sizedCells(n, targetPerCell, floor = 8)
    val sampleN = math.min(65536, math.max(2048, 16 * nCells))
    commitFull(spark, root, corpus, nCells, m, k, idCol, vecCol,
      sampleN, metaCols)
    nCells
  }

  private def readCentroids(
      spark: SparkSession, gen: String): Seq[Seq[Float]] =
    spark.read.parquet(centroidsPath(gen)).orderBy(col("cell"))
      .collect().map(_.getSeq[Float](1).toSeq).toSeq

  private def readCodebooks(
      spark: SparkSession, gen: String): Seq[Seq[Seq[Float]]] =
    spark.read.parquet(codebooksPath(gen))
      .orderBy(col("subspace"), col("code")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Float](2).toSeq).toSeq)

  // Serving-side model cache: the trained tables are bounded index
  // METADATA (nCells + m·k rows), but each probe otherwise pays two
  // driver-side Spark reads for them — a server keeps the model hot
  // and revalidates against the files. Keyed on the model files'
  // (name, size, mtime) fingerprint, so any build/refresh commit
  // (which rewrites or re-copies the model dirs) naturally misses and
  // re-reads; bounded like the plane-matrix cache.
  private val MaxModelEntries = 32
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[Seq[Float]], Seq[Seq[Seq[Float]]])]()

  private def dirFingerprint(path: String): String =
    graft.util.Fs.fingerprint(path)

  private def readModel(spark: SparkSession, gen: String)
      : (Seq[Seq[Float]], Seq[Seq[Seq[Float]]]) = {
    val key = gen + "#" + dirFingerprint(centroidsPath(gen)) +
      "#" + dirFingerprint(codebooksPath(gen))
    val hit = modelCache.get(key)
    if (hit != null) return hit
    if (modelCache.size >= MaxModelEntries) modelCache.clear()
    modelCache.computeIfAbsent(key, _ =>
      (readCentroids(spark, gen), readCodebooks(spark, gen)))
  }

  /**
   * ChangeSet-driven incremental refresh: `changedVecs` (added ∪
   * updated, with idCol/vecCol) re-encode under the EXISTING model;
   * `droppedIds` (removed ∪ updated, one `id` column) drop. The
   * refresh reads the CURRENT generation and stages the next one into
   * a FRESH `gen-<n+1>` dir — distinct immutable dirs, so the plan
   * never reads what it writes: the unchanged model tables are a
   * driver-side copy of bounded metadata (nCells + m·k rows, no Spark
   * re-write job), and the corpus is DELTA-PROPORTIONAL
   * ([[stageRefreshedCorpus]]): one delta-sized segment + the
   * tombstone ledger Spark-write while previous segments hard-link
   * forward. Then the pointer flips. The previous generation stays
   * on disk until the commit after next, so a reader that resolved it
   * mid-refresh keeps a complete, immutable index — zero-downtime
   * serving (asserted in VectorIndexSpec).
   */
  def refresh(
      spark: SparkSession, root: String, changedVecs: DataFrame,
      droppedIds: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", deltaCommit: Boolean = true): Unit = {
    val cur = committedDir(root)
    val (cents, cbs) = readModel(spark, cur)
    if (cents.isEmpty || cbs.isEmpty) {
      // a degenerate (empty-corpus) build stored no model — new
      // vectors CANNOT encode against it; silently committing an
      // index without them would report success while dropping data
      if (!changedVecs.isEmpty)
        throw new IllegalStateException(
          s"vector index at $root has no trained model — rebuild " +
            "before refreshing with new vectors")
      return
    }
    val gen = graft.util.GenSwap.nextDir(root)
    graft.util.Fs.copyRec(centroidsPath(cur), centroidsPath(gen))
    graft.util.Fs.copyRec(codebooksPath(cur), codebooksPath(gen))
    stageRefreshedCorpus(spark, gen, cur,
      changedVecs, droppedIds, cents, cbs, idCol, vecCol, deltaCommit)
    graft.util.GenSwap.commit(root, gen)
  }

  /** Ingest-time SEMANTIC dedup served from the persisted index —
    * the embedding-space twin of [[DedupIndex.probe]]'s minhash
    * dedup-at-ingest: each batch row probes the index for its nearest
    * indexed neighbor ([[probe]] with k = 1), and rows whose exact
    * re-ranked cosine reaches `threshold` are DROPPED as semantic
    * duplicates of already-ingested data; the survivors — the rows an
    * ingest should actually add — return with their columns
    * untouched. Only the batch pays a probe; the corpus never
    * self-compares (the q_minhash_incremental property), so the cost
    * scales with the batch, not the accumulated 100 TB state.
    *
    * Exactness contract: the drop decision compares the round-6
    * cosine (the [[probe]] output contract) of the best SHORTLISTED
    * candidate, so it equals the brute-force `max cos ≥ threshold`
    * rule whenever the true nearest neighbor survives the ADC
    * shortlist — size `shortlist` generously for near-threshold
    * corpora (the gate pins exact agreement at its settings; serving
    * trades like any IVF probe). For a PROVABLY brute-force-equal
    * decision independent of the corpus distribution, pass
    * `shortlist >= corpus size` with total cell coverage: the ADC cut
    * then never prunes anything and the refine stage ranks every
    * candidate by exact cosine — the certification shape when a
    * corpus change could erode the empirical threshold margin, at
    * O(|batch|·n) cost. A batch id that ALSO exists in the
    * index never matches itself ([[probe]]'s self-exclusion): a
    * re-ingested update is judged against its neighbors, not its own
    * stored copy. An index with no committed model (degenerate empty
    * build) drops nothing. */
  def dedupIngest(
      spark: SparkSession, root: String, batch: DataFrame,
      threshold: Double, nProbe: Int, shortlist: Int = 200,
      idCol: String = "vec_id", vecCol: String = "embedding",
      broadcastBatch: Boolean = true): DataFrame = {
    val top1 = probe(spark, root, batch, k = 1, nProbe = nProbe,
      shortlist = shortlist, idCol = idCol, vecCol = vecCol,
      broadcastQueries = broadcastBatch)
    val dupIds = top1.filter(col("sim") >= threshold)
      .select(col("q_id").as(idCol))
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /**
   * Probe-only search: NO training, NO corpus encode — the plan
   * reads the persisted model tables (driver-side, bounded) and the
   * encoded corpus. Two corpus-table touches, both narrow: the ADC
   * scoring scan reads (id, codes, cell) ONLY — parquet column
   * pruning keeps the 4·d-byte vectors out of the scored stream —
   * and the exact re-rank fetches (id, vec) for just the
   * |queries|·shortlist surviving rows.
   *
   * `filter`: metadata predicate over columns the build carried
   * (`metaCols`) — PRE-FILTER semantics: the predicate prunes the
   * corpus BEFORE any scoring, landing in the parquet scan's
   * PushedFilters, so selective predicates shrink the scored stream
   * instead of discarding scored rows and losing k-coverage (the
   * post-filter failure mode). Queries keep their unfiltered
   * identity, matching the brute-force `q_ann_filtered` semantics.
   */
  /** `broadcastQueries`: the scoring join's strategy for the query
    * side. `true` (default) pins a broadcast — it keeps the corpus
    * scan shuffle-free and dynamic partition pruning alive, and it
    * measured 2.2× FASTER than the shuffled join even at a 40k-row
    * ingest batch over a 200k corpus (20.7 s vs 46.1 s, BASELINE.md
    * r17). `false` leaves the strategy to Spark/AQE for batches
    * whose exploded (|batch|·nProbe rows × d floats) query side no
    * longer fits a sane broadcast — the driver and every task
    * materialize that table in memory, so at some batch size the
    * pinned hint stops being an optimization and becomes an OOM. */
  def probe(
      spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nProbe: Int, shortlist: Int = 50,
      idCol: String = "vec_id", vecCol: String = "embedding",
      filter: Option[Column] = None,
      broadcastQueries: Boolean = true): DataFrame = {
    require(shortlist >= k, "shortlist must be >= k")
    // resolve the pointer ONCE: model and corpus come from the same
    // immutable generation. A never-built root (no generation) and a
    // degenerate build (no model) both probe empty.
    val cur = graft.util.GenSwap.currentDir(root)
    val (cents, cbs) = cur.map(readModel(spark, _)).getOrElse((Nil, Nil))
    if (cents.isEmpty || cbs.isEmpty)
      return queries.select(col(idCol).as("q_id"), col(idCol).as("n_id"),
        lit(0.0).as("sim"), lit(1).as("rank")).limit(0)
    val corpus = filter.foldLeft(
      corpusAt(spark, cur.get))((c, f) => c.filter(f))

    // spread() the query side: the normalize + centroid-probe
    // projection is the CPU-heavy per-query stage, and a bulk ingest
    // batch read from few parquet files otherwise runs it on
    // file-count-many tasks (measured: 7 tasks carrying 110
    // CPU-seconds at a 40k-row batch — the whole gate wall)
    val q = graft.util.Tables.spread(queries)
      .select(col(idCol).as("q_id"),
        Similarity.l2norm(col(vecCol)).as("q_norm"),
        explode(Similarity.centroidProbe(col(vecCol), cents, nProbe))
          .as("cell"))
    // the broadcast scoring join carries q_norm per candidate (it
    // must — ADC needs it), but the shortlist WINDOW exchange ships
    // only (q_id, id, adc): the d-dim vectors are projected away
    // before the shuffle and re-joined for the tiny surviving set.
    // The join key includes the `__cbucket` PARTITION column (dynamic
    // partition pruning to the probed buckets; row-group stats on the
    // within-bucket-sorted `cell` prune the rest — the degenerate flat
    // marker carries it as a data column). ADC per pair via the
    // native PqAdcScore kernel (identity as in pqTopK:
    // Σ_j dot(q_j, cw_{j,code_j}) =
    // dot(q, concat_j cw)) — no per-pair reconstruction array, no
    // interpreted HOF decode.
    val corpusKeys = corpus.select(col("id"), col("codes"), col("cell"),
      col("__cbucket"))
    val qKeyed = q.withColumn("__cbucket", bucketOfCell(col("cell")))
    val scored = corpusKeys
      .join(if (broadcastQueries) broadcast(qKeyed) else qKeyed,
        Seq("cell", "__cbucket"))
      .filter(col("q_id") =!= col("id"))
      .select(col("q_id"), col("id"),
        graft.functions.GraftFunctions.pq_adc_score(
          col("codes"), col("q_norm"), cbs).as("adc"))
    // shortlist via the row_number window. The bounded TopK
    // aggregator (map-side partial combine) was A/B'd here at 100×
    // key-growth and did NOT beat the window (24.2 s vs 15–20 s
    // probe, same band) — the window's per-partition sort is not the
    // bottleneck at local shuffle widths, and the udaf object-agg
    // pays per-row buffer churn. Re-measure on a real cluster before
    // swapping: the aggregator's wire bound (≤ shortlist per (q_id,
    // map task)) only pays when candidates-per-query-per-task far
    // exceeds the shortlist.
    val bySl = Window.partitionBy(col("q_id"))
      .orderBy(col("adc").desc, col("id"))
    val short = scored.withColumn("slrank", row_number().over(bySl))
      .filter(col("slrank") <= shortlist)
      .select(col("q_id"), col("id"))
    val qRaw = queries.select(col(idCol).as("q_id"),
      col(vecCol).as("q_raw"))
    val refined = short
      .join(corpus.select(col("id"), col("vec")), Seq("id"))
      .join(if (broadcastQueries) broadcast(qRaw) else qRaw,
        Seq("q_id"))
      .withColumn("sim", graft.functions.GraftFunctions.cosine_sim(
        col("q_raw"), col("vec")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("id"))
    refined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("id").as("n_id"),
        round(col("sim"), 6).as("sim"), col("rank"))
  }
}
