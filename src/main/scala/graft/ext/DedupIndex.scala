package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted MinHash-LSH near-dup index — dedup-at-ingest served from
 * disk. [[Dedup.minhashPairsAgainst]] is the right shape for a
 * one-off batch×corpus comparison, but it RE-SHINGLES and re-bands
 * the accumulated corpus on every call — at 100 TB the daily ingest
 * would pay a full historical-corpus text pass per day. This index
 * persists what that pass computes — the banded signatures and the
 * verification shingle sets — so a probe pays only the BATCH side:
 * shingle/sign the increment, join its band buckets against the
 * stored bands, verify candidates by exact n-gram Jaccard against
 * the stored shingles. Answers are bit-identical to
 * `minhashPairsAgainst(batch, corpus)` at the same parameters (the
 * stored tables are exactly that call's intermediates).
 *
 * Layout under the generation root ([[graft.util.GenSwap]] — the
 * same O(pointer) object-store commit as every persisted state
 * here):
 *  - `gen-<n>/bands/seg=<k>/`    (id, band, bucket) PARTITIONED BY
 *    `__bbucket = pmod(bucket, 64)`, rows sorted by (band, bucket)
 *    inside each dir: a broadcast probe joins on the partition
 *    column, so partition pruning narrows the scan to the batch's
 *    buckets (per segment) and row-group stats prune within
 *  - `gen-<n>/shingles/seg=<k>/` (id, sh) — the exact-verification
 *    sets, PARTITIONED BY `__sbucket = pmod(xxhash64(id), 64)`
 *  - `gen-<n>/tomb/`   (id, tseq) — the dropped-id ledger shared by
 *    both tables ([[graft.util.GenIndex.readSegmented]] masking)
 *  - `gen-<n>/params/` (k, bands, n) — one row; probes and refreshes
 *    read the build's parameters instead of trusting callers to
 *    repeat them
 *
 * Refresh is ChangeSet-driven ([[refresh]]) and DELTA-PROPORTIONAL
 * in both compute and COMMIT WRITE VOLUME: the delta re-shingles and
 * re-bands (the corpus text never re-reads), and the new generation
 * Spark-writes ONLY one delta-sized `seg=<k>` per table plus the
 * (delta-scale) tombstone ledger — every previous segment carries
 * forward as hard links ([[graft.util.Fs.linkOrCopyRec]]:
 * zero new bytes on local stores; per-object copy elsewhere). Dir-
 * level partial rewrites were measured NOT to help here
 * (RefreshScale: a ~1% delta hash-touches all 64 bounded dirs), so
 * the segment/tombstone layout is the mechanism; segment count is
 * bounded by [[graft.util.GenIndex.MaxSegments]], past which the
 * refresh COMPACTS (one full rewrite per MaxSegments refreshes —
 * amortized delta-proportional, the LSM trade).
 */
object DedupIndex {

  private def bandsPath(dir: String) = s"$dir/bands"
  private def shinglesPath(dir: String) = s"$dir/shingles"
  private def paramsPath(dir: String) = s"$dir/params"
  private def tombPath(dir: String) = s"$dir/tomb"

  /** Fixed band-bucket directory count — bounded like the vector
    * index's `__cbucket` (the dir count must not grow with the
    * corpus). */
  private val BandBuckets = 64L

  private def bucketDir(bucket: Column): Column =
    pmod(bucket, lit(BandBuckets))

  /** Shingles-table partition: a pure function of the id — bounded
    * dirs, row-group locality by id. */
  private def shingleDir(id: Column): Column =
    pmod(xxhash64(id), lit(BandBuckets))

  private def writeBands(
      spark: SparkSession, segDir: String, banded: DataFrame): Unit = {
    val bb = banded.withColumn("__bbucket", bucketDir(col("bucket")))
    bb.repartition(col("__bbucket"))
      .sortWithinPartitions(col("band"), col("bucket"))
      .write.partitionBy("__bbucket").parquet(segDir)
  }

  private def writeShingles(
      spark: SparkSession, segDir: String, shingles: DataFrame): Unit =
    shingles.withColumn("__sbucket", shingleDir(col("id")))
      .repartition(col("__sbucket"))
      .write.partitionBy("__sbucket").parquet(segDir)

  /** LIVE rows of the two stored tables (segments unioned, tombstone
    * ledger applied). Public: the spec-side view of committed state. */
  def bandsTable(spark: SparkSession, genDir: String): DataFrame =
    graft.util.GenIndex.readSegmented(
      spark, bandsPath(genDir), tombPath(genDir))
  def shinglesTable(spark: SparkSession, genDir: String): DataFrame =
    graft.util.GenIndex.readSegmented(
      spark, shinglesPath(genDir), tombPath(genDir))

  private def bandsMarkerSchema(banded: DataFrame) =
    banded.withColumn("__bbucket", lit(0L)).schema
  private def shinglesMarkerSchema(shingles: DataFrame) =
    shingles.withColumn("__sbucket", lit(0L)).schema

  private def writeParamsTable(
      spark: SparkSession, dir: String, k: Int, nBands: Int,
      n: Int): Unit = {
    import spark.implicits._
    graft.util.GenIndex.writeParams(
      Seq((k, nBands, n)).toDF("k", "bands", "n"), paramsPath(dir))
  }

  private def readParams(
      spark: SparkSession, dir: String): (Int, Int, Int) = {
    val r = graft.util.GenIndex.readParamsRow(spark, paramsPath(dir))
    (r.getInt(0), r.getInt(1), r.getInt(2))
  }

  /** Shingle + sign + band the corpus once and commit the index.
    * The shingled frame is cached across the two table writes — the
    * shingle pipeline is interpreted-HOF-heavy (zip_with/array_sort
    * lambdas never codegen), so re-evaluating it per write is the
    * cost that matters at any scale. */
  def build(
      spark: SparkSession, corpus: DataFrame, root: String,
      k: Int = 32, bands: Int = 8, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      baseHash: Column => Column = xxhash64(_)): Unit = {
    val gen = graft.util.GenSwap.nextDir(root)
    val sh = Dedup.shingled(corpus, idCol, textCol, n).persist()
    try {
      val banded = Dedup.bandedSignatures(
        Dedup.signaturesFromShingled(sh, k, baseHash), k, bands)
      // the three writes are independent (bands/shingles read the
      // SAME cached shingled frame) — run them concurrently and
      // settle all before the commit (GenIndex.writeAll)
      graft.util.GenIndex.writeAll(
        () => {
          writeBands(spark, s"${bandsPath(gen)}/seg=0", banded)
          graft.util.GenIndex.ensureSegReadable(spark, bandsPath(gen),
            s"${bandsPath(gen)}/seg=0", bandsMarkerSchema(banded))
        },
        () => {
          writeShingles(spark, s"${shinglesPath(gen)}/seg=0", sh)
          graft.util.GenIndex.ensureSegReadable(spark,
            shinglesPath(gen), s"${shinglesPath(gen)}/seg=0",
            shinglesMarkerSchema(sh))
        },
        () => writeParamsTable(spark, gen, k, bands, n))
      graft.util.GenSwap.commit(root, gen)
    } finally { sh.unpersist(); () }
  }

  /** ChangeSet-driven refresh: `changedDocs` (added ∪ updated, with
    * idCol/textCol) re-shingle and re-band; `droppedIds` (removed ∪
    * updated, one `id` column) drop from both tables. Parameters come
    * from the stored `params` row — the delta is signed exactly like
    * the build.
    *
    * The commit is DELTA-PROPORTIONAL (segment/tombstone — see the
    * object scaladoc): Spark writes ONE delta-sized `seg=<k>` per
    * table plus the tombstone ledger; previous segments hard-link
    * into the new generation. Past
    * [[graft.util.GenIndex.MaxSegments]] live segments the refresh
    * COMPACTS (full rewrite into a fresh seg=0, ledger cleared).
    * `deltaCommit = false` forces the compaction path every time —
    * the A/B hook for the write-volume instrumentation
    * ([[graft.tools.RefreshScale]]). Degenerate
    * (empty-marker) layouts fall back to the full rewrite
    * automatically. */
  def refresh(
      spark: SparkSession, root: String, changedDocs: DataFrame,
      droppedIds: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      baseHash: Column => Column = xxhash64(_),
      deltaCommit: Boolean = true): Unit = {
    val cur = graft.util.GenSwap.currentDir(root).getOrElse(
      throw new IllegalStateException(
        s"no committed dedup index at $root — build first"))
    val (k, nBands, n) = readParams(spark, cur)
    // drop ids are consumed by the ledger and (on compaction) two
    // anti-joins; the delta's shingle pipeline is the expensive
    // re-evaluation — cache both
    val drop = droppedIds.select(col("id")).persist()
    val chSh = Dedup.shingled(changedDocs, idCol, textCol, n).persist()
    val chB = Dedup.bandedSignatures(
      Dedup.signaturesFromShingled(chSh, k, baseHash), k, nBands)
    try {
      val gen = graft.util.GenSwap.nextDir(root)
      val segs = graft.util.GenIndex.segValues(bandsPath(cur))
      val delta = deltaCommit && segs.nonEmpty &&
        segs.size < graft.util.GenIndex.MaxSegments
      if (delta) {
        val sv = segs.max + 1
        graft.util.GenIndex.writeAll(
          () => {
            writeBands(spark, s"${bandsPath(gen)}/seg=$sv", chB)
            graft.util.GenIndex.carrySegs(bandsPath(cur), bandsPath(gen))
          },
          () => {
            writeShingles(spark, s"${shinglesPath(gen)}/seg=$sv",
              chSh.select(col("id"), col("sh")))
            graft.util.GenIndex.carrySegs(
              shinglesPath(cur), shinglesPath(gen))
          },
          () => graft.util.GenIndex.stageTomb(spark, tombPath(cur),
            tombPath(gen), drop, sv),
          () => writeParamsTable(spark, gen, k, nBands, n))
      } else {
        // compaction / empty-marker / forced-full: merge the LIVE state
        // (tombstones applied) with the delta into a fresh seg=0;
        // the ledger resets
        val prevB = bandsTable(spark, cur)
          .select(col("id"), col("band"), col("bucket"))
        val prevS = shinglesTable(spark, cur)
          .select(col("id"), col("sh"))
        graft.util.GenIndex.writeAll(
          () => {
            writeBands(spark, s"${bandsPath(gen)}/seg=0",
              prevB.join(drop, Seq("id"), "left_anti").unionByName(chB))
            graft.util.GenIndex.ensureSegReadable(spark, bandsPath(gen),
              s"${bandsPath(gen)}/seg=0", bandsMarkerSchema(chB))
          },
          () => {
            writeShingles(spark, s"${shinglesPath(gen)}/seg=0",
              prevS.join(drop, Seq("id"), "left_anti")
                .unionByName(chSh.select(col("id"), col("sh"))))
            graft.util.GenIndex.ensureSegReadable(spark,
              shinglesPath(gen), s"${shinglesPath(gen)}/seg=0",
              shinglesMarkerSchema(chSh))
          },
          () => writeParamsTable(spark, gen, k, nBands, n))
      }
      graft.util.GenSwap.commit(root, gen)
    } finally { drop.unpersist(); chSh.unpersist(); () }
  }

  /**
   * Near-dup pairs of `batch` against the INDEXED corpus:
   * (id_l = batch id, id_r = corpus id, jaccard), every candidate
   * verified by exact n-gram Jaccard ≥ `threshold` — bit-identical to
   * [[Dedup.minhashPairsAgainst]] over the same corpus/parameters.
   * Only the batch shingles in-plan; the corpus side is two narrow
   * index-table scans (bands statically pruned to the batch's bucket
   * dirs — see the isin note in the body; shingles fetched for the
   * surviving candidate ids only). Equal ids across the two sides are
   * excluded (a doc already in the corpus is not a near-dup of
   * itself). Empty result when no index has committed yet.
   *
   * `broadcastBatch`: the candidate join's strategy for the batch
   * side — the [[VectorIndex.probe]] `broadcastQueries` escape hatch.
   * `true` (default) pins a broadcast of the batch's banded
   * signatures: the corpus-bands scan stays shuffle-free, which is
   * the right shape at ingest-batch sizes (the A/B table in
   * BASELINE.md). `false` leaves the strategy to Spark/AQE for
   * BACKFILL-sized batches whose banded side (|batch| × nBands rows)
   * no longer fits a sane broadcast — the driver and every task
   * materialize that table in memory, so past some batch size the
   * pinned hint stops being an optimization and becomes an OOM.
   */
  def probe(
      spark: SparkSession, root: String, batch: DataFrame,
      threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text",
      baseHash: Column => Column = xxhash64(_),
      broadcastBatch: Boolean = true): DataFrame = {
    val cur = graft.util.GenSwap.currentDir(root) match {
      case Some(c) => c
      case None =>
        return batch.select(col(idCol).as("id_l"), col(idCol).as("id_r"),
          lit(0.0).as("jaccard")).limit(0)
    }
    val (k, nBands, nShingle) = readParams(spark, cur)
    val bSh = Dedup.shingled(batch, idCol, textCol, nShingle).persist()
    val bB = Dedup.bandedSignatures(
      Dedup.signaturesFromShingled(bSh, k, baseHash), k, nBands)
      .withColumnRenamed("id", "id_l").persist()
    try {
      val cB = bandsTable(spark, cur)
        .withColumnRenamed("id", "id_r")
      val bucketed = cB.columns.contains("__bbucket")
      // STATIC partition pruning: the batch's distinct bucket-dir set
      // is ≤ 64 values — collect it from the CACHED batch bands (one
      // tiny aggregation over in-memory blocks) and filter the scan
      // explicitly. Deliberately NOT dynamic partition pruning: the
      // DPP subquery re-executes the batch's whole shingle/sign
      // pipeline when AQE fails to reuse the broadcast (measured 2×
      // probe wall at 100× key-growth), while this isin lands in
      // PartitionFilters for free and prunes identically.
      val bKeyed = if (bucketed)
        bB.withColumn("__bbucket",
          bucketDir(col("bucket")).cast(cB.schema("__bbucket").dataType))
      else bB
      val cBpruned = if (bucketed) {
        val dirs = bKeyed.select(col("__bbucket")).distinct()
          .collect().map(_.get(0)).toSeq
        cB.filter(col("__bbucket").isInCollection(dirs))
      } else cB
      val keys = if (bucketed) Seq("band", "bucket", "__bbucket")
        else Seq("band", "bucket")
      val cands = cBpruned
        .join(if (broadcastBatch) broadcast(bKeyed) else bKeyed, keys)
        .filter(col("id_l") =!= col("id_r"))
        .select(col("id_l"), col("id_r")).distinct()
      val corpusSh = shinglesTable(spark, cur)
      val verified = cands
        .join(bSh.select(col("id").as("id_l"), col("sh").as("sh_l")),
          Seq("id_l"))
        .join(corpusSh.select(col("id").as("id_r"), col("sh").as("sh_r")),
          Seq("id_r"))
        .withColumn("jaccard", Dedup.jaccardExpr(col("sh_l"), col("sh_r")))
        .filter(col("jaccard") >= threshold)
        .select(col("id_l"), col("id_r"),
          round(col("jaccard"), 6).as("jaccard"))
      verified.localCheckpoint()
    } finally { bSh.unpersist(); bB.unpersist(); () }
  }
}
