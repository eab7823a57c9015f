package graft.util

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

/**
 * Shared plumbing of the persisted generation-pointer index families
 * ([[graft.ext.VectorIndex]], [[graft.ext.DedupIndex]],
 * [[graft.ext.RagStore]], [[graft.ext.TrainedQuality]]'s model store,
 * [[BucketedSwapIndex]]), extracted so the stage-tables →
 * [[GenSwap.commit]] → read-params discipline — and the
 * DELTA-NARROWED refresh commit built on it — lives once:
 *
 *  - [[writeAll]]: concurrent independent stage-table writes that
 *    are ALWAYS settled before returning — a failure in one write
 *    never leaves the others running detached against an abandoned
 *    generation dir;
 *  - the segmented (append + tombstone) layout: the
 *    delta-proportional-commit primitive — a refresh Spark-writes
 *    ONLY its delta segment and carries every previous segment
 *    forward via [[Fs.linkOrCopyRec]] (hard links locally: zero new
 *    bytes; per-object copy on stores without links), so a 0.1%
 *    daily delta stops costing a full-index write volume per commit.
 *
 * Every segment is FLAT: the family hash-partitions its rows by its
 * key and sorts them within each file (`repartition(key)
 * .sortWithinPartitions(key)`, no `partitionBy`), so AQE sizes the
 * file count from the data, a read lists a segment without a
 * parallel listing job, and even a zero-row write leaves a
 * schema-bearing file.
 */
object GenIndex {

  /** One-row params table: build parameters ride the committed state
    * so probes and refreshes read them instead of trusting callers to
    * repeat them. */
  def writeParams(df: DataFrame, dir: String): Unit =
    df.repartition(1).write.parquet(dir)

  def readParamsRow(spark: SparkSession, dir: String): Row =
    spark.read.parquet(dir).collect()(0)

  /** Run independent stage-table writes CONCURRENTLY (Spark job
    * submission is thread-safe; serializing them was measured as pure
    * commit-floor latency in the DedupIndex lifecycle), settling
    * EVERY write before returning: a failure in one must not leave
    * the others running detached — contending for cores — against a
    * generation dir the failure just abandoned. The first failure (in
    * argument order) rethrows after all have settled. */
  def writeAll(writes: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // `blocking`: each thunk parks its FJP worker on a Spark action
    // for its whole lifetime, and writeAll calls now NEST (IngestDay →
    // index refresh → countsOf) — without the managed-blocking hint
    // the default pool (parallelism = #cores) can run out of workers
    // on low-core hosts and silently serialize the intended overlap.
    // Known limitation: a thunk failure rethrows only after ALL
    // siblings settle — still-running writes keep writing into the
    // staging dir during failure handling, which is harmless under
    // GenSwap (an uncommitted generation dir is dead weight, removed
    // by the next nextDir sweep), and cancelling a mid-flight Spark
    // write would abandon half-written files the same way.
    val settled = writes.map(w => Future(blocking(w())))
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    settled.collectFirst { case scala.util.Failure(e) => throw e }
      .foreach(_ => ())
  }

  // ── segmented (append + tombstone) table layout ─────────────────
  //
  // The delta-proportional COMMIT primitive (the LSM / merge-on-read
  // delete discipline restated for immutable generation dirs):
  //
  //   table/seg=0/...   the initial build (flat files, sorted by
  //   table/seg=1/...   the family's key)
  //   table/seg=k/...   each refresh appends ONE delta-sized segment
  //   <sibling tomb>/   (id, tseq) — cumulative dropped-id ledger
  //
  // A refresh Spark-writes ONLY its delta segment and the (small)
  // tombstone ledger; every previous segment carries forward as hard
  // links (zero new bytes on local stores). Readers union the
  // segments and mask each row by the ledger: a row in seg s of id i
  // is live iff no drop of i was issued at a LATER segment
  // (max tseq(i) <= s — a drop and re-add land in the SAME refresh,
  // so the re-added rows in seg k survive the tseq-k tombstone while
  // the stale rows in segs < k are masked). Segment count is bounded
  // by [[MaxSegments]]: the next refresh past the bound COMPACTS —
  // a full rewrite into a fresh seg=0 with the ledger cleared — so
  // read-side overhead stays bounded and write volume is
  // delta-proportional AMORTIZED (one full write per MaxSegments
  // refreshes), the standard LSM trade.

  /** Segment ordinals (the `k` of each `seg=k` child dir) present
    * under a segmented table. */
  def segValues(tableDir: String): Seq[Long] =
    Fs.list(tableDir).collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("seg=") =>
        st.getPath.getName.stripPrefix("seg=")
    }.flatMap(_.toLongOption)

  /** Write one segment the one way every family does: rows
    * hash-partitioned by `key` into flat files, sorted by it within
    * each (parquet row-group stats on the sorted key then skip what a
    * keyed read does not need). */
  def writeSegment(rows: DataFrame, segDir: String, key: Column*): Unit =
    rows.repartition(key: _*).sortWithinPartitions(key: _*)
      .write.parquet(segDir)

  /** Bound on live segments per table — the compaction trigger. */
  val MaxSegments = 8

  /** Read a segmented table's LIVE rows: union the segments, mask by
    * the tombstone ledger, drop the bookkeeping `seg` column. The
    * mask join is left unhinted: the ledger is
    * delta × [[MaxSegments]] rows, so Spark's size estimate picks a
    * broadcast for the normal case without pinning one on a
    * backfill-sized ledger. */
  def readSegmented(
      spark: SparkSession, tableDir: String, tombDir: String,
      idCol: String = "id"): DataFrame = {
    import org.apache.spark.sql.functions._
    val data = spark.read.parquet(tableDir)
    if (!Fs.hasData(tombDir)) return data.drop("seg")
    val maxT = spark.read.parquet(tombDir)
      .groupBy(col("id")).agg(max(col("tseq")).as("__tseq"))
      .withColumnRenamed("id", idCol)
    data.join(maxT, Seq(idCol), "left")
      .filter(col("__tseq").isNull ||
        col("seg").cast("long") >= col("__tseq"))
      .drop("__tseq", "seg")
  }

  /** Carry every segment dir of `prevTable` into `newTable` without a
    * rewrite (hard links locally — see [[Fs.linkOrCopyRec]]). */
  def carrySegs(prevTable: String, newTable: String): Unit =
    segValues(prevTable).foreach { sv =>
      Fs.linkOrCopyRec(
        s"$prevTable/seg=$sv", s"$newTable/seg=$sv")
    }

  /** Stage the next tombstone ledger: previous ledger ∪ `drops`
    * stamped with the new segment ordinal. Ledger size is bounded by
    * the drops since the last compaction — a delta-scale write. */
  def stageTomb(
      spark: SparkSession, prevTombDir: String, newTombDir: String,
      drops: DataFrame, k: Long): Unit = {
    import org.apache.spark.sql.functions._
    val cur = drops.select(col("id"), lit(k).as("tseq"))
    val merged =
      if (Fs.hasData(prevTombDir))
        spark.read.parquet(prevTombDir).unionByName(cur)
      else cur
    merged.repartition(1).write.parquet(newTombDir)
  }
}
