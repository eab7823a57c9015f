package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Bucket-partitioned persisted index under the GENERATION-POINTER
 * commit — the common layout of the clip-search indexes
 * ([[graft.ext.AudioHash]], [[graft.ext.VideoHash]]): narrow key rows
 * written `PARTITIONED BY (bucket = pmod(key, nBuckets))`, so an
 * exact-key probe that carries the same bucket column joins against
 * the PARTITION column and dynamic partition pruning narrows the
 * scan to the probed buckets. Commit discipline is [[GenSwap]]: each
 * build/refresh stages a fresh immutable `root/gen-<n>` and flips
 * `root/CURRENT` — O(pointer) commits on object stores, in-flight
 * readers of the previous generation survive one concurrent refresh,
 * crashes leave only orphaned never-referenced dirs. Each generation
 * holds a segmented `table/` plus its `tomb/` ledger ([[GenIndex]]).
 */
object BucketedSwapIndex {

  /** The committed generation dir. None ⇔ never built. */
  def resolve(root: String): Option[String] = GenSwap.currentDir(root)

  /** Read the committed index's LIVE rows: the generation's segmented
    * `table/` masked by its `tomb/` ledger ([[GenIndex.readSegmented]],
    * keyed on `media_id`). Throws like `spark.read.parquet` on a
    * never-built root. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val dir = resolve(root).getOrElse(root)
    GenIndex.readSegmented(spark, s"$dir/table", s"$dir/tomb",
      idCol = IdCol)
  }

  /** The id column the tombstone ledger masks on — every clip-index
    * table keys its rows by the source media id. */
  private val IdCol = "media_id"

  private def writeSeg(
      rows: DataFrame, bucketOf: Column, buckets: Int,
      segDir: String): DataFrame = {
    val bucketed = rows.withColumn("bucket", pmod(bucketOf, lit(buckets)))
    bucketed.repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(segDir)
    bucketed
  }

  /**
   * Stage `rows` + `bucket = pmod(bucketOf, buckets)` as segment 0 of
   * a fresh generation, then flip the pointer.
   *
   * Degenerate (zero-row) input: a partitionBy write of an empty
   * frame leaves no data file to infer a schema from — detect
   * driver-side after the single write, then rewrite the TABLE flat
   * from an explicit 1-partition empty frame (bucket becomes a data
   * column; a probe join handles that identically, it just loses
   * pruning).
   */
  def stageAndSwap(
      root: String, rows: DataFrame, bucketOf: Column,
      buckets: Int): Unit = {
    val staging = GenSwap.nextDir(root)
    val spark = rows.sparkSession
    val bucketed = writeSeg(rows, bucketOf, buckets,
      s"$staging/table/seg=0")
    GenIndex.ensureSegReadable(spark, s"$staging/table",
      s"$staging/table/seg=0", bucketed.schema)
    GenSwap.commit(root, staging)
  }

  /** ChangeSet-driven refresh with the DELTA-PROPORTIONAL commit
    * ([[GenIndex]] segment/tombstone layout): Spark writes ONE
    * delta-sized segment plus the dropped-id ledger; previous
    * segments hard-link into the new generation; past
    * [[GenIndex.MaxSegments]] segments (or over the empty marker) the
    * refresh COMPACTS — live state ∖ drops ∪ delta rewritten as a
    * fresh seg=0 with the ledger cleared. `dropIds` carries one `id`
    * column (matched against the table's `media_id`). */
  def refreshAndSwap(
      root: String, delta: DataFrame, dropIds: DataFrame,
      bucketOf: Column, buckets: Int): Unit = {
    val spark = delta.sparkSession
    val cur = resolve(root).getOrElse(
      throw new IllegalStateException(
        s"no committed clip index at $root — build first"))
    val segs = GenIndex.segValues(s"$cur/table")
    val gen = GenSwap.nextDir(root)
    if (segs.nonEmpty && segs.size < GenIndex.MaxSegments) {
      val sv = segs.max + 1
      // segment write and tombstone write are independent Spark jobs
      // — overlap them (the GenIndex.writeAll discipline the other
      // three index families already apply); both settle pre-commit
      GenIndex.writeAll(
        () => {
          writeSeg(delta, bucketOf, buckets, s"$gen/table/seg=$sv")
          GenIndex.carrySegs(s"$cur/table", s"$gen/table")
        },
        () => GenIndex.stageTomb(spark, s"$cur/tomb", s"$gen/tomb",
          dropIds.select(col("id")), sv))
    } else {
      val kept = read(spark, root).drop("bucket")
        .join(dropIds.select(col("id").as(IdCol)), Seq(IdCol),
          "left_anti")
      val merged = kept.unionByName(delta)
      val bucketed = writeSeg(merged, bucketOf, buckets,
        s"$gen/table/seg=0")
      GenIndex.ensureSegReadable(spark, s"$gen/table",
        s"$gen/table/seg=0", bucketed.schema)
    }
    GenSwap.commit(root, gen)
  }
}
