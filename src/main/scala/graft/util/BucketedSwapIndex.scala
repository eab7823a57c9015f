package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Key-bucketed persisted index under the GENERATION-POINTER commit —
 * the common layout of the clip-search indexes
 * ([[graft.ext.AudioHash]], [[graft.ext.VideoHash]]): narrow key rows
 * hash-partitioned by the caller's key column into flat files and
 * sorted by it within each file ([[GenIndex]]'s one segment layout),
 * so an exact-key probe reads a few files per segment and parquet
 * row-group stats on the sorted key skip the rest. Commit discipline
 * is [[GenSwap]]: each build/refresh stages a fresh immutable
 * `root/gen-<n>` and flips `root/CURRENT` — O(pointer) commits on
 * object stores, in-flight readers of the previous generation survive
 * one concurrent refresh, crashes leave only orphaned
 * never-referenced dirs. Each generation holds a segmented `table/`
 * plus its `tomb/` ledger ([[GenIndex]]).
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

  /** Stage `rows`, bucketed by `key`, as segment 0 of a fresh
    * generation, then flip the pointer. */
  def stageAndSwap(root: String, rows: DataFrame, key: Column): Unit = {
    val staging = GenSwap.nextDir(root)
    GenIndex.writeSegment(rows, s"$staging/table/seg=0", key)
    GenSwap.commit(root, staging)
  }

  /** ChangeSet-driven refresh with the DELTA-PROPORTIONAL commit
    * ([[GenIndex]] segment/tombstone layout): Spark writes ONE
    * delta-sized segment plus the dropped-id ledger; previous
    * segments hard-link into the new generation; past
    * [[GenIndex.MaxSegments]] segments the refresh COMPACTS — live
    * state ∖ drops ∪ delta rewritten as a fresh seg=0 with the ledger
    * cleared. `dropIds` carries one `id` column (matched against the
    * table's `media_id`). An empty change set (no delta rows, no
    * drops) returns without committing. */
  def refreshAndSwap(
      root: String, delta: DataFrame, dropIds: DataFrame,
      key: Column): Unit = {
    val spark = delta.sparkSession
    val cur = resolve(root).getOrElse(
      throw new IllegalStateException(
        s"no committed clip index at $root — build first"))
    val drop = dropIds.select(col("id")).persist()
    val rows = delta.persist()
    try {
      if (drop.isEmpty && rows.isEmpty) return
      val segs = GenIndex.segValues(s"$cur/table")
      val gen = GenSwap.nextDir(root)
      if (segs.size < GenIndex.MaxSegments) {
        val sv = segs.max + 1
        // segment write and tombstone write are independent Spark jobs
        // — overlap them (the GenIndex.writeAll discipline the other
        // index families apply); both settle pre-commit
        GenIndex.writeAll(
          () => {
            GenIndex.writeSegment(rows, s"$gen/table/seg=$sv", key)
            GenIndex.carrySegs(s"$cur/table", s"$gen/table")
          },
          () => GenIndex.stageTomb(spark, s"$cur/tomb", s"$gen/tomb",
            drop, sv))
      } else {
        val kept = read(spark, root)
          .join(drop.select(col("id").as(IdCol)), Seq(IdCol), "left_anti")
        GenIndex.writeSegment(kept.unionByName(rows),
          s"$gen/table/seg=0", key)
      }
      GenSwap.commit(root, gen)
    } finally { drop.unpersist(); rows.unpersist(); () }
  }
}
