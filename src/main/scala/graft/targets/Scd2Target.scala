package graft.targets

import graft.core.{ChangeSet, Records}
import graft.mapper.Mapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * SCD TYPE-2 history sink — the warehouse-grade extension of the
 * snapshot sync: instead of overwriting a record's row, every sync
 * that changes a record CLOSES its current history row and OPENS a
 * new one, so the table holds the full change history with validity
 * ranges. The reference's sinks are all "current state only"
 * (Classes/DataTarget/Dbal/DbalTarget.php:134-155 —
 * INSERT/UPDATE/DELETE in place); this target keeps the same diff
 * front-end (ChangeSet, strict-`>` update rule,
 * DbalTarget.php:66-85) and changes only what "apply" writes.
 *
 * Schema: mapped attribute columns + `id`, `version`, and the
 * validity pair `sync_in` / `sync_out` (sync ordinals; `sync_out`
 * NULL = the record's CURRENT row). Point-in-time state at sync k is
 * `sync_in <= k AND (sync_out IS NULL OR sync_out > k)` — the
 * standard SCD2 time-travel predicate.
 *
 * Sync ordinals come from an append-only APPLY LEDGER (one empty
 * marker file per apply under `_applies/`): ordinals must advance on
 * EVERY sync — including one whose diff opens nothing — or two
 * different syncs would share an ordinal and the history could not
 * distinguish them. `max(sync_in)+1` cannot provide that (it stalls
 * on a no-change sync); a driver-side marker is exact. The marker is
 * recorded after the staged snapshot write and before the pointer
 * flip, so a failed/retried stage reuses its ordinal instead of
 * burning it; a crash between marker and commit leaves a gap in the
 * sequence — harmless, ordinals are opaque and increasing.
 *
 * Scale shape: one snapshot merge per sync, same copy-on-write
 * pattern as [[FileTarget]] — the close/open delta is the sync's
 * changed-id set (small vs the table), joined against history with
 * the strategy left to AQE (broadcast for the typical tiny delta,
 * shuffle for an update-heavy backfill); at 100 TB the history partitions
 * by id hash exactly like FileTarget's `partitions` mode and only
 * touched partitions rewrite (the same O(touched) argument —
 * deliberately not duplicated here; this target certifies the
 * HISTORY semantics, the layout tiers are FileTarget's).
 */
final case class Scd2Target(
    path: String,
    idColumn: String = "id",
    versionColumn: Option[String] = Some("version"))
    extends DataTarget {

  private def dataDir = s"$path/data"
  private def ledgerDir = s"$path/_applies"

  /** Resolve the COMMITTED history dir: `$path/data` is a GENERATION
    * ROOT ([[graft.util.GenSwap]]) — every apply/compact writes a
    * fresh immutable `data/gen-<n>/` and flips `data/CURRENT`, so
    * time-travel readers holding the previous generation survive a
    * concurrent sync (two-refresh limit — see GenSwap) and object-
    * store commits are O(pointer). */
  private def resolvedDataDir(): Option[String] =
    graft.util.GenSwap.currentDir(dataDir)

  /** Resolved committed history generation dir — exposed for
    * tools/tests that inspect file layout. */
  def dataDirResolved: Option[String] = resolvedDataDir()

  /** Full history table (empty two-column frame before first write —
    * callers project their expected schema stably, the
    * q_sync_incremental convention). */
  def history(spark: SparkSession): DataFrame =
    resolvedDataDir() match {
      case Some(d) => spark.read.parquet(d)
      case None =>
        // the empty frame's columns come from the CONFIGURED id/version
        // names — hardcoding ("id", "version") made currentState's
        // col(idColumn) unresolvable on the first sync of a target
        // with a non-default idColumn
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType(
            org.apache.spark.sql.types.StructField(idColumn,
              org.apache.spark.sql.types.StringType) +:
            versionColumn.map(vc =>
              org.apache.spark.sql.types.StructField(vc,
                org.apache.spark.sql.types.LongType)).toSeq))
    }

  /** This apply's sync ordinal = number of recorded prior applies
    * (see the ledger note in the class doc). Record the marker with
    * [[recordOrdinal]] AFTER the staged snapshot write succeeds and
    * BEFORE the pointer flips: a failed/retried stage never burns an
    * ordinal (re-stage reuses it), and a marker always precedes the
    * commit that makes its ordinal visible, so two applies can never
    * share one — gaps remain possible (crash between marker and
    * commit) and remain harmless. */
  private def ledgerCount(): Long =
    graft.util.Fs.list(ledgerDir).length.toLong

  private def recordOrdinal(n: Long): Unit = {
    graft.util.Fs.mkdirs(ledgerDir)
    graft.util.Fs.touch(s"$ledgerDir/" + f"k_$n%012d")
  }

  /** TIME-TRAVEL read: the state as of sync ordinal `k` — the rows
    * whose validity range covers k (`sync_in <= k < sync_out`, open
    * rows have NULL sync_out). A narrow filter over the history, no
    * join; at 100 TB the predicate prunes on parquet row-group stats
    * for `sync_in`, and recent-ordinal reads touch only the files
    * recent syncs wrote. Ordinals are the apply-ledger sequence —
    * `stateAt(ordinals() - 1)` equals [[currentState]]'s row set. */
  def stateAt(spark: SparkSession, k: Long): DataFrame = {
    val h = history(spark)
    if (!h.columns.contains("sync_in")) h.limit(0)
    else h.filter(col("sync_in") <= k &&
      (col("sync_out").isNull || col("sync_out") > k))
  }

  /** Number of recorded applies (the next sync's ordinal). */
  def ordinals(): Long = ledgerCount()

  /** The diff runs against CURRENT rows only (`sync_out IS NULL`) —
    * closed history never re-enters the comparison. */
  override def currentState(spark: SparkSession): DataFrame = {
    val h = history(spark)
    val cur =
      if (h.columns.contains("sync_out")) h.filter(col("sync_out").isNull)
      else h
    val ver = versionColumn.filter(cur.columns.contains)
      .map(col(_).cast("long")).getOrElse(lit(null).cast("long"))
    cur.withColumn("id", col(idColumn).cast("string"))
      .withColumn("version", ver)
  }

  override def applyChanges(
      spark: SparkSession, cs: ChangeSet, mapper: Mapper,
      dispatch: DataTarget.EventDispatch): ApplyResult = {
    def mapped(df: DataFrame): DataFrame = {
      val m = mapper.applyKeepingKeys(df)
      m.withColumn(idColumn, col(Records.IdCol))
        .withColumn("version", col(Records.VersionCol))
        .drop(Records.IdCol, Records.VersionCol)
    }
    val csp = cs.persisted()
    val addedM = mapped(csp.added)
    val updatedM = mapped(csp.updated)
    val k = ledgerCount()

    // ids whose current row closes this sync: superseded (update) or
    // removed — the touched set is the sync's delta, broadcast-sized
    // relative to the history
    val touched = csp.updated.select(col(Records.IdCol).as("__tid"))
      .unionByName(csp.removedIds.select(col("id").as("__tid")))
      .distinct()

    val opensSchema = addedM
      .withColumn("sync_in", lit(k))
      .withColumn("sync_out", lit(null).cast("long")).schema
    val hist0 = history(spark)
    // align old history to the open-row schema (first run / mapping
    // change may add columns — same survivor-align rule as FileTarget)
    val hist = hist0.select(opensSchema.map { f =>
      val src = hist0.columns.find(_.equalsIgnoreCase(f.name)).getOrElse("")
      (if (src.nonEmpty) col(src).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
    // close touched current rows at this ordinal; everything else —
    // already-closed rows and untouched current rows — is carried
    // through byte-identical. No broadcast hint: a typical sync's
    // touched set is tiny (AQE broadcasts it at runtime), but an
    // update-heavy backfill can touch most of the table — forcing a
    // broadcast there would OOM the driver for no reason.
    val closedOrKept = hist
      .join(touched,
        col(idColumn).cast("string") === col("__tid"), "left")
      .withColumn("sync_out",
        when(col("sync_out").isNull && col("__tid").isNotNull, lit(k))
          .otherwise(col("sync_out")))
      .drop("__tid")
    val opens = addedM.unionByName(updatedM)
      .withColumn("sync_in", lit(k))
      .withColumn("sync_out", lit(null).cast("long"))
    val next = closedOrKept.unionByName(opens)

    // stage into a fresh generation, then flip the pointer: never
    // read-while-write the live snapshot (distinct immutable dirs by
    // construction), never lose it to a crash (an interrupted stage
    // is an orphan the next commit prunes)
    val staging = graft.util.GenSwap.nextDir(dataDir)
    next.write.mode("overwrite").parquet(staging)
    recordOrdinal(k) // after staging, before commit — see ledgerCount
    graft.util.GenSwap.commit(dataDir, staging)

    // counts AFTER the write: the write materializes the lazy
    // localCheckpoint, so this re-scans in-memory blocks (the r12
    // sync-tier diet — see DataTarget.applyChanges)
    val (nAdd, nUpd, nRem) = csp.counts
    DataTarget.dispatchSnapshotPhases(dispatch,
      addedM, nAdd, updatedM, nUpd, csp.removedIds, nRem,
      idCol = idColumn)
    csp.unpersist()
    ApplyResult(nAdd, nUpd, nRem)
  }

  /**
   * Small-files compaction — the FileTarget maintenance op ported to
   * the history snapshot: every sync's copy-on-write rewrite emits
   * one file per write task, so after thousands of syncs the narrow
   * [[stateAt]] scan pays per-file open cost out of proportion to
   * the bytes. Rewrite the history into
   * `ceil(totalBytes / targetFileBytes)` files, sorted by
   * (`sync_in`, id) so parquet row-group stats on `sync_in` prune
   * time-travel reads, committed through the SAME generation flip as
   * a sync. Content is byte-identical and the apply LEDGER
   * is untouched (compaction is not a sync — it must not burn an
   * ordinal), so `stateAt(k)` is preserved for every k — the spec's
   * contract. Returns the post-compaction file count, or −1 if
   * already compact.
   */
  def compact(spark: SparkSession,
      targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val cur = resolvedDataDir().getOrElse(return -1L)
    def dataFiles(d: String): Seq[org.apache.hadoop.fs.FileStatus] =
      graft.util.Fs.list(d)
        .filter(_.getPath.getName.endsWith(".parquet"))
    val files = dataFiles(cur)
    val want = math.max(1L,
      (files.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes)
    if (files.size <= want) return -1L
    val staging = graft.util.GenSwap.nextDir(dataDir)
    history(spark)
      .coalesce(want.toInt)
      .sortWithinPartitions(col("sync_in"), col(idColumn))
      .write.mode("overwrite").parquet(staging)
    // no recordOrdinal: a content-preserving rewrite is not a sync
    graft.util.GenSwap.commit(dataDir, staging)
    dataFiles(resolvedDataDir().get).size.toLong
  }

  /** Prune = SOFT-close every current row at a fresh ordinal — the
    * history is the point of this target; nothing is deleted. */
  override def removeAll(spark: SparkSession): Long = {
    val h = history(spark)
    // never written: the empty history has no validity columns
    if (!h.columns.contains("sync_out")) return 0L
    val n = h.filter(col("sync_out").isNull).count()
    if (n > 0) {
      val k = ledgerCount()
      val next = h.withColumn("sync_out",
        coalesce(col("sync_out"), lit(k)))
      val staging = graft.util.GenSwap.nextDir(dataDir)
      next.write.mode("overwrite").parquet(staging)
      recordOrdinal(k) // after staging, before commit — see ledgerCount
      graft.util.GenSwap.commit(dataDir, staging)
    }
    n
  }
}
