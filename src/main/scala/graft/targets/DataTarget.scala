package graft.targets

import graft.core.{ChangeSet, Records}
import graft.mapper.Mapper
import graft.sources.ValidationResult
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Counters returned by a sink application — feeds the event surface
  * (reference: Classes/Command/ImportCommandController.php:191-254
  * progress counters). */
final case class ApplyResult(
    added: Long, updated: Long, removed: Long, errors: Long = 0,
    errorSamples: Seq[(String, String)] = Nil)

/**
 * A data target owns the local state the diff runs against and applies
 * ChangeSets — the Spark equivalent of `DataTargetInterface`
 * (reference: Classes/DataTarget/DataTargetInterface.php).
 *
 * Contract mirrors the reference lifecycle (SURVEY §3.1):
 *  - `currentState` — narrow (id, version) snapshot
 *    (DbalTarget.php:118-128); Catalyst prunes wider states.
 *  - `applyChanges` — add → update → remove phase order
 *    (ImportService.php:84-86); mapping applies AT WRITE TIME, the
 *    diff ran on raw attributes (DbalTarget.php:136,145).
 *  - `removeAll` — prune (DbalTarget.php:160-167).
 *  - `finalize` — deferred flush hook (ContentRepositoryTarget.php:238-243).
 */
trait DataTarget {
  def currentState(spark: SparkSession): DataFrame

  /** Apply a ChangeSet. `dispatch` receives the per-phase lifecycle
    * events (Pre/Do/Post × add/update/remove) in the reference's
    * order (ImportService.php:133-211) — the target owns phase
    * sequencing, so it owns the phase event surface too. `Do*`
    * events carry the phase's record count (a distributed engine has
    * no per-record hook; SURVEY §1.5.3). Empty phases stay silent,
    * mirroring the reference's early return on empty record sets. */
  def applyChanges(
      spark: SparkSession, cs: ChangeSet, mapper: Mapper,
      dispatch: DataTarget.EventDispatch = DataTarget.noopDispatch): ApplyResult
  def removeAll(spark: SparkSession): Long
  def setup(spark: SparkSession): ValidationResult = ValidationResult()
  def finalizeRun(spark: SparkSession): Unit = ()
}

object DataTarget {
  type EventDispatch = (graft.pipeline.ImportEvent.Value, Any) => Unit
  val noopDispatch: EventDispatch = (_, _) => ()

  /** `Do*` event payload: the phase's record count plus a bounded id
    * sample. The reference dispatches one event PER RECORD with the
    * record itself (ImportService.php:140-209) — a distributed engine
    * aggregates, and the sample restores the progress detail its CLI
    * prints (ImportCommandController.php:191-254) without shipping
    * phase data through the driver. */
  final case class PhaseProgress(count: Long, sampleIds: Seq[String]) {
    override def toString: String =
      s"$count record(s)" + (if (sampleIds.isEmpty) ""
        else sampleIds.mkString(" (e.g. ", ", ", ")"))
  }

  /** First `n` ids of a phase frame (one tiny job on the cached
    * diff; never the phase data itself). Falls back from the
    * configured id column to `id`/`__id`/first column — phase frames
    * differ per target (mapped rows vs raw removed-id sets). */
  def sampleIds(df: DataFrame, idCol: String, n: Int = 5): Seq[String] = {
    val c = Seq(idCol, "id", Records.IdCol).find(df.columns.contains)
      .getOrElse(df.columns.head)
    df.select(col(c).cast("string")).limit(n)
      .collect().map(_.getString(0)).toSeq
  }

  /** Phase-event sequence for snapshot-merge targets (File/Node):
    * the merge commits all three phases in ONE atomic write, so the
    * nine phase events fire in reference order at commit time —
    * `Post*` here means "phase data is in the committed snapshot".
    * Row-oriented targets (JDBC) instead interleave events with
    * their physical per-phase writes. Each non-empty phase's id
    * sample is one tiny job; an empty phase starts none. */
  def dispatchSnapshotPhases(
      dispatch: EventDispatch,
      added: DataFrame, nAdd: Long,
      updated: DataFrame, nUpd: Long,
      removedIds: DataFrame, nRem: Long,
      idCol: String = "id"): Unit = {
    def sample(df: DataFrame, n: Long) =
      if (n > 0) sampleIds(df, idCol) else Nil
    dispatchSnapshotPhasesSampled(dispatch,
      added, nAdd, sample(added, nAdd),
      updated, nUpd, sample(updated, nUpd),
      removedIds, nRem, sample(removedIds, nRem))
  }

  /** The nine-event sequence itself, with counts AND id samples
    * already in hand — [[dispatchSnapshotPhases]] samples first, and
    * sinks that fold both into one aggregation over the cached diff
    * call it directly (three `sampleIds` limit-jobs collapse into the
    * counts job; see [[graft.targets.NodeTarget]]). */
  def dispatchSnapshotPhasesSampled(
      dispatch: EventDispatch,
      added: DataFrame, nAdd: Long, addSample: Seq[String],
      updated: DataFrame, nUpd: Long, updSample: Seq[String],
      removedIds: DataFrame, nRem: Long, remSample: Seq[String]): Unit = {
    import graft.pipeline.ImportEvent._
    if (nAdd > 0) {
      dispatch(PreAddData, added)
      dispatch(DoAddData, PhaseProgress(nAdd, addSample))
      dispatch(PostAddData, nAdd)
    }
    if (nUpd > 0) {
      dispatch(PreUpdateData, updated)
      dispatch(DoUpdateData, PhaseProgress(nUpd, updSample))
      dispatch(PostUpdateData, nUpd)
    }
    if (nRem > 0) {
      dispatch(PreRemoveData, removedIds)
      dispatch(DoRemoveData, PhaseProgress(nRem, remSample))
      dispatch(PostRemoveData, nRem)
    }
  }
}

/**
 * Parquet-backed target (the fast-test / lakehouse sink). State lives
 * as one flat parquet dataset at `path` keyed by `id` with a `version`
 * column plus mapped attribute columns.
 *
 * Spark has no in-place parquet mutation, so apply = snapshot merge:
 * new state = (old ∖ (updated ∪ removed)) ∪ mapped(added ∪ updated)
 * staged beside `path` and committed by a manifest-logged whole-dir
 * swap. This is the standard copy-on-write lakehouse pattern (what
 * Delta/Iceberg do per file group). An empty delta over a committed
 * state writes nothing.
 */
final case class FileTarget(
    path: String,
    idColumn: String = "id",
    versionColumn: Option[String] = Some("version"))
    extends DataTarget {

  /** Write `df` as this target's state — the seeding path for tests
    * and bootstrap. */
  def writeState(spark: SparkSession, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path)

  private def exists: Boolean = graft.util.Fs.list(path).nonEmpty

  /**
   * Small-files compaction — the lakehouse maintenance op a
   * copy-on-write table needs after many incremental syncs: rewrite
   * the current state into `ceil(totalBytes / targetFileBytes)` files,
   * committed through the SAME manifest-logged whole-dir swap as a
   * sync, so a crash at any point is completed idempotently by the
   * next reader/writer and the content is never mid-rewrite. Returns
   * the post-compaction data file count, or −1 if the state was
   * already compact enough (no rewrite performed).
   */
  def compact(spark: SparkSession,
      targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // finish any crashed sync's pending swap FIRST: compact as the
    // first op after a writer crash would otherwise read the PRE-swap
    // live dir and its manifest write below would overwrite the
    // recovery record — silently discarding the staged sync state
    // (writeManifest's "no pending manifest at entry" invariant)
    recoverPendingSwap()
    if (!exists) return -1L
    def dataFiles() = graft.util.Fs.list(path)
      .filter(_.getPath.getName.endsWith(".parquet"))
    val files = dataFiles()
    val want = math.max(1L,
      (files.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes)
    if (files.size <= want) return -1L
    val staging = path + ".compact-staging"
    spark.read.parquet(path).coalesce(want.toInt)
      .write.mode("overwrite").parquet(staging)
    swapIn(staging) // deletes the manifest on completion
    dataFiles().size.toLong
  }

  /** Swap-manifest path: present ⇔ a whole-dir swap is in flight. */
  private def manifestFile = path + ".swap-manifest"

  /** The manifest's one entry: the staging dir replaces the live dir. */
  private val SwapEntry = "*:swap"

  /** Commit a COMPLETE staged next-state: log the swap, then replay it. */
  private def swapIn(staging: String): Unit = {
    writeManifest(staging)
    completeSwap()
  }

  /** Write the swap manifest ATOMICALLY: line 1 the staging dir, then
    * [[SwapEntry]]. It is written only after the staging write has
    * fully succeeded, so a manifest on disk always points at a
    * COMPLETE staged next-state. Written tmp-then-rename through the
    * path's Hadoop `FileSystem` (atomic on local/HDFS; on object
    * stores rename is a per-object copy, so a replayed swap is
    * crash-consistent but a concurrent reader can observe the window
    * mid-rename). */
  private def writeManifest(staging: String): Unit = {
    val m = graft.util.Fs.path(manifestFile)
    val fs = graft.util.Fs.fsOf(m)
    val tmp = m.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(s"$staging\n$SwapEntry"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(m)) fs.delete(m, false)
    if (!fs.rename(tmp, m))
      throw new java.io.IOException(s"manifest rename failed: $tmp -> $m")
  }

  /** Replay the whole-dir swap recorded in the manifest — every step
    * is idempotent, so this completes a swap crashed at ANY point
    * between manifest write and manifest delete: a staged dir that
    * still exists gets rm(live)-then-rename (a crash between those two
    * re-runs the rename); a staged dir that is gone already renamed.
    * Any other entry is a per-bucket manifest of a partitioned layout
    * this target no longer writes: replaying it as a whole-dir swap
    * would drop every bucket it did not touch, so it fails instead. */
  private def completeSwap(): Unit = {
    val m = graft.util.Fs.path(manifestFile)
    val mfs = graft.util.Fs.fsOf(m)
    val in = mfs.open(m)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n").toSeq
      finally in.close()
    val unknown = lines.tail.filter(e => e.nonEmpty && e != SwapEntry)
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"FileTarget $path: pending swap manifest has entries " +
          s"${unknown.mkString(", ")}; only a whole-dir $SwapEntry replays")
    val src = graft.util.Fs.path(lines.head)
    val dst = graft.util.Fs.path(path)
    val fs = graft.util.Fs.fsOf(dst)
    if (fs.exists(src)) {
      if (fs.exists(dst)) fs.delete(dst, true)
      Option(dst.getParent).foreach(fs.mkdirs(_))
      if (!fs.rename(src, dst))
        throw new java.io.IOException(s"swap rename failed: $src -> $dst")
    } // else: the rename completed before the crash
    mfs.delete(m, false)
    ()
  }

  /** Crash recovery: a pending manifest means the last sync staged
    * its next-state but died mid-swap — finish it before reading or
    * writing, so readers never see a half-swapped table. */
  private def recoverPendingSwap(): Unit =
    if (graft.util.Fs.exists(manifestFile)) completeSwap()

  override def currentState(spark: SparkSession): DataFrame = {
    recoverPendingSwap()
    currentStateNoRecover(spark)
  }

  private def currentStateNoRecover(spark: SparkSession): DataFrame = {
    if (!exists) {
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType))))
    } else {
      val df = spark.read.parquet(path)
      val ver = versionColumn.filter(df.columns.contains)
        .map(col(_).cast("long")).getOrElse(lit(null).cast("long"))
      df.withColumn("id", col(idColumn).cast("string"))
        .withColumn("version", ver)
    }
  }

  override def applyChanges(
      spark: SparkSession, cs: ChangeSet, mapper: Mapper,
      dispatch: DataTarget.EventDispatch): ApplyResult = {
    // Mapping at write time; __version rides along as the new version.
    def mapped(df: DataFrame): DataFrame = {
      val m = mapper.applyKeepingKeys(df)
      m.withColumn(idColumn, col(Records.IdCol))
        .withColumn("version", col(Records.VersionCol))
        .drop(Records.IdCol, Records.VersionCol)
    }
    // one evaluation of the diff join for all branches, lineage cut
    // so the commit below cannot invalidate the phase payload frames
    val csp = cs.persisted()
    val addedM = mapped(csp.added)
    val updatedM = mapped(csp.updated)
    // Branch counts BEFORE the state write (one job, not three): it
    // materializes the lazy localCheckpoint, so the write below
    // re-scans in-memory checkpoint blocks instead of forcing its own
    // diff evaluation — and an empty delta over a committed state
    // skips the write, manifest and swap altogether (a no-op sync
    // rewrites nothing). A first sync still creates the state.
    val (nAdd, nUpd, nRem) = csp.counts
    if (nAdd + nUpd + nRem > 0 || !exists)
      commitNext(spark, csp, addedM, updatedM)
    // Dispatch BEFORE releasing the checkpointed diff: the phase
    // payload frames (addedM/updatedM) are plans over the snapshot —
    // a listener evaluating them after unpersist would find the
    // checkpoint blocks gone.
    DataTarget.dispatchSnapshotPhases(dispatch,
      addedM, nAdd, updatedM, nUpd, csp.removedIds, nRem, idCol = idColumn)
    csp.unpersist()
    ApplyResult(nAdd, nUpd, nRem)
  }

  /** Stage `old ∖ (updated ∪ removed) ∪ added ∪ updated` and swap it
    * in. */
  private def commitNext(spark: SparkSession, csp: ChangeSet,
      addedM: DataFrame, updatedM: DataFrame): Unit = {
    val old = currentState(spark)
    val touched = csp.updated.select(col(Records.IdCol).as("id"))
      .unionByName(csp.removedIds.select(col("id")))
    // align the surviving rows to the mapped schema — the old state
    // may lack newly-mapped columns (first run / mapping change)
    val surviving = old.join(touched, Seq("id"), "left_anti")
    val survivors = surviving.select(addedM.schema.map { f =>
      val srcName =
        if (f.name == idColumn) "id"
        else surviving.columns.find(_.equalsIgnoreCase(f.name)).getOrElse("")
      (if (srcName.nonEmpty) col(srcName).cast(f.dataType)
       else lit(null).cast(f.dataType)).as(f.name)
    }: _*)
    val next = survivors.unionByName(addedM).unionByName(updatedM)
    // Overwrite must not read-while-write the same path: stage, then
    // the manifest-logged whole-dir swap — a bare rm+rename would lose
    // the entire state to a crash between the two.
    val staging = path + ".staging"
    next.write.mode("overwrite").parquet(staging)
    swapIn(staging)
  }

  override def removeAll(spark: SparkSession): Long = {
    recoverPendingSwap()
    val n = if (exists) currentStateNoRecover(spark).count() else 0L
    graft.util.Fs.deleteRec(path)
    n
  }
}
