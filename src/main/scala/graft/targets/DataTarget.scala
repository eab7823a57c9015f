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
    * their physical per-phase writes. */
  def dispatchSnapshotPhases(
      dispatch: EventDispatch,
      added: DataFrame, nAdd: Long,
      updated: DataFrame, nUpd: Long,
      removedIds: DataFrame, nRem: Long,
      idCol: String = "id"): Unit = {
    import graft.pipeline.ImportEvent._
    if (nAdd > 0) {
      dispatch(PreAddData, added)
      dispatch(DoAddData, PhaseProgress(nAdd, sampleIds(added, idCol)))
      dispatch(PostAddData, nAdd)
    }
    if (nUpd > 0) {
      dispatch(PreUpdateData, updated)
      dispatch(DoUpdateData, PhaseProgress(nUpd, sampleIds(updated, idCol)))
      dispatch(PostUpdateData, nUpd)
    }
    if (nRem > 0) {
      dispatch(PreRemoveData, removedIds)
      dispatch(DoRemoveData, PhaseProgress(nRem, sampleIds(removedIds, idCol)))
      dispatch(PostRemoveData, nRem)
    }
  }

  /** [[dispatchSnapshotPhases]] with counts AND id samples already in
    * hand — for sinks that fold both into one aggregation over the
    * cached diff (three `sampleIds` limit-jobs collapse into the
    * counts job; see [[graft.targets.NodeTarget]]). Event order and
    * payload shapes are identical. */
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
 * as one parquet dataset keyed by `id` with a `version` column plus
 * mapped attribute columns.
 *
 * Spark has no in-place parquet mutation, so apply = snapshot merge:
 * new state = (old ∖ (updated ∪ removed)) ∪ mapped(added ∪ updated)
 * written atomically via overwrite. This is the standard
 * copy-on-write lakehouse pattern (what Delta/Iceberg do per file
 * group); at 100 TB the same logic applies per partition directory
 * with dynamic partition overwrite rather than whole-table rewrite.
 */
final case class FileTarget(
    path: String,
    idColumn: String = "id",
    versionColumn: Option[String] = Some("version"),
    /** > 0 ⇒ hash-partitioned copy-on-write: state lives under
      * `pt=<bucket>/` dirs keyed by `pmod(xxhash64(id), partitions)`
      * and a sync rewrites ONLY the partitions its changed ids touch.
      * At 100 TB this turns the snapshot merge from O(table) into
      * O(touched partitions) — the lakehouse incremental-merge
      * pattern. 0 (default) = single-snapshot whole-table rewrite. */
    partitions: Int = 0,
    /** > 0 ⇒ the state is a Spark BUCKETED table on `idColumn`
      * (`bucketBy(buckets)` + `sortBy`, registered in the session
      * catalog by a path-derived name): Catalyst then knows the state
      * is hash-partitioned on the diff key, so the sync's full-outer
      * diff join plans with NO exchange on the state side — only the
      * incoming batch shuffles. At 100 TB the state is the big side
      * (it IS the table), so this halves the diff's shuffle volume on
      * every sync. Mutually exclusive with `partitions` (`pt=` dirs
      * use an xxhash64 layout Catalyst's murmur bucketing cannot
      * consume). The catalog entry is re-registered idempotently from
      * the path, so a fresh session (or engine restart) picks the
      * bucketing back up. */
    buckets: Int = 0)
    extends DataTarget {

  require(partitions == 0 || buckets == 0,
    "partitions and buckets are mutually exclusive state layouts")

  /** Session-catalog name for the bucketed state — derived from the
    * path so concurrent targets never collide and a new session can
    * re-register the same table. */
  private def tableName: String =
    "graft_state_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .take(16)

  /** Register (idempotently) the on-disk bucketed state in the
    * session catalog and return it. The CREATE TABLE records the
    * bucket spec — metadata only, the files are already bucketed by
    * [[writeState]]'s `bucketBy` write. The catalog entry is ALSO the
    * schema of record: an all-empty state has no parquet footer to
    * infer from (a zero-row bucketed write stages no files), so
    * writers register the schema explicitly and readers prefer the
    * existing entry; inference from files is only the fresh-session
    * fallback. */
  private def bucketedState(spark: SparkSession): DataFrame = {
    if (!spark.catalog.tableExists(tableName))
      registerBucketed(spark, spark.read.parquet(path).schema.toDDL)
    spark.table(tableName)
  }

  private def registerBucketed(spark: SparkSession, ddl: String): Unit = {
    spark.sql(
      s"CREATE TABLE $tableName ($ddl) USING parquet " +
        s"CLUSTERED BY ($idColumn) SORTED BY ($idColumn) " +
        s"INTO $buckets BUCKETS LOCATION '$path'")
    ()
  }

  /** Write `df` as this target's state in its native layout — the
    * seeding path for tests/bootstrap and the commit path for the
    * bucketed mode. */
  def writeState(spark: SparkSession, df: DataFrame): Unit =
    if (buckets > 0) {
      val staging = path + ".staging"
      val stagingTable = tableName + "_staging"
      spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
      // ONE exchange into exactly `buckets` tasks before the bucketed
      // write: HashPartitioning's partitionIdExpression IS the bucket-id
      // expression (pmod(murmur3(col), n)), so each task holds exactly
      // one bucket and writes exactly ONE file. Without it every input
      // task writes a file per bucket it touches — up to tasks×buckets
      // tiny files per commit, and the file-create/commit-rename churn
      // dominates the sync (profiled: the r7 regression).
      df.repartition(buckets, col(idColumn))
        .write.mode("overwrite")
        .bucketBy(buckets, idColumn).sortBy(idColumn)
        .option("path", staging).saveAsTable(stagingTable)
      // external (path-backed) staging table: DROP removes metadata
      // only, the staged files stay for the swap below
      spark.sql(s"DROP TABLE IF EXISTS $stagingTable")
      // whole-dir swap, manifest-logged (same two-phase commit as the
      // partitioned path): a crash anywhere between manifest write and
      // delete is completed idempotently by the next reader/writer —
      // the staged next-state is never lost mid-swap.
      writeManifest(staging, Seq("*:swap"))
      completeSwap(manifestFile)
      // stable catalog entry: the table's location never changes, so a
      // commit only needs a REFRESH of the file listing. Re-register
      // (DROP/CREATE) ONLY when the schema actually changed (first
      // write / mapping change) — catalog churn per commit uncaches
      // every dependent cached plan and costs three DDLs.
      val sameSchema = spark.catalog.tableExists(tableName) && {
        def shape(s: org.apache.spark.sql.types.StructType) =
          s.fields.map(f => (f.name.toLowerCase, f.dataType)).toSeq
        shape(spark.table(tableName).schema) == shape(df.schema)
      }
      if (sameSchema) spark.sql(s"REFRESH TABLE $tableName")
      else {
        spark.sql(s"DROP TABLE IF EXISTS $tableName")
        registerBucketed(spark, df.schema.toDDL)
      }
    } else if (partitions > 0) {
      df.withColumn("pt", bucketOf(col(idColumn)))
        .repartition(col("pt"))
        .write.mode("overwrite").partitionBy("pt").parquet(path)
    } else df.write.mode("overwrite").parquet(path)

  /** Partition bucket for an id column. */
  private def bucketOf(id: org.apache.spark.sql.Column) =
    pmod(xxhash64(id.cast("string")), lit(partitions.toLong))

  private def exists: Boolean = graft.util.Fs.list(path).nonEmpty

  /**
   * Small-files compaction — the lakehouse maintenance op a
   * copy-on-write table needs after many incremental syncs: rewrite
   * the current state into `ceil(totalBytes / targetFileBytes)` files
   * (flat layout) or one file per `pt=` partition (partitioned
   * layout), committed through the SAME manifest-logged whole-dir
   * swap as a sync, so a crash at any point is completed idempotently
   * by the next reader/writer and the content is never mid-rewrite.
   * Bucketed states are a no-op: [[writeState]] already writes
   * exactly one file per bucket. Returns the post-compaction data
   * file count, or −1 if the state was already compact enough (no
   * rewrite performed). At 100 TB this runs per partition directory
   * on whatever cadence write amplification allows.
   */
  def compact(spark: SparkSession,
      targetFileBytes: Long = 128L << 20): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    // finish any crashed sync's pending swap FIRST: compact as the
    // first op after a writer crash would otherwise read the PRE-swap
    // live dir and its manifest write below would overwrite the
    // recovery record — silently discarding the staged sync state
    // (writeManifest's "no pending manifest at entry" invariant)
    recoverPendingSwap(spark)
    if (buckets > 0 || !exists) return -1L
    def dataFiles(d: String): Seq[org.apache.hadoop.fs.FileStatus] =
      graft.util.Fs.list(d).flatMap {
        case s if s.isDirectory => dataFiles(s.getPath.toString)
        case s if s.getPath.getName.endsWith(".parquet") => Seq(s)
        case _ => Nil
      }
    val files = dataFiles(path)
    val want = math.max(1L,
      (files.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes)
    val partDirs = if (partitions > 0)
      graft.util.Fs.list(path)
        .count(s => s.isDirectory && s.getPath.getName.startsWith("pt="))
    else 1
    // partitioned target shape = one file per pt dir; flat = `want`
    if (files.size <= math.max(want, partDirs.toLong)) return -1L
    val staging = path + ".compact-staging"
    val df = spark.read.parquet(path)
    if (partitions > 0)
      df.repartition(col("pt")).write.mode("overwrite")
        .partitionBy("pt").parquet(staging)
    else
      df.coalesce(want.toInt).write.mode("overwrite").parquet(staging)
    writeManifest(staging, Seq("*:swap"))
    completeSwap(manifestFile) // deletes the manifest on completion
    dataFiles(path).size.toLong
  }

  /** Swap-manifest path: present ⇔ a bucket swap is in flight. */
  private def manifestFile = path + ".swap-manifest"

  /** Write the swap manifest ATOMICALLY (tmp + POSIX rename): line 1
    * the staging dir, then one `<bucket>:<action>` line per touched
    * bucket — `swap` (a staged dir replaces the live one) or `drop`
    * (every row of the bucket was removed; the live dir goes). The
    * action is recorded, not inferred, because DURING RECOVERY
    * "staged dir absent" is ambiguous: it also describes a bucket
    * whose rename already completed before the crash — inferring
    * `drop` there would delete freshly-committed data. It is written
    * only after the staging write has fully succeeded, so a manifest
    * on disk always points at a COMPLETE staged next-state. */
  private def writeManifest(staging: String, parts: Array[Long]): Unit =
    writeManifest(staging, parts.toSeq.map { p =>
      val action =
        if (graft.util.Fs.exists(s"$staging/pt=$p")) "swap" else "drop"
      s"$p:$action"
    })

  /** Raw-entry overload — also carries the bucketed whole-dir swap
    * (`*:swap`: the staging dir itself replaces the live dir).
    * Written tmp-then-rename through the path's Hadoop `FileSystem`
    * (atomic on local/HDFS; on object stores rename is a per-object
    * copy, so a replayed swap is crash-consistent but a concurrent
    * reader can observe the window mid-rename). */
  private def writeManifest(staging: String, entries: Seq[String]): Unit = {
    val m = graft.util.Fs.path(manifestFile)
    val fs = graft.util.Fs.fsOf(m)
    val tmp = m.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write((staging +: entries).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(m)) fs.delete(m, false)
    if (!fs.rename(tmp, m))
      throw new java.io.IOException(s"manifest rename failed: $tmp -> $m")
  }

  /** Replay the bucket swap recorded in `manifest` — every step is
    * idempotent, so this completes a swap crashed at ANY point
    * between manifest write and manifest delete: a `swap` bucket
    * whose staged dir still exists gets rm-then-rename (a crash
    * between those two re-runs the rename); one whose staged dir is
    * gone already renamed — skipped; a `drop` bucket's live dir is
    * deleted (rm is idempotent). */
  private def completeSwap(manifest: String): Unit = {
    val m = graft.util.Fs.path(manifest)
    val mfs = graft.util.Fs.fsOf(m)
    val in = mfs.open(m)
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n").toSeq
      finally in.close()
    val staging = lines.head
    lines.tail.filter(_.nonEmpty).foreach { entry =>
      val Array(p, action) = entry.split(":", 2)
      // `*` = whole-dir swap (bucketed mode): the staging dir itself
      // replaces the live dir; per-bucket entries swap `pt=` subdirs
      val src = graft.util.Fs.path(
        if (p == "*") staging else s"$staging/pt=$p")
      val dst = graft.util.Fs.path(
        if (p == "*") path else s"$path/pt=$p")
      val fs = graft.util.Fs.fsOf(dst)
      action match {
        case "swap" =>
          if (fs.exists(src)) {
            if (fs.exists(dst)) fs.delete(dst, true)
            Option(dst.getParent).foreach(fs.mkdirs(_))
            if (!fs.rename(src, dst))
              throw new java.io.IOException(
                s"bucket swap rename failed: $src -> $dst")
          } // else: this bucket's rename completed before the crash
        case _ => if (fs.exists(dst)) { fs.delete(dst, true); () }
      }
    }
    graft.util.Fs.deleteRec(staging)
    mfs.delete(m, false)
    ()
  }

  /** Crash recovery: a pending manifest means the last sync staged
    * its next-state but died mid-swap — finish it before reading or
    * writing, so readers never see a half-swapped table. */
  private def recoverPendingSwap(spark: SparkSession): Unit = {
    if (graft.util.Fs.exists(manifestFile)) {
      completeSwap(manifestFile)
      // the recovered swap moved files under the table's location —
      // a LIVE session completing another process's crash must drop
      // its cached file listing or later scans chase deleted files
      if (buckets > 0 && spark.catalog.tableExists(tableName))
        spark.sql(s"REFRESH TABLE $tableName")
    }
  }

  override def currentState(spark: SparkSession): DataFrame = {
    recoverPendingSwap(spark)
    currentStateNoRecover(spark)
  }

  private def currentStateNoRecover(spark: SparkSession): DataFrame = {
    // a registered bucketed state is readable even with ZERO data
    // files (the catalog holds the schema) — check it before the
    // on-disk existence probe
    val bucketedReg = buckets > 0 && spark.catalog.tableExists(tableName)
    if (!bucketedReg && !exists) {
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("version",
            org.apache.spark.sql.types.LongType))))
    } else {
      val df =
        if (buckets > 0) bucketedState(spark) else spark.read.parquet(path)
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

    // touched partition buckets (partitioned mode): collect is ≤
    // `partitions` longs, driver-side metadata — not data
    val touchedParts: Array[Long] =
      if (partitions > 0)
        csp.changes.filter(col("__change").isNotNull)
          .select(bucketOf(col("__change_id")).as("pt"))
          .distinct().collect().map(_.getLong(0)).sorted
      else Array.empty
    val touchedSet = touchedParts.toSet

    val old0 = currentState(spark)
    // partitioned mode: restrict the merge to touched buckets via the
    // PARTITION DIRECTORY column — Catalyst prunes untouched dirs out
    // of the scan entirely (they are neither read nor rewritten)
    val old =
      if (partitions > 0 && old0.columns.contains("pt"))
        old0.filter(col("pt").isInCollection(touchedSet))
      else old0
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

    val staging = path + ".staging"
    if (partitions > 0) {
      // Partitioned copy-on-write: only the buckets containing a
      // changed id are recomputed and swapped; untouched partition
      // dirs are not read, written, or moved. The swap itself is a
      // manifest-logged two-phase commit: stage everything, atomically
      // record (staging dir + touched buckets), replay the idempotent
      // per-bucket swap, delete the manifest. A crash anywhere
      // between manifest write and delete is detected by the next
      // reader/writer and completed from the manifest
      // ([[recoverPendingSwap]]) — no half-swapped table is ever
      // observable past that point.
      // repartition on the dir column first: each touched pt dir is
      // then written by ONE task as ONE file, instead of every task
      // spraying a file into every dir it touches (tasks×dirs tiny
      // files — the same churn the bucketed commit eliminated). A
      // sync's touched delta is small relative to the table, so one
      // task per touched dir is the right granularity; if a single
      // dir's delta outgrows a task, `partitions` is under-sized for
      // the volume.
      val nextTouched = next
        .withColumn("pt", bucketOf(col(idColumn)))
        .filter(col("pt").isInCollection(touchedSet))
        .repartition(col("pt"))
      nextTouched.write.mode("overwrite")
        .partitionBy("pt").parquet(staging)
      writeManifest(staging, touchedParts)
      completeSwap(manifestFile)
    } else if (buckets > 0) {
      // Bucketed snapshot merge: the staged next-state is written
      // with bucketBy (one file per murmur bucket), manifest-swapped
      // in, and the stable catalog entry refreshed — every later diff
      // consumes the bucketing with zero state-side exchange.
      writeState(spark, next)
    } else {
      // Overwrite must not read-while-write the same path: stage,
      // then the SAME manifest-logged whole-dir swap as the bucketed
      // mode — a bare rm+rename would lose the entire state to a
      // crash between the two (the r7 bucketed-path lesson; the
      // recovery machinery is shared, so the single-snapshot mode
      // gets it for two lines).
      next.write.mode("overwrite").parquet(staging)
      writeManifest(staging, Seq("*:swap"))
      completeSwap(manifestFile)
    }
    // Branch counts AFTER the state write (one job, not three): the
    // write (or, in partitioned mode, the touchedParts collect) is
    // what materializes the lazy localCheckpoint, so this aggregation
    // re-scans in-memory checkpoint blocks instead of forcing its own
    // standalone diff evaluation — measured ~0.3-0.8 s per sync at
    // sf0.1 (the r12 node-sink replay diet).
    val (nAdd, nUpd, nRem) = csp.counts
    // Dispatch BEFORE releasing the checkpointed diff: the phase
    // payload frames (addedM/updatedM) are plans over the snapshot —
    // a listener evaluating them after unpersist would find the
    // checkpoint blocks gone.
    DataTarget.dispatchSnapshotPhases(dispatch,
      addedM, nAdd, updatedM, nUpd, csp.removedIds, nRem, idCol = idColumn)
    csp.unpersist()
    ApplyResult(nAdd, nUpd, nRem)
  }

  override def removeAll(spark: SparkSession): Long = {
    recoverPendingSwap(spark)
    val n = if (exists) currentStateNoRecover(spark).count() else 0L
    graft.util.Fs.deleteRec(path)
    if (buckets > 0) spark.sql(s"DROP TABLE IF EXISTS $tableName")
    n
  }
}
