package syncbench

import graft.core.{ChangeSet, Diff, DiffOptions, Records}
import graft.sources.DataSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark workload. Set-up calls `prepare`, `initialLoad` a few
  * times (each into a fresh, empty target; the last one is kept),
  * `twinLoad` in traced runs, then `afterLoads`; every round after that
  * is a fixed sequence of operations run through the [[Harness]]. */
trait Workload {
  def prepare(): Unit
  def initialLoad(i: Int): Unit
  /** Traced runs only: load the twin target that the decomposed pass
    * syncs, so the user calls and the per-layer calls see the same
    * changes. */
  def twinLoad(): Unit
  def afterLoads(): Unit
  def round(r: Int): Unit
  /** Unmeasured rounds between the initial loads and the measured ones. */
  def warmupRounds: Int = 1
  def stateBytesPerRow(): Double
  def verify(): Seq[String]
  def close(): Unit
}

object Workload {

  /** Per-operation pipeline and Spark-engine metrics of one traced user
    * call (`importData`, a refresh, a probe or a state read). */
  def recordOp(h: Harness, tr: Recorder, kind: String, s: Span,
      cpus: Int): Unit = {
    val a = tr.sparkOf(s)
    def v(n: String, x: Double): Unit = h.layerValue(s"$kind.$n", x)
    v("pipeline.wall_s", s.wallS)
    if (kind != "read") v("pipeline.driver_s", tr.driverOnlyS(s))
    v("pipeline.jobs", a.jobs.toDouble)
    v("spark.executor_cpu_s", a.cpuNs / 1e9)
    v("spark.executor_run_s", a.runMs / 1e3)
    v("spark.gc_s", a.gcMs / 1e3)
    v("spark.shuffle_write_bytes", a.shuffleWrite.toDouble)
    v("spark.shuffle_read_bytes", a.shuffleRead.toDouble)
    v("spark.spill_bytes", a.spill.toDouble)
    v("spark.stages", a.stages.toDouble)
    v("spark.tasks", a.tasks.toDouble)
    v("spark.idle_core_s", math.max(0.0, cpus * s.wallS - a.runMs / 1e3))
  }
}

/**
 * The layers every decomposed pass shares, each forced (cached and
 * counted) in its own span: the source scan, keying, the state read and
 * the diff with its counts. The sink step differs per workload and runs
 * between construction and [[record]].
 */
final class CoreLayers(tr: Recorder, spark: SparkSession, source: DataSource,
    idAttr: String, versionAttr: Option[String], state: => DataFrame) {
  private var nRaw, nKeyed = 0L
  val (raw, sSrc) = tr.span("sources.FileSource.load") { s =>
    val df = source.load(spark).persist(); nRaw = df.count(); (df, s)
  }
  val (keyed, sKey) = tr.span("core.Records.keyRecords") { s =>
    val df = Records.keyRecords(raw, idAttr, versionAttr, source.orderColumn)
      .persist()
    nKeyed = df.count(); (df, s)
  }
  val (local, sState) = tr.span("targets.currentState") { s =>
    val df = state.persist(); df.count(); (df, s)
  }
  val (csp: ChangeSet, counts: (Long, Long, Long), sDiff: Span) =
    tr.span("core.Diff.computeDataChanges") { s =>
      val cs = Diff.computeDataChanges(keyed, local, DiffOptions()).persisted()
      (cs, cs.counts, s)
    }

  /** Record the shared layers and the sink step (`sApply`, which wrote
    * `written` rows, and the storage inodes before and after it), then
    * drop the caches. */
  def record(h: Harness, kind: String, sApply: Span, written: Double,
      before: Map[Any, Long], after: Map[Any, Long], opWallS: Double): Unit = {
    val compared = keyed.select(col(Records.IdCol).as("id"))
      .join(local.select("id"), Seq("id"), "full_outer").count()
    csp.unpersist(); raw.unpersist(); keyed.unpersist(); local.unpersist()
    val changed = counts._1 + counts._2 + counts._3
    val newFiles = after.keySet -- before.keySet
    val newBytes = newFiles.toSeq.map(after).sum.toDouble
    def v(n: String, x: Double): Unit = h.layerValue(s"$kind.$n", x)
    v("sources.scan_s", tr.selfS(sSrc))
    v("sources.rows_read", tr.sparkOf(sSrc).scanRows.toDouble)
    v("sources.bytes_read", tr.sparkOf(sSrc).scanBytes.toDouble)
    v("core.Records.key_s", tr.selfS(sKey))
    v("core.Records.rows_in", nRaw.toDouble)
    v("core.Records.rows_out", nKeyed.toDouble)
    v("core.Records.shuffle_write_bytes", tr.sparkOf(sKey).shuffleWrite.toDouble)
    v("targets.state_read_s", tr.selfS(sState))
    v("core.Diff.join_s", tr.selfS(sDiff))
    v("core.Diff.rows_compared", compared.toDouble)
    v("core.Diff.rows_changed", changed.toDouble)
    v("core.Diff.changed_per_compared", changed.toDouble / math.max(compared, 1))
    v("core.Diff.shuffle_write_bytes", tr.sparkOf(sDiff).shuffleWrite.toDouble)
    v("targets.apply_s", tr.selfS(sApply))
    v("targets.rows_written", written)
    v("targets.files_written", newFiles.size.toDouble)
    v("targets.bytes_written", newBytes)
    v("targets.rows_written_per_changed_row",
      if (changed == 0) 0.0 else written / changed)
    v("targets.write_bytes_per_changed_row",
      if (changed == 0) 0.0 else newBytes / changed)
    val layerSum = Seq(sSrc, sKey, sState, sDiff, sApply).map(tr.selfS).sum
    v("trace.self_gap_s", layerSum - opWallS)
  }
}

/** The per-layer metrics a traced run prints, with unit and direction.
  * A metric whose layer a workload does not run reads 0 there. */
object Layers {
  private val spark = Seq(
    "spark.executor_cpu_s", "spark.executor_run_s", "spark.gc_s",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
    "spark.spill_bytes", "spark.stages", "spark.tasks", "spark.idle_core_s")

  private val change = Seq(
    "pipeline.wall_s", "pipeline.driver_s", "pipeline.jobs",
    "sources.scan_s", "sources.rows_read", "sources.bytes_read",
    "core.Records.key_s", "core.Records.rows_in", "core.Records.rows_out",
    "core.Records.shuffle_write_bytes",
    "core.Diff.join_s", "core.Diff.rows_compared", "core.Diff.rows_changed",
    "core.Diff.changed_per_compared", "core.Diff.shuffle_write_bytes",
    "mapper.project_s",
    "targets.state_read_s", "targets.apply_s", "targets.rows_written",
    "targets.files_written", "targets.bytes_written",
    "targets.rows_written_per_changed_row",
    "targets.write_bytes_per_changed_row",
    "targets.JdbcTarget.statements", "targets.JdbcTarget.batches",
    "targets.JdbcTarget.rollbacks", "targets.JdbcTarget.rows_reexecuted",
    "targets.JdbcTarget.record_errors", "targets.JdbcTarget.connections",
    "util.files_linked", "util.segments_live", "util.tombstone_rows",
    "ext.Dedup.shingle_sign_s", "trace.self_gap_s") ++ spark

  private val read = Seq(
    "pipeline.wall_s", "pipeline.jobs", "targets.state_read_s",
    "ext.Dedup.shingle_sign_s", "ext.DedupIndex.probe_s",
    "ext.DedupIndex.band_rows_scanned", "ext.DedupIndex.verified_pairs") ++
    spark

  val names: Seq[String] =
    Seq("sync", "noop").flatMap(op => change.map(m => s"$op.$m")) ++
      read.map(m => s"read.$m")

  def unit(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("_bytes") || name.endsWith("bytes_read") ||
      name.endsWith("bytes_written") || name.endsWith("bytes_per_changed_row")) "B"
    else if (name.endsWith("_per_changed_row") || name.endsWith("_per_compared")) "ratio"
    else "count"

  def better(name: String): String =
    if (name.endsWith("changed_per_compared") || name.endsWith("verified_pairs")) "higher"
    else "lower"
}
