package syncbench

import org.apache.spark.SyncBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Spark work charged to one span: task metrics from a SparkListener and
  * per-operator scan metrics from a QueryExecutionListener. */
final class SparkAgg {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  var recordsWritten, bytesWritten = 0L
  var scanRows, scanBytes, bandRows = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; recordsWritten += o.recordsWritten
    bytesWritten += o.bytesWritten; scanRows += o.scanRows
    scanBytes += o.scanBytes; bandRows += o.bandRows
    taskIntervals ++= o.taskIntervals
  }
}

/** One traced call. `side` marks a measurement the real operation does not
  * make (a standalone forced projection or shingling pass); side spans are
  * left out of the layer sum that is compared with the operation's wall. */
final class Span(val id: Int, val parent: Int, val name: String,
    val side: Boolean, val startNs: Long, val startMs: Long) {
  var endNs = 0L
  var endMs = 0L
  var jdbc: Map[String, Long] = Map.empty
  def wallS: Double = (endNs - startNs) / 1e9
}

/**
 * The traced run's recorder: spans with parent ids around every public
 * call the benchmark makes, `ImportService.on` event timestamps, counting
 * JDBC driver totals per span, and Spark listener metrics.
 *
 * Attribution rule: the listener bus is drained at every span entry and
 * exit, and each listener event is charged to the innermost span open
 * while it is delivered. So a stage (and its tasks) belongs to the
 * innermost span whose call submitted its job, including jobs that the
 * engine submits from its own worker threads inside that call.
 */
final class Recorder(spark: SparkSession) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var current = 0
  private val aggs = mutable.HashMap.empty[Int, SparkAgg]
  private val events = ArrayBuffer.empty[(Int, String, Long)]

  private def agg(): SparkAgg = aggs.getOrElseUpdate(current, new SparkAgg)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Recorder.this.synchronized { agg().jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized { agg().stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Recorder.this.synchronized {
        val a = agg()
        a.tasks += 1
        a.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime; a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.recordsWritten += m.outputMetrics.recordsWritten
          a.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Recorder.this.synchronized {
        val a = agg()
        scans(qe.executedPlan).foreach { s =>
          val rows = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          a.scanRows += rows
          a.scanBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
          if (s.relation.location.rootPaths.exists(_.toString.contains("/bands")))
            a.bandRows += rows
        }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => (other.children ++ other.subqueries).flatMap(scans)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def drain(): Unit = SyncBenchBus.drain(spark.sparkContext)

  def span[T](name: String, side: Boolean = false)(body: Span => T): T = {
    drain()
    val s = synchronized {
      val sp = new Span(spans.size + 1, stack.headOption.map(_.id).getOrElse(0),
        name, side, System.nanoTime(), System.currentTimeMillis())
      spans += sp; stack = sp :: stack; current = sp.id; sp
    }
    val j0 = CountingDriver.snapshot()
    try body(s)
    finally {
      drain()
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      val j1 = CountingDriver.snapshot()
      s.jdbc = j1.map { case (k, v) => k -> (v - j0(k)) }
      synchronized {
        stack = stack.tail; current = stack.headOption.map(_.id).getOrElse(0)
      }
    }
  }

  def event(name: String): Unit = synchronized {
    events += ((current, name, System.currentTimeMillis()))
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Self time: the span's wall minus the part its children cover. */
  def selfS(s: Span): Double = s.wallS - children(s).map(_.wallS).sum

  /** Spark work of a span and all spans below it. */
  def sparkOf(s: Span): SparkAgg = {
    val out = new SparkAgg
    def walk(x: Span): Unit = {
      aggs.get(x.id).foreach(out.add)
      children(x).foreach(walk)
    }
    synchronized(walk(s))
    out
  }

  /** Wall of `s` during which no Spark task was running. */
  def driverOnlyS(s: Span): Double = {
    val iv = sparkOf(s).taskIntervals
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var end = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    math.max(0.0, s.wallS - busy / 1e3)
  }

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** The whole trace as one JSON document. */
  def toJson(header: Map[String, Any]): String = synchronized {
    val sp = spans.map { s =>
      val a = aggs.getOrElse(s.id, new SparkAgg)
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "side" -> s.side, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "wall_s" -> s.wallS, "self_s" -> selfS(s), "jdbc" -> s.jdbc,
        "spark" -> Map("jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.tasks, "executor_cpu_s" -> a.cpuNs / 1e9,
          "executor_run_s" -> a.runMs / 1e3, "gc_s" -> a.gcMs / 1e3,
          "shuffle_write_bytes" -> a.shuffleWrite,
          "shuffle_read_bytes" -> a.shuffleRead, "spill_bytes" -> a.spill,
          "records_written" -> a.recordsWritten,
          "bytes_written" -> a.bytesWritten, "scan_rows" -> a.scanRows,
          "scan_bytes" -> a.scanBytes))
    }
    val ev = events.map { case (s, n, t) =>
      Map[String, Any]("span" -> s, "event" -> n, "ts_ms" -> t) }
    Json.write(header ++ Map("spans" -> sp.toSeq, "events" -> ev.toSeq))
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
