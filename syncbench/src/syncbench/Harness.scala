package syncbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SyncBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Operation bookkeeping of one run: wall and task-CPU samples per
  * operation kind, attempted/failed counts, and per-layer values.
  *
  * CPU is the executor CPU of the Spark tasks an operation ran, summed
  * from the task metrics. Process CPU of the whole JVM also counts the
  * JIT compiler and GC threads, which are still busy for most of a run
  * this short; it repeated only within 13-18 % from run to run. */
final class Harness(spark: SparkSession) {
  final case class Sample(wallS: Double, cpuS: Double)

  private val taskCpuNs = new AtomicLong
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) taskCpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  })
  private def drainedTaskCpuNs(): Long = {
    SyncBenchBus.drain(spark.sparkContext)
    taskCpuNs.get()
  }

  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Sample]]
  private val layer = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  /** Check failures outside the counted operations (set-up). */
  val setupErrors = ArrayBuffer.empty[String]
  /** Set when an operation threw: the run stops after the current round. */
  var aborted = false

  /** Run one operation, time it, then check its outcome. Counted
    * operations run while [[measuring]] are the measured ones; the others
    * belong to set-up. A measured operation whose check fails is failed
    * and its sample is dropped. */
  def op[T](kind: String, counted: Boolean)(body: => T)(
      check: T => Seq[String]): Option[T] = {
    val c0 = drainedTaskCpuNs()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (drainedTaskCpuNs() - c0) / 1e9
    val errs = r match {
      case Right(v) => check(v)
      case Left(e) =>
        aborted = true
        Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
    }
    errs.foreach(e => System.err.println(s"syncbench: $kind check failed: $e"))
    if (counted && measuring) {
      attempted += 1
      if (errs.nonEmpty) failed += 1
      else samples.getOrElseUpdate(kind, ArrayBuffer.empty) += Sample(wall, cpu)
    } else setupErrors ++= errs.map(e => s"$kind: $e")
    r.toOption
  }

  /** Off during set-up and warm-up: round operations then count as
    * set-up, and per-layer values are not kept. */
  var measuring = false

  def layerValue(name: String, v: Double): Unit =
    if (measuring) layer.getOrElseUpdate(name, ArrayBuffer.empty) += v

  def layerMedians: Map[String, Double] =
    layer.map { case (k, v) => k -> Harness.median(v.toSeq) }.toMap
}

object Harness {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Regular files under `dir` by inode, each inode once: inode → bytes. */
  def inodes(dir: String): Map[Any, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val it = Files.walk(root)
      try {
        val out = mutable.HashMap.empty[Any, Long]
        it.forEach { (p: Path) =>
          if (Files.isRegularFile(p))
            out(Files.getAttribute(p, "unix:ino")) = Files.size(p)
        }
        out.toMap
      } finally it.close()
    }
  }

  def deleteRec(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val it = Files.walk(root)
      try it.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach((p: Path) => Files.delete(p))
      finally it.close()
    }
  }
}
