package graft.tools

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Solo re-timer for `SparkEntry.queries` rows (not part of the driver
  * contract). Usage:
  *
  * {{{graft.tools.Prof <dir> <query>... [-r N] [--explain]}}}
  *
  * The session comes from `SPARK_GRAFT_CPUS` as in Bench and Verify and
  * is warmed once on q1_agg. Each rep clears the cache and forces the
  * query with `count()`, as `Bench.timeOnce` does, so a solo re-time
  * compares with its bench row. One line per query reports the best
  * rep's wall, the min/median/max wall over all reps, and the best
  * rep's rows, jobs, executor CPU, shuffle read/write and spill bytes;
  * `--explain` also prints the timed frame's formatted plan. */
object Prof {

  /** What the jobs between two [[Collector.take]]s cost. */
  final case class Counters(
      jobs: Int, cpuS: Double, shuffleReadBytes: Long,
      shuffleWriteBytes: Long, shuffleRecordsRead: Long,
      shuffleRecordsWritten: Long, spillBytes: Long)

  /** Sums job starts and task metrics. Events arrive on the bus thread,
    * so the sums are read only after [[GraftBus.drain]]. */
  final class Collector(spark: SparkSession) extends SparkListener {
    private var c = Counters(0, 0.0, 0L, 0L, 0L, 0L, 0L)
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { c = c.copy(jobs = c.jobs + 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val r = m.shuffleReadMetrics
        val w = m.shuffleWriteMetrics
        synchronized {
          c = c.copy(
            cpuS = c.cpuS + m.executorCpuTime / 1e9,
            shuffleReadBytes = c.shuffleReadBytes + r.totalBytesRead,
            shuffleWriteBytes = c.shuffleWriteBytes + w.bytesWritten,
            shuffleRecordsRead = c.shuffleRecordsRead + r.recordsRead,
            shuffleRecordsWritten = c.shuffleRecordsWritten + w.recordsWritten,
            spillBytes = c.spillBytes + m.memoryBytesSpilled +
              m.diskBytesSpilled)
        }
      }

    /** Counters since the previous take (or since registration). */
    def take(): Counters = {
      GraftBus.drain(spark.sparkContext)
      synchronized {
        val out = c
        c = Counters(0, 0.0, 0L, 0L, 0L, 0L, 0L)
        out
      }
    }
  }

  /** Runs `f` once: its wall seconds, its result, and the counters of
    * exactly the jobs it ran. */
  def measure[A](collector: Collector)(f: => A): (Double, A, Counters) = {
    collector.take()
    val t0 = System.nanoTime()
    val out = f
    val secs = (System.nanoTime() - t0) / 1e9
    (secs, out, collector.take())
  }

  def main(args: Array[String]): Unit = {
    val rIdx = args.indexOf("-r")
    val reps = if (rIdx >= 0) args(rIdx + 1).toInt else 1
    val rest = (if (rIdx >= 0) args.patch(rIdx, Nil, 2) else args).toSeq
    val explain = rest.contains("--explain")
    val positional = rest.filterNot(_ == "--explain")
    val (dir, names) = (positional.head, positional.tail)
    val spark = graft.util.Tables.session("prof",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val collector = new Collector(spark)
    graft.SparkEntry.queries("q1_agg")(spark, dir).count()
    names.foreach { name =>
      val runs = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        measure(collector) {
          val df = graft.SparkEntry.queries(name)(spark, dir)
          (df, df.count())
        }
      }.sortBy(_._1)
      val (secs, (df, rows), c) = runs.head
      val walls = runs.map(_._1)
      val median = (walls((reps - 1) / 2) + walls(reps / 2)) / 2
      println(f"[prof] $name%-24s best=$secs%7.2fs " +
        f"wall=${walls.head}%.2f/$median%.2f/${walls.last}%.2fs " +
        f"rows=$rows jobs=${c.jobs} " +
        f"cpu=${c.cpuS}%.2fs shuffle_read=${c.shuffleReadBytes}B " +
        f"shuffle_write=${c.shuffleWriteBytes}B spill=${c.spillBytes}B")
      // the timed frame, not a rebuilt one: rebuilding would re-run any
      // eager checkpoint inside the query
      if (explain) df.explain("formatted")
    }
    spark.stop()
  }
}
