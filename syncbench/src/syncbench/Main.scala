package syncbench

import java.lang.management.ManagementFactory

/**
 * Benchmark entry point: one workload per JVM.
 *
 *   syncbench.Main --workload <file_sync|jdbc_sync|dedup_index> --seed <n>
 *     --seconds <s> --trace <0|1> --cpus <n> --work <dir> --trace-dir <dir>
 *
 * Set-up (timed as `setup_s`) runs from the JVM's own start through the
 * session, input generation and the initial full import or index build,
 * done [[Main.SetupRepeats]] times into fresh targets (the median counts),
 * and the workload's warm-up rounds. Then whole rounds run until `seconds`
 * have passed, and one final verification operation checks the committed
 * state. The last stdout line is the result object.
 */
object Main {
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val work = opt("work")
    val graftEnv = sys.env.keySet.filter(_.startsWith("GRAFT_")).toSeq.sorted

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.util.Tables.session("syncbench", cpus.toString)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val rec = if (trace) Some(new Recorder(spark)) else None
    val h = new Harness(spark)
    val w: Workload = workload match {
      case "file_sync" => new SyncWorkload(spark, h, rec, seed, work, cpus, jdbc = false)
      case "jdbc_sync" => new SyncWorkload(spark, h, rec, seed, work, cpus, jdbc = true)
      case "dedup_index" => new DedupWorkload(spark, h, rec, seed, work, cpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val genS = Harness.timeS(w.prepare())
      // a traced run reports no set-up time, so it sets up once
      val loads = (0 until (if (trace) 1 else SetupRepeats))
        .map(i => Harness.timeS(w.initialLoad(i)))
      if (trace) w.twinLoad()
      w.afterLoads()
      val warmS = Harness.timeS((0 until w.warmupRounds).foreach(w.round))
      val setupS = sessionS + genS + Harness.median(loads) + warmS

      h.measuring = true
      val t0 = System.nanoTime()
      var rounds = 0
      var stateBytes = 0.0
      do {
        w.round(w.warmupRounds + rounds)
        // state size after the first measured round, so it does not
        // depend on how many rounds fit in the run
        if (rounds == 0) stateBytes = w.stateBytesPerRow()
        rounds += 1
      } while (!h.aborted && (System.nanoTime() - t0) / 1e9 < seconds)
      h.op("verify", counted = true)(w.verify())(identity)
      val peakRss = Harness.peakRssMb()

      def med(kind: String, f: h.Sample => Double): Double =
        Harness.median(h.samples.getOrElse(kind, Nil).map(f).toSeq)
      val metrics: Seq[(String, Double, String)] =
        if (trace) {
          val m = h.layerMedians
          Layers.names.map(n => (n, m.getOrElse(n, 0.0), Layers.unit(n)))
        } else Seq(
          ("setup_s", setupS, "s"),
          ("sync_s", med("sync", _.wallS), "s"),
          ("noop_sync_s", med("noop", _.wallS), "s"),
          ("sync_cpu_s", med("sync", _.cpuS), "s"),
          ("read_s", med("read", _.wallS), "s"),
          ("state_bytes_per_row", stateBytes, "B"))

      val info = Map[String, Any](
        "workload" -> workload, "seed" -> seed, "trace" -> trace,
        "cpus" -> cpus, "graft_env" -> graftEnv, "peak_rss_mb" -> peakRss,
        "default_engine_knobs" -> graftEnv.isEmpty, "rounds" -> rounds,
        "setup" -> Map("session_s" -> sessionS, "inputs_s" -> genS,
          "initial_loads_s" -> loads, "warmup_s" -> warmS),
        "samples" -> h.samples.map { case (k, v) =>
          k -> Map("wall_s" -> v.map(_.wallS), "cpu_s" -> v.map(_.cpuS)) },
        "setup_errors" -> h.setupErrors)
      println(Json.write(Map("info" -> info)))
      rec.foreach { tr =>
        tr.close()
        val f = new java.io.File(opt("trace-dir"),
          s"trace-$workload-seed$seed-${System.currentTimeMillis()}.json")
        java.nio.file.Files.write(f.toPath,
          tr.toJson(Map("info" -> info)).getBytes("UTF-8"))
        System.err.println(s"syncbench: trace written to $f")
      }
      println(Json.write(Map(
        "correct" -> (h.setupErrors.isEmpty && graftEnv.isEmpty),
        "attempted" -> h.attempted, "failed" -> h.failed,
        "metrics" -> scala.collection.immutable.ListMap(metrics.map {
          case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }: _*))))
    } finally {
      w.close()
      spark.stop()
    }
  }
}
