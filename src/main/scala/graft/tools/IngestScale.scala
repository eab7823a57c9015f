package graft.tools

import org.apache.spark.sql.functions._

/** Builder-local scale smoke of SEMANTIC dedup-at-ingest
  * ([[graft.ext.VectorIndex.dedupIngest]]) on the PRODUCTION index
  * shape: occupancy-sized cells ([[graft.ext.VectorIndex.buildAuto]])
  * probed sub-exhaustively — the certification row (q_semdedup_ingest)
  * pins exactness on a pinned-nCells index at total coverage, which
  * is O(|batch|·n) by construction and NOT the shape a 100 TB ingest
  * runs (the pinned-vs-auto convention, BASELINE.md r16/r17).
  * Reports index build wall, ingest-gate wall, survivor count, and
  * drop agreement vs the brute-force threshold rule on a batch
  * subsample. `--pinned` smokes the CERTIFICATION shape instead
  * (fixed 8 cells, nProbe 8 ⇒ total coverage, shortlist 400 — the
  * q_semdedup_ingest row's exact settings) so the pinned-vs-auto
  * convention has a measured 100x number on BOTH sides.
  * Usage: IngestScale <dir> [reps] [nProbe] [--pinned]
  */
object IngestScale {
  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    val dir = pos(0)
    val reps = if (pos.length > 1) pos(1).toInt else 2
    val nProbe = if (pos.length > 2) pos(2).toInt else 8
    val pinned = args.contains("--pinned")
    val shortlist = if (pinned) 400 else 200
    val spark = graft.util.Tables.session("ingest-scale", "32")
    graft.SparkEntry.queries("q1_agg")(spark, dir).count() // warm
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val corpus = e.filter(col("vec_id") % 5 =!= 4)
    val batch = e.filter(col("vec_id") % 5 === 4)
    val root = s"${System.getProperty("java.io.tmpdir")}/ingestscale"
    graft.util.Fs.deleteRec(root)
    val tb0 = System.nanoTime()
    val cells =
      if (pinned) {
        graft.ext.VectorIndex.build(spark, corpus, root,
          nCells = 8, m = 16, k = 32)
        8
      } else graft.ext.VectorIndex.buildAuto(spark, corpus, root,
        targetPerCell = 256, m = 16, k = 32)
    val buildS = (System.nanoTime() - tb0) / 1e9
    var survivors = 0L
    def gate(bcast: Boolean) = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      survivors = graft.ext.VectorIndex.dedupIngest(spark, root, batch,
        threshold = 0.4, nProbe = nProbe, shortlist = shortlist,
        broadcastBatch = bcast).count()
      (System.nanoTime() - t0) / 1e9
    }.min
    if (args.contains("--phases")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler
                .SparkListenerStageCompleted): Unit = {
            val i = s.stageInfo
            val m = i.taskMetrics
            println(f"[stage] id=${i.stageId}%4d tasks=${i.numTasks}%3d " +
              f"wall=${(i.completionTime.getOrElse(0L) -
                i.submissionTime.getOrElse(0L)) / 1e3}%7.1fs " +
              f"cpu=${m.executorCpuTime / 1e9}%8.1fs " +
              f"run=${m.executorRunTime / 1e3}%8.1fs " +
              f"spillMem=${m.memoryBytesSpilled / 1e6}%8.0fMB " +
              f"spillDisk=${m.diskBytesSpilled / 1e6}%8.0fMB " +
              f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.0fMB " +
              f"in=${m.inputMetrics.bytesRead / 1e6}%8.0fMB " +
              f"  ${i.name.take(60)}")
          }
        })
      def t(name: String)(f: => Long): Unit = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = f
        println(f"[ingestscale-phase] $name%-28s ${
          (System.nanoTime() - t0) / 1e9}%8.2fs rows=$n")
      }
      if (args.contains("--explain")) {
        println(graft.ext.VectorIndex.probe(spark, root, batch, k = 1,
          nProbe = nProbe, shortlist = 200, broadcastQueries = false)
          .queryExecution.executedPlan.toString)
        spark.stop(); return
      }
      t("probe k=1 shortlist=1") {
        graft.ext.VectorIndex.probe(spark, root, batch, k = 1,
          nProbe = nProbe, shortlist = 1,
          broadcastQueries = false).count()
      }
      t("probe k=1 shortlist=200") {
        graft.ext.VectorIndex.probe(spark, root, batch, k = 1,
          nProbe = nProbe, shortlist = 200,
          broadcastQueries = false).count()
      }
      spark.stop(); return
    }
    val gateShuffle = gate(false)
    val gateS = if (args.contains("--ab")) gate(true) else -1.0
    val nB = batch.count()
    // drop agreement vs brute force on ~200 batch rows
    val sample = batch.filter(pmod(xxhash64(col("vec_id")),
      lit(math.max(1L, nB / 200))) === 0)
    val bruteDrop = graft.ext.Similarity
      .bruteForceTopK(corpus, sample, 1)
      .filter(col("sim") >= 0.4)
      .select(col("q_id")).collect().map(_.getLong(0)).toSet
    val gateKept = graft.ext.VectorIndex.dedupIngest(spark, root,
      sample, threshold = 0.4, nProbe = nProbe, shortlist = shortlist,
      broadcastBatch = false)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val sampleIds = sample.select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet
    val gateDrop = sampleIds -- gateKept
    val agree = bruteDrop.intersect(gateDrop).size
    println(f"[ingestscale] corpus=${nB * 4} batch=$nB cells=$cells " +
      f"nProbe=$nProbe build=$buildS%.2fs gateShuffle=$gateShuffle%.2fs " +
      f"gateBroadcast=$gateS%.2fs survivors=$survivors " +
      f"dropAgree=$agree/${bruteDrop.size} falseDrops=${
        gateDrop.diff(bruteDrop).size}")
    spark.stop()
  }
}
