package graft.tools

import org.apache.spark.sql.functions._

/** Bytes-written A/B of the DELTA-NARROWED index refresh commits:
  * refresh each persisted index family with a ~1% ChangeSet under
  * (a) `deltaCommit = true` (touched partition dirs Spark-written,
  * untouched dirs hard-link-carried) and (b) `deltaCommit = false`
  * (the historical full-table rewrite), on separately-built twin
  * indexes over the same corpus. Reports, per refresh: wall, Spark
  * task `outputMetrics.bytesWritten`, and the committed generation's
  * disk split into NEW bytes (nlink == 1 — actually written) vs
  * CARRIED bytes (nlink > 1 — linked, zero new disk). Builder-local
  * profiling, not part of the driver contract; run on a
  * `tools/scale_up.py --key-growth` dir for the 100x reading.
  *
  * Usage: RefreshScale <dir> [dedup|vector|quality|all]
  */
object RefreshScale {

  private val bytesW = new java.util.concurrent.atomic.AtomicLong

  private def measure[A](tag: String)(f: => A): A = {
    val b0 = bytesW.get
    val t0 = System.nanoTime()
    val a = f
    Thread.sleep(1500) // let the listener bus drain task-end events
    println(f"[rscale] $tag%-34s wall ${(System.nanoTime() - t0) / 1e9}%8.2fs" +
      f"  sparkWritten ${(bytesW.get - b0) / 1e6}%10.2f MB")
    a
  }

  /** (newBytes, carriedBytes) of all part- files under `dir`, split
    * by hard-link count. */
  private def diskSplit(dir: String): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    var fresh = 0L
    var carried = 0L
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-"))
      .foreach { p =>
        val n = java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Number].intValue
        val sz = java.nio.file.Files.size(p)
        if (n > 1) carried += sz else fresh += sz
      }
    (fresh, carried)
  }

  private def reportGen(tag: String, root: String): Unit = {
    val cur = graft.util.GenSwap.currentDir(root).get
    val (fresh, carried) = diskSplit(cur)
    println(f"[rscale] $tag%-34s committed gen: new ${fresh / 1e6}%10.2f MB" +
      f"  carried(links) ${carried / 1e6}%10.2f MB")
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val what = if (args.length > 1) args(1) else "all"
    val spark = graft.util.Tables.session("refresh-scale", "32")
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            bytesW.addAndGet(e.taskMetrics.outputMetrics.bytesWritten)
      })
    val tmp = java.nio.file.Files
      .createTempDirectory("rscale").toString
    graft.SparkEntry.queries("q1_agg")(spark, dir).count() // warm

    if (what == "dedup" || what == "all") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").cast("string").as("id"), col("text"))
      // ~1% ChangeSet: adds = odd %200==1 slice, drops = evens %400==2
      val changed = d.filter(col("doc_id") % 200 === 1)
        .select(col("doc_id").cast("string").as("id"), col("text"))
      val dropped = d.filter(col("doc_id") % 400 === 2)
        .select(col("doc_id").cast("string").as("id"))
      val hash = graft.ext.TextAnalysis.portableHash60 _
      for (mode <- Seq(true, false)) {
        val root = s"$tmp/didx_$mode"
        measure(s"dedup build (delta=$mode twin)") {
          graft.ext.DedupIndex.build(spark, corpus, root,
            k = 32, bands = 8, n = 3, idCol = "id", textCol = "text",
            baseHash = hash)
        }
        measure(s"dedup refresh delta=$mode") {
          graft.ext.DedupIndex.refresh(spark, root, changed, dropped,
            idCol = "id", textCol = "text", baseHash = hash,
            deltaCommit = mode)
        }
        reportGen(s"dedup refresh delta=$mode", root)
      }
    }

    if (what == "vector" || what == "all") {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      val corpus = e.filter(col("vec_id") % 5 =!= 4)
        .select(col("vec_id"), col("embedding"))
      val changed = e.filter(col("vec_id") % 5 === 4 &&
          col("vec_id") % 500 === 4)
        .select(col("vec_id"), col("embedding"))
      val dropped = e.filter(col("vec_id") % 5 =!= 4 &&
          col("vec_id") % 500 === 0)
        .select(col("vec_id").as("id"))
      for (mode <- Seq(true, false)) {
        val root = s"$tmp/vidx_$mode"
        measure(s"vector buildAuto (delta=$mode twin)") {
          graft.ext.VectorIndex.build(spark, corpus, root,
            nCells = graft.ext.Similarity.sizedCells(
              corpus.count(), 256, floor = 8))
        }
        measure(s"vector refresh delta=$mode") {
          graft.ext.VectorIndex.refresh(spark, root, changed,
            dropped, deltaCommit = mode)
        }
        reportGen(s"vector refresh delta=$mode", root)
      }
    }

    if (what == "quality" || what == "all") {
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corpus = d.filter(col("doc_id") % 2 === 0)
      val changed = d.filter(col("doc_id") % 200 === 1)
      val dropped = d.filter(col("doc_id") % 400 === 2)
        .select(col("doc_id").as("id"))
      for (mode <- Seq(true, false)) {
        val root = s"$tmp/qm_$mode"
        measure(s"quality buildModel (delta=$mode twin)") {
          graft.ext.TrainedQuality.buildModel(spark, corpus, root)
        }
        measure(s"quality refreshModel delta=$mode") {
          graft.ext.TrainedQuality.refreshModel(spark, root, changed,
            dropped, deltaCommit = mode)
        }
        reportGen(s"quality refreshModel delta=$mode", root)
      }
    }
    spark.stop()
  }
}
