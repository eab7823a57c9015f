package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Reads of the flat-segment index families after a build and two
  * refreshes: a segment is a few files, so no read makes Spark list
  * partition dirs with a parallel job. */
class FlatSegmentReadSpec extends SparkSpec {
  import spark.implicits._

  /** `body`'s result and the description of every job it started. */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    org.apache.spark.GraftBus.drain(sc)
    sc.addSparkListener(listener)
    val out = try {
      val r = body
      org.apache.spark.GraftBus.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    (out, descs.asScala.toSeq)
  }

  private def assertNoListing(what: String, jobs: Seq[String]): Unit = {
    assert(jobs.nonEmpty, what)
    assert(!jobs.exists(_.startsWith("Listing leaf files")), s"$what: $jobs")
  }

  private def text(i: Long) =
    s"alpha beta gamma delta epsilon zeta eta theta w$i"

  test("a 64-cell VectorIndex probe, a RagStore token lookup over 400 " +
      "docs, a clip search and a scoreFromStore start no file-listing " +
      "job after a build and two refreshes") {
    // spread vectors (a hash, not a short period) so k-means fills
    // all 64 cells
    def vecs(ids: Seq[Long]) = ids.map { i =>
      (i, (0 until 8).map(d =>
        math.floorMod(i * 2654435761L + d * 40503L, 1000L).toFloat / 500f - 1f))
    }.toDF("vec_id", "embedding")
    val vRoot = tmpDir("flat") + "/vec"
    VectorIndex.build(spark, vecs(1L to 1000L), vRoot, nCells = 64,
      m = 4, k = 8)
    VectorIndex.refresh(spark, vRoot, vecs(Seq(1001L)), Seq(5L).toDF("id"))
    VectorIndex.refresh(spark, vRoot, vecs(Seq(1002L)), Seq(6L).toDF("id"))
    val (probed, vJobs) = jobsDuring(VectorIndex.probe(spark, vRoot,
      vecs(Seq(10L, 20L, 30L)), k = 3, nProbe = 64).collect())
    assert(probed.length === 9)
    assertNoListing("VectorIndex.probe", vJobs)

    def docs(ids: Seq[Long]) = ids.map(i => (i.toString, text(i)))
      .toDF("doc_id", "text")
    val rRoot = tmpDir("flat") + "/rag"
    RagStore.build(spark, docs(1L to 400L), rRoot)
    RagStore.refresh(spark, rRoot, docs(Seq(401L)), Seq("3").toDF("id"))
    RagStore.refresh(spark, rRoot, docs(Seq(402L)), Seq("4").toDF("id"))
    val (posted, rJobs) = jobsDuring(RagStore.servingView(spark, rRoot)
      .filter(col("tok") === "w401").collect())
    assert(posted.nonEmpty)
    assertNoListing("RagStore.servingView", rJobs)

    val media = Multimodal.synthesizeWav(
      (1L to 40L).toDF("doc_id"), "doc_id")
    val idL = col("media_id").cast("long")
    val cRoot = tmpDir("flat") + "/clip"
    AudioHash.buildClipIndex(spark, media.filter(idL <= 30), cRoot)
    AudioHash.refreshClipIndex(spark, cRoot,
      media.filter(idL > 30 && idL <= 35), Seq("2").toDF("id"))
    AudioHash.refreshClipIndex(spark, cRoot,
      media.filter(idL > 35), Seq("3").toDF("id"))
    val clips = AudioHash.extractClips(media.filter(idL % 5 === 0), 32, "c")
    val (found, cJobs) = jobsDuring(
      AudioHash.searchClipIndex(spark, cRoot, clips).collect())
    assert(found.nonEmpty)
    assertNoListing("AudioHash.searchClipIndex", cJobs)

    val labeled = (0L until 60L).map(i => (i, text(i) +
      (if (i % 2 == 0) " the cat sat on the mat" else " quark flux boson")))
      .toDF("doc_id", "text")
    val qRoot = tmpDir("flat") + "/quality"
    TrainedQuality.buildModel(spark, labeled.filter($"doc_id" < 50), qRoot)
    TrainedQuality.refreshModel(spark, qRoot,
      labeled.filter($"doc_id" >= 50 && $"doc_id" < 55), Seq(1L).toDF("id"))
    TrainedQuality.refreshModel(spark, qRoot,
      labeled.filter($"doc_id" >= 55), Seq(2L).toDF("id"))
    val (scored, qJobs) = jobsDuring(
      TrainedQuality.scoreFromStore(spark, qRoot, labeled).collect())
    assert(scored.length === 60)
    assertNoListing("TrainedQuality.scoreFromStore", qJobs)
  }
}
