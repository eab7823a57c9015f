package graft.tools

import org.apache.spark.sql.functions._

/** Phase breakdown of VectorIndex.buildAuto at a given dir — where
  * does the build wall go (count / sample / k-means / PQ / encode+
  * write)? Builder-local profiling only. Usage: AnnBuildProf <dir> */
object AnnBuildProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.util.Tables.session("ann-prof", "32")
    graft.SparkEntry.queries("q1_agg")(spark, dir).count() // warm
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[annprof] $tag%-14s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      r
    }
    val n = t("count")(e.count())
    val nCells = graft.ext.Similarity.sizedCells(n, 256, floor = 8)
    val sampleN = math.min(65536, math.max(2048, 16 * nCells))
    println(s"[annprof] nCells=$nCells sampleN=$sampleN")
    val sample = t("trainSample")(
      graft.ext.Similarity.trainSample(e, sampleN))
    val cents = t("kmeans")(
      graft.ext.Similarity.trainCentroidsOnSample(sample, nCells))
    val cbs = t("pq")(
      graft.ext.Similarity.trainPqCodebooksOnSample(sample, m = 16, k = 32))
    val root = s"${System.getProperty("java.io.tmpdir")}/annprof-idx"
    graft.util.Fs.deleteRec(root)
    t("encode+write") {
      val enc = graft.util.Tables.spread(e).select(
        col("vec_id").as("id"),
        graft.ext.Similarity.pqCodesCol(col("embedding"), cbs).as("codes"),
        col("embedding").as("vec"),
        graft.ext.Similarity.centroidAssign(col("embedding"), cents)
          .as("cell"))
      enc.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(root)
    }
    graft.util.Fs.deleteRec(root)
    val root2 = s"${System.getProperty("java.io.tmpdir")}/annprof-idx2"
    graft.util.Fs.deleteRec(root2)
    t("buildAuto e2e")(
      graft.ext.VectorIndex.buildAuto(spark, e, root2,
        targetPerCell = 256, m = 16, k = 32))
    graft.util.Fs.deleteRec(root2)
    // replicate the AnnScale preamble (brute-force truth) to see
    // whether it contaminates a following build
    val queries = e.filter(col("vec_id") % 100 === 0)
    val nQ = t("nQ count")(queries.count())
    val qSample = queries.filter(pmod(xxhash64(col("vec_id")),
      lit(math.max(1L, nQ / 100))) === 0)
    t("bruteForce")(graft.ext.Similarity
      .bruteForceTopK(e, qSample, 5).count())
    t("buildAuto after-bf")(
      graft.ext.VectorIndex.buildAuto(spark, e, root2,
        targetPerCell = 256, m = 16, k = 32))
    graft.util.Fs.deleteRec(root2)
    spark.stop()
  }
}
