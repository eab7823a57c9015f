package graft.tools

import org.apache.spark.sql.functions._

/** Builder-local A/B of the persisted-index cell sizing (BASELINE.md
  * r16): pinned nCells=8 at total probe coverage (the
  * q_ann_persisted oracle-certification shape — ADC candidates
  * O(|queries|·n), measured super-linear at 100× key-growth) vs the
  * occupancy-sized production path ([[graft.ext.VectorIndex
  * .buildAuto]] + fixed nProbe). Reports build wall, probe wall, and
  * recall@5 against an exact brute-force top-5 over a 100-query
  * subsample (full brute force IS the quadratic shape being avoided).
  * Usage: AnnScale <dir> [reps] [--auto-only]
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val autoOnly = args.contains("--auto-only")
    val pos = args.filterNot(_ == "--auto-only")
    val dir = pos(0)
    val reps = if (pos.length > 1) pos(1).toInt else 2
    val spark = graft.util.Tables.session("ann-scale", "32")
    graft.SparkEntry.queries("q1_agg")(spark, dir).count() // warm
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val queries = e.filter(col("vec_id") % 100 === 0)
    val nQ = queries.count()
    // exact reference for recall: brute-force top-5 for 100 queries
    val qSample = queries.filter(pmod(xxhash64(col("vec_id")), lit(
      math.max(1L, nQ / 100))) === 0)
    val truth = graft.ext.Similarity
      .bruteForceTopK(e, qSample, 5)
      .select(col("q_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    def run(tag: String, nCellsOrAuto: Option[Int],
        nProbe: Int): Unit = {
      // never under <dir> — the testdata dirs are read-only
      val root = s"${System.getProperty("java.io.tmpdir")}/annscale-$tag"
      graft.util.Fs.deleteRec(root)
      val tb0 = System.nanoTime()
      val cells = nCellsOrAuto match {
        case Some(c) =>
          graft.ext.VectorIndex.build(spark, e, root, nCells = c,
            m = 16, k = 32); c
        case None =>
          graft.ext.VectorIndex.buildAuto(spark, e, root,
            targetPerCell = 256, m = 16, k = 32)
      }
      val buildS = (System.nanoTime() - tb0) / 1e9
      val probeS = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        graft.ext.VectorIndex.probe(spark, root, queries, k = 5,
          nProbe = nProbe, shortlist = 100).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      val got = graft.ext.VectorIndex.probe(spark, root, qSample,
        k = 5, nProbe = nProbe, shortlist = 100)
        .select(col("q_id"), col("n_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall =
        if (truth.isEmpty) 1.0
        else truth.intersect(got).size.toDouble / truth.size
      println(f"[annscale] $tag%-12s n=$n%8d cells=$cells%5d " +
        f"nProbe=$nProbe%3d build=$buildS%7.2fs probe=$probeS%7.2fs " +
        f"recall@5=$recall%.3f")
      graft.util.Fs.deleteRec(root)
    }

    // pinned certification shape: 8 cells, total coverage
    if (!autoOnly) run("pinned8_full", Some(8), nProbe = 8)
    // production: occupancy-sized cells, fixed probe width
    run("auto_p8", None, nProbe = 8)
    run("auto_p16", None, nProbe = 16)
    spark.stop()
  }
}
