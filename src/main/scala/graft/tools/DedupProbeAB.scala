package graft.tools

import org.apache.spark.sql.functions._

/** Backfill-sized probe A/B of [[graft.ext.DedupIndex.probe]]'s
  * `broadcastBatch` escape hatch at key-growth scale: build the index
  * over the even docs, then probe the ENTIRE odd half (at 100x-kg
  * that is ~100x the sf0.1 daily-ingest batch — the backfill shape
  * the pinned broadcast was never meant for) under both join
  * strategies. Reports wall + pair count per mode. Builder-local
  * profiling, not part of the driver contract.
  * Usage: DedupProbeAB <dir> [reps]
  */
object DedupProbeAB {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val spark = graft.util.Tables.session("dedup-probe-ab", "32")
    graft.SparkEntry.queries("q1_agg")(spark, dir).count() // warm
    val hash = graft.ext.TextAnalysis.portableHash60 _
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").cast("string").as("id"), col("text"))
    val batch = d.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").cast("string").as("id"), col("text"))
    val root = s"${System.getProperty("java.io.tmpdir")}/dedupprobeab"
    graft.util.Fs.deleteRec(root)
    val tb0 = System.nanoTime()
    graft.ext.DedupIndex.build(spark, corpus, root, k = 32, bands = 8,
      n = 3, idCol = "id", textCol = "text", baseHash = hash)
    println(f"[probeab] build ${(System.nanoTime() - tb0) / 1e9}%.2fs" +
      s" corpus=${corpus.count()} batch=${batch.count()}")
    for (bcast <- Seq(true, false)) {
      var pairs = 0L
      val wall = (1 to reps).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        pairs = graft.ext.DedupIndex.probe(spark, root, batch,
          threshold = 0.5, idCol = "id", textCol = "text",
          baseHash = hash, broadcastBatch = bcast).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[probeab] broadcastBatch=$bcast wall $wall%.2fs pairs=$pairs")
    }
    spark.stop()
  }
}
