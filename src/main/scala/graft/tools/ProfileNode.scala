package graft.tools

import graft.core.{Diff, Records}
import graft.mapper.Mapper
import graft.pipeline.{ImportService, Preset}
import graft.sources.InlineSource
import graft.targets.NodeTarget
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch profiler for the q_sync_apply_node replay — times each
  * sync and the removeAll separately (builder-local diagnosis; not
  * part of the driver contract). */
object ProfileNode {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.util.Tables.session("profile-node", "32")
    if (args.contains("-noaqe"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    def t(name: String) = s"$dir/$name.parquet"
    // warmup
    graft.SparkEntry.queries("q1_agg")(spark, dir).count()

    (1 to 2).foreach { rep =>
      val root = java.nio.file.Files.createTempDirectory("profnode").toString
      val path = root + "/nodes"
      def src(sync: Int): DataFrame = {
        val o = spark.read.parquet(t("orders"))
        val k = col("o_orderkey")
        val v = unix_timestamp(col("o_orderdate"))
        val (pred, ver) = sync match {
          case 1 => (k % 3 =!= 0, v)
          case 2 => (k % 5 =!= 0, v + when(k % 2 === 0, 86400L).otherwise(0L))
          case _ => (k % 7 =!= 0, v + when(k % 11 === 0, 172800L).otherwise(0L))
        }
        o.filter(pred).select(
          k.cast("string").as("id"), ver.as("version"),
          when(k % 2 === 0, "even").otherwise("odd").as("bucket"),
          lit(s"S$sync").as("src"))
      }
      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[prof] rep$rep $label%-12s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
        r
      }
      (1 to 3).foreach { i =>
        val tg = NodeTarget(path, idPrefix = "node-", softDelete = true,
          variantsResolver = _ => array(lit("de"), lit("en")),
          parentPathResolver = Some(df => concat(lit("/sites/"), col("bucket"))))
        timed(s"sync$i") {
          new ImportService(Preset(
            InlineSource(_ => src(i)), tg, Mapper(Seq("src" -> "src")),
            idAttribute = "id", versionAttribute = Some("version"),
            diffOptions = tg.diffOptions)).importData(spark)
        }
      }
      println(s"[prof] rep$rep state files after sync3: " +
        NodeTarget(path).stateDirResolved.flatMap(d => Option(new java.io.File(d).listFiles())).map(_.count(_.getName.startsWith("part-"))).getOrElse(-1))
      timed("removeAll") {
        NodeTarget(path, softDelete = true, rootPath = "/sites/odd")
          .removeAll(spark)
      }
      timed("readback") {
        NodeTarget(path).table(spark).count()
      }
      graft.util.Fs.deleteRec(root)
    }

    // ── intra-sync breakdown: replay sync1+sync2 manually, timing
    // each phase of sync2 (state exists, all three branches fire) ──
    {
      val root = java.nio.file.Files.createTempDirectory("profnode2").toString
      val path = root + "/nodes"
      def src(sync: Int): DataFrame = {
        val o = spark.read.parquet(t("orders"))
        val k = col("o_orderkey")
        val v = unix_timestamp(col("o_orderdate"))
        val (pred, ver) = sync match {
          case 1 => (k % 3 =!= 0, v)
          case 2 => (k % 5 =!= 0, v + when(k % 2 === 0, 86400L).otherwise(0L))
          case _ => (k % 7 =!= 0, v + when(k % 11 === 0, 172800L).otherwise(0L))
        }
        o.filter(pred).select(
          k.cast("string").as("id"), ver.as("version"),
          when(k % 2 === 0, "even").otherwise("odd").as("bucket"),
          lit(s"S$sync").as("src"))
      }
      def mkTg() = NodeTarget(path, idPrefix = "node-", softDelete = true,
        variantsResolver = _ => array(lit("de"), lit("en")),
        parentPathResolver = Some(df => concat(lit("/sites/"), col("bucket"))))
      val tg1 = mkTg()
      new ImportService(Preset(
        InlineSource(_ => src(1)), tg1, Mapper(Seq("src" -> "src")),
        idAttribute = "id", versionAttribute = Some("version"),
        diffOptions = tg1.diffOptions)).importData(spark)

      def timed[A](label: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[prof2] $label%-18s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
        r
      }
      val tg2 = mkTg()
      val keyed = timed("keyRecords.count") {
        val k = Records.keyRecords(src(2), "id", Some("version"))
        k.count(); k
      }
      val stateDf = timed("currentState.cnt") {
        val st = tg2.currentState(spark); st.count(); st
      }
      val cs = Diff.computeDataChanges(keyed, stateDf, tg2.diffOptions)
      val csp = timed("diff.checkpoint") {
        val p = cs.persisted(); p.changes.count(); p
      }
      timed("counts") { csp.counts }
      val mapper = Mapper(Seq("src" -> "src"))
      timed("applyChanges") {
        tg2.applyChanges(spark, cs, mapper, (_, _) => ())
      }
      graft.util.Fs.deleteRec(root)
    }
    spark.stop()
  }
}
