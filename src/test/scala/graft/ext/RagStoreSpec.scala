package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted retrieval store: lifecycle ≡ full rebuild, delta vs
  * forced-full commit equality, token-tombstone re-publish semantics,
  * hard-link segment carry, compaction bound. */
class RagStoreSpec extends SparkSpec {
  import spark.implicits._

  private def doc(i: Long, extra: String = "") =
    (i.toString, s"alpha beta gamma delta epsilon zeta eta theta w$i $extra")
  private def corpus(ids: Seq[Long]) =
    ids.map(doc(_)).toDF("doc_id", "text")

  private def viewRows(root: String) =
    RagStore.servingView(spark, root)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getString(3), r.getLong(4))).toSet

  test("build + refresh serving view equals a fresh build over the " +
      "final corpus; delta and forced-full commits agree; previous " +
      "segments carry as hard links") {
    val rootA = tmpDir("rag") + "/delta"
    val rootB = tmpDir("rag") + "/full"
    val rootC = tmpDir("rag") + "/fresh"
    val initial = corpus(1L to 40L)
    RagStore.build(spark, initial, rootA)
    RagStore.build(spark, initial, rootB)
    // drop 3 and 4, update 5 (new extra token), add 41
    val changed = Seq(doc(5L, "updated"), doc(41L)).toDF("doc_id", "text")
    val dropped = Seq("3", "4", "5").toDF("id")
    RagStore.refresh(spark, rootA, changed, dropped)
    RagStore.refresh(spark, rootB, changed, dropped,
      deltaCommit = false)
    val finalCorpus = ((1L to 2L) ++ (6L to 40L)).map(doc(_))
      .toDF("doc_id", "text")
      .unionByName(changed)
    RagStore.build(spark, finalCorpus, rootC)
    val a = viewRows(rootA)
    assert(a === viewRows(rootB))
    assert(a === viewRows(rootC))
    assert(a.nonEmpty)
    // dropped docs' chunks are gone from the view; the re-published
    // update and the add are present
    assert(!a.exists(_._4.startsWith("3#")))
    assert(!a.exists(_._4.startsWith("4#")))
    assert(a.exists(_._1 == "w5"))
    assert(a.exists(_._1 == "updated"))
    assert(a.exists(_._1 == "w41"))
    // postings live view matches the final corpus doc set
    val cur = graft.util.GenSwap.currentDir(rootA).get
    val docIds = RagStore.postingsTable(spark, cur)
      .select($"doc_id").distinct().collect().map(_.getString(0)).toSet
    assert(docIds === finalCorpus.select($"doc_id")
      .collect().map(_.getString(0)).toSet)
    // carried segments are hard links; the delta segments are fresh
    import scala.jdk.CollectionConverters._
    def nlinks(table: String): Seq[Int] =
      java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"$cur/$table"))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Number].intValue).toSeq
    assert(nlinks("postings").count(_ > 1) > 0)
    assert(nlinks("postings").count(_ == 1) > 0)
    assert(nlinks("published").count(_ > 1) > 0)
    assert(nlinks("published").count(_ == 1) > 0)
  }

  test("repeated refreshes stay exact and the segment count stays " +
      "bounded (compaction fires)") {
    val root = tmpDir("rag") + "/acc"
    RagStore.build(spark, corpus(1L to 20L), root)
    val extra = graft.util.GenIndex.MaxSegments + 2
    (1 to extra).foreach { i =>
      RagStore.refresh(spark, root,
        Seq(doc(100L + i)).toDF("doc_id", "text"),
        Seq.empty[String].toDF("id"))
    }
    val cur = graft.util.GenSwap.currentDir(root).get
    val segs = graft.util.GenIndex.segValues(s"$cur/postings")
    assert(segs.size <= graft.util.GenIndex.MaxSegments,
      s"unbounded segments: $segs")
    val rootF = tmpDir("rag") + "/accfresh"
    RagStore.build(spark,
      (1L to 20L).map(doc(_)).toDF("doc_id", "text").unionByName(
        (1 to extra).map(i => doc(100L + i)).toDF("doc_id", "text")),
      rootF)
    assert(viewRows(root) === viewRows(rootF))
  }

  test("an empty refresh commits nothing: generation, segments, files " +
      "and serving view unchanged") {
    val root = tmpDir("rag") + "/noop"
    RagStore.build(spark, corpus(1L to 20L), root)
    RagStore.refresh(spark, root, Seq(doc(21L)).toDF("doc_id", "text"),
      Seq("2").toDF("id")) // a delta segment pair and two ledgers
    val gen = graft.util.GenSwap.currentGen(root)
    val dir = graft.util.GenSwap.currentDir(root).get
    val segs = graft.util.GenIndex.segValues(s"$dir/published")
    val before = treeMtimes(root)
    val served = viewRows(root)
    Thread.sleep(20) // a rewrite would move the millisecond mtimes
    RagStore.refresh(spark, root,
      Seq.empty[(String, String)].toDF("doc_id", "text"),
      Seq.empty[String].toDF("id"))
    assert(graft.util.GenSwap.currentGen(root) === gen)
    assert(graft.util.GenIndex.segValues(s"$dir/published") === segs)
    assert(treeMtimes(root) === before)
    assert(viewRows(root) === served)
  }

  test("uncommitted root fails loudly; empty corpus builds a " +
      "readable (empty) store") {
    val none = tmpDir("rag") + "/none"
    intercept[IllegalStateException](RagStore.servingView(spark, none))
    val root = tmpDir("rag") + "/empty"
    RagStore.build(spark,
      Seq.empty[(String, String)].toDF("doc_id", "text"), root)
    assert(RagStore.servingView(spark, root).count() === 0L)
  }
}
