package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted minhash-LSH dedup index: probe parity with the in-query
  * two-corpus path, ChangeSet refresh ≡ rebuild, stored parameters,
  * generation-commit behavior, degenerate inputs. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic corpus with planted near-dups: base texts plus
  // lightly-perturbed twins (shared 3-gram mass ⇒ jaccard >= 0.5)
  private def doc(i: Long, extra: String = "") =
    (i, s"alpha beta gamma delta epsilon zeta eta theta id$i $extra")
  private def corpus(ids: Seq[Long]) = ids.map(doc(_)).toDF("doc_id", "text")

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2))).toSet

  test("probe is bit-identical to minhashPairsAgainst over the same " +
      "corpus and parameters; stored params drive the probe") {
    val c = corpus(1L to 30L)
    val batch = (101L to 110L).map(i => doc(i)).toDF("doc_id", "text")
    val root = tmpDir("didx") + "/idx"
    DedupIndex.build(spark, c, root, k = 32, bands = 8, n = 3)
    val got = DedupIndex.probe(spark, root, batch, threshold = 0.5)
      .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard")
    val want = Dedup.minhashPairsAgainst(batch, c, "doc_id", "text",
      threshold = 0.5)
      .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard")
    assert(pairs(got) === pairs(want))
    assert(pairs(got).nonEmpty) // the planted twins really pair
  }

  test("ChangeSet refresh (drop + delta) probes identically to a " +
      "fresh build over the final corpus") {
    val initial = corpus(1L to 20L)
      .union(Seq((21L, "completely different words entirely"))
        .toDF("doc_id", "text"))
    val root = tmpDir("didx") + "/idx"
    DedupIndex.build(spark, initial, root)
    // drop 21 and 5..8, update 1..2 (new text), add 31..33
    val changed = ((1L to 2L).map(i => doc(i, "updated")) ++
      (31L to 33L).map(doc(_))).toDF("doc_id", "text")
    val dropped = ((5L to 8L) :+ 21L :+ 1L :+ 2L).toDF("id")
    DedupIndex.refresh(spark, root, changed, dropped)
    val finalCorpus = (((3L to 4L) ++ (9L to 20L)).map(doc(_)) ++
      (1L to 2L).map(i => doc(i, "updated")) ++
      (31L to 33L).map(doc(_))).toDF("doc_id", "text")
    val root2 = tmpDir("didx") + "/idx2"
    DedupIndex.build(spark, finalCorpus, root2)
    val batch = (101L to 105L).map(doc(_)).toDF("doc_id", "text")
    val a = DedupIndex.probe(spark, root, batch, threshold = 0.5)
    val b = DedupIndex.probe(spark, root2, batch, threshold = 0.5)
    assert(pairs(a.select($"id_l".cast("long"), $"id_r".cast("long"),
      $"jaccard")) === pairs(b.select($"id_l".cast("long"),
      $"id_r".cast("long"), $"jaccard")))
    assert(pairs(a.select($"id_l".cast("long"), $"id_r".cast("long"),
      $"jaccard")).nonEmpty)
    // dropped ids never appear as corpus-side matches
    assert(a.filter($"id_r".isin(5L, 6L, 7L, 8L, 21L)).count() === 0L)
  }

  test("generation commit: probe before any build is empty; an " +
      "in-flight reader of the previous generation survives a refresh") {
    val root = tmpDir("didx") + "/idx"
    val batch = (101L to 103L).map(doc(_)).toDF("doc_id", "text")
    assert(DedupIndex.probe(spark, root, batch).count() === 0L)
    DedupIndex.build(spark, corpus(1L to 10L), root)
    val gen1 = graft.util.GenSwap.currentDir(root).get
    val oldReader = spark.read.parquet(s"$gen1/shingles").select($"id")
    DedupIndex.refresh(spark, root,
      (31L to 32L).map(doc(_)).toDF("doc_id", "text"),
      Seq(1L).toDF("id"))
    assert(oldReader.count() === 10L) // pre-refresh view intact
    val gen2 = graft.util.GenSwap.currentDir(root).get
    assert(gen2 !== gen1)
    // post-refresh probe excludes the dropped id, includes the adds
    val got = DedupIndex.probe(spark, root, batch, threshold = 0.5)
    assert(got.filter($"id_r" === 1L).count() === 0L)
    assert(got.filter($"id_r" === 31L).count() > 0L)
  }

  test("a probe over a built and twice-refreshed index starts no " +
      "file-listing job; every segment is a few flat parquet files") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("didx") + "/flat"
    DedupIndex.build(spark, corpus(1L to 400L), root)
    DedupIndex.refresh(spark, root,
      Seq(doc(401L), doc(3L, "updated")).toDF("doc_id", "text"),
      Seq(3L, 9L).toDF("id"))
    DedupIndex.refresh(spark, root, Seq(doc(402L)).toDF("doc_id", "text"),
      Seq(11L).toDF("id"))
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
    val got = try {
      val batch = (101L to 110L).map(doc(_)).toDF("doc_id", "text")
      val rows = DedupIndex.probe(spark, root, batch, threshold = 0.5)
        .collect()
      org.apache.spark.GraftBus.drain(sc)
      rows
    } finally sc.removeSparkListener(listener)
    assert(got.nonEmpty)
    val jobs = descs.asScala.toSeq
    assert(jobs.nonEmpty)
    assert(!jobs.exists(_.startsWith("Listing leaf files")), jobs)
    // the layout that makes it so: flat segments of a few files each
    val cur = graft.util.GenSwap.currentDir(root).get
    val maxFiles = spark.conf.get("spark.sql.shuffle.partitions").toInt
    Seq("bands", "shingles").foreach { t =>
      val segs = graft.util.GenIndex.segValues(s"$cur/$t")
      assert(segs.sorted === Seq(0L, 1L, 2L), t)
      segs.foreach { sv =>
        val kids = Files.list(Paths.get(s"$cur/$t/seg=$sv"))
          .iterator().asScala.toSeq
        assert(!kids.exists(Files.isDirectory(_)), s"$t/seg=$sv: $kids")
        val parquet = kids.count(_.getFileName.toString.endsWith(".parquet"))
        assert(parquet >= 1 && parquet <= maxFiles, s"$t/seg=$sv: $parquet")
      }
    }
  }

  test("delta (segment/tombstone) refresh: committed state equals " +
      "the full rewrite's, previous segments carry as hard links " +
      "(zero new bytes), the delta segment is freshly written") {
    val c = corpus(1L to 200L)
    val rootA = tmpDir("didx") + "/delta"
    val rootB = tmpDir("didx") + "/full"
    DedupIndex.build(spark, c, rootA)
    DedupIndex.build(spark, c, rootB)
    // a SMALL delta: 1 update, 1 add, 2 drops — the refresh must
    // write only a delta-sized segment + ledger, never the corpus
    val changed = Seq(doc(3L, "updated"), doc(201L)).toDF("doc_id", "text")
    val dropped = Seq(3L, 7L).toDF("id")
    DedupIndex.refresh(spark, rootA, changed, dropped) // delta default
    DedupIndex.refresh(spark, rootB, changed, dropped,
      deltaCommit = false)
    def cur(root: String) = graft.util.GenSwap.currentDir(root).get
    def bandRows(root: String) = DedupIndex.bandsTable(spark, cur(root))
      .select($"id".cast("long"), $"band".cast("int"),
        $"bucket".cast("long"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    def shingleIds(root: String) =
      DedupIndex.shinglesTable(spark, cur(root))
        .select($"id".cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
    assert(bandRows(rootA) === bandRows(rootB))
    assert(shingleIds(rootA) === shingleIds(rootB))
    assert(!shingleIds(rootA).contains(7L))
    assert(shingleIds(rootA).contains(201L))
    // probes agree bit-for-bit
    val batch = (101L to 110L).map(doc(_)).toDF("doc_id", "text")
    assert(pairs(DedupIndex.probe(spark, rootA, batch, threshold = 0.5)
        .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard"))
      === pairs(DedupIndex.probe(spark, rootB, batch, threshold = 0.5)
        .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard")))
    // carried segments are hard links (nlink > 1: the previous
    // generation still holds the other name); the delta segment
    // holds freshly-written files (nlink == 1)
    import scala.jdk.CollectionConverters._
    def nlinks(table: String): Seq[Int] =
      java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"${cur(rootA)}/$table"))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Number].intValue).toSeq
    val bandLinks = nlinks("bands")
    val shLinks = nlinks("shingles")
    assert(bandLinks.count(_ > 1) > 0, "no carried band dirs")
    assert(bandLinks.count(_ == 1) > 0, "no freshly-written band dirs")
    assert(shLinks.count(_ > 1) > 0, "no carried shingle dirs")
    assert(shLinks.count(_ == 1) > 0, "no freshly-written shingle dirs")
    // the full-rewrite twin wrote everything fresh
    def nlinksB(table: String): Seq[Int] =
      java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"${cur(rootB)}/$table"))
        .iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(p => java.nio.file.Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Number].intValue).toSeq
    assert(nlinksB("bands").forall(_ == 1))
  }

  test("segmented refreshes accumulate: drop-then-re-add survives " +
      "the tombstone, the MaxSegments bound triggers compaction, and " +
      "the end state probes identically to a fresh build") {
    import org.apache.spark.sql.functions.{col => c0}
    val rootA = tmpDir("didx") + "/segacc"
    DedupIndex.build(spark, corpus(1L to 40L), rootA)
    def cur() = graft.util.GenSwap.currentDir(rootA).get
    // refresh 1: drop 3 and 4 (no adds)
    DedupIndex.refresh(spark, rootA,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq(3L, 4L).toDF("id"))
    // refresh 2: RE-ADD 3 with new text (drop+add in one ChangeSet —
    // the tombstone must mask only the STALE rows, not the re-add)
    DedupIndex.refresh(spark, rootA,
      Seq(doc(3L, "back")).toDF("doc_id", "text"),
      Seq(3L).toDF("id"))
    val ids = DedupIndex.shinglesTable(spark, cur())
      .select(c0("id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(4L) && ids.contains(3L))
    assert(ids.size === 39)
    // many more small refreshes cross the MaxSegments bound — the
    // segment count must stay bounded (compaction fired)
    val extra = graft.util.GenIndex.MaxSegments + 2
    (1 to extra).foreach { i =>
      DedupIndex.refresh(spark, rootA,
        Seq(doc(100L + i)).toDF("doc_id", "text"),
        Seq.empty[Long].toDF("id"))
    }
    val segsNow = graft.util.GenIndex.segValues(s"${cur()}/bands")
    assert(segsNow.size <= graft.util.GenIndex.MaxSegments,
      s"segment count unbounded: $segsNow")
    assert(segsNow.size < 3 + extra, "compaction never fired")
    // the accumulated state answers like a fresh build over the
    // final corpus
    val finalCorpus = (((1L to 2L) ++ (5L to 40L)).map(doc(_)) ++
      Seq(doc(3L, "back")) ++
      (1 to extra).map(i => doc(100L + i))).toDF("doc_id", "text")
    val rootB = tmpDir("didx") + "/segacc2"
    DedupIndex.build(spark, finalCorpus, rootB)
    val batch = (201L to 210L).map(doc(_)).toDF("doc_id", "text")
    assert(pairs(DedupIndex.probe(spark, rootA, batch, threshold = 0.5)
        .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard"))
      === pairs(DedupIndex.probe(spark, rootB, batch, threshold = 0.5)
        .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard")))
  }

  test("an empty refresh commits nothing: generation, segments, files " +
      "and probe answers unchanged; a later non-empty refresh still " +
      "equals a rebuild") {
    import scala.jdk.CollectionConverters._
    val root = tmpDir("didx") + "/empty"
    DedupIndex.build(spark, corpus(1L to 30L), root)
    DedupIndex.refresh(spark, root, Seq(doc(31L)).toDF("doc_id", "text"),
      Seq(2L).toDF("id")) // a delta segment and a ledger to keep
    def files(): Map[String, Long] = {
      val r = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(r).iterator().asScala
        .map(p => r.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val gen = graft.util.GenSwap.currentGen(root)
    val dir = graft.util.GenSwap.currentDir(root).get
    val segs = graft.util.GenIndex.segValues(s"$dir/bands")
    val before = files()
    val batch = (101L to 110L).map(doc(_)).toDF("doc_id", "text")
    def answer(at: String) = pairs(
      DedupIndex.probe(spark, at, batch, threshold = 0.5)
        .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard"))
    val probed = answer(root)
    assert(probed.nonEmpty)
    Thread.sleep(20) // a rewrite would move the millisecond mtimes
    DedupIndex.refresh(spark, root,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq.empty[Long].toDF("id"))
    assert(graft.util.GenSwap.currentGen(root) === gen)
    assert(graft.util.GenIndex.segValues(s"$dir/bands") === segs)
    assert(files() === before)
    assert(answer(root) === probed)
    // the next non-empty refresh lands on top and equals a rebuild
    DedupIndex.refresh(spark, root,
      Seq(doc(32L), doc(5L, "updated")).toDF("doc_id", "text"),
      Seq(5L, 7L).toDF("id"))
    assert(graft.util.GenSwap.currentGen(root) !== gen)
    val finalCorpus = ((1L +: (3L to 4L)) ++ (6L to 6L) ++ (8L to 32L))
      .map(doc(_)) :+ doc(5L, "updated")
    val rebuilt = tmpDir("didx") + "/empty-rebuild"
    DedupIndex.build(spark, finalCorpus.toDF("doc_id", "text"), rebuilt)
    assert(answer(root) === answer(rebuilt))
    def liveIds(at: String) = DedupIndex.shinglesTable(spark,
        graft.util.GenSwap.currentDir(at).get)
      .select($"id".cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(liveIds(root) === liveIds(rebuilt))
  }

  test("broadcastBatch=false (the backfill escape hatch) answers " +
      "bit-identically to the pinned-broadcast default") {
    val c = corpus(1L to 60L)
    val root = tmpDir("didx") + "/idx"
    DedupIndex.build(spark, c, root, k = 32, bands = 8, n = 3)
    val batch = (101L to 120L).map(i => doc(i)).toDF("doc_id", "text")
    val pinned = DedupIndex.probe(spark, root, batch, threshold = 0.5)
      .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard")
    val free = DedupIndex.probe(spark, root, batch, threshold = 0.5,
      broadcastBatch = false)
      .select($"id_l".cast("long"), $"id_r".cast("long"), $"jaccard")
    assert(pairs(pinned) === pairs(free))
    assert(pairs(pinned).nonEmpty)
  }

  test("degenerate inputs: empty corpus builds a probeable (empty) " +
      "index; empty batch probes to empty") {
    val root = tmpDir("didx") + "/idx"
    DedupIndex.build(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), root)
    val batch = (101L to 103L).map(doc(_)).toDF("doc_id", "text")
    assert(DedupIndex.probe(spark, root, batch).count() === 0L)
    assert(DedupIndex.probe(spark, root,
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() === 0L)
  }
}
