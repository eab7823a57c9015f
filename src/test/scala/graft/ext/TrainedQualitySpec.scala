package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TrainedQualitySpec extends SparkSpec {
  import spark.implicits._

  // synthetic corpus: even ids are stopword-dense ("fluent"), odd ids
  // are stopword-free jargon — the teacher rule (ratio ≥ 6%) labels
  // evens +1 and odds −1, and the classes are separable in bucket
  // space (stopwords vs jargon hash to disjoint bucket sets for the
  // fixed vocab below, up to collisions a 64-bucket map makes rare
  // for 20 words)
  private val fluent =
    "the cat sat on the mat and it is a good day for a walk in the sun"
  private val jargon =
    "quark flux lattice boson photon gauge spinor hadron vertex tensor"
  private def docs(n: Int) = (0L until n.toLong).map { i =>
    (i, if (i % 2 == 0) fluent + " extra" + (i % 5) else jargon + " extra" + (i % 5))
  }.toDF("doc_id", "text")

  test("nbQuality learns the teacher on separable classes: every " +
    "train AND held-out doc scores on its teacher side") {
    val out = TrainedQuality.nbQuality(docs(100), "doc_id", "text")
      .collect()
    assert(out.length === 100)
    out.foreach { r =>
      val (y, keep) = (r.getLong(1), r.getLong(3))
      assert(keep === (if (y == 1L) 1L else 0L),
        s"doc ${r.getLong(0)} margin ${r.getLong(2)}")
    }
    // both classes and both splits are genuinely present
    assert(out.count(_.getLong(1) == 1L) === 50)
    assert(out.count(r => r.getLong(0) % 10 >= 8) === 20)
  }

  test("training is partitioning- and order-independent: identical " +
    "weights and prior from 1-partition and 13-partition inputs") {
    val d = docs(60)
    def fit(parts: Int) = {
      val df = d.repartition(parts)
      val feat = TrainedQuality.features(df, "doc_id", "text", 64)
      val labels = TrainedQuality.teacherLabels(df, "doc_id", "text")
      TrainedQuality.train(feat.join(labels, Seq("id")), 64)
    }
    val a = fit(1)
    val b = fit(13)
    assert(a.weights.toSeq === b.weights.toSeq)
    assert(a.prior === b.prior)
  }

  test("margins are the exact integer prior + Σ cnt·w[bucket] (hand " +
    "recompute of one document)") {
    val d = docs(40)
    val feat = TrainedQuality.features(d, "doc_id", "text", 64)
    val labels = TrainedQuality.teacherLabels(d, "doc_id", "text")
    val model = TrainedQuality.train(feat.join(labels, Seq("id")), 64)
    val got = TrainedQuality.scoreWith(feat, model)
      .filter(col("id") === 2L).collect()(0).getLong(1)
    val want = model.prior + feat.filter(col("id") === 2L).collect()
      .map(r => r.getLong(2) * model.weights(r.getLong(1).toInt)).sum
    assert(got === want)
  }

  test("persisted model store: a ChangeSet refresh (stale-text " +
    "updates + removals + adds) commits counts BIT-EQUAL to a " +
    "from-scratch fit on the final corpus, and scoreFromStore " +
    "matches scoring under the final fit") {
    val all = docs(80)
    // initial: ids < 60, with ids %6==0 carrying stale (label-
    // flipping) text; final: ids 10..69 with true text — so the
    // refresh must retract stale contributions (updates), retract
    // removed docs (ids < 10), and add fresh ones (60..69)
    val initial = all.filter(col("doc_id") < 60)
      .withColumn("text", when(col("doc_id") % 6 === 0,
        concat(lit("stale quark flux lattice boson photon gauge "),
          col("text"))).otherwise(col("text")))
    val finalCorpus = all.filter(col("doc_id") >= 10 && col("doc_id") < 70)
    val root = tmpDir("qm") + "/store"
    TrainedQuality.buildModel(spark, initial, root)
    val changed = finalCorpus.filter(
      col("doc_id") % 6 === 0 || col("doc_id") >= 60)
    val dropped = initial.select(col("doc_id").as("id"))
      .filter(col("id") < 10 || col("id") % 6 === 0)
    TrainedQuality.refreshModel(spark, root, changed, dropped)
    val root2 = tmpDir("qm") + "/scratch"
    TrainedQuality.buildModel(spark, finalCorpus, root2)
    val (a, dimA) = TrainedQuality.readStore(spark, root)
    val (b, dimB) = TrainedQuality.readStore(spark, root2)
    assert(dimA === dimB)
    assert(a.weights.toSeq === b.weights.toSeq)
    assert(a.prior === b.prior)
    // stored per-doc state matches the final corpus exactly (live
    // view: segments unioned, tombstones applied)
    val ids = TrainedQuality.featTable(spark,
        graft.util.GenSwap.currentDir(root).get)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids === (10L until 70L).toSet)
    // gating a batch from the store == scoring under the final fit
    val batch = docs(100).filter(col("doc_id") >= 90)
    val got = TrainedQuality.scoreFromStore(spark, root, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = TrainedQuality.scoreWith(
        TrainedQuality.features(batch, "doc_id", "text", dimB), b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("delta (segment/tombstone) refreshModel: committed model and " +
    "feat table equal the full rewrite's, previous segments carry " +
    "as hard links") {
    val all = docs(200)
    val rootA = tmpDir("qm") + "/delta"
    val rootB = tmpDir("qm") + "/full"
    TrainedQuality.buildModel(spark, all, rootA)
    TrainedQuality.buildModel(spark, all, rootB)
    val changed = docs(204).filter(col("doc_id") >= 200)
    val dropped = Seq(3L, 8L).toDF("id")
    TrainedQuality.refreshModel(spark, rootA, changed, dropped)
    TrainedQuality.refreshModel(spark, rootB, changed, dropped,
      deltaCommit = false)
    val (a, _) = TrainedQuality.readStore(spark, rootA)
    val (b, _) = TrainedQuality.readStore(spark, rootB)
    assert(a.weights.toSeq === b.weights.toSeq)
    assert(a.prior === b.prior)
    def cur(root: String) = graft.util.GenSwap.currentDir(root).get
    def featRows(root: String) =
      TrainedQuality.featTable(spark, cur(root))
        .select($"id", $"bucket", $"cnt", $"y")
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(featRows(rootA) === featRows(rootB))
    assert(!featRows(rootA).exists(_._1 == 3L))
    assert(featRows(rootA).exists(_._1 == 201L))
    import scala.jdk.CollectionConverters._
    val links = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"${cur(rootA)}/feat"))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => java.nio.file.Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Number].intValue).toSeq
    assert(links.count(_ > 1) > 0, "no carried feat dirs")
    assert(links.count(_ == 1) > 0, "no freshly-written feat dirs")
  }

  test("an empty refreshModel commits nothing: generation, segments, " +
    "files and scores unchanged") {
    val root = tmpDir("qm") + "/noop"
    TrainedQuality.buildModel(spark, docs(40), root)
    TrainedQuality.refreshModel(spark, root,
      docs(42).filter(col("doc_id") >= 40), Seq(3L).toDF("id"))
    val gen = graft.util.GenSwap.currentGen(root)
    val featDir = s"${graft.util.GenSwap.currentDir(root).get}/feat"
    val segs = graft.util.GenIndex.segValues(featDir)
    val before = treeMtimes(root)
    def scores() = TrainedQuality.scoreFromStore(spark, root, docs(10))
      .collect().map(_.toSeq).toSet
    val scored = scores()
    Thread.sleep(20) // a rewrite would move the millisecond mtimes
    TrainedQuality.refreshModel(spark, root, docs(0),
      Seq.empty[Long].toDF("id"))
    assert(graft.util.GenSwap.currentGen(root) === gen)
    assert(graft.util.GenIndex.segValues(featDir) === segs)
    assert(treeMtimes(root) === before)
    assert(scores() === scored)
  }

  test("refreshModel and readStore on an uncommitted root fail " +
    "loudly instead of serving an empty model") {
    val root = tmpDir("qm") + "/none"
    intercept[IllegalStateException] {
      TrainedQuality.readStore(spark, root)
    }
    intercept[IllegalStateException] {
      TrainedQuality.refreshModel(spark, root,
        docs(4), docs(0).select(col("doc_id").as("id")))
    }
  }

  test("null text drops the document; empty text scores via the " +
    "empty-token bucket (the hashedClassifierScore conventions)") {
    val d = Seq((1L, "the of and is a the of and is a"), (2L, null),
      (3L, "")).toDF("doc_id", "text")
    val out = TrainedQuality.nbQuality(d, "doc_id", "text")
    assert(out.select("id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 3L))
  }
}
