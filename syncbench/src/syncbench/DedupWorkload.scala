package syncbench

import graft.core.{ChangeSet, Diff, DiffOptions, Records}
import graft.ext.{Dedup, DedupIndex}
import graft.sources.FileSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/**
 * `dedup_index`: the persisted MinHash index. Set-up builds it with
 * `DedupIndex.build` over a generated corpus that holds planted
 * near-duplicates. A round is three operations: `sync` (the corpus delta
 * through `Diff.computeDataChanges` → `DedupIndex.refresh`), `noop` (the
 * same diff and refresh on the unchanged corpus) and `read` (a
 * `DedupIndex.probe` of an ingest batch holding planted near-duplicates of
 * corpus documents, its result collected).
 */
final class DedupWorkload(spark: SparkSession, h: Harness,
    rec: Option[Recorder], seed: Long, work: String, cpus: Int)
    extends Workload {

  // Sizes: see syncbench/README.md (input make-up).
  private val Docs = 3000
  private val Words = 50
  private val CorpusNearDups = Docs / 20
  private val Adds = 30
  private val Updates = 60
  private val Removes = 30
  private val Batch = 400
  private val BatchPlanted = 40
  private val Threshold = 0.8
  // the engine's defaults: k = 32 hashes in 8 bands of r = 4 rows
  private val Bands = 8
  private val Rows = 4

  private val texts = ArrayBuffer.empty[String]
  private val srcVer = ArrayBuffer.empty[Int]
  private var corpusGen = 0
  private def corpusPath(g: Int) = s"$work/corpus-${g % 2}.parquet"
  private var batch: Seq[(String, String)] = Nil
  private var planted: Seq[(String, String)] = Nil
  /** The last counted probe's answer, for the refresh-equals-rebuild check. */
  private var lastProbe = Set.empty[(String, String, Double)]
  private def docId(i: Int) = Gen.idStr(i).replace('r', 'd')

  private var root = ""
  private val twinRoot = s"$work/index-twin"

  private def mutate(text: String, r: java.util.SplittableRandom): String = {
    val w = text.split(" ")
    w(r.nextInt(w.length)) = Gen.Vocab(r.nextInt(Gen.Vocab.length))
    w.mkString(" ")
  }

  private def liveIds: IndexedSeq[Int] = srcVer.indices.filter(srcVer(_) > 0)

  private def writeCorpus(): Unit = {
    corpusGen += 1
    val rows = liveIds.map(i => (docId(i), srcVer(i).toLong, texts(i)))
    spark.createDataFrame(rows).toDF("doc_id", "version", "text")
      .repartition(cpus).write.mode("overwrite").parquet(corpusPath(corpusGen))
  }

  override def prepare(): Unit = {
    val r = Gen.rng(seed, 0xD0CL)
    (0 until Docs).foreach { i =>
      texts += (if (i >= CorpusNearDups && i < 2 * CorpusNearDups)
        mutate(texts(i - CorpusNearDups), r)
      else Gen.words(r, Words).mkString(" "))
      srcVer += 1
    }
    writeCorpus()
    newBatch(-1)
  }

  /** A fresh ingest batch: random documents plus planted near-duplicates
    * (one word replaced) of live corpus documents. */
  private def newBatch(round: Int): Unit = {
    val r = Gen.rng(seed, 0xBA7C4L + round)
    val live = liveIds
    val plants = (0 until BatchPlanted).map { j =>
      val base = live(r.nextInt(live.size))
      (s"b$round-$j", docId(base), mutate(texts(base), r))
    }
    val randoms = (BatchPlanted until Batch).map(j =>
      (s"b$round-$j", Gen.words(r, Words).mkString(" ")))
    batch = plants.map(p => (p._1, p._3)) ++ randoms
    planted = plants.map(p => (p._1, p._2))
  }

  private def batchDf: DataFrame = spark.createDataFrame(batch).toDF("doc_id", "text")

  private def build(at: String): Unit =
    DedupIndex.build(spark, spark.read.parquet(corpusPath(corpusGen))
      .select("doc_id", "text"), at)

  override def initialLoad(i: Int): Unit = {
    val at = s"$work/index$i"
    h.op("initial_build", counted = false)(build(at))(_ => Nil)
    if (root.nonEmpty) Harness.deleteRec(root)
    root = at
  }

  override def twinLoad(): Unit =
    h.op("initial_build", counted = false)(build(twinRoot))(_ => Nil)

  override def afterLoads(): Unit = ()

  /** One round costs about the whole measured window, so none is spent
    * on warm-up; the set-up's three index builds already run the
    * shingling, signature and segment-write paths. */
  override def warmupRounds: Int = 0

  /** Plant the round's corpus delta: removals, re-written updates and new
    * documents. */
  private def plan(round: Int): (Long, Long, Long) = {
    val r = Gen.rng(seed, 0xC0DEL + round)
    val touched = mutable.HashSet.empty[Int]
    def pick(): Int = {
      var i = r.nextInt(srcVer.size)
      while (srcVer(i) == 0 || touched(i)) i = r.nextInt(srcVer.size)
      touched += i; i
    }
    (0 until Removes).foreach(_ => srcVer(pick()) = 0)
    (0 until Updates).foreach { _ =>
      val i = pick(); srcVer(i) += 1; texts(i) = Gen.words(r, Words).mkString(" ")
    }
    (0 until Adds).foreach { _ =>
      texts += Gen.words(r, Words).mkString(" "); srcVer += 1
    }
    (Adds.toLong, Updates.toLong, Removes.toLong)
  }

  /** The corpus diff a caller of the index runs: keyed corpus against the
    * previous corpus snapshot's (id, version). */
  private def diff(localPath: String): ChangeSet = {
    val src = FileSource(corpusPath(corpusGen))
    val keyed = Records.keyRecords(src.load(spark), "doc_id", Some("version"),
      src.orderColumn)
    val local = spark.read.parquet(localPath)
      .select(col("doc_id").as("id"), col("version"))
    Diff.computeDataChanges(keyed, local, DiffOptions())
  }

  private def changedDocs(cs: ChangeSet): DataFrame =
    cs.added.unionByName(cs.updated).select(col("doc_id"), col("text"))
  private def droppedIds(cs: ChangeSet): DataFrame =
    cs.updated.select(col(Records.IdCol).as("id")).unionByName(cs.removedIds)

  private def syncIndex(localPath: String, at: String): (Long, Long, Long) = {
    val cs = diff(localPath).persisted()
    try {
      val counts = cs.counts
      DedupIndex.refresh(spark, at, changedDocs(cs), droppedIds(cs))
      counts
    } finally cs.unpersist()
  }

  private def countCheck(want: (Long, Long, Long))(got: (Long, Long, Long)) =
    if (got == want) Nil
    else Seq(s"(added, updated, removed) = $got, planted $want")

  override def round(r: Int): Unit = {
    val want = plan(r)
    val prev = corpusPath(corpusGen)
    writeCorpus()
    newBatch(r)
    for ((kind, local, exp) <- Seq(("sync", prev, want),
        ("noop", corpusPath(corpusGen), (0L, 0L, 0L)))) {
      rec match {
        case None =>
          h.op(kind, counted = true)(syncIndex(local, root))(countCheck(exp))
        case Some(tr) =>
          val s = tr.span(s"$kind.refresh") { s =>
            h.op(kind, counted = true)(syncIndex(local, root))(countCheck(exp)); s
          }
          Workload.recordOp(h, tr, kind, s, cpus)
          decomposed(tr, kind, local, exp, s.wallS)
      }
    }
    rec match {
      case None => h.op("read", counted = true)(probeMain())(probeCheck)
      case Some(tr) =>
        val (got, s) = tr.span("read.probe") { s =>
          (h.op("read", counted = true)(probeMain())(probeCheck), s)
        }
        Workload.recordOp(h, tr, "read", s, cpus)
        h.layerValue("read.ext.DedupIndex.probe_s", s.wallS)
        h.layerValue("read.ext.DedupIndex.band_rows_scanned",
          tr.sparkOf(s).bandRows.toDouble)
        h.layerValue("read.ext.DedupIndex.verified_pairs",
          got.map(_.size).getOrElse(0).toDouble)
        val side = tr.span("ext.Dedup.minhashSignatures", side = true) { s =>
          Dedup.minhashSignatures(batchDf, "doc_id", "text")
            .write.format("noop").mode("overwrite").save()
          s
        }
        h.layerValue("read.ext.Dedup.shingle_sign_s", side.wallS)
    }
  }

  private def probe(at: String): Array[(String, String, Double)] =
    DedupIndex.probe(spark, at, batchDf, Threshold).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))

  private def probeMain(): Array[(String, String, Double)] = {
    val p = probe(root)
    lastProbe = p.toSet
    p
  }

  /** Every pair's Jaccard recomputed from the two texts with the method's
    * n-gram definition; planted near-duplicates found at least at the rate
    * the banding bound 1-(1-J^r)^b guarantees, less three standard
    * deviations and one pair. */
  private def probeCheck(pairs: Array[(String, String, Double)]): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val batchText = batch.toMap
    val corpusIdx = liveIds.map(i => docId(i) -> i).toMap
    pairs.foreach { case (l, r, j) =>
      (batchText.get(l), corpusIdx.get(r)) match {
        case (Some(tl), Some(ir)) =>
          val exact = Gen.jaccard(Gen.shingles(tl), Gen.shingles(texts(ir)))
          if (exact < Threshold || math.abs(exact - j) > 1e-6)
            errs += s"pair ($l, $r): reported $j, exact $exact"
        case _ => errs += s"pair ($l, $r) names an unknown document"
      }
    }
    val found = pairs.map(p => (p._1, p._2)).toSet
    val probs = planted.flatMap { case (l, r) =>
      val j = Gen.jaccard(Gen.shingles(batchText(l)),
        Gen.shingles(texts(corpusIdx(r))))
      if (j >= Threshold) Some((found((l, r)), 1 - math.pow(1 - math.pow(j, Rows), Bands)))
      else None
    }
    val mean = probs.map(_._2).sum
    val sd = math.sqrt(probs.map(p => p._2 * (1 - p._2)).sum)
    val hits = probs.count(_._1)
    if (hits < mean - 3 * sd - 1)
      errs += f"planted near-duplicates found $hits of ${probs.size}, bound $mean%.2f"
    errs.toSeq
  }

  /** The same sync on the twin index, one public call per layer, each
    * forced (cached and counted) so its cost stays in its own span. */
  private def decomposed(tr: Recorder, kind: String, localPath: String,
      exp: (Long, Long, Long), opWallS: Double): Unit =
    tr.span(s"$kind.decomposed") { _ =>
      val core = new CoreLayers(tr, spark, FileSource(corpusPath(corpusGen)),
        "doc_id", Some("version"), spark.read.parquet(localPath)
          .select(col("doc_id").as("id"), col("version")))
      val sSign = tr.span("ext.Dedup.minhashSignatures", side = true) { s =>
        Dedup.minhashSignatures(changedDocs(core.csp), "doc_id", "text")
          .write.format("noop").mode("overwrite").save()
        s
      }
      val before = Harness.inodes(twinRoot)
      val sApply = tr.span("ext.DedupIndex.refresh") { s =>
        DedupIndex.refresh(spark, twinRoot, changedDocs(core.csp),
          droppedIds(core.csp))
        s
      }
      val gen = graft.util.GenSwap.currentGen(twinRoot).get
      val after = Harness.inodes(s"$twinRoot/$gen")
      h.op(s"$kind.decomposed", counted = true)(core.counts)(countCheck(exp))
      core.record(h, kind, sApply, tr.sparkOf(sApply).recordsWritten.toDouble,
        before, after, opWallS)
      val tomb = s"$twinRoot/$gen/tomb"
      def v(n: String, x: Double): Unit = h.layerValue(s"$kind.$n", x)
      v("ext.Dedup.shingle_sign_s", sSign.wallS)
      v("util.files_linked", (after.keySet & before.keySet).size.toDouble)
      v("util.segments_live",
        graft.util.GenIndex.segValues(s"$twinRoot/$gen/bands").size.toDouble)
      v("util.tombstone_rows",
        if (new java.io.File(tomb).exists) spark.read.parquet(tomb).count().toDouble
        else 0.0)
    }

  override def stateBytesPerRow(): Double = {
    val gen = graft.util.GenSwap.currentGen(root).get
    Harness.inodes(s"$root/$gen").values.sum.toDouble / liveIds.size
  }

  /** Refresh equals rebuild: the refreshed index's answer to the last
    * batch equals a fresh build's over the final corpus. */
  override def verify(): Seq[String] = {
    val fresh = s"$work/index-rebuild"
    build(fresh)
    val a = lastProbe
    val b = probe(fresh).toSet
    if (a == b) Nil
    else Seq(s"refreshed index answers ${a.size} pairs, rebuild ${b.size}; " +
      s"only refreshed: ${(a -- b).take(3)}, only rebuild: ${(b -- a).take(3)}")
  }

  override def close(): Unit = ()
}
