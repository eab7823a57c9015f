package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: build/probe parity with brute force,
  * ChangeSet-refresh equals rebuild-encode, the generation commit
  * (in-flight readers, crashed stages), and degenerate inputs. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic tiny corpus: 40 vectors in 8 dims
  private def vecs(ids: Seq[Long], salt: Int = 0) = ids.map { i =>
    (i, (0 until 8).map(d =>
      (((i * 31 + d * 17 + salt) % 13) - 6).toFloat / 6f))
  }.toDF("vec_id", "embedding")

  private def top(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getInt(3))).toSet

  test("build + probe at total cell coverage with exhaustive " +
    "shortlist equals brute force") {
    val corpus = vecs(1L to 40L)
    val root = tmpDir("vidx") + "/idx"
    VectorIndex.build(spark, corpus, root, nCells = 4, m = 4, k = 8)
    val q = corpus.filter(col("vec_id") % 10 === 0)
    val got = VectorIndex.probe(spark, root, q,
      k = 3, nProbe = 4, shortlist = 40)
    val want = Similarity.bruteForceTopK(corpus, q, 3)
    assert(top(got) === top(want))
  }

  test("ChangeSet-style refresh (drop + re-encode delta) probes " +
    "identically to a fresh encode of the final corpus under the " +
    "same model") {
    val initial = vecs(1L to 30L, salt = 0)
      // rows 10..15 start stale
      .union(vecs(31L to 36L, salt = 99))
    val root = tmpDir("vidx") + "/idx"
    VectorIndex.build(spark, initial, root, nCells = 4, m = 4, k = 8)
    // final corpus: 31..36 updated to salt 0, 25..30 removed, 41..44 added
    val changed = vecs(31L to 36L).union(vecs(41L to 44L))
    val dropped = ((25L to 30L) ++ (31L to 36L)).toDF("id")
    VectorIndex.refresh(spark, root, changed, dropped)
    val finalCorpus = vecs((1L to 24L) ++ (31L to 36L) ++ (41L to 44L))
    // reference: a second index built with the SAME model tables —
    // emulate by refreshing a copy with the full corpus as delta
    val root2 = tmpDir("vidx") + "/idx2"
    VectorIndex.build(spark, initial, root2, nCells = 4, m = 4, k = 8)
    VectorIndex.refresh(spark, root2, finalCorpus,
      (1L to 44L).toDF("id"))
    val q = finalCorpus.filter(col("vec_id") % 10 === 1)
    val a = VectorIndex.probe(spark, root, q, 3, nProbe = 4,
      shortlist = 40)
    val b = VectorIndex.probe(spark, root2, q, 3, nProbe = 4,
      shortlist = 40)
    assert(top(a) === top(b))
    assert(top(a).nonEmpty)
    // index state matches the final corpus exactly (live view:
    // segments unioned, tombstones applied)
    val ids = VectorIndex.corpusTable(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === finalCorpus.collect().map(_.getLong(0)).toSet)
  }

  test("probe across a refresh: post-refresh probes serve the NEW " +
    "index (the model cache revalidates by file fingerprint); a " +
    "probe plan captured BEFORE the refresh never blends states — it " +
    "keeps serving the complete OLD generation") {
    val corpus = vecs(1L to 30L)
    val root = tmpDir("vidx") + "/idx"
    VectorIndex.build(spark, corpus, root, nCells = 2, m = 4, k = 8)
    // one query vector; its exact twin will arrive in the refresh
    val q = corpus.filter(col("vec_id") === 7)
      .select(col("vec_id"), col("embedding"))
    // warm the model cache + capture a pre-refresh plan (NOT collected)
    val preRefreshPlan = VectorIndex.probe(spark, root, q, 3, 2, 30)
    val before = top(VectorIndex.probe(spark, root, q, 3, 2, 30))
    assert(before.nonEmpty)
    // DELTA refresh: add 107 = an exact twin of 7 (cosine 1.0 → must
    // be the new rank-1 hit), drop 8
    val twin = corpus.filter(col("vec_id") === 7)
      .select(lit(107L).as("vec_id"), col("embedding"))
    VectorIndex.refresh(spark, root, twin, Seq(8L).toDF("id"))
    // a FRESH probe serves the post-refresh state: the twin lands in
    // the top-k at cosine ~1.0 (id 20 — vecs has period 13, so it is
    // ALSO an exact twin of 7 — outranks 107 by the id tie-break),
    // the dropped id is gone — old/new state never blends
    val after = top(VectorIndex.probe(spark, root, q, 3, 2, 30))
    assert(after.exists { case (qi, ni, _, _) =>
      qi == 7L && ni == 107L }, s"twin 107 missing from $after")
    assert(after.forall { case (_, ni, sim, _) =>
      ni != 107L || sim > 0.999999 })
    assert(!after.exists(_._2 == 8L))
    // the pre-refresh plan is bound to the previous generation, which
    // the commit retains: it keeps serving the COMPLETE pre-refresh
    // answer — consistent-stale, never mixed
    assert(top(preRefreshPlan) === before)
  }

  test("generation-pointer commit: build+probe equals brute " +
    "force; a probe plan captured BEFORE a refresh KEEPS SERVING the " +
    "old generation through the commit (zero-downtime, the object-" +
    "store posture) while fresh probes see the new state; the " +
    "commit after next prunes the old generation") {
    val corpus = vecs(1L to 30L)
    val root = tmpDir("vidx") + "/gidx"
    VectorIndex.build(spark, corpus, root, nCells = 2, m = 4, k = 8)
    assert(graft.util.GenSwap.currentGen(root) === Some("gen-00000000"))
    val q = corpus.filter(col("vec_id") === 7)
    // parity with brute force at total coverage
    val got = VectorIndex.probe(spark, root, q, 3, 2, shortlist = 30)
    assert(top(got) === top(Similarity.bruteForceTopK(corpus, q, 3)))
    // capture an old-generation plan, then refresh (add twin 107,
    // drop 8) — the old plan must still COLLECT the old answer
    val oldPlan = VectorIndex.probe(spark, root, q, 3, 2, 30)
    val oldAnswer = top(oldPlan)
    val twin = corpus.filter(col("vec_id") === 7)
      .select(lit(107L).as("vec_id"), col("embedding"))
    VectorIndex.refresh(spark, root, twin, Seq(8L).toDF("id"))
    assert(graft.util.GenSwap.currentGen(root) === Some("gen-00000001"))
    assert(top(oldPlan) === oldAnswer) // old gen retained: no failure
    val fresh = top(VectorIndex.probe(spark, root, q, 3, 2, 30))
    assert(fresh.exists { case (qi, ni, _, _) => qi == 7L && ni == 107L })
    assert(!fresh.exists(_._2 == 8L))
    // second refresh prunes gen-0 but keeps gen-1 for its readers
    VectorIndex.refresh(spark, root,
      corpus.limit(0), Seq(107L).toDF("id"))
    assert(graft.util.Fs.exists(s"$root/gen-00000001"))
    assert(!graft.util.Fs.exists(s"$root/gen-00000000"))
    assert(!top(VectorIndex.probe(spark, root, q, 3, 2, 30))
      .exists(_._2 == 107L))
  }

  test("generation-pointer commit: a crashed stage's orphan dir is " +
    "never served, is skipped by the next stage's ordinal, and is " +
    "pruned by its commit; probe on an uncommitted root is empty") {
    val corpus = vecs(1L to 20L)
    val root = tmpDir("vidx") + "/gidx"
    // no generation yet: probe degenerates to empty, not an error
    assert(VectorIndex.probe(spark, root,
      corpus.limit(3), 3, 2, 10).count() === 0L)
    VectorIndex.build(spark, corpus, root, nCells = 2, m = 4, k = 4)
    // simulate a crash mid-stage: a half-written gen-1 with no pointer
    graft.util.Fs.mkdirs(s"$root/gen-00000001")
    graft.util.Fs.touch(s"$root/gen-00000001/garbage")
    // readers still resolve gen-0 (the orphan is unreferenced)
    val q = corpus.filter(col("vec_id") === 5)
    assert(top(VectorIndex.probe(spark, root, q, 3, 2, 20)).nonEmpty)
    // the next writer skips PAST the orphan (never reuses a
    // half-written dir) and its commit prunes it
    VectorIndex.refresh(spark, root, corpus.limit(0),
      Seq(5L).toDF("id"))
    assert(graft.util.GenSwap.currentGen(root) === Some("gen-00000002"))
    assert(!graft.util.Fs.exists(s"$root/gen-00000001"))
    assert(graft.util.Fs.exists(s"$root/gen-00000000")) // reader gen
  }

  test("bucketed corpus layout: more cells than bucket dirs shares " +
    "dirs (bounded dir count at ANY nCells) and probes still equal " +
    "brute force at total coverage") {
    val corpus = vecs(1L to 300L)
    val root = tmpDir("vidx") + "/bidx"
    // 100 cells > the 64 fixed bucket dirs ⇒ buckets must share
    VectorIndex.build(spark, corpus, root, nCells = 100, m = 4, k = 8)
    val gen = graft.util.GenSwap.currentDir(root).get
    val dirs = graft.util.Fs.list(s"$gen/corpus/seg=0")
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("__cbucket=")))
    assert(dirs.size <= 64, s"expected <= 64 bucket dirs, got ${dirs.size}")
    val q = corpus.filter(col("vec_id") % 50 === 0)
    val got = VectorIndex.probe(spark, root, q, 3, nProbe = 100,
      shortlist = 300)
    assert(top(got) === top(Similarity.bruteForceTopK(corpus, q, 3)))
    // refresh over the bucketed layout keeps the layout + answers.
    // vecs() has period 13, so vec 50 has ~23 exact twins already in
    // the corpus that win the id tie-break — k=30 is wide enough that
    // the added twin 1050 (cosine 1.0, largest twin id) must appear
    val twin = corpus.filter(col("vec_id") === 50)
      .select(lit(1050L).as("vec_id"), col("embedding"))
    VectorIndex.refresh(spark, root, twin, Seq(51L).toDF("id"))
    val after = top(VectorIndex.probe(spark, root, q, 30, 100, 300))
    assert(after.exists { case (qi, ni, _, _) => qi == 50L && ni == 1050L })
    assert(!after.exists(_._2 == 51L))
  }

  test("buildAuto sizes cells from the corpus (floor for tiny inputs, " +
    "occupancy rule above it) and probes at total coverage equal " +
    "brute force") {
    val corpus = vecs(1L to 300L)
    // tiny corpus: the floor wins — 300/256 rounds to 2, floored to 8
    val r1 = tmpDir("vidx") + "/a1"
    val c1 = VectorIndex.buildAuto(spark, corpus, r1,
      targetPerCell = 256, m = 4, k = 8)
    assert(c1 === 8)
    // occupancy rule above the floor: ceil(300/32) = 10 cells
    val r2 = tmpDir("vidx") + "/a2"
    val c2 = VectorIndex.buildAuto(spark, corpus, r2,
      targetPerCell = 32, m = 4, k = 8)
    assert(c2 === 10)
    val q = corpus.filter(col("vec_id") % 50 === 0)
    val want = top(Similarity.bruteForceTopK(corpus, q, 3))
    assert(top(VectorIndex.probe(spark, r1, q, 3, c1, 300)) === want)
    assert(top(VectorIndex.probe(spark, r2, q, 3, c2, 300)) === want)
  }

  test("filtered probe from the persisted index: metadata carried by " +
    "the build (and through a refresh), pre-filter semantics equal " +
    "brute force over the filtered corpus, predicate lands in " +
    "PushedFilters") {
    val withMeta = vecs(1L to 40L)
      .withColumn("label", (col("vec_id") % 4).cast("int"))
    val root = tmpDir("vidx") + "/fidx"
    VectorIndex.build(spark, withMeta, root, nCells = 4, m = 4, k = 8,
      metaCols = Seq("label"))
    val q = withMeta.filter(col("vec_id") % 10 === 0)
    val pred = col("label") < 2
    val got = VectorIndex.probe(spark, root, q, k = 3, nProbe = 4,
      shortlist = 40, filter = Some(pred))
    val want = Similarity.bruteForceTopK(
      withMeta.filter(pred), q, 3)
    assert(top(got) === top(want))
    assert(top(got).nonEmpty)
    // every neighbor satisfies the predicate; queries keep their
    // unfiltered identity (q_id 10, 20, 30, 40 all present)
    assert(got.select($"q_id").distinct().as[Long].collect().toSet ===
      Set(10L, 20L, 30L, 40L))
    // the predicate reaches the parquet scan: PushedFilters mentions
    // the metadata column (pre-filter, not post-discard)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThan(label,2)"), plan.take(1200))
    // metadata survives a ChangeSet refresh (prev columns carried,
    // delta re-encoded with the same meta)
    val changed = vecs(41L to 44L)
      .withColumn("label", (col("vec_id") % 4).cast("int"))
    VectorIndex.refresh(spark, root, changed, Seq(1L, 2L).toDF("id"))
    val after = VectorIndex.probe(spark, root, q, k = 3, nProbe = 4,
      shortlist = 44, filter = Some(pred))
    val finalCorpus = withMeta.filter(!col("vec_id").isin(1L, 2L))
      .unionByName(changed)
    assert(top(after) ===
      top(Similarity.bruteForceTopK(finalCorpus.filter(pred), q, 3)))
    // the refreshed index reads through the segment/tombstone mask
    // join — the metadata predicate must STILL reach the parquet scan
    // (Catalyst pushes it below the id-keyed mask join)
    val planAfter = after.queryExecution.executedPlan.toString
    assert(planAfter.contains("PushedFilters") &&
      planAfter.contains("LessThan(label,2)"), planAfter.take(1500))
  }

  test("buildAuto sub-exhaustive recall pinned on the gate corpus: " +
    "nProbe 6 of the 16 occupancy-sized cells at the shipped ADC " +
    "settings — the ivfTopKTrained recall convention for the " +
    "PERSISTED production path") {
    val e = spark.read.parquet(
      "/root/testdata/sf0.001/embeddings.parquet")
    val root = tmpDir("vidx") + "/recall"
    val cells = VectorIndex.buildAuto(spark, e, root, targetPerCell = 32)
    assert(cells === 16) // 500 vecs / 32 — above the floor of 8
    val q = e.filter(col("vec_id") % 100 === 0)
    val brute = graft.ext.Similarity.bruteForceTopK(e, q, 5)
      .select(col("q_id"), col("n_id"))
      .as[(Long, Long)].collect().toSet
    val got = VectorIndex.probe(spark, root, q, k = 5, nProbe = 6,
        shortlist = 100)
      .select(col("q_id"), col("n_id"))
      .as[(Long, Long)].collect().toSet
    val recall = (got & brute).size.toDouble / brute.size
    // deterministic (hash-ordered sample, farthest-point init, fixed
    // Lloyd rounds) — measures 0.72 here: this uniform-on-sphere
    // corpus is the recall WORST CASE (every cell boundary cuts true
    // neighbor sets; 6/16 cells ≈ 37% coverage). On the clustered
    // fixture — IVF's actual premise — the SAME path reads 0.890 at
    // nProbe 8 of 196 cells, total-coverage parity (BASELINE.md r17).
    // Floor pinned just under the measured uniform worst case.
    assert(recall >= 0.70, s"recall@5 = $recall")
  }

  test("dedupIngest: exact re-ingested copies drop, the keep/drop set " +
    "equals the brute-force threshold rule, survivors keep their " +
    "columns, and an empty index drops nothing") {
    val corpus = vecs(1L to 40L)
    val root = tmpDir("vidx") + "/idx"
    VectorIndex.build(spark, corpus, root, nCells = 4, m = 4, k = 8)
    // batch: 10 exact copies of corpus vectors under fresh ids
    // (cosine 1.0 — must drop) + 15 near-basis rows far from the
    // generator's 13-pattern family (a SALTED vecs() row is always an
    // exact copy of some corpus pattern — 31 is invertible mod 13),
    // judged by brute force
    val dupBatch = corpus.filter(col("vec_id") <= 10)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    val fresh = (201L to 215L).map { i =>
      (i, (0 until 8).map(d =>
        if (d == (i % 8).toInt) 1f else 0f))
    }.toDF("vec_id", "embedding")
    val batch = dupBatch.union(fresh)
    val thr = 0.9
    val got = VectorIndex.dedupIngest(spark, root, batch, thr,
      nProbe = 4, shortlist = 40)
    val gotIds = got.select("vec_id").collect().map(_.getLong(0)).toSet
    val want = batch.select("vec_id").collect().map(_.getLong(0)).toSet --
      Similarity.bruteForceTopK(corpus, batch, 1)
        .filter(col("sim") >= thr)
        .select("q_id").collect().map(_.getLong(0)).toSet
    assert(gotIds === want)
    assert(gotIds.intersect((101L to 110L).toSet).isEmpty)
    assert(gotIds.nonEmpty)
    assert(got.columns.toSeq === Seq("vec_id", "embedding"))
    val emptyRoot = tmpDir("vidx") + "/empty"
    VectorIndex.build(spark,
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), emptyRoot)
    assert(VectorIndex.dedupIngest(spark, emptyRoot, batch, thr,
      nProbe = 4, shortlist = 40).count() === batch.count())
  }

  test("delta (segment/tombstone) refresh: committed corpus " +
    "equals the full rewrite's, previous segments carry as hard links") {
    val corpus = vecs(1L to 200L)
    val rootA = tmpDir("vidx") + "/delta"
    val rootB = tmpDir("vidx") + "/full"
    VectorIndex.build(spark, corpus, rootA, nCells = 8, m = 4, k = 8)
    VectorIndex.build(spark, corpus, rootB, nCells = 8, m = 4, k = 8)
    val changed = vecs(201L to 202L)
    val dropped = Seq(5L).toDF("id")
    VectorIndex.refresh(spark, rootA, changed, dropped)
    VectorIndex.refresh(spark, rootB, changed, dropped,
      deltaCommit = false)
    def cur(root: String) = graft.util.GenSwap.currentDir(root).get
    def corpusRows(root: String) =
      VectorIndex.corpusTable(spark, root)
        .select($"id", $"cell".cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(corpusRows(rootA) === corpusRows(rootB))
    assert(!corpusRows(rootA).exists(_._1 == 5L))
    assert(corpusRows(rootA).exists(_._1 == 201L))
    // probes agree bit-for-bit
    val q = corpus.filter(col("vec_id") % 50 === 1)
    assert(top(VectorIndex.probe(spark, rootA, q, 3, nProbe = 8,
        shortlist = 200))
      === top(VectorIndex.probe(spark, rootB, q, 3, nProbe = 8,
        shortlist = 200)))
    // carried segments are hard links; the delta segment is fresh
    import scala.jdk.CollectionConverters._
    val links = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"${cur(rootA)}/corpus"))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => java.nio.file.Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Number].intValue).toSeq
    assert(links.count(_ > 1) > 0, "no carried corpus dirs")
    assert(links.count(_ == 1) > 0, "no freshly-written corpus dirs")
  }

  test("degenerate inputs: empty corpus builds an empty but probeable " +
    "index; empty query set probes to empty") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val root = tmpDir("vidx") + "/idx"
    VectorIndex.build(spark, empty, root)
    val q = vecs(1L to 3L)
    assert(VectorIndex.probe(spark, root, q, 3, 2, 10).count() === 0L)
    val corpus = vecs(1L to 10L)
    val root2 = tmpDir("vidx") + "/idx2"
    VectorIndex.build(spark, corpus, root2, nCells = 2, m = 4, k = 4)
    assert(VectorIndex.probe(spark, root2,
      corpus.limit(0), 3, 2, 10).count() === 0L)
  }
}
