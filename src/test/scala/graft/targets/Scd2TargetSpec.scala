package graft.targets

import graft.SparkSpec
import graft.mapper.Mapper
import graft.pipeline.{ImportService, Preset}
import graft.sources.InlineSource
import org.apache.spark.sql.functions._

/** SCD type-2 history semantics: closes, opens, version-skips,
  * soft-prune, and the time-travel predicate. */
class Scd2TargetSpec extends SparkSpec {
  import spark.implicits._

  private def preset(dir: String, src: Seq[(String, Long, String)]) =
    Preset(
      InlineSource(s => { import s.implicits._
        src.toDF("id", "version", "attr") }),
      Scd2Target(s"$dir/hist"),
      Mapper(Seq("attr" -> "attr")),
      idAttribute = "id", versionAttribute = Some("version"),
      skipRemovedRecords = true)

  test("history accumulates: update closes the old row and opens a " +
      "new one; version-skip leaves history untouched; add opens") {
    val dir = tmpDir("scd2")
    // sync 0: a@5, b@5
    new ImportService(preset(dir, Seq(
      ("a", 5L, "a0"), ("b", 5L, "b0")))).importData(spark)
    // sync 1: a@9 (update -> close+open), b@3 (skip), c@1 (add)
    new ImportService(preset(dir, Seq(
      ("a", 9L, "a1"), ("b", 3L, "bX"), ("c", 1L, "c0")))).importData(spark)
    val h = Scd2Target(s"$dir/hist").history(spark)
      .select($"id", $"version".cast("long"), $"attr",
        $"sync_in".cast("long"), $"sync_out".cast("long"))
      .as[(String, Long, String, Long, Option[Long])].collect().toSet
    assert(h === Set(
      ("a", 5L, "a0", 0L, Some(1L)),
      ("a", 9L, "a1", 1L, None),
      ("b", 5L, "b0", 0L, None), // the stale b@3 never entered history
      ("c", 1L, "c0", 1L, None)))
    // current state = open rows only
    val cur = Scd2Target(s"$dir/hist").currentState(spark)
      .select($"id", $"version").as[(String, Long)].collect().toSet
    assert(cur === Set(("a", 9L), ("b", 5L), ("c", 1L)))
  }

  test("time travel: stateAt(k) reconstructs every past sync's state; " +
      "stateAt(ordinals - 1) equals currentState; pre-history is empty") {
    val dir = tmpDir("scd2-tt")
    val tgt = Scd2Target(s"$dir/hist")
    // sync 0: a@1, b@1 — sync 1: a@2 (update), b removed (close)
    new ImportService(preset(dir, Seq(
      ("a", 1L, "a0"), ("b", 1L, "b0")))).importData(spark)
    new ImportService(Preset(
      InlineSource(s => { import s.implicits._
        Seq(("a", 2L, "a1")).toDF("id", "version", "attr") }),
      tgt, Mapper(Seq("attr" -> "attr")),
      idAttribute = "id", versionAttribute = Some("version"),
      skipRemovedRecords = false)).importData(spark)
    def at(k: Long) = tgt.stateAt(spark, k)
      .select($"id", $"version".cast("long"), $"attr")
      .as[(String, Long, String)].collect().toSet
    assert(at(0) === Set(("a", 1L, "a0"), ("b", 1L, "b0")))
    assert(at(1) === Set(("a", 2L, "a1"))) // b closed at ordinal 1
    assert(tgt.ordinals() === 2L)
    val cur = tgt.currentState(spark)
      .select($"id", $"version").as[(String, Long)].collect().toSet
    val last = tgt.stateAt(spark, tgt.ordinals() - 1)
      .select($"id", $"version".cast("long"))
      .as[(String, Long)].collect().toSet
    assert(last === cur)
    // an ordinal before any history: empty, schema intact
    assert(tgt.stateAt(spark, -1L).count() === 0L)
  }

  test("compaction: stateAt(k) preserved for EVERY ordinal, file count " +
      "drops, the ledger is untouched, and the next sync still works") {
    val dir = tmpDir("scd2-compact")
    val tgt = Scd2Target(s"$dir/hist")
    // 4 syncs, each touching a; b/c churn
    new ImportService(preset(dir, Seq(
      ("a", 1L, "a0"), ("b", 1L, "b0")))).importData(spark)
    new ImportService(preset(dir, Seq(
      ("a", 2L, "a1"), ("c", 1L, "c0")))).importData(spark)
    new ImportService(preset(dir, Seq(
      ("a", 3L, "a2"), ("b", 2L, "b1")))).importData(spark)
    new ImportService(preset(dir, Seq(
      ("a", 4L, "a3")))).importData(spark)
    def at(k: Long) = tgt.stateAt(spark, k)
      .select($"id", $"version".cast("long"), $"attr")
      .as[(String, Long, String)].collect().toSet
    val nOrd = tgt.ordinals()
    assert(nOrd === 4L)
    val before = (0L until nOrd).map(k => k -> at(k)).toMap
    // the history lives under the generation dir the pointer names
    def fileCount = tgt.dataDirResolved
      .flatMap(d => Option(new java.io.File(d).listFiles()))
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    val filesBefore = fileCount
    // tiny target size forces the rewrite path; history is a few KB
    val res = tgt.compact(spark, targetFileBytes = 64L << 20)
    assert(res === 1L, s"expected 1 compacted file, got $res")
    assert(fileCount === 1 && filesBefore > 1)
    // the ledger did not advance — compaction is not a sync
    assert(tgt.ordinals() === nOrd)
    // every historical state is preserved bit-for-bit
    (0L until nOrd).foreach(k => assert(at(k) === before(k), s"k=$k"))
    // idempotent: a second compact is a no-op
    assert(tgt.compact(spark, targetFileBytes = 64L << 20) === -1L)
    // the next sync applies cleanly on the compacted snapshot
    new ImportService(preset(dir, Seq(
      ("a", 5L, "a4"), ("d", 1L, "d0")))).importData(spark)
    assert(at(4L) === Set(("a", 5L, "a4"), ("b", 2L, "b1"),
      ("c", 1L, "c0"), ("d", 1L, "d0")))
    (0L until nOrd).foreach(k => assert(at(k) === before(k), s"post k=$k"))
  }

  test("first sync with a NON-DEFAULT idColumn resolves (empty-history " +
      "schema derives from the configured id/version names)") {
    val dir = tmpDir("scd2-idcol")
    val target = Scd2Target(s"$dir/hist", idColumn = "order_key",
      versionColumn = Some("rev"))
    // currentState on a never-written target must not throw on
    // col(idColumn) — this crashed when the empty frame hardcoded
    // (id, version)
    assert(target.currentState(spark).count() === 0L)
    new ImportService(Preset(
      InlineSource(s => { import s.implicits._
        Seq(("k1", 4L, "x0")).toDF("id", "version", "attr") }),
      target,
      Mapper(Seq("attr" -> "attr")),
      idAttribute = "id", versionAttribute = Some("version"),
      skipRemovedRecords = true)).importData(spark)
    val h = target.history(spark)
      .select(col("order_key"), col("sync_in").cast("long"))
      .as[(String, Long)].collect().toSet
    assert(h === Set(("k1", 0L)))
  }

  test("a failed staged write does not burn a sync ordinal (marker is " +
      "recorded between staging and commit)") {
    val dir = tmpDir("scd2-retry")
    new ImportService(preset(dir, Seq(("a", 1L, "a0")))).importData(spark)
    // simulate a stage-time failure: a sync whose source explodes
    // BEFORE the staged write — the ledger must not advance
    intercept[Exception] {
      new ImportService(Preset(
        InlineSource(_ => sys.error("source down")),
        Scd2Target(s"$dir/hist"),
        Mapper(Seq("attr" -> "attr")),
        idAttribute = "id", versionAttribute = Some("version"),
        skipRemovedRecords = true)).importData(spark)
    }
    // the retry lands with ordinal 1, not 2
    new ImportService(preset(dir, Seq(("a", 9L, "a1")))).importData(spark)
    val h = Scd2Target(s"$dir/hist").history(spark)
      .select($"id", $"sync_in".cast("long"), $"sync_out".cast("long"))
      .as[(String, Long, Option[Long])].collect().toSet
    assert(h === Set(
      ("a", 0L, Some(1L)),
      ("a", 1L, None)))
  }

  test("sync ordinals advance on NO-CHANGE syncs too (apply ledger, " +
      "not max(sync_in)+1), so distinct syncs never share an ordinal") {
    val dir = tmpDir("scd2-ordinal")
    new ImportService(preset(dir, Seq(("a", 5L, "a0")))).importData(spark)
    // sync 1 changes nothing (same version = skip)
    new ImportService(preset(dir, Seq(("a", 5L, "aX")))).importData(spark)
    // sync 2 updates — must close at ordinal 2, not 1
    new ImportService(preset(dir, Seq(("a", 7L, "a2")))).importData(spark)
    val h = Scd2Target(s"$dir/hist").history(spark)
      .select($"id", $"version".cast("long"),
        $"sync_in".cast("long"), $"sync_out".cast("long"))
      .as[(String, Long, Long, Option[Long])].collect().toSet
    assert(h === Set(
      ("a", 5L, 0L, Some(2L)),
      ("a", 7L, 2L, None)))
  }

  test("generation commit: a time-travel reader holding the PREVIOUS " +
      "generation survives a concurrent sync; two-refresh pruning") {
    val dir = tmpDir("scd2-genreader")
    val tgt = Scd2Target(s"$dir/hist")
    new ImportService(preset(dir, Seq(("a", 1L, "a0")))).importData(spark)
    val gen1 = tgt.dataDirResolved.get
    assert(gen1.contains("gen-"))
    val oldReader = spark.read.parquet(gen1).select("id", "attr")
    new ImportService(preset(dir, Seq(("a", 2L, "a1")))).importData(spark)
    val gen2 = tgt.dataDirResolved.get
    assert(gen2 !== gen1)
    // the in-flight reader keeps its complete pre-sync history view
    assert(oldReader.as[(String, String)].collect().toSet ===
      Set(("a", "a0")))
    // the pointer-resolved read sees both history rows
    assert(tgt.history(spark).count() === 2L)
    // third commit prunes gen1 (the two-refresh limit), keeps gen2
    new ImportService(preset(dir, Seq(("a", 3L, "a2")))).importData(spark)
    assert(!graft.util.Fs.exists(gen1))
    assert(graft.util.Fs.exists(gen2))
  }

  test("crash recovery: a generation staged but never flipped leaves " +
      "history reading the previous generation, and the next commit " +
      "removes the orphan") {
    val dir = tmpDir("scd2-crash")
    new ImportService(preset(dir, Seq(("a", 1L, "a0")))).importData(spark)
    val t = Scd2Target(s"$dir/hist")
    val committed = t.dataDirResolved.get
    // simulate a writer that fully staged its next generation and
    // DIED before the pointer flip
    val orphan = graft.util.GenSwap.nextDir(s"$dir/hist/data")
    t.history(spark).withColumn("attr", lit("staged")).write.parquet(orphan)
    assert(t.dataDirResolved.get === committed)
    assert(t.history(spark).select($"attr").as[String].collect().toSet
      === Set("a0"))
    // the next sync stages PAST the orphan and its commit prunes it;
    // the previous generation stays for in-flight readers
    new ImportService(preset(dir, Seq(("a", 2L, "a1")))).importData(spark)
    assert(t.dataDirResolved.get.endsWith("gen-00000002"))
    assert(!graft.util.Fs.exists(orphan))
    assert(graft.util.Fs.exists(committed))
    assert(t.currentState(spark).select($"attr").as[String].collect().toSet
      === Set("a1"))
  }

  test("removeAll soft-closes every current row; history survives; " +
      "point-in-time predicate reconstructs any sync's state") {
    val dir = tmpDir("scd2-prune")
    new ImportService(preset(dir, Seq(
      ("a", 1L, "a0"), ("b", 1L, "b0")))).importData(spark)
    new ImportService(preset(dir, Seq(("a", 2L, "a1")))).importData(spark)
    val t = Scd2Target(s"$dir/hist")
    assert(t.removeAll(spark) === 2L)
    assert(t.currentState(spark).count() === 0L)
    val h = t.history(spark)
    assert(h.count() === 3L) // nothing deleted
    // state AS OF sync 0: a@1, b@1
    val asOf0 = h.filter($"sync_in" <= 0 &&
        ($"sync_out".isNull || $"sync_out" > 0))
      .select($"id", $"version".cast("long"))
      .as[(String, Long)].collect().toSet
    assert(asOf0 === Set(("a", 1L), ("b", 1L)))
    // state AS OF sync 1: a@2, b@1
    val asOf1 = h.filter($"sync_in" <= 1 &&
        ($"sync_out".isNull || $"sync_out" > 1))
      .select($"id", $"version".cast("long"))
      .as[(String, Long)].collect().toSet
    assert(asOf1 === Set(("a", 2L), ("b", 1L)))
  }
}
