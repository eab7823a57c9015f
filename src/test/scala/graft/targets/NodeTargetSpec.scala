package graft.targets

import graft.SparkSpec
import graft.mapper.Mapper
import graft.pipeline.{ImportService, Preset}
import graft.sources.InlineSource
import org.apache.spark.sql.functions._

/** Node-table target semantics (W5-W9, ContentRepositoryTarget.php). */
class NodeTargetSpec extends SparkSpec {
  import spark.implicits._

  /** Read surface for the generation-layout state: the committed
    * node table / `_dstate` index of `$dir/nodes`, resolved through
    * the CURRENT pointer. */
  private def nodesOf(dir: String) =
    NodeTarget(s"$dir/nodes").table(spark)
  private def stateDirOf(dir: String): String =
    NodeTarget(s"$dir/nodes").stateDirResolved.get
  private def idxOf(dir: String) =
    spark.read.parquet(stateDirOf(dir) + "/_dstate")

  /** Seed `$dir/nodes` with a committed generation holding `table`
    * and its `_dstate` index (one row per identifier) — state as an
    * earlier pipeline left it. */
  private def seedState(
      dir: String, table: org.apache.spark.sql.DataFrame): Unit = {
    val root = s"$dir/nodes"
    val gen = graft.util.GenSwap.nextDir(root)
    table.write.parquet(gen)
    table.groupBy($"identifier".as("id"))
      .agg(max($"version").as("version"),
        min($"hidden".cast("int")).cast("boolean").as("hidden"))
      .write.parquet(s"$gen/_dstate")
    graft.util.GenSwap.commit(root, gen)
  }

  private def preset(dir: String, data: Seq[(String, Long, String)],
      softDelete: Boolean = false) = {
    val target = NodeTarget(s"$dir/nodes", idPrefix = "node-",
      softDelete = softDelete,
      variantsResolver = _ => array(lit("de"), lit("en")))
    Preset(
      InlineSource(s => { import s.implicits._
        data.toDF("id", "version", "name") }),
      target, Mapper(Seq("name" -> "${upper(record.name)}")),
      idAttribute = "id", versionAttribute = Some("version"),
      diffOptions = target.diffOptions)
  }

  test("variant fan-out: 1 record → N node rows with prefixed ids") {
    val dir = tmpDir("node1")
    val r = new ImportService(preset(dir, Seq(("a", 1L, "Ada"))))
      .importData(spark)
    assert(r.added === 1)
    val nodes = nodesOf(dir)
    assert(nodes.count() === 2) // de + en variants
    assert(nodes.select("identifier").distinct().as[String].head() === "node-a")
    assert(nodes.select("variant").as[String].collect().toSet === Set("de", "en"))
    assert(nodes.select("name").distinct().as[String].head() === "ADA")
  }

  test("parentPathResolver: record-derived paths + auto-created " +
      "parent containers (ContentRepositoryTarget.php:161-171,363-392)") {
    val dir = tmpDir("node-parent")
    def p(data: Seq[(String, Long, String)]) = {
      val target = NodeTarget(s"$dir/nodes", idPrefix = "node-",
        parentPathResolver =
          Some(df => concat(lit("/sites/"), col("cat"))))
      Preset(
        InlineSource(s => { import s.implicits._
          data.toDF("id", "version", "cat") }),
        target, Mapper(Seq("cat" -> "cat")),
        idAttribute = "id", versionAttribute = Some("version"),
        diffOptions = target.diffOptions)
    }
    val data = Seq(("a", 1L, "news"), ("b", 1L, "news"), ("c", 1L, "blog"))
    val r1 = new ImportService(p(data)).importData(spark)
    assert(r1.added === 3)
    val nodes = nodesOf(dir)
    val paths = nodes.select("identifier", "path").as[(String, String)]
      .collect().toMap
    assert(paths("node-a") === "/sites/news/a")
    assert(paths("node-c") === "/sites/blog/c")
    // one container per distinct parent path, reserved identifier
    val autos = nodes.filter($"identifier".startsWith("auto:"))
      .select("path").as[String].collect().toSet
    assert(autos === Set("/sites/news", "/sites/blog"))
    // containers are structure, not records: diff ignores them and a
    // re-run is a clean no-op (no duplicate containers either)
    val r2 = new ImportService(p(data)).importData(spark)
    assert((r2.added, r2.updated, r2.removed) === ((0L, 0L, 0L)))
    assert(nodesOf(dir)
      .filter($"identifier".startsWith("auto:")).count() === 2)
  }

  test("idempotent re-run against prefixed ids (idPrefix strip)") {
    val dir = tmpDir("node2")
    val p = preset(dir, Seq(("a", 1L, "Ada"), ("b", 2L, "Bob")))
    new ImportService(p).importData(spark)
    val r2 = new ImportService(p).importData(spark)
    assert((r2.added, r2.updated, r2.removed) === ((0L, 0L, 0L)))
  }

  test("update replaces all variants and bumps version (W6)") {
    val dir = tmpDir("node3")
    new ImportService(preset(dir, Seq(("a", 1L, "Ada")))).importData(spark)
    val r = new ImportService(preset(dir, Seq(("a", 5L, "Ada2"))))
      .importData(spark)
    assert(r.updated === 1)
    val nodes = nodesOf(dir)
    assert(nodes.count() === 2)
    assert(nodes.select("version").distinct().as[Long].head() === 5L)
    assert(nodes.select("name").distinct().as[String].head() === "ADA2")
  }

  test("hard remove drops node rows") {
    val dir = tmpDir("node4")
    new ImportService(preset(dir, Seq(("a", 1L, "Ada"), ("b", 1L, "Bob"))))
      .importData(spark)
    val r = new ImportService(preset(dir, Seq(("a", 1L, "Ada"))))
      .importData(spark)
    assert(r.removed === 1)
    val ids = nodesOf(dir)
      .select("identifier").distinct().as[String].collect().toSet
    assert(ids === Set("node-a"))
  }

  test("soft delete hides instead of dropping; hidden stays out of " +
      "removal candidates (W7, ContentRepositoryTarget.php:95-107)") {
    val dir = tmpDir("node5")
    new ImportService(preset(dir, Seq(("a", 1L, "Ada"), ("b", 1L, "Bob")),
      softDelete = true)).importData(spark)
    // b disappears from source → hidden, not dropped
    val r = new ImportService(preset(dir, Seq(("a", 1L, "Ada")),
      softDelete = true)).importData(spark)
    assert(r.removed === 1)
    val nodes = nodesOf(dir)
    assert(nodes.select("identifier").distinct().count() === 2)
    assert(nodes.filter($"identifier" === "node-b" && $"hidden").count() === 2)
    // re-run with b still absent: hidden b is NOT a removal candidate again
    val r2 = new ImportService(preset(dir, Seq(("a", 1L, "Ada")),
      softDelete = true)).importData(spark)
    assert(r2.removed === 0)
    // b returns with a newer version → update un-hides (W6, `:202`)
    val r3 = new ImportService(preset(dir, Seq(("a", 1L, "Ada"), ("b", 9L, "Bob")),
      softDelete = true)).importData(spark)
    assert(r3.updated === 1)
    val b = nodesOf(dir).filter($"identifier" === "node-b")
    assert(b.filter($"hidden").count() === 0)
  }

  test("removeAll under root path returns distinct id count (W8)") {
    val dir = tmpDir("node6")
    val p = preset(dir, Seq(("a", 1L, "Ada"), ("b", 1L, "Bob")))
    new ImportService(p).importData(spark)
    assert(p.target.removeAll(spark) === 2L)
    assert(!new java.io.File(s"$dir/nodes").exists())
  }

  test("removeAll is STRICTLY under root (LIKE root||'/%', " +
      "ContentRepositoryTarget.php:215-236): the root container node " +
      "and sibling string-prefix paths survive") {
    val dir = tmpDir("node7")
    // bucket resolver puts 'a' under /sites/odd, 'b' under
    // /sites/oddball (a SIBLING sharing the /sites/odd string prefix)
    val target = NodeTarget(s"$dir/nodes", idPrefix = "node-",
      softDelete = true,
      variantsResolver = _ => array(lit("de")),
      parentPathResolver = Some(df =>
        when(col("id") === "a", "/sites/odd").otherwise("/sites/oddball")))
    new ImportService(Preset(
      InlineSource(s => { import s.implicits._
        Seq(("a", 1L, "Ada"), ("b", 1L, "Bob")).toDF("id", "version", "name") }),
      target, Mapper(Seq("name" -> "${upper(record.name)}")),
      idAttribute = "id", versionAttribute = Some("version"),
      diffOptions = target.diffOptions)).importData(spark)

    // soft removeAll under /sites/odd: ONLY node-a (path
    // /sites/odd/a) is affected — not the /sites/odd container
    // itself, not the /sites/oddball container, not node-b
    val n = NodeTarget(s"$dir/nodes", softDelete = true,
      rootPath = "/sites/odd").removeAll(spark)
    assert(n === 1L)
    val st = nodesOf(dir)
    assert(st.filter($"hidden").select("path").as[String].collect().toSet
      === Set("/sites/odd/a"))

    // hard removeAll under /sites/odd: node-a's rows are dropped,
    // everything else (both containers, node-b) survives on disk
    val n2 = NodeTarget(s"$dir/nodes", softDelete = false,
      rootPath = "/sites/odd").removeAll(spark)
    assert(n2 === 1L)
    val st2 = nodesOf(dir)
    assert(st2.select("path").as[String].collect().toSet
      === Set("/sites/odd", "/sites/oddball", "/sites/oddball/b"))
  }

  test("keyed diff-state index: _dstate is written inside the state " +
      "dir (invisible to the table read) and tracks the diff state " +
      "across syncs and removeAll") {
    val dir = tmpDir("node-dstate")
    // sync 1: a, b
    new ImportService(preset(dir,
      Seq(("a", 1L, "Ada"), ("b", 1L, "Bob")), softDelete = true))
      .importData(spark)
    val idx1 = idxOf(dir)
    assert(idx1.columns.toSet === Set("id", "version", "hidden"))
    assert(idx1.as[(String, Long, Boolean)].collect().toSet
      === Set(("node-a", 1L, false), ("node-b", 1L, false)))
    // the index subdir must NOT leak into the node-table read
    assert(nodesOf(dir).columns.contains("variant"))
    // sync 2: a updated, b absent → soft-hidden, c added
    new ImportService(preset(dir,
      Seq(("a", 2L, "Ada2"), ("c", 1L, "Cyd")), softDelete = true))
      .importData(spark)
    val idx2 = idxOf(dir)
      .as[(String, Long, Boolean)].collect().toSet
    assert(idx2 === Set(
      ("node-a", 2L, false), ("node-b", 1L, true), ("node-c", 1L, false)))
    // index state == the aggregation over the node table (the
    // invariant the projection maintenance must preserve)
    val agg = nodesOf(dir)
      .groupBy($"identifier").agg(
        max($"version").as("v"),
        min($"hidden".cast("int")).cast("boolean").as("h"))
      .as[(String, Long, Boolean)].collect().toSet
    assert(agg === idx2)
    // removeAll evolves the index by the same path predicate
    NodeTarget(s"$dir/nodes", softDelete = true, rootPath = "/sites")
      .removeAll(spark)
    val idx3 = idxOf(dir)
      .as[(String, Long, Boolean)].collect().toSet
    assert(idx3 === Set(
      ("node-a", 2L, true), ("node-b", 1L, true), ("node-c", 1L, true)))
  }

  test("generation commit: a reader holding the PREVIOUS generation " +
      "survives a concurrent sync (retained until the commit after " +
      "next), and the pointer-resolved read always sees the new state") {
    val dir = tmpDir("node-genreader")
    new ImportService(preset(dir, Seq(("a", 1L, "Ada"))))
      .importData(spark)
    val gen1 = stateDirOf(dir)
    assert(gen1.contains("gen-"))
    // a long-lived reader plans against the resolved dir (the
    // VectorIndex.probe discipline: resolve per query, plan against
    // the immutable generation)
    val oldReader = spark.read.parquet(gen1).select("identifier", "name")
    // sync 2 commits a new generation while the reader is in flight
    new ImportService(preset(dir, Seq(("a", 2L, "Ada2"))))
      .importData(spark)
    val gen2 = stateDirOf(dir)
    assert(gen2 !== gen1)
    // the old reader still serves its complete pre-sync view
    assert(oldReader.as[(String, String)].collect().toSet ===
      Set(("node-a", "ADA")))
    // the pointer-resolved read sees the committed new state
    assert(nodesOf(dir).select("name").distinct()
      .as[String].head() === "ADA2")
    // two-refresh limit: after a THIRD commit, gen1 is pruned
    new ImportService(preset(dir, Seq(("a", 3L, "Ada3"))))
      .importData(spark)
    assert(!graft.util.Fs.exists(gen1))
    assert(graft.util.Fs.exists(gen2)) // the previous survives
  }

  test("pre-existing UNPREFIXED local ids never get the prefix glued " +
      "on in the keyed index — index id == node identifier for " +
      "unchanged and soft-removed rows (r14 ADVICE)") {
    val dir = tmpDir("node-unpref")
    // a state dir written by some earlier, prefix-less pipeline: the
    // diff's strip is conditional, so this id passes through raw
    seedState(dir, Seq(("legacy", "", "/sites/legacy", false, 1L, "LEG"))
      .toDF("identifier", "variant", "path", "hidden", "version", "name"))
    // sync 1: source still carries "legacy" (same version → unchanged)
    // plus a new record
    val r1 = new ImportService(preset(dir,
      Seq(("legacy", 1L, "Leg"), ("a", 1L, "Ada")), softDelete = true))
      .importData(spark)
    assert(r1.added === 1 && r1.updated === 0 && r1.removed === 0)
    val idx1 = idxOf(dir)
      .as[(String, Long, Boolean)].collect().toSet
    assert(idx1 === Set(("legacy", 1L, false), ("node-a", 1L, false)))
    // sync 2: legacy gone from the source → soft-hidden under its
    // ORIGINAL identifier
    val r2 = new ImportService(preset(dir,
      Seq(("a", 1L, "Ada")), softDelete = true)).importData(spark)
    assert(r2.removed === 1)
    val idx2 = idxOf(dir)
      .as[(String, Long, Boolean)].collect().toSet
    assert(idx2 === Set(("legacy", 1L, true), ("node-a", 1L, false)))
    // the pinned invariant: index == aggregation over the node table
    val agg = nodesOf(dir)
      .filter(!$"identifier".startsWith("auto:"))
      .groupBy($"identifier").agg(
        max($"version").as("v"),
        min($"hidden".cast("int")).cast("boolean").as("h"))
      .as[(String, Long, Boolean)].collect().toSet
    assert(agg === idx2)
    // and a third identical sync is a no-op — no phantom remove+add
    val r3 = new ImportService(preset(dir,
      Seq(("a", 1L, "Ada")), softDelete = true)).importData(spark)
    assert((r3.added, r3.updated, r3.removed) === ((0L, 0L, 0L)))
  }

  test("a legacy UNPREFIXED id that is UPDATED replaces its old rows " +
      "— no stranded duplicates — and the index tracks the new " +
      "prefixed identifier (r15 verdict, update twin)") {
    val dir = tmpDir("node-unpref-upd")
    seedState(dir, Seq(("legacy", "", "/sites/legacy", false, 1L, "LEG"))
      .toDF("identifier", "variant", "path", "hidden", "version", "name"))
    val r = new ImportService(preset(dir, Seq(("legacy", 5L, "Leg2"))))
      .importData(spark)
    assert(r.updated === 1)
    val nodes = nodesOf(dir)
    val ids = nodes.select("identifier").as[String].collect()
    assert(ids.toSet === Set("node-legacy"),
      "the old unprefixed rows must be replaced, not stranded")
    assert(ids.length === 2) // de + en variants, nothing else
    assert(nodes.select("version").distinct().as[Long].head() === 5L)
    val idx = idxOf(dir)
      .as[(String, Long, Boolean)].collect().toSet
    assert(idx === Set(("node-legacy", 5L, false)))
    // pinned invariant: index == aggregation(node table)
    val agg = nodes.filter(!$"identifier".startsWith("auto:"))
      .groupBy($"identifier").agg(
        max($"version").as("v"),
        min($"hidden".cast("int")).cast("boolean").as("h"))
      .as[(String, Long, Boolean)].collect().toSet
    assert(agg === idx)
    // and the next identical sync is a clean no-op
    val r2 = new ImportService(preset(dir, Seq(("legacy", 5L, "Leg2"))))
      .importData(spark)
    assert((r2.added, r2.updated, r2.removed) === ((0L, 0L, 0L)))
  }

  test("a legacy UNPREFIXED id hard-removed actually drops its rows " +
      "(r15 verdict, hard-delete twin)") {
    val dir = tmpDir("node-unpref-rm")
    seedState(dir, Seq(
      ("legacy", "", "/sites/legacy", false, 1L, "LEG"),
      ("node-a", "de", "/sites/a", false, 1L, "ADA"),
      ("node-a", "en", "/sites/a", false, 1L, "ADA"))
      .toDF("identifier", "variant", "path", "hidden", "version", "name"))
    val r = new ImportService(preset(dir, Seq(("a", 1L, "Ada"))))
      .importData(spark)
    assert(r.removed === 1)
    val nodes = nodesOf(dir)
    assert(nodes.select("identifier").as[String].collect().toSet
      === Set("node-a"), "the legacy row must actually be deleted")
    val idx = idxOf(dir)
      .as[(String, Long, Boolean)].collect().toSet
    assert(idx === Set(("node-a", 1L, false)))
  }

  test("a sync that empties the record set (auto: containers survive) " +
      "leaves a READABLE schema-bearing _dstate (r14 ADVICE)") {
    val dir = tmpDir("node-empty-idx")
    def p(data: Seq[(String, Long, String)]) = {
      val target = NodeTarget(s"$dir/nodes", idPrefix = "node-",
        parentPathResolver =
          Some(df => concat(lit("/sites/"), col("cat"))))
      Preset(
        InlineSource(s => { import s.implicits._
          data.toDF("id", "version", "cat") }),
        target, Mapper(Seq("cat" -> "cat")),
        idAttribute = "id", versionAttribute = Some("version"),
        diffOptions = target.diffOptions)
    }
    new ImportService(p(Seq(("a", 1L, "news")))).importData(spark)
    // hard-remove everything; the auto: container keeps the table
    // non-empty, so the state dir is NOT dropped wholesale — the
    // degenerate empty-index write path runs
    val r2 = new ImportService(p(Seq.empty)).importData(spark)
    assert(r2.removed === 1)
    assert(nodesOf(dir).count() === 1) // container
    val idx = idxOf(dir) // must not throw
    assert(idx.count() === 0)
    assert(idx.columns.toSet === Set("id", "version", "hidden"))
    // the next sync reads through the empty index and re-adds
    val r3 = new ImportService(p(Seq(("b", 1L, "news")))).importData(spark)
    assert(r3.added === 1)
    assert(idxOf(dir).count() === 1)
  }
}
