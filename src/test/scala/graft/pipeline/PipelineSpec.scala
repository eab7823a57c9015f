package graft.pipeline

import graft.SparkSpec
import graft.core.DiffOptions
import graft.mapper.Mapper
import graft.sources.{FileSource, InlineSource}
import graft.targets.FileTarget
import org.apache.spark.sql.functions._

/**
 * End-to-end sync pipeline — the SURVEY §7.2 minimum slice:
 * JSON FileSource → keying → mapping → diff vs FileTarget → apply,
 * across multiple runs (idempotence, update, remove).
 */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(dir: String, name: String, json: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.writeString(p, json)
    p.toString
  }

  private val personsJson =
    """[
      |  {"id": "p1", "given_name": "Ada",  "family_name": "Lovelace", "version": 3},
      |  {"id": "p2", "given_name": "Alan", "family_name": "Turing",   "version": 1},
      |  {"id": "p2", "given_name": "ALAN", "family_name": "TURING",   "version": 2},
      |  {"id": "p3", "given_name": "Edsger", "family_name": "Dijkstra", "version": 1}
      |]""".stripMargin

  private val mapper = Mapper(Seq(
    "firstName" -> "${initcap(record.given_name)}",
    "lastName" -> "family_name"))

  test("full sync lifecycle: add, idempotent re-run, update, remove") {
    val dir = tmpDir("pipeline")
    val fixture = writeFixture(dir, "persons.json", personsJson)
    val target = FileTarget(s"$dir/target")
    val preset = Preset(FileSource(fixture), target, mapper,
      idAttribute = "id", versionAttribute = Some("version"))
    val service = new ImportService(preset)

    // run 1: everything added; duplicate p2 deduped last-wins
    val r1 = service.importData(spark)
    assert((r1.added, r1.updated, r1.removed) === ((3L, 0L, 0L)))
    val state1 = spark.read.parquet(s"$dir/target")
    assert(state1.count() === 3)
    val p2 = state1.filter($"id" === "p2").head()
    assert(p2.getAs[String]("firstName") === "Alan") // initcap of ALAN (last-wins)
    assert(p2.getAs[Long]("version") === 2L)

    // run 2: unchanged source ⇒ empty changeset (idempotence)
    val r2 = service.importData(spark)
    assert((r2.added, r2.updated, r2.removed) === ((0L, 0L, 0L)))

    // run 3: p1 bumped, p3 gone, p4 new
    writeFixture(dir, "persons.json",
      """[
        |  {"id": "p1", "given_name": "ada2", "family_name": "Lovelace", "version": 4},
        |  {"id": "p2", "given_name": "ALAN", "family_name": "TURING",  "version": 2},
        |  {"id": "p4", "given_name": "Grace", "family_name": "Hopper", "version": 1}
        |]""".stripMargin)
    val r3 = service.importData(spark)
    assert((r3.added, r3.updated, r3.removed) === ((1L, 1L, 1L)))
    val state3 = spark.read.parquet(s"$dir/target")
    assert(state3.count() === 3)
    assert(state3.filter($"id" === "p1").head().getAs[String]("firstName") === "Ada2")
    assert(state3.filter($"id" === "p3").count() === 0)

    // run 4: force ⇒ every surviving source row updates
    val r4 = service.importData(spark, forceUpdates = true)
    assert((r4.added, r4.updated, r4.removed) === ((0L, 3L, 0L)))
  }

  test("a skip-flag sync writes nothing for the skipped branch " +
      "(ImportService.php:77-82)") {
    val dir = tmpDir("pipeline-skip")
    val source = InlineSource(s => {
      import s.implicits._
      Seq(("a", 1L)).toDF("id", "version")
    })
    val target = FileTarget(s"$dir/target")
    val preset = Preset(source, target, Mapper(Seq("id" -> "id")),
      idAttribute = "id", versionAttribute = Some("version"),
      skipAddedRecords = true)
    // the diff zeroes the added branch ⇒ the new record is not written
    val r = new ImportService(preset).importData(spark)
    assert(r.added === 0)
    assert(target.currentState(spark).count() === 0L)
  }

  test("prune refuses to run with skip flags (ImportService.php:96-100)") {
    val dir = tmpDir("pipeline-prune")
    val preset = Preset(
      InlineSource(s => { import s.implicits._; Seq(("a", 1L)).toDF("id", "version") }),
      FileTarget(s"$dir/target"), Mapper(Seq("id" -> "id")),
      idAttribute = "id", versionAttribute = Some("version"),
      skipRemovedRecords = true)
    intercept[ImportServiceException] {
      new ImportService(preset).removeAllData(spark)
    }
  }

  test("prune removes all and returns count (DbalTarget.php:160-167)") {
    val dir = tmpDir("pipeline-prune2")
    val preset = Preset(
      InlineSource(s => { import s.implicits._
        Seq(("a", 1L), ("b", 2L)).toDF("id", "version") }),
      FileTarget(s"$dir/target"), Mapper(Seq("id" -> "id")),
      idAttribute = "id", versionAttribute = Some("version"))
    val svc = new ImportService(preset)
    svc.importData(spark)
    assert(svc.removeAllData(spark) === 2L)
    assert(svc.importData(spark).added === 2L) // resync from scratch
  }

  test("dataProcessor runs between load and diff (Preset.php:44-50)") {
    val dir = tmpDir("pipeline-proc")
    val preset = Preset(
      InlineSource(s => { import s.implicits._
        Seq(("a", 1L, 10), ("b", 2L, 99)).toDF("id", "version", "score") }),
      FileTarget(s"$dir/target"),
      Mapper(Seq("id" -> "id", "score" -> "score")),
      idAttribute = "id", versionAttribute = Some("version"),
      dataProcessor = Some(df => df.filter(col("score") < 50)))
    val r = new ImportService(preset).importData(spark)
    assert(r.added === 1)
  }

  test("all 13 lifecycle events fire in reference order " +
      "(ImportService.php:17-31)") {
    val dir = tmpDir("pipeline-events")
    // seed: b (stale → update), c (absent from source → remove);
    // source: a (new → add), b
    def preset(src: Seq[(String, Long)]) = Preset(
      InlineSource(s => { import s.implicits._; src.toDF("id", "version") }),
      FileTarget(s"$dir/target"), Mapper(Seq("id" -> "id")),
      idAttribute = "id", versionAttribute = Some("version"))
    new ImportService(preset(Seq("b" -> 1L, "c" -> 1L))).importData(spark)
    val seen = scala.collection.mutable.ArrayBuffer[ImportEvent.Value]()
    new ImportService(preset(Seq("a" -> 1L, "b" -> 2L)))
      .on((e, _) => seen += e).importData(spark)
    import ImportEvent._
    assert(seen.toSeq === Seq(PreComputeChanges, PreImportData,
      PreAddData, DoAddData, PostAddData,
      PreUpdateData, DoUpdateData, PostUpdateData,
      PreRemoveData, DoRemoveData, PostRemoveData,
      Finalize))
    // Error is the 13th member of the surface; it fires on record
    // failures (JdbcTargetSpec covers it with ids and messages)
    assert(ImportEvent.values.size === 13)
  }

  test("Pre* phase event payloads evaluate to the PHASE's data, not " +
      "the post-commit state (dispatch happens before the cached " +
      "diff is released)") {
    val dir = tmpDir("pipeline-payload")
    def preset(src: Seq[(String, Long)]) = Preset(
      InlineSource(s => { import s.implicits._; src.toDF("id", "version") }),
      FileTarget(s"$dir/target"), Mapper(Seq("id" -> "id")),
      idAttribute = "id", versionAttribute = Some("version"))
    new ImportService(preset(Seq("b" -> 1L, "c" -> 1L))).importData(spark)
    // a,d new; b stale -> update; c absent -> remove. A listener that
    // evaluates the Pre* payload frames AT DISPATCH TIME must see the
    // phase rows: after the snapshot swap the same lazy plans would
    // re-diff against the committed state and come back empty.
    val counted = scala.collection.mutable.Map[ImportEvent.Value, Long]()
    val progress = scala.collection.mutable
      .Map[ImportEvent.Value, graft.targets.DataTarget.PhaseProgress]()
    val r = new ImportService(
        preset(Seq("a" -> 1L, "b" -> 2L, "d" -> 1L)))
      .on((e, payload) => payload match {
        case df: org.apache.spark.sql.DataFrame
            if e == ImportEvent.PreAddData || e == ImportEvent.PreUpdateData ||
               e == ImportEvent.PreRemoveData =>
          counted(e) = df.count()
        case p: graft.targets.DataTarget.PhaseProgress => progress(e) = p
        case _ => ()
      })
      .importData(spark)
    assert((r.added, r.updated, r.removed) === ((2L, 1L, 1L)))
    assert(counted(ImportEvent.PreAddData) === r.added)
    assert(counted(ImportEvent.PreUpdateData) === r.updated)
    assert(counted(ImportEvent.PreRemoveData) === r.removed)
    // Do* payloads carry the count plus a bounded id sample — the
    // per-record progress detail the reference CLI prints
    assert(progress(ImportEvent.DoAddData).count === r.added)
    assert(progress(ImportEvent.DoAddData).sampleIds.toSet === Set("a", "d"))
    assert(progress(ImportEvent.DoUpdateData).sampleIds === Seq("b"))
    assert(progress(ImportEvent.DoRemoveData).sampleIds === Seq("c"))
  }

  test("partitioned copy-on-write: untouched partition dirs are not " +
      "rewritten") {
    val dir = tmpDir("pipeline-cow")
    val target = FileTarget(s"$dir/target", partitions = 8)
    def preset(data: Seq[(String, Long, String)]) = Preset(
      InlineSource(s => { import s.implicits._
        data.toDF("id", "version", "name") }),
      target, Mapper(Seq("name" -> "name")),
      idAttribute = "id", versionAttribute = Some("version"))
    val seed = (1 to 200).map(i => (s"id$i", 1L, s"v$i"))
    new ImportService(preset(seed)).importData(spark)

    def listing(): Map[String, Set[String]] = {
      val root = new java.io.File(s"$dir/target")
      root.listFiles().filter(_.getName.startsWith("pt="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    }
    val before = listing()
    assert(before.nonEmpty)

    // delta: update id1 (newer), add idNEW, drop id2; everything else
    // re-asserted identically (no change)
    val delta = seed.filterNot(_._1 == "id2")
      .map { case ("id1", _, _) => ("id1", 2L, "v1b"); case x => x } :+
      (("idNEW", 1L, "new"))
    val r = new ImportService(preset(delta)).importData(spark)
    assert((r.added, r.updated, r.removed) === ((1L, 1L, 1L)))

    val after = listing()
    val touched = before.keySet.union(after.keySet)
      .filter(k => before.get(k) != after.get(k))
    // only the buckets of id1/id2/idNEW may differ: ≤ 3 dirs
    assert(touched.size <= 3, s"rewrote $touched")
    assert(touched.size < before.size, "everything was rewritten")

    // and the merged state is exactly right
    val state = spark.read.parquet(s"$dir/target")
    import spark.implicits._
    val got = state.select("id", "version", "name")
      .as[(String, Long, String)].collect().toSet
    val want = delta.toSet
    assert(got === want)
  }

  test("compaction: flat state rewritten to the byte-target file " +
      "count, content byte-identical, idempotent; bucketed is a no-op") {
    val dir = tmpDir("pipeline-compact")
    val target = FileTarget(s"$dir/state")
    val rows = (1 to 500).map(i => (s"id$i", i.toLong, s"payload-$i"))
    // seed deliberately fragmented: 32 tiny files
    rows.toDF("id", "version", "name").repartition(32)
      .write.parquet(s"$dir/state")
    def files() = new java.io.File(s"$dir/state").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() === 32)
    val before = spark.read.parquet(s"$dir/state")
      .as[(String, Long, String)].collect().toSet
    // huge target => everything fits one file
    val n = target.compact(spark, targetFileBytes = 1L << 30)
    assert(n === 1L && files() === 1)
    val after = spark.read.parquet(s"$dir/state")
      .as[(String, Long, String)].collect().toSet
    assert(after === before)
    assert(!new java.io.File(s"$dir/state.swap-manifest").exists())
    assert(!new java.io.File(s"$dir/state.compact-staging").exists())
    // second run: already compact -> no rewrite
    assert(target.compact(spark, targetFileBytes = 1L << 30) === -1L)
    // bucketed layout: always a no-op (one file per bucket by write)
    val bt = FileTarget(s"$dir/bstate", buckets = 4)
    bt.writeState(spark, rows.toDF("id", "version", "name"))
    assert(bt.compact(spark) === -1L)
  }

  test("compaction as the FIRST op after a writer crash completes the " +
      "pending swap before rewriting — staged sync state is not lost") {
    import spark.implicits._
    val dir = tmpDir("pipeline-compact-crash")
    val live = s"$dir/state"
    val target = FileTarget(live)
    Seq(("a", 1L, "OLD")).toDF("id", "version", "name")
      .repartition(2).write.parquet(live)
    // a crashed sync: staged next-state + manifest written, swap never
    // replayed (FileTarget's manifest-swap crash window)
    val staging = s"$live.staging"
    Seq(("a", 2L, "NEW"), ("b", 1L, "NEW"))
      .toDF("id", "version", "name").repartition(2).write.parquet(staging)
    val m = graft.util.Fs.path(s"$live.swap-manifest")
    val out = graft.util.Fs.fsOf(m).create(m, true)
    out.write(s"$staging\n*:swap".getBytes("UTF-8")); out.close()
    // compact must recover FIRST: the result is the staged (post-sync)
    // content, compacted — not the pre-swap rows, and no manifest left
    val n = target.compact(spark, targetFileBytes = 1L << 30)
    assert(n === 1L)
    val got = spark.read.parquet(live)
      .as[(String, Long, String)].collect().toSet
    assert(got === Set(("a", 2L, "NEW"), ("b", 1L, "NEW")))
    assert(!graft.util.Fs.exists(s"$live.swap-manifest"))
    assert(!graft.util.Fs.exists(staging))
  }

  test("compaction: partitioned state collapses to one file per pt " +
      "dir and every row survives") {
    val dir = tmpDir("pipeline-compact-pt")
    val target = FileTarget(s"$dir/state", partitions = 4)
    val rows = (1 to 300).map(i => (s"id$i", i.toLong, s"v$i"))
    // fragment each pt dir: three separate appends of the SAME layout
    rows.grouped(100).foreach { chunk =>
      chunk.toDF("id", "version", "name")
        .withColumn("pt", pmod(xxhash64($"id".cast("string")), lit(4L)))
        .repartition($"pt")
        .write.mode("append").partitionBy("pt").parquet(s"$dir/state")
    }
    def ptFiles() = new java.io.File(s"$dir/state").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pt="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(ptFiles().exists(_ > 1)) // fragmented before
    val before = spark.read.parquet(s"$dir/state")
      .select($"id", $"version", $"name")
      .as[(String, Long, String)].collect().toSet
    val n = target.compact(spark, targetFileBytes = 1L << 30)
    assert(n === 4L && ptFiles().forall(_ === 1))
    val after = spark.read.parquet(s"$dir/state")
      .select($"id", $"version", $"name")
      .as[(String, Long, String)].collect().toSet
    assert(after === before)
  }

  test("bucketed state: the diff join consumes the bucketing — no " +
      "state-side exchange; merged state matches the plain target") {
    val dir = tmpDir("pipeline-bucketed")
    def seed(t: FileTarget): Unit = t.writeState(spark, { import spark.implicits._
      (1 to 200).filterNot(_ % 7 == 0)
        .map(i => (s"id$i", 1L, "OLD")).toDF("id", "version", "name") })
    def src = { import spark.implicits._
      (1 to 200).filterNot(_ % 10 == 0)
        .map(i => (s"id$i", if (i % 3 == 0) 2L else 1L, s"v$i"))
        .toDF("id", "version", "name") }
    def preset(t: FileTarget) = Preset(
      InlineSource(_ => src), t, Mapper(Seq("name" -> "name")),
      idAttribute = "id", versionAttribute = Some("version"))

    // bucket count == session shuffle partitions: the source side's
    // keying dedup already exchanges on __id at that count, so the
    // join reuses it and the WHOLE diff runs on one exchange
    val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bucketed = FileTarget(s"$dir/bstate", buckets = nShuffle)
    seed(bucketed)

    // commit shape: writeState repartitions on the bucket expression
    // first, so each task writes exactly ONE bucket file — ≤ buckets
    // data files total, never tasks×buckets tiny files (the r7 sync
    // regression)
    val dataFiles = new java.io.File(s"$dir/bstate").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles.length <= nShuffle,
      s"bucketed write produced ${dataFiles.length} files for $nShuffle buckets")

    // plan shape: with broadcast off (the big-big regime the
    // bucketing exists for), the diff's full-outer join must show
    // exactly ONE exchange — the incoming source side's dedup
    // shuffle; the state side reads its bucketing from the catalog
    // (FileScan ... Bucketed: true, no exchange above it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val keyed = graft.core.Records.keyRecords(src, "id", Some("version"))
      val changes = graft.core.Diff
        .computeDataChanges(keyed, bucketed.currentState(spark)).changes
      val plan = changes.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, plan.take(1500))
      val below = plan.substring(joinIdx)
      assert(below.contains("Bucketed: true"), below.take(2000))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(below).size
      assert(exchanges === 1, below.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // end to end: bucketed result == plain result
    val r = new ImportService(preset(bucketed)).importData(spark)

    // the commit REFRESHes the stable catalog entry (no DROP/CREATE):
    // a SECOND sync's diff must still consume the bucketing with the
    // single source-side exchange — the property must survive commits,
    // not just the seed
    val prev2 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val keyed2 = graft.core.Records.keyRecords(src, "id", Some("version"))
      val plan2 = graft.core.Diff
        .computeDataChanges(keyed2, bucketed.currentState(spark)).changes
        .queryExecution.executedPlan.toString
      val joinIdx2 = plan2.indexOf("SortMergeJoin")
      assert(joinIdx2 >= 0, plan2.take(1500))
      val below2 = plan2.substring(joinIdx2)
      assert(below2.contains("Bucketed: true"), below2.take(2000))
      assert("Exchange hashpartitioning".r.findAllIn(below2).size === 1,
        below2.take(2000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev2)
    // add: 10∤i ∧ 7|i = 28−2; update: 3|i ∧ 10∤i ∧ 7∤i = 66−6−9;
    // remove: 7∤i ∧ 10|i = 20−2
    assert((r.added, r.updated, r.removed) === ((26L, 51L, 18L)))
    val plain = FileTarget(s"$dir/pstate")
    seed(plain)
    new ImportService(preset(plain)).importData(spark)
    import spark.implicits._
    def rows(p: String): Set[(String, Long, String)] =
      spark.read.parquet(p).select(col("id"), col("version").cast("long"),
        col("name")).as[(String, Long, String)].collect().toSet
    assert(rows(s"$dir/bstate") === rows(s"$dir/pstate"))
  }

  test("bucketed swap crash windows: a pending whole-dir manifest " +
      "(`*:swap`) is replayed to completion before the next read") {
    val dir = tmpDir("pipeline-bcrash")
    val target = FileTarget(s"$dir/bstate", buckets = 4)
    import spark.implicits._
    target.writeState(spark,
      (1 to 50).map(i => (s"id$i", 1L, s"v$i")).toDF("id", "version", "name"))
    def stateRows(): Set[(String, Long, String)] =
      target.currentState(spark)
        .select(col("id"), col("version").cast("long"), col("name"))
        .as[(String, Long, String)].collect().toSet
    val committed = stateRows()
    assert(committed.size === 50)

    val live = new java.io.File(s"$dir/bstate")
    val staging = new java.io.File(s"$dir/bstate.staging")
    val manifest = new java.io.File(s"$dir/bstate.swap-manifest")
    def write(lines: Seq[String]): Unit =
      java.nio.file.Files.write(manifest.toPath, lines.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def copyDir(src: java.io.File, dst: java.io.File): Unit = {
      dst.mkdirs()
      src.listFiles().foreach { f =>
        if (f.isDirectory) copyDir(f, new java.io.File(dst, f.getName))
        else java.nio.file.Files.copy(f.toPath,
          new java.io.File(dst, f.getName).toPath)
      }
    }

    // window A — crash mid-rm(live): the staged next-state is
    // complete, the live dir is PARTIALLY deleted. Recovery must
    // finish the rm and rename the staged dir in — state intact.
    copyDir(live, staging)
    val victim = live.listFiles().filter(_.getName.endsWith(".parquet")).head
    assert(victim.delete()) // live is now half-deleted (torn state)
    write(Seq(staging.getPath, "*:swap"))
    assert(stateRows() === committed)
    assert(!manifest.exists() && !staging.exists())

    // window B — crash after rm(live), before rename(staging): live
    // is gone entirely, only the staged dir holds the state.
    assert(live.renameTo(staging)) // live vanished, data only staged
    write(Seq(staging.getPath, "*:swap"))
    assert(stateRows() === committed)
    assert(!manifest.exists() && !staging.exists() && live.exists())

    // window C — crash after rename completed, before manifest
    // delete: staging is gone, live holds the committed data.
    // Recovery must leave it untouched and clear the manifest.
    write(Seq(staging.getPath, "*:swap"))
    assert(stateRows() === committed)
    assert(!manifest.exists() && live.exists())
  }

  test("partitioned swap crash windows: a pending manifest is " +
      "replayed to completion before the next read") {
    val dir = tmpDir("pipeline-crash")
    val target = FileTarget(s"$dir/target", partitions = 8)
    def preset(data: Seq[(String, Long, String)]) = Preset(
      InlineSource(s => { import s.implicits._
        data.toDF("id", "version", "name") }),
      target, Mapper(Seq("name" -> "name")),
      idAttribute = "id", versionAttribute = Some("version"))
    val seed = (1 to 200).map(i => (s"id$i", 1L, s"v$i"))
    new ImportService(preset(seed)).importData(spark)

    import spark.implicits._
    def stateRows(): Set[(String, Long, String)] =
      target.currentState(spark).select("id", "version", "name")
        .as[(String, Long, String)].collect().toSet
    val committed = stateRows()
    assert(committed.size === 200)

    val root = new java.io.File(s"$dir/target")
    def buckets() = root.listFiles().filter(_.getName.startsWith("pt="))
    val manifest = new java.io.File(s"$dir/target.swap-manifest")

    def write(f: java.io.File, lines: Seq[String]): Unit =
      java.nio.file.Files.write(f.toPath, lines.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // window A — crash after rm(live) and before rename(staged):
    // the staged dir holds the bucket's committed data, the live dir
    // is gone, the manifest says swap. Recovery must rename it in.
    val bx = buckets().head
    val staging = new java.io.File(s"$dir/target.staging")
    staging.mkdirs()
    val staged = new java.io.File(staging, bx.getName)
    assert(bx.renameTo(staged)) // live dir vanished, data only staged
    write(manifest, Seq(staging.getPath, s"${bx.getName.drop(3)}:swap"))
    assert(stateRows() === committed) // recovered, nothing lost
    assert(!manifest.exists() && !staging.exists())
    assert(bx.exists()) // the bucket is live again

    // window B — crash before a drop bucket's rm ran: recovery
    // deletes the live dir (all of the bucket's rows were removed).
    val by = buckets().head
    val droppedRows = committed.size - stateRows().size // 0 so far
    staging.mkdirs() // staged next-state had nothing for this bucket
    write(manifest, Seq(staging.getPath, s"${by.getName.drop(3)}:drop"))
    target.currentState(spark).count()
    assert(!manifest.exists() && !by.exists())

    // window C — crash after a swap bucket's rename completed: the
    // staged dir is gone, the live dir holds the NEW data. Recovery
    // must leave it alone (this is the window where inferring "drop"
    // from an absent staged dir would delete committed data).
    val bz = buckets().head
    val afterB = stateRows()
    staging.mkdirs()
    write(manifest, Seq(staging.getPath, s"${bz.getName.drop(3)}:swap"))
    assert(stateRows() === afterB)
    assert(!manifest.exists() && bz.exists())
    assert(droppedRows === 0)
  }

  test("setup validates source path (FileSource.php:26-35)") {
    val preset = Preset(FileSource("/nonexistent/file.json"),
      FileTarget(tmpDir("t")), Mapper(Seq("id" -> "id")), "id")
    assert(!new ImportService(preset).setup(spark).ok)
  }
}
