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

  test("an empty snapshot phase fires no events and never evaluates " +
      "its frame: only non-empty phases take an id sample") {
    val boom = udf((s: String) =>
      if (s != null) throw new IllegalStateException("evaluated") else s)
    def unreadable = Seq("x").toDF("id").select(boom($"id").as("id"))
    val seen = scala.collection.mutable.ArrayBuffer[(ImportEvent.Value, Any)]()
    graft.targets.DataTarget.dispatchSnapshotPhases(
      (e, payload) => seen += (e -> payload),
      Seq("a", "b").toDF("id"), 2L,
      unreadable, 0L,
      unreadable, 0L)
    import ImportEvent._
    assert(seen.map(_._1).toSeq === Seq(PreAddData, DoAddData, PostAddData))
    val p = seen(1)._2.asInstanceOf[graft.targets.DataTarget.PhaseProgress]
    assert(p.count === 2L && p.sampleIds.toSet === Set("a", "b"))
    assert(seen(2)._2 === 2L)
  }

  test("a no-op sync commits nothing in every layout: each state file " +
      "keeps its name and mtime, the result is (0, 0, 0) and no phase " +
      "event fires; a first sync from an empty source creates the state") {
    import scala.jdk.CollectionConverters._
    def files(root: String): Map[String, Long] = {
      val r = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(r).iterator().asScala
        .filter(p => p != r)
        .map(p => r.relativize(p).toString ->
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    def preset(target: FileTarget, src: Seq[(String, Long, String)]) =
      Preset(
        InlineSource(s => { import s.implicits._
          src.toDF("id", "version", "name") }),
        target, Mapper(Seq("id" -> "id", "name" -> "name")),
        idAttribute = "id", versionAttribute = Some("version"))
    val rows = (1 to 40).map(i => (s"id$i", 1L, s"n$i"))
    val dir = tmpDir("pipeline-noop")
    val target = FileTarget(s"$dir/target")
    new ImportService(preset(target, rows)).importData(spark)
    val before = files(dir)
    Thread.sleep(20) // a rewrite would move the millisecond mtimes
    val seen = scala.collection.mutable.ArrayBuffer[(ImportEvent.Value, Any)]()
    val r = new ImportService(preset(target, rows))
      .on((e, payload) => seen += (e -> payload)).importData(spark)
    assert((r.added, r.updated, r.removed) === ((0L, 0L, 0L)))
    assert(files(dir) === before)
    import ImportEvent._
    assert(seen.map(_._1).toSeq ===
      Seq(PreComputeChanges, PreImportData, Finalize))
    assert(seen.last._2 === r)
    assert(spark.read.parquet(s"$dir/target").count() === 40L)
    // first sync from an EMPTY source still creates a readable state
    // and its no-op re-run keeps it
    val edir = tmpDir("pipeline-empty-first")
    val empty = FileTarget(s"$edir/target")
    val r1 = new ImportService(preset(empty, Nil)).importData(spark)
    assert((r1.added, r1.updated, r1.removed) === ((0L, 0L, 0L)))
    assert(empty.currentState(spark).count() === 0L)
    assert(spark.read.parquet(s"$edir/target").count() === 0L)
    val ebefore = files(edir)
    Thread.sleep(20)
    new ImportService(preset(empty, Nil)).importData(spark)
    assert(files(edir) === ebefore)
    val r3 = new ImportService(preset(empty, rows.take(3))).importData(spark)
    assert(r3.added === 3L)
    assert(empty.currentState(spark).count() === 3L)
  }

  test("compaction: flat state rewritten to the byte-target file " +
      "count, content byte-identical, idempotent") {
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
  }

  test("compaction: a state fragmented by appends is rewritten to " +
      "ceil(bytes / target) files and every row survives") {
    val dir = tmpDir("pipeline-compact-appends")
    val target = FileTarget(s"$dir/state")
    val rows = (1 to 300).map(i => (s"id$i", i.toLong, s"v$i"))
    // three separate appends of four files each
    rows.grouped(100).foreach { chunk =>
      chunk.toDF("id", "version", "name").repartition(4)
        .write.mode("append").parquet(s"$dir/state")
    }
    def dataFiles() = new java.io.File(s"$dir/state").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(dataFiles().length === 12)
    val bytes = dataFiles().map(_.length).sum
    val before = spark.read.parquet(s"$dir/state")
      .as[(String, Long, String)].collect().toSet
    // a target of a third of the bytes (rounded up) asks for 3 files
    val n = target.compact(spark, targetFileBytes = bytes / 3 + 1)
    assert(n === 3L && dataFiles().length === 3)
    val after = spark.read.parquet(s"$dir/state")
      .as[(String, Long, String)].collect().toSet
    assert(after === before && after.size === 300)
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

  test("the session keeps Spark's defaults for AQE's initial partition " +
      "number, the parquet codec and the shuffled-hash-join local-map " +
      "threshold") {
    val conf = spark.sessionState.conf
    assert(conf.numShufflePartitions ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(conf.parquetCompressionCodec === "snappy")
    assert(conf.getConf(org.apache.spark.sql.internal.SQLConf
      .ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) === 0L)
  }

  test("copy-on-write: one sync that adds, updates and removes commits " +
      "exactly the merged state and leaves no staging dir or manifest") {
    val dir = tmpDir("pipeline-cow")
    val target = FileTarget(s"$dir/target")
    def preset(data: Seq[(String, Long, String)]) = Preset(
      InlineSource(s => { import s.implicits._
        data.toDF("id", "version", "name") }),
      target, Mapper(Seq("name" -> "name")),
      idAttribute = "id", versionAttribute = Some("version"))
    val seed = (1 to 200).map(i => (s"id$i", 1L, s"v$i"))
    new ImportService(preset(seed)).importData(spark)
    // delta: update id1 (newer), add idNEW, drop id2; everything else
    // re-asserted identically (no change)
    val delta = seed.filterNot(_._1 == "id2")
      .map { case ("id1", _, _) => ("id1", 2L, "v1b"); case x => x } :+
      (("idNEW", 1L, "new"))
    val r = new ImportService(preset(delta)).importData(spark)
    assert((r.added, r.updated, r.removed) === ((1L, 1L, 1L)))
    val got = spark.read.parquet(s"$dir/target")
      .select(col("id"), col("version").cast("long"), col("name"))
      .as[(String, Long, String)].collect().toSet
    assert(got === delta.toSet)
    assert(!new java.io.File(s"$dir/target.staging").exists())
    assert(!new java.io.File(s"$dir/target.swap-manifest").exists())
  }

  test("sort-merge diff (broadcast joins off): a sync against a seeded " +
      "state counts adds, updates and removes by version and keeps the " +
      "unchanged rows as stored") {
    val dir = tmpDir("pipeline-smj")
    val target = FileTarget(s"$dir/state")
    target.writeState(spark, (1 to 200).filterNot(_ % 7 == 0)
      .map(i => (s"id$i", 1L, "OLD")).toDF("id", "version", "name"))
    def src = { import spark.implicits._
      (1 to 200).filterNot(_ % 10 == 0)
        .map(i => (s"id$i", if (i % 3 == 0) 2L else 1L, s"v$i"))
        .toDF("id", "version", "name") }
    val preset = Preset(
      InlineSource(_ => src), target, Mapper(Seq("name" -> "name")),
      idAttribute = "id", versionAttribute = Some("version"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val r = try {
      val keyed = graft.core.Records.keyRecords(src, "id", Some("version"))
      val plan = graft.core.Diff
        .computeDataChanges(keyed, target.currentState(spark)).changes
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      new ImportService(preset).importData(spark)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // add: 10∤i ∧ 7|i = 28−2; update: 3|i ∧ 10∤i ∧ 7∤i = 66−6−9;
    // remove: 7∤i ∧ 10|i = 20−2
    assert((r.added, r.updated, r.removed) === ((26L, 51L, 18L)))
    val want = (1 to 200).filterNot(_ % 10 == 0).map { i =>
      if (i % 7 == 0 || i % 3 == 0)
        (s"id$i", if (i % 3 == 0) 2L else 1L, s"v$i")
      else (s"id$i", 1L, "OLD")
    }.toSet
    val got = spark.read.parquet(s"$dir/state")
      .select(col("id"), col("version").cast("long"), col("name"))
      .as[(String, Long, String)].collect().toSet
    assert(got === want)
  }

  test("swap crash windows: a pending whole-dir manifest (`*:swap`) is " +
      "replayed to completion before the next read; any other entry " +
      "fails naming the root and leaves the state untouched") {
    val dir = tmpDir("pipeline-bcrash")
    val target = FileTarget(s"$dir/bstate")
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

    // a per-bucket entry (the manifest of a partitioned layout) is not
    // replayed as a whole-dir swap: that would drop every bucket it
    // did not name
    copyDir(live, staging)
    write(Seq(staging.getPath, "3:swap"))
    val e = intercept[IllegalStateException](stateRows())
    assert(e.getMessage.contains(live.getPath), e.getMessage)
    assert(manifest.exists() && staging.exists())
    assert(spark.read.parquet(live.getPath)
      .select(col("id"), col("version").cast("long"), col("name"))
      .as[(String, Long, String)].collect().toSet === committed)
  }

  test("setup validates source path (FileSource.php:26-35)") {
    val preset = Preset(FileSource("/nonexistent/file.json"),
      FileTarget(tmpDir("t")), Mapper(Seq("id" -> "id")), "id")
    assert(!new ImportService(preset).setup(spark).ok)
  }
}
