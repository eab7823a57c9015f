package graft.streaming

import graft.SparkSpec
import graft.mapper.Mapper
import graft.pipeline.Preset
import graft.sources.InlineSource
import graft.targets.FileTarget
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming extension (SURVEY §7.5). */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("incremental sync: micro-batch = one sync run via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("stream-sync")
    val input = MemoryStream[(String, Long, String)]
    val target = FileTarget(s"$dir/target")
    val preset = Preset(
      InlineSource(_ => sys.error("unused — stream feeds the batches")),
      target, Mapper(Seq("name" -> "${upper(record.name)}")),
      idAttribute = "id", versionAttribute = Some("version"))

    // data must exist BEFORE start with AvailableNow (it snapshots
    // the available offsets at query start)
    input.addData(("a", 1L, "ada"), ("b", 1L, "bob"))
    val q = IncrementalSync.start(spark,
      input.toDF().toDF("id", "version", "name"),
      preset, s"$dir/chk",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q.awaitTermination(120000), "query did not terminate")
    assert(spark.read.parquet(s"$dir/target").count() === 2)

    // second micro-batch run: a newer, b absent — but streaming sync
    // only ever ADDS/UPDATES from the batch; absence in a micro-batch
    // must NOT delete (the batch is a delta, not a snapshot) — so b
    // survives and a updates
    val preset2 = preset.copy(skipRemovedRecords = true)
    input.addData(("a", 2L, "ada2"))
    val q2 = IncrementalSync.start(spark,
      input.toDF().toDF("id", "version", "name"),
      preset2, s"$dir/chk",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    assert(q2.awaitTermination(120000), "query2 did not terminate")
    val state = spark.read.parquet(s"$dir/target")
    assert(state.count() === 2)
    assert(state.filter($"id" === "a").select("name").as[String].head() === "ADA2")
  }

  test("replaySync: final merged state is batch-boundary-insensitive " +
      "(1 batch == 3 batches == max-version per id)") {
    def run(n: Int): Set[(String, Long, String)] = {
      val dir = tmpDir(s"replay-$n")
      val preset = Preset(
        InlineSource(_ => sys.error("stream feeds the batches")),
        FileTarget(s"$dir/state"),
        Mapper(Seq("event_type" -> "event_type")),
        idAttribute = "user_id", versionAttribute = Some("version"),
        skipRemovedRecords = true)
      // Tables.read, not a raw parquet read: it normalizes the ts
      // layout (nanos-as-long or NTZ micros) to TimestampType
      val ev = graft.util.Tables
        .read(spark, "/root/testdata/sf0.001", "events")
        .select(col("user_id"), col("event_id").as("version"),
          col("event_type"), col("ts"))
      IncrementalSync.replaySync(spark, ev, "ts", preset, dir, nBatches = n)
        .select(col("id"), col("version").cast("long"), col("event_type"))
        .as[(String, Long, String)].collect().toSet
    }
    val one = run(1)
    val three = run(3)
    assert(one === three)
    // and both equal the batch-engine definition: max version per id
    val want = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
      .groupBy(col("user_id").cast("string").as("id"))
      .agg(max_by(struct(col("event_id"), col("event_type")),
        col("event_id")).as("w"))
      .select(col("id"), col("w.event_id").cast("long"),
        col("w.event_type"))
      .as[(String, Long, String)].collect().toSet
    assert(one === want)
  }

  test("watermarked windowed aggregation over an event stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = IncrementalSync.windowedCounts(
      input.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.5),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:07:00"), "view", 3.0))
    q.processAllAvailable()
    val rows = spark.sql("SELECT event_type, n, value_cents FROM win_out")
      .as[(String, Long, Long)].collect().toSet
    q.stop()
    assert(rows === Set(("click", 2L, 350L), ("view", 1L, 300L)))
  }

  test("streaming dedup: duplicate fingerprints dropped within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val deduped = IncrementalSync.streamingDedup(
      input.toDF().toDF("doc_id", "ts", "text"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    input.addData(
      (1L, t0, "the quick brown fox"),
      (2L, t0, "THE  quick   brown fox"), // same normalized fingerprint
      (3L, t0, "something else entirely"))
    q.processAllAvailable()
    val kept = spark.sql("SELECT doc_id FROM dedup_out")
      .as[Long].collect().toSet
    q.stop()
    // one survivor per fingerprint: {1 or 2} + {3}
    assert(kept.size === 2)
    assert(kept.contains(3L))
    assert(kept.intersect(Set(1L, 2L)).size === 1)
  }

  test("eviction-lag pin is version-guarded: the q_stream_dedup oracle " +
      "replays empirically probed Spark 4.1 watermark propagation") {
    // IncrementalSync.streamingDedup's doc (and the q_stream_dedup
    // oracle) pin an EMPIRICALLY FITTED state machine: under an
    // AvailableNow replay, eviction during batch N uses the watermark
    // from batches <= N-2. That lag is an implementation detail of
    // Spark's watermark propagation, not a documented contract — a
    // Spark upgrade that tightens it would flip the oracle row with no
    // code change in this repo. Fail HERE, loudly, instead: bumping
    // Spark requires re-probing the lag (tools in StreamingSpec +
    // the q_stream_dedup oracle's recursive fold) before trusting it.
    assert(org.apache.spark.SPARK_VERSION.startsWith("4.1."),
      s"Spark ${org.apache.spark.SPARK_VERSION}: re-probe the " +
        "dropDuplicatesWithinWatermark eviction lag (batches <= N-2) " +
        "and update the q_stream_dedup oracle before accepting this " +
        "version — see IncrementalSync.streamingDedup's scaladoc")
  }

  test("stream-stream interval join: clicks attribute to views of the " +
      "same user within the horizon; outside-horizon clicks drop") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("stream-ssjoin")
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def at(mins: Int) = new java.sql.Timestamp(t0.getTime + mins * 60000L)

    val views = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    views.addData((1L, t0, "v1"), (2L, t0, "v2"))
    clicks.addData(
      (1L, at(10), "c-in"),      // within 30 min of v1 → joins
      (1L, at(120), "c-late"),   // beyond horizon → dropped
      (2L, at(-5), "c-before"))  // before the view → dropped
    val joined = IncrementalSync.streamIntervalJoin(
      views.toDF().toDF("user_id", "ts", "view_id"),
      clicks.toDF().toDF("user_id", "ts", "click_id"),
      key = "user_id", horizon = "30 minutes")
      .select(col("l_view_id"), col("r_click_id"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .option("checkpointLocation", s"$dir/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("ssjoin").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(rows === Set(("v1", "c-in")))
  }

  test("stream-static enrichment join is batch-boundary-insensitive: " +
      "2-batch and 4-batch replays both equal the batch join") {
    val ev = graft.util.Tables.read(spark, "/root/testdata/sf0.001", "events")
      .limit(400).cache()
    val dim = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    def enrich(st: org.apache.spark.sql.DataFrame) =
      st.join(broadcast(dim), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("c_mktsegment"))
    val want = enrich(ev).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(want.nonEmpty)
    Seq(2, 4).foreach { n =>
      val got = IncrementalSync.replayTransform(
        spark, ev, IncrementalSync.tsRangeBatch(ev, "ts", n),
        tmpDir(s"stream-enrich-$n"), nBatches = n)(enrich)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got === want, s"nBatches=$n diverged from the batch join")
    }
  }

  test("session windows: cross-batch merge, half-open exact-gap split, " +
      "open sessions withheld in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = IncrementalSync.sessionCounts(
      input.toDF().toDF("user_id", "ts", "value"))
    val q = agg.select(col("user_id"),
        col("session_window.start").as("start"),
        col("n"), col("value_cents"))
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(m: Int) = new java.sql.Timestamp(t0.getTime + m * 60000L)
    // batch 1: user 1's session opens (watermark after = 00:10)
    input.addData((1L, at(0), 1.5), (1L, at(10), 2.0))
    q.processAllAvailable()
    // batch 2: user 1 extends the SAME session across the batch
    // boundary; user 2's two events sit exactly 30 min apart — the
    // merge rule is INCLUSIVE (same session iff gap <= the gap
    // duration), so they are ONE session, same convention as the
    // batch q_sessionize rule (new session only at gap > 30 min)
    input.addData((1L, at(20), 4.25), (2L, at(20), 1.0), (2L, at(50), 2.0))
    q.processAllAvailable()
    // batch 3: a later event advances the watermark past every closed
    // session's end; its own session stays open and must NOT emit
    input.addData((9L, at(240), 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out")
      .as[(Long, java.sql.Timestamp, Long, Long)].collect().toSet
    assert(rows === Set(
      (1L, at(0), 3L, 775L),   // merged across batches 1+2
      (2L, at(20), 2L, 300L))) // exact-gap events merge (inclusive)
  }

  test("flatMapGroupsWithState session tracking") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[IncrementalSync.SessionEvent]
    val sessions = IncrementalSync.sessionize(input.toDS(), timeoutMs = 0)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    input.addData(
      IncrementalSync.SessionEvent(1L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      IncrementalSync.SessionEvent(1L,
        java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), 2.0),
      IncrementalSync.SessionEvent(2L,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 5.0))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT user_id, nEvents, totalCents, closed FROM sess_out")
      .as[(Long, Long, Long, Boolean)].collect().toSet
    q.stop()
    assert(rows === Set((1L, 2L, 300L, false), (2L, 1L, 500L, false)))
  }

  test("replayForeachBatch: each micro-batch sees exactly its staged " +
      "slice, results land in the parquet sink stamped with the batch " +
      "ordinal; the all-empty replay keeps the transform's schema") {
    val df = spark.range(12).select($"id")
    val out = IncrementalSync.replayForeachBatch(
        spark, df, pmod($"id", lit(3)).cast("int"),
        tmpDir("fbr"), nBatches = 3)(b =>
        b.agg(count(lit(1)).as("n"), min("id").as("mn"),
          max("id").as("mx")))
      .collect()
      .map(r => r.getLong(3) -> ((r.getLong(0), r.getLong(1), r.getLong(2))))
      .toMap
    // batch ordinal = staging key: batch k carried ids ≡ k (mod 3),
    // i.e. {k, k+3, k+6, k+9} — per-batch isolation, no bleed
    assert(out === Map(
      0L -> ((4L, 0L, 9L)), 1L -> ((4L, 1L, 10L)), 2L -> ((4L, 2L, 11L))))

    val empty = IncrementalSync.replayForeachBatch(
        spark, df.filter(lit(false)), pmod($"id", lit(3)).cast("int"),
        tmpDir("fbr-empty"), nBatches = 3)(b =>
        b.agg(count(lit(1)).as("n"), min("id").as("mn"),
          max("id").as("mx")))
    assert(empty.columns.toSeq === Seq("n", "mn", "mx", "__batch"))
  }

  test("streamJoinInputs re-stages when a fixture dir is regenerated in place") {
    val dir = tmpDir("stream-join-memo")
    def writeEvents(n: Int): Unit =
      spark.range(n)
        .select($"id".as("event_id"), ($"id" % 3).as("user_id"),
          timestamp_seconds(lit(1704067200L) + $"id" * 60).as("ts"),
          lit("x").as("payload"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

    writeEvents(40)
    val (l1, r1, _) = graft.registry.Shared.streamJoinInputs(spark, dir)
    // same content ⇒ memo hit (same staged dirs back)
    val (l1b, _, _) = graft.registry.Shared.streamJoinInputs(spark, dir)
    assert(l1b === l1)

    // regenerate IN PLACE with different content — the dir-only key of
    // rounds ≤11 would replay the stale 40-event staging here
    writeEvents(56)
    val (l2, r2, _) = graft.registry.Shared.streamJoinInputs(spark, dir)
    assert(l2 !== l1, "memo served stale staged batches after in-place regen")
    assert(r2 !== r1)
    // staged content actually reflects the regenerated fixture:
    // 28 even event_ids on the left, 28 odd on the right
    assert(spark.read.parquet(l2).count() === 28)
    assert(spark.read.parquet(r2).count() === 28)
  }
}
