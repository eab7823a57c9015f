package graft.registry

import graft.core.{Diff, DiffOptions, Records}
import graft.ext.{Assemble, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.mapper.Mapper
import graft.pipeline.{ImportService, Preset}
import graft.sources.InlineSource
import graft.targets.{FileTarget, JdbcTarget, NodeTarget}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

  /** SURVEY §2.1 reference-parity operators. */
private[graft] object ParityRegistry {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ── D1-D4: the core diff query ────────────────────────────────
    "q_changeset" -> ((s, dir) => {
      val source = Records.keyRecords(syncSource(s, dir), "id", Some("version"))
      Diff.computeDataChanges(source, syncLocal(s, dir)).unioned
    }),

    "q_changeset_force" -> ((s, dir) => {
      val source = Records.keyRecords(syncSource(s, dir), "id", Some("version"))
      Diff.computeDataChanges(source, syncLocal(s, dir),
        DiffOptions(forceUpdates = true)).unioned
    }),

    "q_idset_diff" -> ((s, dir) =>
      Diff.idDiff(syncLocal(s, dir), syncSource(s, dir)
        .select(col("id").cast("string")))),

    // ── the core diff under a pathologically HOT id: every %5=0
    // event collapses onto one id (~20% of source rows), so the
    // keying stage sees massive per-id multiplicity. The structural
    // mitigation is dedupLastWins's max_by PARTIAL aggregation — the
    // hot id reduces to one candidate per map partition BEFORE the
    // shuffle, so the diff's full-outer join always runs on UNIQUE
    // ids (no key-multiplicity skew can reach it; residual partition
    // imbalance is AQE skew-join territory, enabled in the session).
    // Versions are unique (event_id), so the last-wins winner — and
    // therefore every add/update/remove decision — replays exactly. ──
    "q_changeset_skew" -> ((s, dir) => {
      val e = tbl(s, dir, "events")
      val hot = pmod(col("event_id"), lit(5)) === 0
      val srcId = when(hot, lit("hot"))
        .otherwise(col("event_id").cast("string"))
      val localId = when(hot, lit("hot"))
        .when(pmod(col("event_id"), lit(7)) === 0,
          concat(lit("gone"), col("event_id")))
        .otherwise(col("event_id").cast("string"))
      val src = e.select(srcId.as("id"),
        col("event_id").as("version"),
        floor(col("value") * 100).cast("long").as("value_cents"))
      val keyed = Records.keyRecords(src, "id", Some("version"),
        orderCol = Some(col("version")))
      val local = e.filter(pmod(col("event_id"), lit(3)) =!= 0)
        .select(localId.as("id"),
          (col("event_id") - pmod(col("event_id"), lit(2))).as("v0"))
        .groupBy(col("id")).agg(max(col("v0")).cast("long").as("version"))
      Diff.computeDataChanges(keyed, local).unioned
    }),

    // ── K1: keyed last-wins dedup ─────────────────────────────────
    "q_dedup_lastwins" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      // order column must be a TOTAL order for determinism —
      // (l_linenumber, l_partkey, l_suppkey) is unique per order key
      Records.dedupLastWins(
        li.withColumn(Records.IdCol, col("l_orderkey").cast("string")),
        Some(struct(col("l_linenumber"), col("l_partkey"), col("l_suppkey"))))
        .select(col(Records.IdCol).as("id"),
          col("l_linenumber").as("last_line"),
          col("l_partkey").as("last_part"),
          col("l_quantity").as("qty"))
    }),

    // ── K2: version parse/normalize matrix ────────────────────────
    "q_version_parse" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val e = tbl(s, dir, "events")
      e.select(
        col("event_id").as("id"),
        Records.parseVersion(col("event_id") % 1000, LongType).as("v_int"),
        Records.parseVersion(col("ts"), TimestampType).as("v_ts"),
        Records.parseVersion(col("ts").cast("string"), StringType).as("v_datestr"),
        Records.parseVersion(col("event_id").cast("string"), StringType).as("v_numstr"),
        Records.parseVersion(lit(-5L), LongType).as("v_neg"))
    }),

    // ── M1/M2: declarative mapping + expressions ──────────────────
    "q_mapper" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      Mapper(Seq(
        "id" -> "c_custkey",
        "name" -> "${upper(record.c_name)}",
        "segment" -> "c_mktsegment",
        "balance_cents" -> "${CAST(floor(record.c_acctbal * 100) AS BIGINT)}",
        "missing" -> "no_such_column"
      )).apply(c)
    }),

    // ── T2: filter + projection pushdown ──────────────────────────
    "q_filter" -> ((s, dir) =>
      s.read.parquet(t(dir, "lineitem"))
        .filter(col("l_quantity") > 30 && col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // ── T1: record map that REWRITES ids → re-dedup (last-wins) ───
    "q_map_rekey" -> ((s, dir) => {
      val keyed = Records.keyRecords(
        s.read.parquet(t(dir, "customer")), "c_custkey")
      val remapped = keyed.withColumn(Records.IdCol,
        (col("c_custkey") % 50).cast("string"))
      Records.dedupLastWins(remapped, Some(col("c_custkey")))
        .select(col(Records.IdCol).as("id"),
          col("c_custkey").as("src_key"), col("c_name").as("name"))
    }),

    // ── T3/T4: dataProcessor hook (arbitrary DataFrame=>DataFrame) ─
    "q_processor" -> ((s, dir) => {
      val processor: DataFrame => DataFrame = df =>
        df.filter(col("o_totalprice") > 150000)
          .withColumn("priority_class",
            substring(col("o_orderpriority"), 1, 1))
      processor(Records.keyRecords(
        s.read.parquet(t(dir, "orders")), "o_orderkey"))
        .select(col(Records.IdCol).as("id"),
          col("o_totalprice").as("total"), col("priority_class"))
    }),

    // ── D3: node-table diff (idPrefix strip + hidden soft-delete) ─
    "q_changeset_node" -> ((s, dir) => {
      val source = Records.keyRecords(syncSource(s, dir), "id", Some("version"))
      val local = s.read.parquet(t(dir, "orders"))
        .filter(col("o_orderkey") % 7 =!= 0)
        .select(
          concat(lit("node-"), col("o_orderkey").cast("string")).as("id"),
          (unix_timestamp(col("o_orderdate")) +
            when(col("o_orderkey") % 3 === 0, -86400L).otherwise(0L))
            .as("version"),
          (col("o_orderkey") % 13 === 0).as("hidden"))
      Diff.computeDataChanges(source, local,
        DiffOptions(localIdPrefix = Some("node-"), hiddenCol = Some("hidden")))
        .unioned
    }),

    // ── C2+W1–W3 end to end: full importData through a FileTarget ──
    // Seeds local state (k%7≠0) with stale payload markers, then runs
    // the whole pipeline — InlineSource → keying → one-join diff →
    // add/update/remove apply — and returns the final target state.
    // The stale markers make each write path distinct in the output:
    // added rows (k%7=0) carry real payload, updated rows (k%3=0,
    // strictly-newer version) get re-mapped payload, untouched
    // survivors keep the marker, removed ids (k%10=0) are gone.
    "q_sync_apply" -> ((s, dir) => {
      val path = tempStateDir() + "/state"
      val target = FileTarget(path)
      target.writeState(s,
        graft.util.Tables.spread(s.read.parquet(t(dir, "orders")))
          .filter(col("o_orderkey") % 7 =!= 0)
          .select(col("o_orderkey").cast("string").as("id"),
            (unix_timestamp(col("o_orderdate")) +
              when(col("o_orderkey") % 3 === 0, -86400L).otherwise(0L))
              .as("version"),
            lit(-1L).as("total_cents"), lit("OLD").as("status")))
      val preset = Preset(
        source = InlineSource(sp => syncSource(sp, dir)),
        target = target,
        mapper = Mapper(Seq(
          "total_cents" -> "${floor(record.o_totalprice * 100)}",
          "status" -> "o_orderstatus")),
        idAttribute = "id",
        versionAttribute = Some("version"))
      new ImportService(preset).importData(s)
      target.currentState(s).select(col("id"),
        col("version").cast("long"),
        col("total_cents").cast("long"), col("status"))
    }),

    // ── Streaming tier end to end (SURVEY §7.5): the events table
    // replayed as 4 ts-ordered micro-batches through
    // IncrementalSync.start — a file-source stream whose every
    // micro-batch runs the full keying → diff → apply cycle against
    // a FileTarget (skipRemovedRecords: a micro-batch is
    // a delta, not a snapshot). The version rule (strict > update;
    // in-batch last-wins BY VERSION) makes the final merged state
    // independent of where the batch boundaries fall, so the oracle
    // recomputes it from the FULL table in one pass: per user, the
    // max-version event wins. version = event_id (unique ⇒ the
    // winner is total-ordered and engine-replayable). ──
    "q_sync_incremental" -> ((s, dir) => {
      val work = tempStateDir()
      val preset = Preset(
        source = InlineSource(_ =>
          sys.error("unused — the stream feeds the batches")),
        target = FileTarget(s"$work/state"),
        mapper = Mapper(Seq(
          "event_type" -> "event_type",
          "value_cents" -> "value_cents")),
        idAttribute = "user_id",
        versionAttribute = Some("version"),
        skipRemovedRecords = true)
      val ev = tbl(s, dir, "events").select(
        col("user_id"), col("event_id").as("version"), col("event_type"),
        floor(col("value") * 100).cast("long").as("value_cents"),
        col("ts"))
      val state = graft.streaming.IncrementalSync
        .replaySync(s, ev, "ts", preset, work, nBatches = 4)
      // an all-empty replay may commit no state at all, so the
      // snapshot can come back with the minimal (id, version) schema —
      // project the declared output schema stably either way
      def c(name: String, tpe: String): Column =
        (if (state.columns.contains(name)) col(name)
         else lit(null).cast(tpe)).as(name)
      state.select(c("id", "string"), c("version", "long"),
        c("event_type", "string"), c("value_cents", "long"))
    }),

    // ── The same streaming replay against the REAL JDBC sink:
    // every micro-batch's add/update phases run as INSERT/UPDATE
    // statements on a Derby table, and the final merged state is the
    // same batch-boundary-insensitive answer (max-version event per
    // user). The u%4=1 slice bounds the row-at-a-time JDBC protocol
    // cost at bench scale — the q_sync_apply_jdbc convention; the
    // full-volume streaming path stays covered by q_sync_incremental.
    // Together the streaming tier is now certified on BOTH target
    // families (file state and JDBC). ──
    "q_sync_incremental_jdbc" -> ((s, dir) => {
      val db = "syncs_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        "CREATE TABLE sync_state (id VARCHAR(32) PRIMARY KEY, " +
          "version BIGINT, event_type VARCHAR(32), value_cents BIGINT)")
      finally conn.close()
      val work = tempStateDir()
      val preset = Preset(
        source = InlineSource(_ =>
          sys.error("unused — the stream feeds the batches")),
        target = JdbcTarget(url, "sync_state"),
        mapper = Mapper(Seq(
          "id" -> "${cast(record.user_id as string)}",
          "version" -> "version",
          "event_type" -> "event_type",
          "value_cents" -> "value_cents")),
        idAttribute = "user_id",
        versionAttribute = Some("version"),
        skipRemovedRecords = true)
      val ev = tbl(s, dir, "events")
        .filter(pmod(col("user_id"), lit(4)) === 1)
        .select(
          col("user_id"), col("event_id").as("version"), col("event_type"),
          floor(col("value") * 100).cast("long").as("value_cents"),
          col("ts"))
      try {
        val state = graft.streaming.IncrementalSync
          .replaySync(s, ev, "ts", preset, work, nBatches = 4)
        def anyCase(name: String): Column =
          col(state.columns.find(_.equalsIgnoreCase(name)).getOrElse(name))
        state.select(col("id"), col("version"),
            anyCase("event_type").as("event_type"),
            anyCase("value_cents").cast("long").as("value_cents"))
          .localCheckpoint() // materialize, then the in-memory db can drop
      } finally dropDerby(db) // drop even on failure — no heap leak
    }),

    // ── Watermarked tumbling-window aggregation, oracle-certified:
    // events replayed as 4 ts-range-ordered micro-batches through
    // windowedCounts (1-hour event-time windows, 0 s watermark
    // delay) into an Append-mode memory sink. Append emits a window
    // exactly when the watermark passes its end, so the emitted set
    // is every window whose end ≤ max(ts) — one GROUP BY + threshold
    // filter for a batch engine. The certification property: windows
    // whose rows STRADDLE micro-batch boundaries accumulate state
    // across batches and still emit the exact batch-engine counts. ──
    "q_stream_window" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sync = graft.streaming.IncrementalSync
      sync.replayTransform(
        s, ev, sync.tsRangeBatch(ev, "ts", 4), tempStateDir(),
        nBatches = 4)(st =>
        sync.windowedCounts(st, watermark = "0 seconds",
          window_ = "1 hour"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("value_cents"))
    }),

    // ── Watermark LATE-DATA DROP, oracle-certified: every 97th event
    // is held back as a straggler and replayed LAST, after 3
    // ts-range-ordered batches of the rest. Spark's watermark is
    // two-phase (IncrementalExecution): late INPUT rows in batch N
    // are filtered against batch N−1's watermark
    // (eventTimeWatermarkForLateEvents — one batch of grace), while
    // state eviction/emission uses batch N's. The straggler batch
    // therefore drops stragglers whose window closed under
    // W_late = max(on-time ts in batches 0..1) − 30 min and keeps
    // the rest — a deterministic function of the data (verified
    // against the observed per-batch watermark progression), so
    // DuckDB replays the exact kept-row set. On-time rows are never
    // late by construction: ts-range batches are disjoint and
    // increasing, so every row arrives ahead of the operative
    // watermark. ──
    "q_stream_late" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sync = graft.streaming.IncrementalSync
      val straggler = pmod(col("event_id"), lit(97)) === 0
      val batchCol = when(straggler, lit(3))
        .otherwise(sync.tsRangeBatch(ev, "ts", 3))
      sync.replayTransform(s, ev, batchCol, tempStateDir(),
        nBatches = 4)(st =>
        sync.windowedCounts(st, watermark = "30 minutes",
          window_ = "1 hour"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("value_cents"))
    }),

    // ── Stream-STATIC enrichment join: the canonical "enrich the
    // event stream with a dimension table" operator. The static side
    // carries no watermark and no state — Spark re-resolves it per
    // micro-batch and (broadcast-hinted) ships it to every task, so
    // the operator is stateless and the append output equals the
    // batch join EXACTLY regardless of how rows are batched; DuckDB
    // computes the batch join directly. At 100 TB the stream side
    // never shuffles: the dimension broadcasts, events flow through
    // map-side. ──
    "q_stream_enrich" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val dim = s.read.parquet(t(dir, "customer"))
        .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      val sync = graft.streaming.IncrementalSync
      sync.replayTransform(s, ev, sync.tsRangeBatch(ev, "ts", 3),
        tempStateDir(), nBatches = 3)(st =>
        st.join(broadcast(dim), col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"), col("event_type"),
            floor(col("value") * 100).cast("long").as("value_cents"),
            col("c_mktsegment").as("segment"),
            col("c_nationkey").cast("long").as("nation_key")))
    }),

    // ── Stream-STREAM interval join, oracle-certified: even
    // event_ids are the left stream ("impressions"), odd the right
    // ("clicks"); a click joins impressions of the same user at most
    // 30 min before it. Both sides replay the SAME 4 ts-range
    // batches in lockstep, which is what makes the append output
    // provably COMPLETE: a left row is evicted only when the right
    // watermark passes l.ts + 30 min, and every future right row has
    // a later ts than that watermark (ts-range batches are disjoint
    // and increasing), so no match can arrive after eviction. The
    // streaming result therefore equals the batch interval join,
    // which DuckDB computes directly. ──
    "q_stream_join" -> ((s, dir) => {
      val sync = graft.streaming.IncrementalSync
      val (inL, inR, schema) = streamJoinInputs(s, dir)
      sync.replayTransform2Staged(s, inL, inR, schema,
        tempStateDir())((l, r) =>
        sync.streamIntervalJoin(l, r, key = "user_id",
          watermark = "0 seconds", horizon = "30 minutes"))
        .select(col("user_id"),
          col("l_event_id"), col("r_event_id"))
    }),

    // ── FULL OUTER completes the stream-stream join-type matrix:
    // left nulls evict under ts + horizon < wm (the left_outer
    // predicate); right nulls under ts < wm — the condition solved
    // for the right side has no horizon term (a right row can match
    // any left up to its own timestamp), probed and pinned like the
    // left variant. The one unmatched right row at the stream max
    // drains unemitted, which the oracle replays. ──
    "q_stream_join_full" -> ((s, dir) => {
      val sync = graft.streaming.IncrementalSync
      val (inL, inR, schema) = streamJoinInputs(s, dir)
      sync.replayTransform2Staged(s, inL, inR, schema,
        tempStateDir())((l, r) =>
        sync.streamIntervalJoin(l, r, key = "user_id",
          watermark = "0 seconds", horizon = "30 minutes",
          joinType = "full_outer"))
        .select(col("user_id"),
          col("l_event_id"), col("r_event_id"))
    }),

    // ── UPDATE-mode running aggregate: each micro-batch emits the
    // NEW cumulative (n, cents) for every key it touched — the
    // "live dashboard" output semantics, complementing the append
    // rows. Under the ts-range replay the emitted set is an exact
    // function of the data: one row per (user, active batch) with
    // the running totals through that batch, which the oracle
    // replays as a per-user cumulative window over per-batch
    // deltas. (No watermark: a running total never closes;
    // production bounds state by keyspace, not horizon.) ──
    "q_stream_update" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sync = graft.streaming.IncrementalSync
      sync.replayTransform(s, ev, sync.tsRangeBatch(ev, "ts", 4),
        tempStateDir(), nBatches = 4,
        outputMode =
          org.apache.spark.sql.streaming.OutputMode.Update())(st =>
        st.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 100).cast("long")).as("cents")))
    }),

    // ── Stream-stream LEFT OUTER interval join: same lockstep
    // replay, but an unmatched left row ("impression with no click")
    // null-emits when the watermark evicts it from state. The
    // emitted null set is an exact function of the data (probed on
    // 4.1.2, see streamIntervalJoin): no-match left rows with
    // ts + horizon strictly before the final watermark
    // min(max left ts, max right ts); later unmatched rows are still
    // in state when the stream drains and never emit — which the
    // oracle replays with the same predicate. ──
    "q_stream_join_outer" -> ((s, dir) => {
      val sync = graft.streaming.IncrementalSync
      val (inL, inR, schema) = streamJoinInputs(s, dir)
      sync.replayTransform2Staged(s, inL, inR, schema,
        tempStateDir())((l, r) =>
        sync.streamIntervalJoin(l, r, key = "user_id",
          watermark = "0 seconds", horizon = "30 minutes",
          joinType = "left_outer"))
        .select(col("user_id"),
          col("l_event_id"), col("r_event_id"))
    }),

    // ── Streaming SESSION windows, oracle-certified: per-user
    // sessions closing after 30 min of inactivity, replayed as 4
    // ts-ordered batches — sessions that straddle batch boundaries
    // MERGE in the session-window state and still emit the exact
    // batch-engine aggregate. Append emits a session when the
    // watermark (delay 0 ⇒ max ts) passes its end = last ts + gap;
    // the oracle replays Spark's inclusive merge rule (new session
    // at inter-event gap > 30 min, the same convention as the batch
    // q_sessionize row) and the emission threshold with
    // gaps-and-islands SQL. ──
    "q_stream_session" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sync = graft.streaming.IncrementalSync
      sync.replayTransform(
        s, ev, sync.tsRangeBatch(ev, "ts", 4), tempStateDir(),
        nBatches = 4)(st =>
        sync.sessionCounts(st, gap = "30 minutes",
          watermark = "0 seconds"))
        .select(col("user_id"),
          unix_timestamp(col("session_window.start")).as("sess_start"),
          col("n"), col("value_cents"))
    }),

    // ── Streaming DEDUP within watermark, oracle-certified: the
    // streaming tier of exact dedup (state bounded by arrival-rate ×
    // horizon — plain dropDuplicates grows state forever). The
    // general operator is spec-pinned only (within a micro-batch the
    // surviving duplicate is iteration-order nondeterministic); THIS
    // row makes the survivor deterministic by construction — the
    // input is pre-deduplicated per (key, batch) to the min-(ts,
    // event_id) row, so each micro-batch carries at most ONE row per
    // key and the emitted set is an exact function of the data. The
    // oracle replays the probed state machine (fixed expiry at
    // first-kept ts + delay; eviction during batch N under the
    // watermark from batches <= N-2 — the eviction watermark lags
    // one batch behind the late-row watermark, fitted empirically;
    // re-arrival after eviction emits again) with a recursive
    // per-key fold over the ≤4 arrivals. Delay 72 h vs
    // ~7.5-day batches exercises BOTH paths: keys kept early in the
    // previous batch evict (~20%), later ones survive. ──
    "q_stream_dedup" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
      val sync = graft.streaming.IncrementalSync
      val staged = ev
        .withColumn("fp",
          concat_ws(":", col("user_id"), col("event_type")))
        .withColumn("__batch", sync.tsRangeBatch(ev, "ts", 4))
      val w = Window.partitionBy(col("fp"), col("__batch"))
        .orderBy(col("ts"), col("event_id"))
      val uniq = staged.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      sync.replayTransform(s, uniq, col("__batch"), tempStateDir(),
        nBatches = 4)(st =>
        st.withWatermark("ts", "72 hours")
          .dropDuplicatesWithinWatermark("fp"))
        .select(col("fp"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"))
    }),

    // ── SCD TYPE-2 HISTORY sync, oracle-certified: the replay
    // harness drives 4 ts-ordered micro-batch syncs into Scd2Target —
    // every sync whose diff supersedes a record closes its current
    // history row (sync_out = ordinal) and opens a new one, so the
    // final table is the full change history with validity ranges.
    // The version is a Lehmer-permuted event_id ((id·48271) mod
    // 2³¹−1 — exact integer arithmetic both engines replay), NON-
    // monotone in time, so the strict-`>` update rule genuinely
    // branches: ~half the batch winners supersede the current row
    // (close+open), the rest are version-skips (history untouched) —
    // both SCD2 paths certified. The oracle folds the per-(id, batch)
    // winners through the same open/close state machine recursively
    // and derives validity ranges with lead(). The oracle equates the
    // ledger ordinal with the ts-range batch index bt, which holds
    // because every replay batch is non-empty (equal ts-range splits
    // of the events table) and each micro-batch applies exactly once;
    // the target itself now records its marker only after the staged
    // write, so a failed-and-retried stage cannot desync the two. ──
    "q_sync_scd2" -> ((s, dir) => {
      val work = tempStateDir()
      val preset = Preset(
        source = InlineSource(_ =>
          sys.error("unused — the stream feeds the batches")),
        target = graft.targets.Scd2Target(s"$work/hist"),
        mapper = Mapper(Seq(
          "event_type" -> "event_type",
          "value_cents" -> "value_cents")),
        idAttribute = "user_id",
        versionAttribute = Some("version"),
        skipRemovedRecords = true)
      val ev = tbl(s, dir, "events").select(
        col("user_id"),
        pmod(col("event_id") * 48271L, lit(2147483647L)).as("version"),
        col("event_type"),
        floor(col("value") * 100).cast("long").as("value_cents"),
        col("ts"))
      graft.streaming.IncrementalSync
        .replaySync(s, ev, "ts", preset, work, nBatches = 4)
      val h = graft.targets.Scd2Target(s"$work/hist").history(s)
      def c(name: String, tpe: String): Column =
        (if (h.columns.contains(name)) col(name)
         else lit(null).cast(tpe)).as(name)
      h.select(c("id", "string"), c("version", "long"),
        c("event_type", "string"), c("value_cents", "long"),
        c("sync_in", "long"), c("sync_out", "long"))
    }),

    // ── W1–W3 end to end on the REAL JDBC sink: same importData
    // pipeline as q_sync_apply, but local state lives in a Derby
    // table and the add/update/remove phases run as INSERT / UPDATE
    // ... WHERE id / DELETE WHERE id through JdbcTarget — certifying
    // the reference's DbalTarget semantics
    // (Classes/DataTarget/Dbal/DbalTarget.php:134-155) against the
    // same merged-state oracle. Runs on the deterministic quarter
    // slice k%4=1 — every change class (add k%7=0, update k%3=0,
    // remove k%10=0, survivor) stays populated by CRT, the
    // row-at-a-time JDBC protocol cost stays bounded at bench scale,
    // and the full-volume e2e remains covered by q_sync_apply. ──────
    "q_sync_apply_jdbc" -> ((s, dir) => {
      val db = "sync_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val url = s"jdbc:derby:memory:$db;create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        // unquoted DDL ⇒ canonical UPPERCASE names: both Spark's
        // quoted-identifier JDBC writer (seed, uppercase df columns)
        // and JdbcTarget's unquoted statements resolve to them
        "CREATE TABLE sync_state (id VARCHAR(32) PRIMARY KEY, " +
          "version BIGINT, total_cents BIGINT, status VARCHAR(8))")
      finally conn.close()
      graft.util.Tables.spread(s.read.parquet(t(dir, "orders")))
        .filter(col("o_orderkey") % 4 === 1 && col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey").cast("string").as("ID"),
          (unix_timestamp(col("o_orderdate")) +
            when(col("o_orderkey") % 3 === 0, -86400L).otherwise(0L))
            .as("VERSION"),
          lit(-1L).as("TOTAL_CENTS"), lit("OLD").as("STATUS"))
        .coalesce(8)
        .write.mode("append")
        .format("jdbc").option("url", url)
        .option("dbtable", "sync_state").save()
      val preset = Preset(
        source = InlineSource(sp =>
          syncSource(sp, dir).filter(col("id") % 4 === 1)),
        target = JdbcTarget(url, "sync_state"),
        mapper = Mapper(Seq(
          "id" -> "id", "version" -> "version",
          "total_cents" -> "${floor(record.o_totalprice * 100)}",
          "status" -> "o_orderstatus")),
        idAttribute = "id", versionAttribute = Some("version"))
      try {
        new ImportService(preset).importData(s)
        s.read.format("jdbc").option("url", url)
          .option("dbtable", "sync_state").load()
          .select(col("ID").as("id"),
            col("VERSION").cast("long").as("version"),
            col("TOTAL_CENTS").cast("long").as("total_cents"),
            col("STATUS").as("status"))
          .localCheckpoint() // materialize, then the in-memory db can drop
      } finally dropDerby(db) // drop even on failure — no heap leak
    }),

    // ── W5–W8 end to end on the NODE sink: a 3-sync replay through
    // NodeTarget.applyChanges (the reference's ContentRepository
    // semantics, ContentRepositoryTarget.php:173-256) + a final
    // removeAll under one bucket root. Deterministic slices of
    // `orders` (k = o_orderkey, v = epoch(orderdate)):
    //   sync1: k%3≠0 at v            → all adds, fan-out ×2 variants
    //   sync2: k%5≠0, v+1d iff k%2=0 → adds (k%3=0), updates (strict
    //          > ⇔ k%2=0), soft-deletes (k%3≠0 ∧ k%5=0 → hidden)
    //   sync3: k%7≠0, v+2d iff k%11=0 → updates un-hide previously
    //          soft-deleted ids (W6); non-newer hidden ids stay
    //          hidden and are NOT removal candidates again;
    //          k%7=0 non-hidden ids soft-delete
    //   removeAll(rootPath=/sites/odd): hides every node STRICTLY
    //          UNDER the root (reference LIKE root||'/%' —
    //          ContentRepositoryTarget.php:215-236); the /sites/odd
    //          container itself stays visible (W8)
    // parentPathResolver buckets records under /sites/{even,odd}, so
    // the auto-created containers (auto:md5(path) identifiers) are
    // part of the certified state. The oracle replays the same state
    // evolution as closed-form per-key CASE logic — every branch of
    // the lifecycle lands in the final table. ──────────────────────
    "q_sync_apply_node" -> ((s, dir) => {
      val path = tempStateDir() + "/nodes"
      // the three sync slices project the same two orders columns —
      // scan once, serve syncs 2-3 from the cache
      val orders = s.read.parquet(t(dir, "orders"))
        .select(col("o_orderkey"), col("o_orderdate")).cache()
      def src(sync: Int): DataFrame = {
        val o = orders
        val k = col("o_orderkey")
        val v = unix_timestamp(col("o_orderdate"))
        val (pred, ver) = sync match {
          case 1 => (k % 3 =!= 0, v)
          case 2 => (k % 5 =!= 0,
            v + when(k % 2 === 0, 86400L).otherwise(0L))
          case _ => (k % 7 =!= 0,
            v + when(k % 11 === 0, 172800L).otherwise(0L))
        }
        o.filter(pred).select(
          k.cast("string").as("id"), ver.as("version"),
          when(k % 2 === 0, "even").otherwise("odd").as("bucket"),
          lit(s"S$sync").as("src"))
      }
      (1 to 3).foreach { i =>
        val tg = NodeTarget(path, idPrefix = "node-", softDelete = true,
          variantsResolver = _ => array(lit("de"), lit("en")),
          parentPathResolver =
            Some(df => concat(lit("/sites/"), col("bucket"))))
        new ImportService(Preset(
          InlineSource(_ => src(i)), tg, Mapper(Seq("src" -> "src")),
          idAttribute = "id", versionAttribute = Some("version"),
          diffOptions = tg.diffOptions)).importData(s)
      }
      NodeTarget(path, softDelete = true, rootPath = "/sites/odd")
        .removeAll(s)
      orders.unpersist()
      // read through the target: the state lives under a generation
      // dir resolved by the CURRENT pointer, not flat at `path`
      NodeTarget(path).table(s).select(col("identifier"), col("variant"),
        col("path"), col("hidden"), col("version").cast("long"),
        col("src"))
    }),

    // ── W5: variant fan-out (1 record → N node variants) ──────────
    "q_variants_fanout" -> ((s, dir) => {
      val keyed = Records.keyRecords(
        s.read.parquet(t(dir, "customer")), "c_custkey")
      keyed.withColumn("dim",
          explode(array(lit("de"), lit("en"), lit("fr"))))
        .select(
          concat(col(Records.IdCol), lit("-"), col("dim")).as("variant_id"),
          col(Records.IdCol).as("id"), col("dim"),
          upper(col("c_name")).as("name"))
    }),

    // ── S4: narrow id/version scan (projection pushdown) ──────────
    "q_narrow_scan" -> ((s, dir) =>
      s.read.parquet(t(dir, "orders"))
        .select(col("o_orderkey").cast("string").as("id"),
          unix_timestamp(col("o_orderdate")).as("version"))),

    // ── set ops: semi-join (EXISTS) ───────────────────────────────
    "q_semijoin" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
      val o = s.read.parquet(t(dir, "orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),

    // ── Aggregation (engine extension; TPC-H Q1 shape) ────────────
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(t(dir, "lineitem"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(floor(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
          count(lit(1)).as("cnt"))),

    // ── Join (engine extension; TPC-H Q3 shape) ───────────────────
    "q3_join" -> ((s, dir) => {
      val c = s.read.parquet(t(dir, "customer"))
        .filter(col("c_mktsegment") === "BUILDING")
      val o = s.read.parquet(t(dir, "orders"))
      val l = s.read.parquet(t(dir, "lineitem"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
          .cast("long")).as("revenue_cents"))
    })
  )

  /** DuckDB oracles for this tier's queries. */
  val oracles: Map[String, String] = Map(
    "q_changeset" ->
      s"""WITH source AS ($syncSourceSql), local AS ($syncLocalSql)
         |SELECT s.id AS id, 'add' AS change_type
         |  FROM source s LEFT JOIN local l USING (id) WHERE l.id IS NULL
         |UNION ALL
         |SELECT s.id, 'update' FROM source s JOIN local l USING (id)
         |  WHERE s.version > l.version
         |UNION ALL
         |SELECT l.id, 'remove' FROM local l LEFT JOIN source s USING (id)
         |  WHERE s.id IS NULL""".stripMargin,

    // hot-id diff: the keyed source collapses the %5=0 slice onto one
    // id via max(version) — versions are unique, so the winner and
    // every branch decision replay exactly
    "q_changeset_skew" ->
      """WITH src AS (
        |  SELECT CASE WHEN event_id % 5 = 0 THEN 'hot'
        |              ELSE CAST(event_id AS VARCHAR) END AS id,
        |         event_id AS version
        |  FROM events),
        |keyed AS (SELECT id, CAST(max(version) AS BIGINT) AS version
        |          FROM src GROUP BY id),
        |local AS (
        |  SELECT CASE WHEN event_id % 5 = 0 THEN 'hot'
        |              WHEN event_id % 7 = 0 THEN 'gone' || event_id
        |              ELSE CAST(event_id AS VARCHAR) END AS id,
        |         CAST(max(event_id - (event_id % 2)) AS BIGINT) AS version
        |  FROM events WHERE event_id % 3 <> 0 GROUP BY 1)
        |SELECT k.id AS id, 'add' AS change_type
        |  FROM keyed k LEFT JOIN local l USING (id) WHERE l.id IS NULL
        |UNION ALL
        |SELECT k.id, 'update' FROM keyed k JOIN local l USING (id)
        |  WHERE k.version > l.version
        |UNION ALL
        |SELECT l.id, 'remove' FROM local l LEFT JOIN keyed k USING (id)
        |  WHERE k.id IS NULL""".stripMargin,

    "q_changeset_force" ->
      s"""WITH source AS ($syncSourceSql), local AS ($syncLocalSql)
         |SELECT s.id AS id, 'add' AS change_type
         |  FROM source s LEFT JOIN local l USING (id) WHERE l.id IS NULL
         |UNION ALL
         |SELECT s.id, 'update' FROM source s JOIN local l USING (id)
         |UNION ALL
         |SELECT l.id, 'remove' FROM local l LEFT JOIN source s USING (id)
         |  WHERE s.id IS NULL""".stripMargin,

    "q_idset_diff" ->
      s"""WITH source AS ($syncSourceSql), local AS ($syncLocalSql)
         |SELECT l.id AS id FROM local l LEFT JOIN source s USING (id)
         |WHERE s.id IS NULL""".stripMargin,

    "q_dedup_lastwins" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS id,
        |       l_linenumber AS last_line, l_partkey AS last_part,
        |       l_quantity AS qty
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY l_orderkey
        |         ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC) AS rn
        |      FROM lineitem) WHERE rn = 1""".stripMargin,

    "q_version_parse" ->
      """SELECT event_id AS id,
        |       event_id % 1000 AS v_int,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS v_ts,
        |       CAST(floor(epoch(CAST(CAST(ts AS VARCHAR) AS TIMESTAMP))) AS BIGINT) AS v_datestr,
        |       CAST(event_id AS BIGINT) AS v_numstr,
        |       CAST(NULL AS BIGINT) AS v_neg
        |FROM events""".stripMargin,

    "q_mapper" ->
      """SELECT c_custkey AS id, upper(c_name) AS name,
        |       c_mktsegment AS segment,
        |       CAST(floor(c_acctbal * 100) AS BIGINT) AS balance_cents,
        |       CAST(NULL AS VARCHAR) AS missing
        |FROM customer""".stripMargin,

    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity > 30 AND l_returnflag = 'R'""".stripMargin,

    "q_map_rekey" ->
      """SELECT CAST(c_custkey % 50 AS VARCHAR) AS id,
        |       c_custkey AS src_key, c_name AS name
        |FROM (SELECT *, row_number() OVER
        |        (PARTITION BY c_custkey % 50 ORDER BY c_custkey DESC) AS rn
        |      FROM customer) WHERE rn = 1""".stripMargin,

    "q_processor" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS id, o_totalprice AS total,
        |       substring(o_orderpriority, 1, 1) AS priority_class
        |FROM orders WHERE o_totalprice > 150000""".stripMargin,

    "q_changeset_node" ->
      s"""WITH source AS ($syncSourceSql), local AS (
         |  SELECT CAST(o_orderkey AS VARCHAR) AS id,
         |         CAST(epoch(o_orderdate) AS BIGINT)
         |           + CASE WHEN o_orderkey % 3 = 0 THEN -86400 ELSE 0 END AS version,
         |         (o_orderkey % 13 = 0) AS hidden
         |  FROM orders WHERE o_orderkey % 7 <> 0)
         |SELECT s.id AS id, 'add' AS change_type
         |  FROM source s LEFT JOIN local l USING (id) WHERE l.id IS NULL
         |UNION ALL
         |SELECT s.id, 'update' FROM source s JOIN local l USING (id)
         |  WHERE s.version > l.version
         |UNION ALL
         |SELECT l.id, 'remove' FROM local l LEFT JOIN source s USING (id)
         |  WHERE s.id IS NULL AND NOT l.hidden""".stripMargin,

    "q_sync_apply" -> syncApplyOracleSql(),

    // the streaming replay's final state is batch-boundary-insensitive
    // (strict-> version rule), so one batch pass over the full table
    // reproduces it: the max-version (= max event_id) record per user
    "q_sync_incremental" ->
      """WITH ranked AS (
        |  SELECT CAST(user_id AS VARCHAR) AS id,
        |         CAST(event_id AS BIGINT) AS version,
        |         event_type,
        |         CAST(floor(value * 100) AS BIGINT) AS value_cents,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY event_id DESC) AS rn
        |  FROM events)
        |SELECT id, version, event_type, value_cents
        |FROM ranked WHERE rn = 1""".stripMargin,

    // same merged-state semantics through the JDBC sink, on the
    // u%4=1 slice (see the query's comment)
    "q_sync_incremental_jdbc" ->
      """WITH ranked AS (
        |  SELECT CAST(user_id AS VARCHAR) AS id,
        |         CAST(event_id AS BIGINT) AS version,
        |         event_type,
        |         CAST(floor(value * 100) AS BIGINT) AS value_cents,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY event_id DESC) AS rn
        |  FROM events WHERE user_id % 4 = 1)
        |SELECT id, version, event_type, value_cents
        |FROM ranked WHERE rn = 1""".stripMargin,

    // append-mode emission: every window whose end passed the final
    // watermark (delay 0 ⇒ max ts). The replay feeds ts-ordered
    // batches, so no row is ever late — one plain GROUP BY replays
    // the cross-batch state accumulation.
    "q_stream_window" ->
      """WITH w AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart,
        |                  event_type, value, ts
        |           FROM events)
        |SELECT CAST(floor(epoch(wstart)) AS BIGINT) AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM w
        |WHERE wstart + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
        |GROUP BY 1, 2""".stripMargin,

    // the straggler batch (event_id % 97 = 0, replayed last as batch
    // 3) is late-filtered under Spark's TWO-PHASE watermark: late
    // input rows in batch N are dropped against the watermark of
    // batch N−1 (eventTimeWatermarkForLateEvents — one batch of
    // grace), while eviction/emission uses the current one. So the
    // drop threshold is W_late = max(on-time ts in ts-range batches
    // 0..1) − 30 min (the same floor formula tsRangeBatch uses, over
    // the full-table µs bounds), and the emission threshold is
    // W_final = max(ts) − 30 min.
    "q_stream_late" ->
      """WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS t1
        |           FROM events),
        |s AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart,
        |             event_type, value, ts,
        |             (event_id % 97 = 0) AS straggler,
        |             CAST(floor((epoch_us(ts) - b.t0) * 3.0
        |               / (b.t1 - b.t0 + 1)) AS INTEGER) AS batch
        |      FROM events, b),
        |wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w_late
        |       FROM s WHERE NOT straggler AND batch <= 1),
        |wmf AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w_final FROM s),
        |kept AS (SELECT s.* FROM s, wm
        |         WHERE NOT s.straggler
        |            OR s.wstart + INTERVAL 1 HOUR > wm.w_late)
        |SELECT CAST(floor(epoch(wstart)) AS BIGINT) AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |         AS value_cents
        |FROM kept, wmf
        |WHERE wstart + INTERVAL 1 HOUR <= wmf.w_final
        |GROUP BY 1, 2""".stripMargin,

    // the streaming interval join emits exactly the batch interval
    // join (see the query's eviction-safety argument): clicks (odd
    // event_id) × impressions (even) of the same user within
    // [l.ts, l.ts + 30 min]
    "q_stream_join" ->
      """SELECT l.user_id,
        |       l.event_id AS l_event_id, r.event_id AS r_event_id
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_id % 2 = 0 AND r.event_id % 2 = 1
        | AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE""".stripMargin,

    // matched = batch join; left nulls iff ts + horizon < wm; right
    // nulls iff ts < wm; wm = min(max left ts, max right ts) floored
    // to ms
    "q_stream_join_full" ->
      """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |           FROM events WHERE event_id % 2 = 0),
        |r AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |      FROM events WHERE event_id % 2 = 1),
        |wm AS (SELECT least((SELECT max(us) FROM l),
        |                    (SELECT max(us) FROM r))
        |         // 1000 * 1000 AS w),
        |j AS (SELECT coalesce(l.user_id, r.user_id) AS user_id,
        |             l.event_id AS l_event_id,
        |             r.event_id AS r_event_id,
        |             l.us AS lus, r.us AS rus
        |      FROM l FULL JOIN r ON l.user_id = r.user_id
        |        AND r.us >= l.us AND r.us <= l.us + 1800000000)
        |SELECT user_id, l_event_id, r_event_id FROM j, wm
        |WHERE (l_event_id IS NOT NULL AND r_event_id IS NOT NULL)
        |   OR (r_event_id IS NULL AND lus + 1800000000 < w)
        |   OR (l_event_id IS NULL AND rus < w)""".stripMargin,

    // one row per (user, active batch): the running totals through
    // that batch — the update-mode emission set under the ts-range
    // replay
    "q_stream_update" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS us,
        |              CAST(floor(value * 100) AS BIGINT) AS cents
        |            FROM events),
        |bnd AS (SELECT min(us) AS t0, max(us) AS t1 FROM ev),
        |b AS (SELECT user_id, cents, CAST(floor((us - t0) * 4.0
        |        / (t1 - t0 + 1)) AS INT) AS bt FROM ev, bnd),
        |per AS (SELECT user_id, bt, count(*) AS dn, sum(cents) AS dc
        |        FROM b GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(sum(dn) OVER w AS BIGINT) AS n,
        |  CAST(sum(dc) OVER w AS BIGINT) AS cents
        |FROM per WINDOW w AS (PARTITION BY user_id ORDER BY bt)""".stripMargin,

    // outer variant: matched pairs equal the batch join; a no-match
    // left row null-emits iff its ts + horizon falls strictly before
    // the final watermark min(max left ts, max right ts) FLOORED TO
    // MILLISECONDS (Spark's EventTimeStats tracks watermarks in ms —
    // the q_stream_session convention); later unmatched rows drain
    // with the stream and never emit
    "q_stream_join_outer" ->
      """WITH l AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |           FROM events WHERE event_id % 2 = 0),
        |r AS (SELECT user_id, event_id, epoch_us(ts) AS us
        |      FROM events WHERE event_id % 2 = 1),
        |wm AS (SELECT least((SELECT max(us) FROM l),
        |                    (SELECT max(us) FROM r))
        |         // 1000 * 1000 AS w),
        |j AS (SELECT l.user_id, l.event_id AS l_event_id,
        |             r.event_id AS r_event_id, l.us AS lus
        |      FROM l LEFT JOIN r ON l.user_id = r.user_id
        |        AND r.us >= l.us AND r.us <= l.us + 1800000000)
        |SELECT user_id, l_event_id, r_event_id FROM j, wm
        |WHERE r_event_id IS NOT NULL OR lus + 1800000000 < w""".stripMargin,

    // stateless stream-static join == the batch join, by construction
    "q_stream_enrich" ->
      """SELECT event_id, user_id, event_type,
        |       CAST(floor(value * 100) AS BIGINT) AS value_cents,
        |       c_mktsegment AS segment,
        |       CAST(c_nationkey AS BIGINT) AS nation_key
        |FROM events JOIN customer ON user_id = c_custkey""".stripMargin,

    // gaps-and-islands replay of session_window: the merge rule is
    // INCLUSIVE (spec-pinned on the exact-gap boundary), so a
    // session breaks exactly when the inter-event gap is > 30 min —
    // the same rule as q_sessionize; a session emits when its end
    // (last ts + gap) <= the final watermark. Spark tracks the
    // watermark in MILLISECONDS (EventTimeStats floors event-time
    // micros to ms), and session ends inherit the raw event-time
    // precision — so the emission threshold floors max(ts) to ms
    // before comparing, or a session ending within the final
    // sub-millisecond would emit here but be withheld by Spark.
    // (The tumbling-window oracles don't need this: their window
    // ends are hour-aligned, and for an ms-aligned bound E,
    // E <= max_us  <=>  E <= floor_ms(max_us) — provably identical.)
    // Same-ts events per user collapse into one window on both
    // engines, so ordering ties are immaterial to the aggregates.
    "q_stream_session" ->
      """WITH x AS (SELECT user_id, ts, value, epoch_us(ts) AS us,
        |                  lag(epoch_us(ts)) OVER
        |                    (PARTITION BY user_id ORDER BY ts) AS prev
        |           FROM events),
        |g AS (SELECT *, sum(CASE WHEN prev IS NULL
        |                         OR us - prev > 1800000000
        |                         THEN 1 ELSE 0 END) OVER
        |        (PARTITION BY user_id ORDER BY us
        |         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x),
        |s AS (SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
        |             count(*) AS n,
        |             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
        |               AS value_cents
        |      FROM g GROUP BY 1, 2)
        |SELECT user_id,
        |       CAST(floor(start_us / 1000000) AS BIGINT) AS sess_start,
        |       n, value_cents
        |FROM s, (SELECT max(epoch_us(ts)) AS mx FROM events)
        |WHERE end_us + 1800000000 <= (mx // 1000) * 1000""".stripMargin,

    // replays the probed dropDuplicatesWithinWatermark state machine
    // (fixed expiry at first-kept ts + delay, no extension on drop;
    // eviction during batch N under the watermark from batches
    // <= N-2 — the eviction watermark lags one batch behind the
    // late-row watermark, probed empirically and pinned by this row)
    // as a recursive per-key fold over the <= 4 pre-deduped arrivals
    "q_stream_dedup" ->
      """WITH RECURSIVE
        |ev AS (SELECT event_id, epoch_us(ts) AS us,
        |              concat(user_id, ':', event_type) AS fp
        |       FROM events),
        |bnd AS (SELECT min(us) AS t0, max(us) AS t1 FROM ev),
        |batched AS (SELECT ev.*, CAST(floor((ev.us - bnd.t0) * 4.0
        |              / (bnd.t1 - bnd.t0 + 1)) AS INT) AS bt
        |            FROM ev, bnd),
        |uniq AS (SELECT fp, event_id, us, bt FROM (
        |    SELECT *, row_number() OVER (PARTITION BY fp, bt
        |      ORDER BY us, event_id) AS rn
        |    FROM batched) WHERE rn = 1),
        |wm AS (
        |  SELECT k.bt,
        |         (SELECT (max(u.us) // 1000 - 259200000) * 1000
        |          FROM uniq u WHERE u.bt <= k.bt - 2) AS w_us
        |  FROM (SELECT DISTINCT bt FROM uniq) k(bt)),
        |arr AS (SELECT fp, event_id, us, bt,
        |               row_number() OVER (PARTITION BY fp ORDER BY bt)
        |                 AS i
        |        FROM uniq),
        |sim AS (
        |  SELECT fp, event_id, us, bt, i, us AS kept_us, TRUE AS emitted
        |  FROM arr WHERE i = 1
        |  UNION ALL
        |  SELECT a.fp, a.event_id, a.us, a.bt, a.i,
        |         CASE WHEN w.w_us IS NOT NULL
        |                   AND s.kept_us + 259200000000 < w.w_us
        |              THEN a.us ELSE s.kept_us END,
        |         (w.w_us IS NOT NULL
        |          AND s.kept_us + 259200000000 < w.w_us)
        |  FROM sim s JOIN arr a ON a.fp = s.fp AND a.i = s.i + 1
        |  LEFT JOIN wm w ON w.bt = a.bt)
        |SELECT fp, event_id, us AS ts_us FROM sim WHERE emitted""".stripMargin,

    // per-(id, batch) winners folded through the SCD2 open/close
    // state machine: a winner opens iff its version strictly exceeds
    // the currently-open version; validity ranges via lead()
    "q_sync_scd2" ->
      """WITH RECURSIVE
        |ev AS (SELECT user_id,
        |              (event_id * 48271) % 2147483647 AS version,
        |              event_type,
        |              CAST(floor(value * 100) AS BIGINT) AS value_cents,
        |              epoch_us(ts) AS us
        |       FROM events),
        |bnd AS (SELECT min(us) AS t0, max(us) AS t1 FROM ev),
        |batched AS (SELECT ev.*, CAST(floor((ev.us - bnd.t0) * 4.0
        |              / (bnd.t1 - bnd.t0 + 1)) AS INT) AS bt
        |            FROM ev, bnd),
        |winners AS (SELECT user_id, bt, version, event_type, value_cents
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, bt
        |          ORDER BY version DESC) AS rn
        |        FROM batched) WHERE rn = 1),
        |arr AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY bt) AS i
        |        FROM winners),
        |fold AS (
        |  SELECT user_id, bt, version, event_type, value_cents, i,
        |         version AS kept_v, TRUE AS opened
        |  FROM arr WHERE i = 1
        |  UNION ALL
        |  SELECT a.user_id, a.bt, a.version, a.event_type,
        |         a.value_cents, a.i,
        |         CASE WHEN a.version > f.kept_v THEN a.version
        |              ELSE f.kept_v END,
        |         a.version > f.kept_v
        |  FROM fold f JOIN arr a
        |    ON a.user_id = f.user_id AND a.i = f.i + 1)
        |SELECT CAST(user_id AS VARCHAR) AS id, version, event_type,
        |       value_cents, CAST(bt AS BIGINT) AS sync_in,
        |       CAST(lead(bt) OVER (PARTITION BY user_id ORDER BY bt)
        |         AS BIGINT) AS sync_out
        |FROM fold WHERE opened""".stripMargin,

    // identical merged-state semantics, certified on the JDBC sink
    // (the k%4=1 slice — see the query's comment)
    "q_sync_apply_jdbc" -> syncApplyOracleSql(" AND o_orderkey % 4 = 1"),

    // node-sink lifecycle replay as closed-form per-key state
    // evolution: membership flags in1/in2/in3 and the per-sync
    // version ladder decide add/update/soft-delete/un-hide exactly
    // as the 3 diffs do; the final removeAll(/sites/odd) ORs hidden
    // over paths strictly under the odd root (record paths are
    // /sites/odd/<id>; the /sites/odd container itself survives,
    // mirroring the reference's LIKE root||'/%')
    "q_sync_apply_node" ->
      """WITH st AS (
        |  SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |         CASE WHEN o_orderkey % 2 = 0 THEN 'even'
        |              ELSE 'odd' END AS bucket,
        |         o_orderkey % 3 <> 0 AS in1,
        |         o_orderkey % 5 <> 0 AS in2,
        |         o_orderkey % 7 <> 0 AS in3,
        |         CAST(epoch(o_orderdate) AS BIGINT) AS v1,
        |         CAST(epoch(o_orderdate) AS BIGINT)
        |           + CASE WHEN o_orderkey % 2 = 0 THEN 86400
        |                  ELSE 0 END AS v2,
        |         CAST(epoch(o_orderdate) AS BIGINT)
        |           + CASE WHEN o_orderkey % 11 = 0 THEN 172800
        |                  ELSE 0 END AS v3
        |  FROM orders),
        |s2 AS (  -- state after sync 2 (present iff in1 OR in2)
        |  SELECT *, (in1 OR in2) AS present2,
        |    CASE WHEN NOT in1 AND in2 THEN v2
        |         WHEN in1 AND in2 AND v2 > v1 THEN v2
        |         ELSE v1 END AS version2,
        |    (in1 AND NOT in2) AS hidden2,
        |    CASE WHEN in2 AND (NOT in1 OR v2 > v1) THEN 'S2'
        |         ELSE 'S1' END AS src2
        |  FROM st),
        |s3 AS (  -- state after sync 3 + removeAll(/sites/odd)
        |  SELECT id, bucket,
        |    CASE WHEN (in3 AND present2 AND v3 > version2)
        |           OR (in3 AND NOT present2) THEN v3
        |         ELSE version2 END AS version,
        |    (CASE WHEN (in3 AND present2 AND v3 > version2)
        |            OR (in3 AND NOT present2) THEN FALSE
        |          WHEN present2 AND NOT in3 AND NOT hidden2 THEN TRUE
        |          ELSE hidden2 END
        |     OR bucket = 'odd') AS hidden,
        |    CASE WHEN (in3 AND present2 AND v3 > version2)
        |           OR (in3 AND NOT present2) THEN 'S3'
        |         ELSE src2 END AS src
        |  FROM s2 WHERE present2 OR in3)
        |SELECT 'node-' || id AS identifier, d.variant,
        |       '/sites/' || bucket || '/' || id AS path,
        |       hidden, version, src
        |FROM s3 CROSS JOIN (VALUES ('de'), ('en')) d(variant)
        |UNION ALL
        |SELECT 'auto:' || md5(p.ppath), '', p.ppath,
        |       FALSE,  -- removeAll is strictly-under-root (LIKE
        |               -- root||'/%'): the /sites/odd container node
        |               -- itself is NOT hidden, only nodes below it
        |       CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR)
        |FROM (SELECT DISTINCT '/sites/' || bucket AS ppath
        |      FROM st WHERE in1) p""".stripMargin,

    "q_variants_fanout" ->
      """SELECT CAST(c_custkey AS VARCHAR) || '-' || dim AS variant_id,
        |       CAST(c_custkey AS VARCHAR) AS id, dim, upper(c_name) AS name
        |FROM customer CROSS JOIN (SELECT unnest(['de','en','fr']) AS dim)""".stripMargin,

    "q_narrow_scan" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS id,
        |       CAST(epoch(o_orderdate) AS BIGINT) AS version
        |FROM orders""".stripMargin,

    "q_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      """SELECT l_orderkey,
        |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
        |         AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY l_orderkey""".stripMargin,
  )
}
