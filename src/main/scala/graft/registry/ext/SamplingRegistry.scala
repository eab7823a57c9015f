package graft.registry.ext

import graft.core.{Diff, DiffOptions, Records}
import graft.ext.{Assemble, AudioHash, Curation, Dedup, ImageHash, Multimodal, Similarity, TextAnalysis, VideoHash}
import graft.mapper.Mapper
import graft.pipeline.{ImportService, Preset}
import graft.sources.InlineSource
import graft.targets.{FileTarget, JdbcTarget}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.registry.Shared._

/** Sampling + profiling + graph: stratified/
  exact-k/weighted sampling, splits, shuffle shards, z-score
  outliers, exact and sketched profiling, PageRank.
  *
  * One ExtRegistry domain file (split from the
  * monolith, r15 verdict task 7) — entries moved
  * verbatim; [[graft.registry.ExtRegistry]]
  * aggregates the domain maps. */
private[graft] object SamplingRegistry {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // deterministic stratified hash sampling — same rows every run,
    // every engine, any partitioning (oracle replays the selection)
    "q_sample_stratified" -> ((s, dir) =>
      graft.ext.Sampling.stratified(
        tbl(s, dir, "events"), "event_id", "event_type",
        rates = Map("view" -> 0.1, "click" -> 0.5), defaultRate = 1.0)
        .select(col("event_id"), col("event_type"), col("user_id"))),

    // exact-k-per-stratum sample (fixed-budget eval sets: "exactly
    // 20 per event type"): portable-hash rank within stratum, the
    // same any-engine/any-partitioning reproducibility contract as
    // the rate-based sampler; WindowGroupLimit keeps the shuffle at
    // O(k·strata·tasks)
    "q_sample_exact_k" -> ((s, dir) =>
      graft.ext.Sampling.exactKPerStratum(
        tbl(s, dir, "events"), "event_id", "event_type", k = 20)
        .select(col("event_id"), col("event_type"), col("user_id"))),

    // deterministic train/val/test split (90/5/5 hash cells):
    // disjoint by construction, stable under reprocessing
    "q_split" -> ((s, dir) =>
      graft.ext.Sampling.split(
        s.read.parquet(t(dir, "documents")), "doc_id")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))),

    // deterministic corpus shuffle-and-shard: reproducible training
    // permutation with no global sort — hash-mod shard, row_number
    // within shard on (hash, id)
    "q_shuffle_shards" -> ((s, dir) =>
      Assemble.shuffleShards(
        s.read.parquet(t(dir, "documents")), "doc_id", shards = 64)
        .withColumnRenamed("id", "doc_id")),

    // per-language length-outlier cut (z-score > 2): tiny sufficient-
    // statistics aggregate broadcast back over one more narrow pass;
    // the flag decision is exact integer-derived DOUBLE arithmetic,
    // so the oracle replays it bit-for-bit (no FP mean/stddev)
    "q_zscore_outliers" -> ((s, dir) =>
      TextAnalysis.lengthOutliers(
        s.read.parquet(t(dir, "documents")), "lang", "n_chars",
        nSigma = 2)
        .withColumnRenamed("grp", "lang")),

    // fixed-point PageRank over the customer↔supplier order graph
    // (both directions, namespaced node ids) — integer arithmetic
    // end-to-end, so the distributed power iteration is exactly
    // oracle-replayable (double sums are order-dependent; longs
    // aren't). pageRank returns a persisted (caller-owned) frame;
    // the Verify/Bench/Prof harnesses release it via their
    // per-query clearCache.
    "q_pagerank" -> ((s, dir) => {
      val o = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      // dedup on the RAW INT pair, stringify after: the distinct is
      // the big shuffle (|join output| rows), and shipping two longs
      // through it instead of two built-up strings halves its width —
      // the 100×-kg smoke OOM'd the string-pair sort at default heap
      val pairs = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ca"), col("l_suppkey").as("sb"))
        .distinct()
        .select(concat(lit("c"), col("ca")).as("a"),
          concat(lit("s"), col("sb")).as("b"))
      val edges = pairs.union(
        pairs.select(col("b").as("a"), col("a").as("b")))
      // edgesDistinct: `pairs` is already distinct, and the union's
      // two halves are disjoint by namespace (every edge is c→s or
      // s→c) — pageRank's defensive distinct would re-shuffle the
      // full 2×|pairs| string-pair list for nothing
      graft.ext.Graph.pageRank(edges, "a", "b", iterations = 3,
        edgesDistinct = true)
    }),

    // weighted sampling without replacement (Efraimidis–Spirakis
    // A-Res) — probability proportional to n_chars, deterministic
    // hash uniforms, k smallest -ln(u)/w keys
    "q_sample_weighted" -> ((s, dir) =>
      graft.ext.Sampling.weightedTopK(
        s.read.parquet(t(dir, "documents"))
          .select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 25)),

    // one-pass multi-column profile: per-column n / nulls / exact
    // distinct / min / max through a single Expand-planned aggregate
    "q_profile" -> ((s, dir) =>
      graft.ext.Profiling.profile(
        tbl(s, dir, "events").select(col("event_id"), col("user_id"),
          col("event_type"),
          floor(col("value") * 100).cast("long").as("value_cents")),
        Seq("event_id", "user_id", "event_type", "value_cents"))),

    // the 100 TB profile path (HLL++, no Expand) as a contract row:
    // exact distinct + an approx_ok bit the oracle pins to TRUE
    "q_profile_approx" -> ((s, dir) =>
      graft.ext.Profiling.profileApprox(
        tbl(s, dir, "events").select(col("event_id"), col("user_id"),
          col("event_type"),
          floor(col("value") * 100).cast("long").as("value_cents")),
        Seq("event_id", "user_id", "event_type", "value_cents"))),
  )

  /** DuckDB oracles for this file's queries. */
  val oracles: Map[String, String] = Map(

    "q_sample_stratified" ->
      s"""SELECT event_id, event_type, user_id FROM events
         |WHERE ${duckHash60("CAST(event_id AS VARCHAR)")} % 1000000
         |  < CASE event_type WHEN 'view' THEN 100000
         |                    WHEN 'click' THEN 500000
         |                    ELSE 1000000 END""".stripMargin,

    // portable-hash rank within stratum, first k — replayed exactly
    "q_sample_exact_k" ->
      s"""WITH r AS (
         |  SELECT event_id, event_type, user_id,
         |         row_number() OVER (PARTITION BY event_type
         |           ORDER BY ${duckHash60("CAST(event_id AS VARCHAR)")},
         |             event_id) AS rk
         |  FROM events)
         |SELECT event_id, event_type, user_id FROM r
         |WHERE rk <= 20""".stripMargin,

    // the 90/5/5 hash-cell assignment, aggregated per split
    "q_split" ->
      s"""WITH a AS (
         |  SELECT doc_id,
         |    CASE WHEN ${duckHash60("CAST(doc_id AS VARCHAR)")} % 100 < 90
         |           THEN 'train'
         |         WHEN ${duckHash60("CAST(doc_id AS VARCHAR)")} % 100 < 95
         |           THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT split, count(*) AS n, min(doc_id) AS min_id,
         |       max(doc_id) AS max_id
         |FROM a GROUP BY split""".stripMargin,

    "q_shuffle_shards" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${duckHash60("concat(CAST(doc_id AS VARCHAR), ':0')")} AS h
         |  FROM documents)
         |SELECT doc_id, h % 64 AS shard,
         |       CAST(row_number() OVER (
         |         PARTITION BY h % 64 ORDER BY h, doc_id) - 1 AS BIGINT)
         |         AS pos
         |FROM h""".stripMargin,

    // outlier test replayed from the same exact integer sufficient
    // statistics: (n−1)·(n·x−S1)² > 4·n·(n·S2−S1²) with every operand
    // CAST to DOUBLE first and the identical left-assoc operation
    // order as the engine — bit-for-bit on any IEEE-754 evaluator
    "q_zscore_outliers" ->
      """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS x
        |           FROM documents),
        |st AS (SELECT lang, count(*) AS n,
        |              CAST(sum(x) AS BIGINT) AS s1,
        |              CAST(sum(x * x) AS BIGINT) AS s2
        |       FROM d GROUP BY lang),
        |f AS (SELECT d.lang, d.x,
        |        CASE WHEN (CAST(n AS DOUBLE) - 1.0)
        |               * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE)
        |                  - CAST(s1 AS DOUBLE))
        |               * (CAST(n AS DOUBLE) * CAST(x AS DOUBLE)
        |                  - CAST(s1 AS DOUBLE))
        |             > 4.0 * CAST(n AS DOUBLE)
        |               * (CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
        |                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
        |        THEN 1 ELSE 0 END AS is_out
        |      FROM d JOIN st USING (lang))
        |SELECT lang, count(*) AS n_rows,
        |       CAST(sum(is_out) AS BIGINT) AS n_outliers,
        |       CAST(sum(CASE WHEN is_out = 1 THEN x ELSE 0 END)
        |         AS BIGINT) AS outlier_sum
        |FROM f GROUP BY lang""".stripMargin,

    // fixed-point power iteration unrolled — integer `//` division
    // and integer sums make every iteration exact, so the oracle
    // replays the distributed rank bit-for-bit
    "q_pagerank" -> {
      val iters = (1 to 3).map { k =>
        s"""i$k AS (SELECT e.dst AS node, sum(r.rank // d.outdeg) AS s
           |  FROM e JOIN deg d ON e.src = d.src
           |  JOIN r${k - 1} r ON r.node = e.src
           |  GROUP BY e.dst),
           |r$k AS (SELECT n.node,
           |  CAST(150000 + (coalesce(i.s, 0) * 850) // 1000 AS BIGINT)
           |    AS rank
           |  FROM nodes n LEFT JOIN i$k i ON n.node = i.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS (
         |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT a AS src, b AS dst FROM pairs
         |      UNION ALL SELECT b, a FROM pairs),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM e),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes),
         |$iters
         |SELECT node, rank AS rank_micro FROM r3""".stripMargin
    },

    // Efraimidis–Spirakis replay: deterministic uniform from the
    // portable hash, -ln(u)/w floored to nano units, k smallest
    "q_sample_weighted" ->
      s"""WITH k AS (
         |  SELECT doc_id, n_chars,
         |    CAST(floor(-ln((${duckHash60("CAST(doc_id AS VARCHAR)")}
         |        % 1000000 + 0.5) / 1000000.0)
         |      / CAST(n_chars AS DOUBLE) * 1000000000) AS BIGINT)
         |      AS key_nano
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, n_chars, key_nano,
         |  CAST(row_number() OVER (ORDER BY key_nano, doc_id) AS INTEGER)
         |    AS rank
         |FROM k ORDER BY key_nano, doc_id LIMIT 25""".stripMargin,

    // per-column stats replayed column-by-column; counts only, no
    // sums, so every aggregate is already BIGINT on both engines
    "q_profile" -> {
      val per = Seq("event_id", "user_id", "event_type", "value_cents")
        .map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n,
             |  count(*) - count($c) AS n_null,
             |  count(DISTINCT $c) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_s,
             |  CAST(max($c) AS VARCHAR) AS max_s
             |FROM ev HAVING count(*) > 0""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (
         |  SELECT event_id, user_id, event_type,
         |         CAST(floor(value * 100) AS BIGINT) AS value_cents
         |  FROM events)
         |$per""".stripMargin
    },

    // exact values + the contract bit the sketch must honor
    "q_profile_approx" -> {
      val per = Seq("event_id", "user_id", "event_type", "value_cents")
        .map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n,
             |  count(*) - count($c) AS n_null,
             |  count(DISTINCT $c) AS n_distinct,
             |  TRUE AS approx_ok
             |FROM ev HAVING count(*) > 0""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH ev AS (
         |  SELECT event_id, user_id, event_type,
         |         CAST(floor(value * 100) AS BIGINT) AS value_cents
         |  FROM events)
         |$per""".stripMargin
    },
  )
}
