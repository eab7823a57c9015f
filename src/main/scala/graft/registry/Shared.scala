package graft.registry

import graft.core.{Diff, DiffOptions, Records}
import graft.ext.{Assemble, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.mapper.Mapper
import graft.pipeline.{ImportService, Preset}
import graft.sources.InlineSource
import graft.targets.{FileTarget, JdbcTarget}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Helpers shared by the per-tier query/oracle registries — the
  * synthetic sync inputs, temp-dir lifecycle, and the DuckDB oracle
  * CTE fragments. Moved verbatim out of SparkEntry (registry split;
  * zero behavior change). */
private[graft] object Shared {

  def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Temp dirs backing lazily-read result frames can only be freed at
    * JVM exit — one shutdown hook recursively deletes all of them
    * (plain deleteOnExit skips non-empty directories). */
  val tempDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.nio.file.Path])
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempDirs.forEach { root =>
        try {
          import java.nio.file._
          Files.walk(root).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
        } catch { case _: Exception => () }
      }))
  }
  def tempStateDir(): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_sync_")
    tempDirs.add(p)
    p.toString
  }
  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    graft.util.Tables.read(s, dir, name)

  /** Shared staged inputs for the three stream-stream interval-join
    * variants (inner / left_outer / full_outer): all three replay the
    * SAME even/odd event split in the same 4 ts-range batches, so the
    * staging (two table passes + file stamping) runs ONCE per input
    * dir and each variant pays only its own replay. Keyed by the sf
    * dir PLUS a content fingerprint of the events table (file names,
    * sizes, mtimes) — a fresh dataset (driver round, spec fixture
    * dir) stages fresh, and so does an IN-PLACE regeneration of the
    * same dir (which the dir-only key of rounds ≤11 would have served
    * stale batches against a fresh oracle). Harness-scope memo: the
    * engine operator itself
    * ([[graft.streaming.IncrementalSync.replayTransform2Staged]])
    * stays stateless. */
  private val streamJoinStaged =
    new java.util.concurrent.ConcurrentHashMap[
      String, (String, String, org.apache.spark.sql.types.StructType)]()
  /** Content fingerprint of a table's backing files: relative name +
    * size + mtime per file, order-independent. Cheap (one directory
    * listing), and any rewrite — even same-size — bumps an mtime. */
  private def tableFingerprint(path: String): String = {
    val f = new java.io.File(path)
    val files: Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq else if (f.isFile) Seq(f) else Seq.empty
    files.map(x => s"${x.getName}:${x.length}:${x.lastModified}")
      .sorted.mkString("|").hashCode.toHexString
  }
  def streamJoinInputs(s: SparkSession, dir: String)
      : (String, String, org.apache.spark.sql.types.StructType) =
    streamJoinStaged.computeIfAbsent(
      dir + "#" + tableFingerprint(t(dir, "events")), _ => {
      val sync = graft.streaming.IncrementalSync
      // stage only the columns the interval joins read — the staged
      // bytes, the per-batch scan, and the join state all shrink
      val ev = tbl(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("ts"))
      val batchCol = sync.tsRangeBatch(ev, "ts", 4)
      val root = tempStateDir()
      val lDir = s"$root/inL"; val rDir = s"$root/inR"
      val schema = sync.stageBatches(s,
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        batchCol, 4, lDir)
      sync.stageBatches(s,
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        batchCol, 4, rDir)
      (lDir, rDir, schema)
    })

  /** Memoized PERSISTED ANN index over the final q_ann_persisted
    * corpus (`vec_id % 5 != 4`, true vectors): built + manifest-
    * committed once per (dir, embeddings content fingerprint), so
    * `q_ann_probe` times SERVING — a probe-only plan over the
    * already-committed index tables — separately from the build/
    * refresh certification that stays in `q_ann_persisted`. Bench's
    * min-of-3 estimator reports the post-build reps, i.e. pure probe.
    * Harness-scope memo like [[streamJoinInputs]]; the engine
    * operator ([[graft.ext.VectorIndex]]) stays stateless. */
  private val annIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def annProbeIndex(s: SparkSession, dir: String): String =
    annIndexRoots.computeIfAbsent(
      dir + "#" + tableFingerprint(t(dir, "embeddings")), _ => {
        val root = tempStateDir() + "/annidx_probe"
        val corpus = s.read.parquet(t(dir, "embeddings"))
          .filter(col("vec_id") % 5 =!= 4)
        graft.ext.VectorIndex.build(s, corpus, root,
          nCells = 8, m = 16, k = 32)
        root
      })

  /** Memoized PERSISTED dedup index over q_dedup_index's FINAL corpus
    * (evens minus the %10=6 slice, true text), so `q_dedup_probe`
    * times dedup-at-ingest SERVING — batch shingle/sign + the
    * bands/shingles table joins — separately from the build/refresh
    * certification that stays in `q_dedup_index`. Same harness-memo
    * convention as [[annProbeIndex]]. */
  private val dedupIndexRoots =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def dedupProbeIndex(s: SparkSession, dir: String): String =
    dedupIndexRoots.computeIfAbsent(
      dir + "#" + tableFingerprint(t(dir, "documents")), _ => {
        val root = tempStateDir() + "/dedupidx_probe"
        val corpus = s.read.parquet(t(dir, "documents"))
          .filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 =!= 6)
          .select(col("doc_id").cast("string").as("id"), col("text"))
        graft.ext.DedupIndex.build(s, corpus, root,
          k = 32, bands = 8, n = 3, idCol = "id", textCol = "text",
          baseHash = graft.ext.TextAnalysis.portableHash60)
        root
      })

  /** The scale-factor dir the CURRENT correctness dump targets — set
    * by [[graft.Verify]] from its args before any oracle SQL is
    * generated, so data-parameterized lazy oracles (the trained
    * unigram row) train on the same corpus the queries ran on.
    * Defaults to the driver's gate sf. */
  @volatile var verifySfDir: String = "/root/testdata/sf0.01"

  /** Memoized TRAINED unigram vocabulary for a corpus dir: word-type
    * table collected once (bounded model-side data, the bpeTrain
    * convention), then the full Kudo loop —
    * [[graft.ext.Assemble.trainUnigramVocab]]: capped frequency seed,
    * 2 EM rounds, likelihood-loss prune to 256 multis — all driver
    * math. The SAME memoized map feeds the engine's broadcast Viterbi
    * (q_unigram_encode_trained) and the oracle's literal vocab CTE
    * ([[unigramTrainedSql]]), the q_mix_temperature driver-literal
    * convention: training is shared model configuration; the oracle
    * independently replays the distributed ENCODE. */
  private val unigramVocabs =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]()
  def trainedUnigramVocab(s: SparkSession, dir: String): Map[String, Long] =
    unigramVocabs.computeIfAbsent(
      dir + "#" + tableFingerprint(t(dir, "documents")), _ => {
        val types = graft.util.Tables.spread(
            s.read.parquet(t(dir, "documents")))
          .select(explode(TextAnalysis.normTokens(col("text"))).as("w"))
          .filter(length(col("w")) > 0)
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
          .sortBy(_._1).toSeq // deterministic training-input order
        Assemble.trainUnigramVocab(types)
      })

  /** Stage a frame as ONE JSON ARRAY document — the reference's
    * whole-file model (FileSource.php:37-41) — via a distributed
    * single-partition text write, NOT a driver collect: the emitted
    * lines "[", "row", ",row", …, "]" concatenate to a valid JSON
    * array, streamed row-by-row in one task with constant memory.
    * Returns the staged part-file path. */
  def stageJsonArray(slice: DataFrame, dir: String): String = {
    val s = slice.sparkSession
    import s.implicits._
    val out = s"$dir/json_array"
    slice.toJSON.coalesce(1).mapPartitions { it =>
      val body = it.zipWithIndex.map { case (row, i) =>
        if (i == 0) row else "," + row }
      Iterator("[") ++ body ++ Iterator("]")
    }.write.mode("overwrite").text(out)
    new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).head.getAbsolutePath
  }
  /** Drop an in-memory Derby database (frees its driver heap).
    * Derby signals a successful drop with SQLState 08006. */
  def dropDerby(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
    catch { case _: java.sql.SQLException => () }

  /**
   * Deterministic synthetic sync inputs derived from `orders`:
   * source = keys with k%10!=0, version = epoch(orderdate);
   * local  = keys with k%7!=0, version older by a day when k%3=0.
   * ⇒ added = {k%10!=0 ∧ k%7=0}, removed = {k%7!=0 ∧ k%10=0},
   *   updated = {both ∧ k%3=0} (strictly-newer version rule).
   */
  def syncSource(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "orders"))
      .filter(col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey").as("id"),
        unix_timestamp(col("o_orderdate")).as("version"),
        col("o_totalprice"), col("o_orderstatus"))

  def syncLocal(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(t(dir, "orders"))
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").cast("string").as("id"),
        (unix_timestamp(col("o_orderdate")) +
          when(col("o_orderkey") % 3 === 0, -86400L).otherwise(0L))
          .as("version"))

  val syncSourceSql =
    """SELECT CAST(o_orderkey AS VARCHAR) AS id,
      |       CAST(epoch(o_orderdate) AS BIGINT) AS version
      |FROM orders WHERE o_orderkey % 10 <> 0""".stripMargin
  val syncLocalSql =
    """SELECT CAST(o_orderkey AS VARCHAR) AS id,
      |       CAST(epoch(o_orderdate) AS BIGINT)
      |         + CASE WHEN o_orderkey % 3 = 0 THEN -86400 ELSE 0 END AS version
      |FROM orders WHERE o_orderkey % 7 <> 0""".stripMargin

  /** Expected post-sync merged state — shared by the FileTarget
    * (`q_sync_apply`, full volume) and JdbcTarget
    * (`q_sync_apply_jdbc`, the k%4=1 slice) e2e runs: the sink
    * changes, the semantics must not. */
  /** Shared oracle CTE chain: per-document exact-integer mean unigram
    * surprisal with language — `j(doc_id, lang, n_tokens, mu_unats)`.
    * Consumed by both ppl-bucket oracles (exact ntile and
    * approx-cutoff replay). */
  val duckPplMetricCtes: String =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |flat AS (SELECT doc_id, unnest(t) AS tok FROM toks),
      |freq AS (SELECT tok, count(*) AS c FROM flat GROUP BY tok),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM freq),
      |s AS (SELECT doc_id,
      |        CAST(floor(-ln(CAST(c AS DOUBLE) / total) * 1000000)
      |          AS BIGINT) AS u
      |      FROM flat JOIN freq USING (tok) CROSS JOIN tot),
      |doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |               CAST(sum(u) AS BIGINT) AS su
      |        FROM s GROUP BY doc_id),
      |j AS (SELECT d.doc_id, lang, n_tokens,
      |        CAST(su // n_tokens AS BIGINT) AS mu_unats
      |      FROM doc d JOIN documents USING (doc_id))""".stripMargin

  def syncApplyOracleSql(extraPred: String = ""): String =
    s"""WITH source AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS id,
      |         CAST(epoch(o_orderdate) AS BIGINT) AS version,
      |         CAST(floor(o_totalprice * 100) AS BIGINT) AS total_cents,
      |         o_orderstatus AS status
      |  FROM orders WHERE o_orderkey % 10 <> 0$extraPred),
      |local AS (
      |  SELECT CAST(o_orderkey AS VARCHAR) AS id,
      |         CAST(epoch(o_orderdate) AS BIGINT)
      |           + CASE WHEN o_orderkey % 3 = 0 THEN -86400 ELSE 0 END AS version,
      |         CAST(-1 AS BIGINT) AS total_cents, 'OLD' AS status
      |  FROM orders WHERE o_orderkey % 7 <> 0$extraPred)
      |SELECT s.id AS id,
      |  CASE WHEN l.id IS NULL OR s.version > l.version
      |       THEN s.version ELSE l.version END AS version,
      |  CASE WHEN l.id IS NULL OR s.version > l.version
      |       THEN s.total_cents ELSE l.total_cents END AS total_cents,
      |  CASE WHEN l.id IS NULL OR s.version > l.version
      |       THEN s.status ELSE l.status END AS status
      |FROM source s LEFT JOIN local l ON s.id = l.id""".stripMargin

  /** Shared empty-result schema for the staged-source rows (an empty
    * staged file has no inferable schema to aggregate over). */
  def emptySourceAgg(s: SparkSession): DataFrame =
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("min_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("max_id",
          org.apache.spark.sql.types.LongType))))

  /** DuckDB replication of the full TextAnalysis projection —
    * shared by q_text_analysis and the corpus-cleanup composition. */
  /** Exhaustive cosine top-5 per query point — the shared oracle for
    * ALL FOUR ANN variants: each query's settings are pinned (by the
    * oracle gate itself + ExtSpec) to exact agreement with the
    * brute-force answer on the gate corpus, so DuckDB certifies the
    * ANN output by recomputing the search exhaustively. Rank
    * ordering replays the engine's total order (sim desc, n_id asc)
    * on the UNROUNDED sim;
    * `list_dot_product` is bit-identical to the native cosine kernel
    * (both are plain sequential folds — proven by q_embed_cosine). */
  lazy val duckAnnBruteTop5: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
      |scored AS (
      |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
      |         list_dot_product(q.v, e.v)
      |           / (sqrt(list_dot_product(q.v, q.v))
      |              * sqrt(list_dot_product(e.v, e.v))) AS s
      |  FROM q JOIN e ON q.vec_id <> e.vec_id),
      |ranked AS (
      |  SELECT q_id, n_id, s,
      |         row_number() OVER (PARTITION BY q_id ORDER BY s DESC, n_id) AS rn
      |  FROM scored)
      |SELECT q_id, n_id, round(s, 6) AS sim, CAST(rn AS INTEGER) AS rank
      |FROM ranked WHERE rn <= 5""".stripMargin

  lazy val duckTextAnalysis: String =
      ("""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens_ws,
        |    len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_tokens_bpe,
        |    round(CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE)
        |      / greatest(length(text), 1), 6) AS punct_ratio,
        |    (""" + TextAnalysis.Stopwords.map(w =>
          s"len(regexp_extract_all(lower(text), '\\b$w\\b'))").mkString(" + ") +
        """) AS sw,
        |""" + TextAnalysis.LangMarkers.map { case (lang, ms) =>
          "    (" + ms.map(m =>
            s"len(regexp_extract_all(lower(text), '\\b$m\\b'))").mkString(" + ") +
            s") AS s_$lang"
        }.mkString(",\n") + """
        |  FROM documents),
        |r AS (SELECT *,
        |  round(CAST(sw AS DOUBLE) / greatest(n_tokens_ws, 1), 6) AS stopword_ratio
        |  FROM base)
        |SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars,
        |  CAST(n_tokens_ws AS INTEGER) AS n_tokens_ws,
        |  CAST(n_tokens_bpe AS INTEGER) AS n_tokens_bpe,
        |  punct_ratio, stopword_ratio,
        |  round((least(length(text) / 500.0, 1.0)
        |    + (1.0 - least(punct_ratio * 5, 1.0))
        |    + least(stopword_ratio * 4, 1.0)) / 3, 6) AS quality,
        |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en >= s_zh THEN 'en'
        |       WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
        |       WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
        |       WHEN s_es >= s_zh THEN 'es' ELSE 'zh' END AS lang_guess,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM r""").stripMargin

  /** DuckDB replay of [[graft.ext.TextAnalysis.portableHash60]]. */
  def duckHash60(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** DSIR scoring CTE chain ([[graft.ext.Sampling.dsirSelect]]
    * replay) over a relation `rel(doc_id, is_t, t)` where `t` is the
    * normalized token array: hashed unigram+bigram buckets, add-one
    * ppm likelihood-ratio weights, BIGINT score sums. Ends with a
    * `scores(doc_id, n_feats, imp_sum)` CTE; callers append the
    * selection. Shared by the q_dsir_select and q_curation_funnel
    * oracles — ONE definition, one replayed semantics. */
  def dsirScoreCtes(rel: String, dim: Int): String =
    s"""dsir_f AS (
       |  SELECT doc_id, is_t, unnest(t) AS feat FROM $rel
       |  UNION ALL
       |  SELECT doc_id, is_t,
       |    unnest([t[i] || ' ' || t[i + 1] for i in range(1, len(t))])
       |      AS feat
       |  FROM $rel),
       |dsir_pd AS (
       |  SELECT doc_id, is_t, ${duckHash60("feat")} % $dim AS bucket,
       |         count(*) AS c
       |  FROM dsir_f GROUP BY 1, 2, 3),
       |dsir_w AS (
       |  SELECT bucket,
       |    CAST(((sum(CASE WHEN is_t THEN c ELSE 0 END) + 1) * 1000000)
       |      // (sum(c) + 1) AS BIGINT) AS w_ppm
       |  FROM dsir_pd GROUP BY bucket),
       |scores AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |         CAST(sum(c * w_ppm) AS BIGINT) AS imp_sum
       |  FROM dsir_pd JOIN dsir_w USING (bucket) GROUP BY 1)""".stripMargin

  /** Shared DuckDB shingle CTE body (3-gram, normalized, distinct) —
    * identical to the q_ngram_jaccard oracle's, minus the block. */
  val duckShingles =
    """SELECT doc_id,
      |    list_distinct(CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |      ELSE [array_to_string(toks[i:i+2], ' ')
      |            FOR i IN range(1, len(toks) - 1)] END) AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(
      |            regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |        FROM documents)""".stripMargin

  /** DuckDB replay of the 32-hash minhash signature table (ends with
    * a `sigs` CTE, columns m0..m31), shared by the dedup, cluster,
    * incremental, and skew oracles. */
  lazy val minhashSigCtes: String = {
    val p = graft.ext.Dedup.MinhashP
    val minCols = graft.ext.Dedup.minhashParams(32).zipWithIndex.map {
      case ((a, b), i) => s"min((h * $a + $b) % $p) AS m$i"
    }.mkString(",\n   ")
    s"""docs AS (
       |  $duckShingles),
       |ex AS (SELECT doc_id, ${duckHash60("s")} % $p AS h
       |       FROM (SELECT doc_id, unnest(sh) AS s FROM docs)),
       |sigs AS (SELECT doc_id,
       |   $minCols
       | FROM ex GROUP BY doc_id)""".stripMargin
  }

  /** "some band fully matches" predicate between sig aliases a/b. */
  lazy val minhashBandConds: String =
    (0 until 8).map { b =>
      (b * 4 until (b + 1) * 4).map(i => s"a.m$i = b.m$i").mkString("(", " AND ", ")")
    }.mkString("\n     OR ")

  /** [[minhashSigCtes]] extended to band candidates → Jaccard-verified
    * pairs (threshold 0.5) — the q_minhash_dedup oracle body, reused
    * by the connected-components oracle. Ends with a
    * `pairs(id_a, id_b, jaccard)` CTE; callers append the final
    * SELECT. */
  /** Per-pixel dHash replay over the documents-derived PPM corpus
    * (base ∪ single-pixel-vandalized twins of doc_id%10=0): same luma
    * weights, box partition, floor-milli cells, hi/lo packing, and
    * hamming ≤ 3 cut as [[graft.ext.ImageHash]]. Ends with a
    * `pairs(id_a, id_b, hamming)` CTE; callers append the final
    * SELECT (the pair row) or the recursive closure (the cluster
    * row). */
  /** CTEs through `hs(id, hi, lo)` + `dims(id, doc_id, w, h)` — the
    * per-pixel dHash replay, with or without the planted twin rows;
    * shared by [[dhashPairsCtes]] (self-pairing, twins in) and the
    * incremental oracle (batch × corpus, base files). */
  private def dhashBaseCtes(withTwins: Boolean): String = {
    val twinUnion =
      if (withTwins)
        """
          |  UNION ALL
          |  SELECT CAST(doc_id AS VARCHAR) || 'v' AS id, doc_id,
          |         TRUE AS twin
          |  FROM documents WHERE doc_id % 10 = 0""".stripMargin
      else ""
    s"""imgs AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, doc_id,
      |         FALSE AS twin
      |  FROM documents$twinUnion),
      |dims AS (
      |  SELECT id, doc_id, twin,
      |         CAST(8 + doc_id % 16 AS BIGINT) AS w,
      |         CAST(6 + doc_id % 9 AS BIGINT) AS h
      |  FROM imgs),
      |px AS (
      |  SELECT id, doc_id, twin, w, h,
      |         unnest(generate_series(0, w * h - 1)) AS i
      |  FROM dims),
      |lum AS (
      |  SELECT id, w, h, (i % w) AS x, (i // w) AS y,
      |    CASE WHEN twin AND i = 0 THEN 128000
      |    ELSE ((doc_id * 31 + i * 7) % 256) * 299
      |       + ((doc_id * 31 + i * 7 + 13) % 256) * 587
      |       + ((doc_id * 31 + i * 7 + 26) % 256) * 114 END AS luma
      |  FROM px),
      |cells AS (
      |  SELECT id, (x * 9) // w AS gx, (y * 8) // h AS gy,
      |         CAST(sum(luma) AS BIGINT) AS s, count(*) AS n
      |  FROM lum GROUP BY 1, 2, 3),
      |g72 AS (SELECT id, unnest(generate_series(0, 71)) AS gi
      |        FROM dims),
      |dense AS (
      |  SELECT g72.id, gi % 9 AS gx, gi // 9 AS gy,
      |         coalesce(c.s * 1000 // c.n, 0) AS cell
      |  FROM g72 LEFT JOIN cells c
      |    ON c.id = g72.id AND c.gx = gi % 9
      |       AND c.gy = gi // 9),
      |bits AS (
      |  SELECT l.id, l.gy * 8 + l.gx AS i,
      |         CASE WHEN r.cell > l.cell THEN 1 ELSE 0 END AS bit
      |  FROM dense l JOIN dense r
      |    ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
      |  WHERE l.gx < 8),
      |hs AS (
      |  SELECT id,
      |    CAST(sum(CASE WHEN i < 32
      |             THEN bit * (CAST(1 AS BIGINT) << i)
      |             ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN i >= 32
      |             THEN bit * (CAST(1 AS BIGINT) << (i - 32))
      |             ELSE 0 END) AS BIGINT) AS lo
      |  FROM bits GROUP BY 1)""".stripMargin
  }

  lazy val dhashPairsCtes: String =
    s"""${dhashBaseCtes(withTwins = true)},
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         CAST(bit_count(xor(a.hi, b.hi))
      |           + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
      |  FROM hs a JOIN hs b ON a.id < b.id
      |  JOIN dims da ON da.id = a.id
      |  JOIN dims db ON db.id = b.id
      |  WHERE da.w = db.w AND da.h = db.h
      |    AND bit_count(xor(a.hi, b.hi))
      |      + bit_count(xor(a.lo, b.lo)) <= 3)""".stripMargin

  /** Incremental image-dHash oracle: the vandalized re-uploads of
    * every 10th image (the twin rows) crossed against the full base
    * corpus within the dims block — batch side twin = TRUE, corpus
    * side twin = FALSE, no corpus self-pairs. */
  lazy val imageDhashIncrementalSql: String =
    s"""WITH ${dhashBaseCtes(withTwins = true)}
      |SELECT a.id AS batch_id, b.id AS corpus_id,
      |       CAST(bit_count(xor(a.hi, b.hi))
      |         + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
      |FROM hs a JOIN hs b ON a.id <> b.id
      |JOIN dims da ON da.id = a.id
      |JOIN dims db ON db.id = b.id
      |WHERE da.twin AND NOT db.twin
      |  AND da.w = db.w AND da.h = db.h
      |  AND bit_count(xor(a.hi, b.hi))
      |    + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin

  /** Re-encode-robust image dedup oracle: per-pixel dHash replay over
    * the documents-derived FLAT-TILE JPEG corpus (tile color formulas
    * of [[graft.ext.Multimodal.synthesizeJpeg]]), with the quant-4
    * re-encoded twins of doc_id%10=0 carrying their SOURCE's hash —
    * the engine-side exactness claim (DC error ≤ quantScale/16 < the
    * 0.5 rounding radius ⇒ bit-exact pixels ⇒ identical dHash) is
    * thereby independently pinned: any engine round-trip drift would
    * hash-mismatch. Batch × corpus within the dims block, hamming ≤ 3. */
  lazy val jpegDhashReencodeSql: String =
    s"""WITH $jpegDhashBaseCtes
      |SELECT a.id AS batch_id, b.id AS corpus_id,
      |       CAST(bit_count(xor(a.hi, b.hi))
      |         + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
      |FROM hs a JOIN hs b ON a.id <> b.id
      |JOIN dims da ON da.id = a.id
      |JOIN dims db ON db.id = b.id
      |WHERE da.twin AND NOT db.twin
      |  AND da.w = db.w AND da.h = db.h
      |  AND bit_count(xor(a.hi, b.hi))
      |    + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin

  /** The clusters form over the same corpus ∪ re-encoded twins: all
    * hamming ≤ 3 pairs within dims blocks, then the recursive
    * reachability closure (the q_image_dhash_clusters convention) —
    * certifies the engine's collapse-first CC path equals whole-graph
    * connected components. */
  lazy val jpegDhashReencodeClustersSql: String =
    s"""WITH RECURSIVE $jpegDhashBaseCtes,
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b
      |  FROM hs a JOIN hs b ON a.id < b.id
      |  JOIN dims da ON da.id = a.id
      |  JOIN dims db ON db.id = b.id
      |  WHERE da.w = db.w AND da.h = db.h
      |    AND bit_count(xor(a.hi, b.hi))
      |      + bit_count(xor(a.lo, b.lo)) <= 3),
      |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
      |          UNION SELECT id_b, id_a FROM pairs),
      |reach AS (
      |  SELECT a AS n, b AS r FROM edges
      |  UNION
      |  SELECT reach.n, e.b FROM reach JOIN edges e ON reach.r = e.a
      |)
      |SELECT n AS media_id, least(n, min(r)) AS cluster_id
      |FROM reach GROUP BY n""".stripMargin

  /** CTEs through `hs(id, hi, lo)` + `dims(id, doc_id, twin, w, h)`
    * for the flat-tile JPEG corpus ∪ quant-4 re-encoded twins of
    * doc_id%10=0 (twins carry their SOURCE's hash — the exactness
    * claim the engine must reproduce). */
  private lazy val jpegDhashBaseCtes: String =
    """jimgs AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, doc_id, FALSE AS twin
      |  FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id AS VARCHAR) || 'r' AS id, doc_id, TRUE
      |  FROM documents WHERE doc_id % 10 = 0),
      |dims AS (
      |  SELECT id, doc_id, twin,
      |         CAST(8 * (1 + doc_id % 3) AS BIGINT) AS w,
      |         CAST(8 * (1 + doc_id % 2) AS BIGINT) AS h
      |  FROM jimgs),
      |px AS (
      |  SELECT id, doc_id, twin, w, h,
      |         unnest(generate_series(0, w * h - 1)) AS i
      |  FROM dims),
      |lum AS (
      |  SELECT id, w, h, (i % w) AS x, (i // w) AS y,
      |    ((doc_id * 31 + (((i // w) // 8) * (w // 8) + (i % w) // 8)
      |        * 59 + 7) % 256) * 299
      |    + ((doc_id * 17 + (((i // w) // 8) * (w // 8) + (i % w) // 8)
      |        * 83 + 3) % 256) * 587
      |    + ((doc_id * 13 + (((i // w) // 8) * (w // 8) + (i % w) // 8)
      |        * 29 + 11) % 256) * 114 AS luma
      |  FROM px),
      |cells AS (
      |  SELECT id, (x * 9) // w AS gx, (y * 8) // h AS gy,
      |         CAST(sum(luma) AS BIGINT) AS s, count(*) AS n
      |  FROM lum GROUP BY 1, 2, 3),
      |g72 AS (SELECT id, unnest(generate_series(0, 71)) AS gi
      |        FROM dims),
      |dense AS (
      |  SELECT g72.id, gi % 9 AS gx, gi // 9 AS gy,
      |         coalesce(c.s * 1000 // c.n, 0) AS cell
      |  FROM g72 LEFT JOIN cells c
      |    ON c.id = g72.id AND c.gx = gi % 9
      |       AND c.gy = gi // 9),
      |bits AS (
      |  SELECT l.id, l.gy * 8 + l.gx AS i,
      |         CASE WHEN r.cell > l.cell THEN 1 ELSE 0 END AS bit
      |  FROM dense l JOIN dense r
      |    ON r.id = l.id AND r.gy = l.gy AND r.gx = l.gx + 1
      |  WHERE l.gx < 8),
      |hs AS (
      |  SELECT id,
      |    CAST(sum(CASE WHEN i < 32
      |             THEN bit * (CAST(1 AS BIGINT) << i)
      |             ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN i >= 32
      |             THEN bit * (CAST(1 AS BIGINT) << (i - 32))
      |             ELSE 0 END) AS BIGINT) AS lo
      |  FROM bits GROUP BY 1)""".stripMargin

  /** Per-pixel per-FRAME dHash replay over the documents-derived Y4M
    * corpus (base ∪ first-luma-byte-vandalized twins of doc_id%10=0):
    * luma = (d·17 + f·29 + p·7) mod 256, the twin's f=0,p=0 byte is
    * 128; same grid/cell/packing conventions as [[dhashPairsCtes]].
    * Ends with a `vpairs(id_a, id_b, hamming_max)` CTE (all-pairs
    * max-over-aligned-frames, already cut at ≤ 3); callers append the
    * final SELECT or the recursive closure. */
  /** CTEs through `fr(id, twin, f, hi, lo, w, h, nf)` — the
    * per-pixel per-frame dHash replay; shared by
    * [[videoDhashPairsCtes]] and the incremental oracle. */
  private lazy val videoDhashBaseCtes: String =
    """vids AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, doc_id, FALSE AS twin
      |  FROM documents
      |  UNION ALL
      |  SELECT CAST(doc_id AS VARCHAR) || 'v' AS id, doc_id, TRUE
      |  FROM documents WHERE doc_id % 10 = 0),
      |dims AS (
      |  SELECT id, doc_id, twin,
      |         CAST(4 + 2 * (doc_id % 6) AS BIGINT) AS w,
      |         CAST(4 + 2 * (doc_id % 4) AS BIGINT) AS h,
      |         CAST(1 + doc_id % 5 AS BIGINT) AS nf
      |  FROM vids),
      |fx AS (
      |  SELECT id, doc_id, twin, w, h, nf,
      |         unnest(generate_series(0, nf - 1)) AS f
      |  FROM dims),
      |px AS (
      |  SELECT id, doc_id, twin, w, h, f,
      |         unnest(generate_series(0, w * h - 1)) AS p
      |  FROM fx),
      |lum AS (
      |  SELECT id, w, h, f, (p % w) AS x, (p // w) AS y,
      |    CASE WHEN twin AND f = 0 AND p = 0 THEN 128
      |    ELSE (doc_id * 17 + f * 29 + p * 7) % 256 END AS luma
      |  FROM px),
      |cells AS (
      |  SELECT id, f, (x * 9) // w AS gx, (y * 8) // h AS gy,
      |         CAST(sum(luma) AS BIGINT) AS s, count(*) AS n
      |  FROM lum GROUP BY 1, 2, 3, 4),
      |g72 AS (SELECT id, f, unnest(generate_series(0, 71)) AS gi
      |        FROM fx),
      |dense AS (
      |  SELECT g72.id, g72.f, gi % 9 AS gx, gi // 9 AS gy,
      |         coalesce(c.s * 1000 // c.n, 0) AS cell
      |  FROM g72 LEFT JOIN cells c
      |    ON c.id = g72.id AND c.f = g72.f AND c.gx = gi % 9
      |       AND c.gy = gi // 9),
      |bits AS (
      |  SELECT l.id, l.f, l.gy * 8 + l.gx AS i,
      |         CASE WHEN r.cell > l.cell THEN 1 ELSE 0 END AS bit
      |  FROM dense l JOIN dense r
      |    ON r.id = l.id AND r.f = l.f AND r.gy = l.gy
      |       AND r.gx = l.gx + 1
      |  WHERE l.gx < 8),
      |hs AS (
      |  SELECT id, f,
      |    CAST(sum(CASE WHEN i < 32
      |             THEN bit * (CAST(1 AS BIGINT) << i)
      |             ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN i >= 32
      |             THEN bit * (CAST(1 AS BIGINT) << (i - 32))
      |             ELSE 0 END) AS BIGINT) AS lo
      |  FROM bits GROUP BY 1, 2),
      |fr AS (
      |  SELECT hs.id, d.doc_id AS d, d.twin, hs.f, hs.hi, hs.lo,
      |         d.w, d.h, d.nf
      |  FROM hs JOIN dims d ON d.id = hs.id)""".stripMargin

  lazy val videoDhashPairsCtes: String =
    s"""$videoDhashBaseCtes,
      |vpairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         CAST(max(bit_count(xor(a.hi, b.hi))
      |           + bit_count(xor(a.lo, b.lo))) AS BIGINT) AS hamming_max
      |  FROM fr a JOIN fr b
      |    ON a.id < b.id AND a.f = b.f
      |       AND a.w = b.w AND a.h = b.h AND a.nf = b.nf
      |  GROUP BY 1, 2
      |  HAVING max(bit_count(xor(a.hi, b.hi))
      |           + bit_count(xor(a.lo, b.lo))) <= 3)""".stripMargin

  /** Incremental video-dHash oracle: the vandalized re-uploads (twin
    * rows) crossed against the full base corpus, aligned-frame max
    * verification, no corpus self-pairs. */
  lazy val videoDhashIncrementalSql: String =
    s"""WITH $videoDhashBaseCtes
      |SELECT a.id AS batch_id, b.id AS corpus_id,
      |       CAST(max(bit_count(xor(a.hi, b.hi))
      |         + bit_count(xor(a.lo, b.lo))) AS BIGINT) AS hamming_max
      |FROM fr a JOIN fr b
      |  ON a.twin AND NOT b.twin AND a.f = b.f
      |     AND a.w = b.w AND a.h = b.h AND a.nf = b.nf
      |GROUP BY 1, 2
      |HAVING max(bit_count(xor(a.hi, b.hi))
      |         + bit_count(xor(a.lo, b.lo))) <= 3""".stripMargin

  /** CTEs through `afp(id, d, sr, ch, nf, hi, lo)` — the per-sample
    * audio-fingerprint replay over the documents-derived WAV corpus:
    * channel-0 sample `x[f] = ((d·37 + f·11) mod 4001) − 2000` (a
    * twin's x[0] is exactly 0), lag-1 absolute diffs into 65 integer
    * time boxes `g = (i−1)·65 div (nf−1)`, floor-milli box means
    * (empty boxes 0), 64 envelope-delta sign bits packed hi/lo — the
    * [[graft.ext.AudioHash]] conventions bit for bit. With
    * `withTwins`, the first-sample-zeroed twins of doc_id%10=0 ride
    * along (id||'v'). Shared by [[audioFpPairsCtes]] (self-pairing,
    * twins in; ends with an `apairs(id_a, id_b, hamming)` CTE cut at
    * ≤ 3 — callers append the final SELECT or the recursive closure)
    * and [[audioFpIncrementalSql]] (batch × corpus, base files). */
  private def audioFpBaseCtes(withTwins: Boolean): String = {
    val twinUnion =
      if (withTwins)
        """
          |  UNION ALL
          |  SELECT CAST(doc_id AS VARCHAR) || 'v' AS id, doc_id, TRUE
          |  FROM documents WHERE doc_id % 10 = 0""".stripMargin
      else ""
    s"""auds AS (
      |  SELECT CAST(doc_id AS VARCHAR) AS id, doc_id, FALSE AS twin
      |  FROM documents$twinUnion),
      |prm AS (
      |  SELECT id, doc_id, twin,
      |         CAST(8000 + 4000 * (doc_id % 4) AS BIGINT) AS sr,
      |         CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |         CAST(50 + doc_id % 101 AS BIGINT) AS nf
      |  FROM auds),
      |smp AS (
      |  SELECT id, doc_id, twin, nf,
      |         unnest(generate_series(0, nf - 1)) AS f
      |  FROM prm),
      |xs AS (
      |  SELECT id, nf, f,
      |    CASE WHEN twin AND f = 0 THEN 0
      |    ELSE ((doc_id * 37 + f * 11) % 4001) - 2000 END AS x
      |  FROM smp),
      |dfs AS (
      |  SELECT l.id, ((r.f - 1) * 65) // (l.nf - 1) AS g,
      |         abs(r.x - l.x) AS dd
      |  FROM xs l JOIN xs r ON r.id = l.id AND r.f = l.f + 1),
      |boxes AS (
      |  SELECT id, g, CAST(sum(dd) AS BIGINT) AS s, count(*) AS n
      |  FROM dfs GROUP BY 1, 2),
      |g65 AS (SELECT id, unnest(generate_series(0, 64)) AS g
      |        FROM prm),
      |dense AS (
      |  SELECT g65.id, g65.g,
      |         coalesce(b.s * 1000 // b.n, 0) AS env
      |  FROM g65 LEFT JOIN boxes b
      |    ON b.id = g65.id AND b.g = g65.g),
      |abits AS (
      |  SELECT l.id, l.g AS i,
      |         CASE WHEN r.env > l.env THEN 1 ELSE 0 END AS bit
      |  FROM dense l JOIN dense r
      |    ON r.id = l.id AND r.g = l.g + 1
      |  WHERE l.g < 64),
      |ahs AS (
      |  SELECT id,
      |    CAST(sum(CASE WHEN i < 32
      |             THEN bit * (CAST(1 AS BIGINT) << i)
      |             ELSE 0 END) AS BIGINT) AS hi,
      |    CAST(sum(CASE WHEN i >= 32
      |             THEN bit * (CAST(1 AS BIGINT) << (i - 32))
      |             ELSE 0 END) AS BIGINT) AS lo
      |  FROM abits GROUP BY 1),
      |afp AS (
      |  SELECT ahs.id, p.doc_id AS d, p.sr, p.ch, p.nf, ahs.hi, ahs.lo
      |  FROM ahs JOIN prm p ON p.id = ahs.id)""".stripMargin
  }

  lazy val audioFpPairsCtes: String =
    s"""${audioFpBaseCtes(withTwins = true)},
      |apairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b,
      |         CAST(bit_count(xor(a.hi, b.hi))
      |           + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
      |  FROM afp a JOIN afp b
      |    ON a.id < b.id AND a.sr = b.sr AND a.ch = b.ch
      |       AND a.nf = b.nf
      |  WHERE bit_count(xor(a.hi, b.hi))
      |      + bit_count(xor(a.lo, b.lo)) <= 3)""".stripMargin

  /** Incremental audio-fingerprint oracle: base files only (no
    * twins), id%3==0 batch × id%3!=0 corpus cross pairs within the
    * format block — the q_minhash_incremental convention. (%3, not
    * even/odd: the synthetic channel count is 1 + id%2, so opposite
    * parities never share a format block.) */
  lazy val audioFpIncrementalSql: String =
    s"""WITH ${audioFpBaseCtes(withTwins = false)}
      |SELECT a.id AS batch_id, b.id AS corpus_id,
      |       CAST(bit_count(xor(a.hi, b.hi))
      |         + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
      |FROM afp a JOIN afp b
      |  ON a.d % 3 = 0 AND b.d % 3 <> 0
      |     AND a.sr = b.sr AND a.ch = b.ch AND a.nf = b.nf
      |WHERE bit_count(xor(a.hi, b.hi))
      |    + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin

  /** Streaming media-dedup oracle: the incremental pair set with the
    * arrival micro-batch stamp `(d div 3) mod 4` — the staged replay
    * applies each batch exactly once, so batch ordinal = the
    * deterministic staging key. */
  lazy val streamMediaDedupSql: String =
    s"""WITH ${audioFpBaseCtes(withTwins = false)}
      |SELECT a.id AS batch_id, b.id AS corpus_id,
      |       CAST(bit_count(xor(a.hi, b.hi))
      |         + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming,
      |       CAST((a.d // 3) % 4 AS BIGINT) AS batch
      |FROM afp a JOIN afp b
      |  ON a.d % 3 = 0 AND b.d % 3 <> 0
      |     AND a.sr = b.sr AND a.ch = b.ch AND a.nf = b.nf
      |WHERE bit_count(xor(a.hi, b.hi))
      |    + bit_count(xor(a.lo, b.lo)) <= 3""".stripMargin

  /** Video clip-in-corpus oracle: 2-frame window keys (dims + both
    * frame hashes, n_frames deliberately NOT in the key) from the
    * per-frame replay; a clip of video d is the source window at
    * offset d mod (nf−1); base files only. */
  lazy val videoClipMatchSql: String =
    videoClipSearchSql(corpusPred = "TRUE",
      clipPred = "c.d % 5 <> 0 AND c.d % 4 = 1")

  /** Parameterized video clip-in-corpus replay: `corpusPred`
    * restricts the indexed window set (over `a.d`), `clipPred` the
    * probing clips (over `c.d`); clip sources must satisfy the
    * corpus predicate so the extraction-offset window exists on the
    * w side, and need `d % 5 <> 0` (nf = 1 + d%5 ≥ 2 frames). Shared
    * by the per-query rebuild row (q_video_clip_match, full corpus)
    * and the persisted-index row (q_video_clip_incremental, the
    * two-sync final corpus — whose pass certifies refresh ≡ rebuild
    * bit-exact). */
  def videoClipSearchSql(corpusPred: String, clipPred: String): String =
    s"""WITH $videoDhashBaseCtes,
      |wkeys AS MATERIALIZED (
      |  SELECT a.id, a.d, a.w, a.h, a.f AS off,
      |         a.hi AS hi0, a.lo AS lo0, b.hi AS hi1, b.lo AS lo1
      |  FROM fr a JOIN fr b ON b.id = a.id AND b.f = a.f + 1
      |  WHERE NOT a.twin AND ($corpusPred))
      |SELECT CAST(c.d AS VARCHAR) || 'c' AS clip_id,
      |       CAST(w.d AS VARCHAR) AS src_id,
      |       CAST(w.off AS BIGINT) AS src_offset
      |FROM wkeys c JOIN wkeys w
      |  ON c.w = w.w AND c.h = w.h
      |     AND c.hi0 = w.hi0 AND c.lo0 = w.lo0
      |     AND c.hi1 = w.hi1 AND c.lo1 = w.lo1
      |WHERE $clipPred AND c.off = c.d % (c.d % 5)""".stripMargin

  /** Clip-in-corpus block-search oracle: the sliding-window
    * sub-fingerprint keys (32-bit envelope fp over 33 boxes of the
    * 31 lag-1 |diffs| + positional checksum Σ mod_val·(i+1) mod
    * 1e9+7) replayed per (file, offset) straight from the sample
    * formula; a clip of file d IS the source window at offset
    * d mod 7, so clip keys never need the clip bytes. */
  lazy val audioClipMatchSql: String =
    audioClipSearchSql(corpusPred = "TRUE", clipPred = "c.d % 5 = 0")

  /** Parameterized clip-in-corpus replay: `corpusPred` restricts the
    * indexed window set (over `d`), `clipPred` the probing clips
    * (over `c.d`); clip sources must satisfy the corpus predicate so
    * the extraction-offset window exists on the w side. Shared by the
    * per-query rebuild row (q_audio_clip_match, full corpus) and the
    * persisted-index row (q_audio_clip_incremental, the two-sync
    * final corpus — whose pass certifies refresh ≡ rebuild). */
  def audioClipSearchSql(corpusPred: String, clipPred: String): String =
    s"""WITH prm AS (
      |  SELECT doc_id AS d,
      |         CAST(8000 + 4000 * (doc_id % 4) AS BIGINT) AS sr,
      |         CAST(1 + doc_id % 2 AS BIGINT) AS ch,
      |         CAST(50 + doc_id % 101 AS BIGINT) AS nf
      |  FROM documents WHERE $corpusPred),
      |wins AS MATERIALIZED (
      |  SELECT d, sr, ch, unnest(range(0, nf - 31)) AS off FROM prm),
      |wdfs AS (
      |  SELECT d, off, ((i - 1) * 33) // 31 AS g,
      |         abs(((d * 37 + (off + i) * 11) % 4001)
      |           - ((d * 37 + (off + i - 1) * 11) % 4001)) AS dd
      |  FROM wins, LATERAL unnest(range(1, 32)) u(i)),
      |wbox AS (
      |  SELECT d, off, g, CAST(sum(dd) AS BIGINT) AS s, count(*) AS n
      |  FROM wdfs GROUP BY 1, 2, 3),
      |g33 AS (SELECT d, off, unnest(range(0, 33)) AS g FROM wins),
      |wden AS MATERIALIZED (
      |  SELECT g33.d, g33.off, g33.g,
      |         coalesce(b.s * 1000 // b.n, 0) AS env
      |  FROM g33 LEFT JOIN wbox b
      |    ON b.d = g33.d AND b.off = g33.off AND b.g = g33.g),
      |wbit AS (
      |  SELECT l.d, l.off, l.g AS i,
      |         CASE WHEN r.env > l.env THEN 1 ELSE 0 END AS bit
      |  FROM wden l JOIN wden r
      |    ON r.d = l.d AND r.off = l.off AND r.g = l.g + 1
      |  WHERE l.g < 32),
      |wfp AS (
      |  SELECT d, off,
      |    CAST(sum(bit * (CAST(1 AS BIGINT) << i)) AS BIGINT) AS fp
      |  FROM wbit GROUP BY 1, 2),
      |wck AS (
      |  SELECT d, off,
      |    CAST(sum(((d * 37 + (off + i) * 11) % 4001) * (i + 1))
      |      % 1000000007 AS BIGINT) AS ck
      |  FROM wins, LATERAL unnest(range(0, 32)) u(i) GROUP BY 1, 2),
      |keys AS MATERIALIZED (
      |  SELECT w.d, w.off, w.sr, w.ch, f.fp, c.ck
      |  FROM wins w
      |  JOIN wfp f ON f.d = w.d AND f.off = w.off
      |  JOIN wck c ON c.d = w.d AND c.off = w.off)
      |SELECT CAST(c.d AS VARCHAR) || 'c' AS clip_id,
      |       CAST(w.d AS VARCHAR) AS src_id,
      |       CAST(w.off AS BIGINT) AS src_offset
      |FROM keys c JOIN keys w
      |  ON c.sr = w.sr AND c.ch = w.ch
      |     AND c.fp = w.fp AND c.ck = w.ck
      |WHERE $clipPred AND c.off = c.d % 7""".stripMargin

  /** Unigram-LM encode replay ([[graft.ext.Assemble.unigramEncode]]):
    * candidate substring frequencies, the singles ∪ top-`vocabSize`
    * vocabulary with micro-nat piece costs packed as `cost·64 + 1`,
    * and the Viterbi DP UNROLLED to `maxWordLen` chained CTE stages —
    * stage k takes the min packed value over the ≤ `maxPieceLen`
    * predecessor positions, so plain integer min replays the
    * engine's lexicographic (cost, n_pieces) minimization exactly.
    * Words beyond `maxWordLen` codepoints take the single-piece
    * escape value 1, mirroring the engine. */
  /** The corpus-tokenization CTEs shared by the Viterbi replays:
    * whitespace-normalized tokens and the word-type table. */
  private val unigramBaseCtes: String =
    """base AS (
      |  SELECT doc_id, regexp_split_to_array(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
      |  FROM documents),
      |toks AS (SELECT doc_id, unnest(t) AS w FROM base),
      |toksne AS MATERIALIZED (
      |  SELECT doc_id, w FROM toks WHERE length(w) > 0),
      |types AS MATERIALIZED (
      |  SELECT w, count(*) AS cnt, length(w) AS len
      |  FROM toksne GROUP BY 1)""".stripMargin

  /** The Viterbi DP UNROLLED to `maxWordLen` chained CTE stages over
    * a `vocab(piece, v)` CTE — stage k takes the min packed value
    * over the ≤ `maxPieceLen` predecessor positions, so plain integer
    * min replays the engine's lexicographic (cost, n_pieces)
    * minimization exactly; words beyond `maxWordLen` codepoints take
    * the single-piece escape value 1, mirroring the engine. Shared
    * by the seeded ([[unigramEncodeSql]]) and trained-literal
    * ([[unigramTrainedSql]]) oracles. */
  private def unigramViterbiTail(maxPieceLen: Int, maxWordLen: Int): String = {
    // every stage is MATERIALIZED: DuckDB's default CTE inlining
    // would expand the d(k) → d(k−1)..d(k−4) references into an
    // exponentially-sized plan before the first row is read
    val stages = (1 to maxWordLen).map { k =>
      val branches = (1 to math.min(maxPieceLen, k)).map { i =>
        s"""SELECT p.w, p.v + vc.v AS v
           |      FROM d${k - i} p
           |      JOIN types t ON t.w = p.w AND t.len >= $k
           |      JOIN vocab vc ON vc.piece = substr(t.w, ${k - i + 1}, $i)"""
          .stripMargin
      }.mkString("\n      UNION ALL\n      ")
      s"""d$k AS MATERIALIZED (
         |  SELECT w, min(v) AS v FROM (
         |      $branches
         |  ) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val alld = (1 to maxWordLen)
      .map(k => s"SELECT w, $k AS j, v FROM d$k")
      .mkString("\n  UNION ALL ")
    s"""d0 AS MATERIALIZED (
       |  SELECT w, CAST(0 AS BIGINT) AS v FROM types),
       |$stages,
       |alld AS (
       |  $alld),
       |wv AS (SELECT t.w,
       |         CASE WHEN t.len > $maxWordLen THEN 1 ELSE a.v END AS v
       |       FROM types t LEFT JOIN alld a
       |         ON a.w = t.w AND a.j = t.len)
       |SELECT tk.doc_id, count(*) AS n_words,
       |  CAST(sum(wv.v % 64) AS BIGINT) AS n_pieces,
       |  CAST(sum(wv.v // 64) AS BIGINT) AS cost_unats
       |FROM toksne tk JOIN wv ON wv.w = tk.w
       |GROUP BY 1""".stripMargin
  }

  def unigramEncodeSql(
      vocabSize: Int, maxPieceLen: Int, maxWordLen: Int): String =
    s"""WITH $unigramBaseCtes,
       |cand AS (
       |  SELECT substr(t.w, CAST(i AS INT), CAST(k AS INT)) AS piece,
       |         k AS cplen, t.cnt
       |  FROM types t,
       |       LATERAL unnest(range(1, t.len + 1)) s(i),
       |       LATERAL unnest(range(1, ${maxPieceLen + 1})) u(k)
       |  WHERE i + k <= t.len + 1),
       |freqs AS (SELECT piece, cplen, CAST(sum(cnt) AS BIGINT) AS freq
       |          FROM cand GROUP BY 1, 2),
       |ntot AS (SELECT CAST(sum(freq) AS BIGINT) AS n FROM freqs),
       |vkeep AS (
       |  SELECT piece, freq FROM freqs WHERE cplen = 1
       |  UNION ALL
       |  SELECT piece, freq FROM (
       |    SELECT piece, freq FROM freqs WHERE cplen > 1
       |    QUALIFY row_number() OVER (ORDER BY freq DESC, piece ASC)
       |      <= $vocabSize)),
       |vocab AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(ln(CAST(n AS DOUBLE) / freq) * 1000000) AS BIGINT)
       |      * 64 + 1 AS v
       |  FROM vkeep CROSS JOIN ntot),
       |${unigramViterbiTail(maxPieceLen, maxWordLen)}""".stripMargin

  /** Viterbi-encode replay under a TRAINED vocabulary shipped as
    * literals — the q_mix_temperature driver-literal convention: the
    * model (seed → EM → prune, driver math over the bounded type
    * table, spec-certified in ExtSpec) is shared configuration; the
    * oracle independently replays the DISTRIBUTED computation — the
    * tokenize + min-cost segmentation of every document — from the
    * same (piece, packed-cost) literals the engine broadcast. */
  def unigramTrainedSql(
      vocab: Map[String, Long], maxPieceLen: Int, maxWordLen: Int): String = {
    def esc(s: String) = s.replace("'", "''")
    val rows = vocab.toSeq.sortBy(_._1)
      .map { case (p, v) => s"('${esc(p)}', CAST($v AS BIGINT))" }
      .mkString(",\n    ")
    s"""WITH $unigramBaseCtes,
       |vocab AS MATERIALIZED (
       |  SELECT * FROM (VALUES
       |    $rows) AS t(piece, v)),
       |${unigramViterbiTail(maxPieceLen, maxWordLen)}""".stripMargin
  }

  lazy val minhashPairsCtes: String = {
    val bandConds = minhashBandConds
    s"""$minhashSigCtes,
       |cands AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |  WHERE $bandConds),
       |pairs AS (SELECT c.id_a, c.id_b,
       |  round(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
       |    / greatest(len(list_distinct(list_concat(da.sh, db.sh))), 1), 6)
       |    AS jaccard
       |FROM cands c
       |JOIN docs da ON c.id_a = da.doc_id
       |JOIN docs db ON c.id_b = db.doc_id
       |WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
       |  / greatest(len(list_distinct(list_concat(da.sh, db.sh))), 1) >= 0.5)""".stripMargin
  }

  val contaminationSql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |docs AS (
      |  SELECT doc_id, list_distinct(
      |    CASE WHEN len(toks) < 13 THEN [array_to_string(toks, ' ')]
      |    ELSE [array_to_string(toks[i:i+12], ' ')
      |          FOR i IN range(1, len(toks) - 11)] END) AS sh
      |  FROM toks),
      |traing AS (SELECT DISTINCT unnest(sh) AS g FROM docs
      |           WHERE doc_id % 2 = 0),
      |testg AS (SELECT doc_id, unnest(sh) AS g FROM docs
      |          WHERE doc_id % 2 = 1),
      |tot AS (SELECT doc_id, count(*) AS n_grams FROM testg
      |        GROUP BY doc_id),
      |hit AS (SELECT doc_id, count(*) AS n_hit FROM testg
      |        WHERE g IN (SELECT g FROM traing) GROUP BY doc_id)
      |SELECT t.doc_id, t.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
      |       round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / t.n_grams, 6)
      |         AS contaminated_frac
      |FROM tot t LEFT JOIN hit h USING (doc_id)""".stripMargin

  /** DuckDB replay of content-defined chunking — token hashes, h%64
    * boundaries, per-chunk polynomial fingerprints; ends with an
    * `fp(doc_id, chunk_hash, n_tokens)` CTE. ONE definition shared by
    * the q_cdc_chunks and q_dup_chunks_cdc oracles, mirroring the one
    * `TextAnalysis.cdcChunks` both queries call. */
  lazy val cdcFpCtes: String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents),
       |flat AS (SELECT doc_id,
       |    unnest(range(1, len(t) + 1)) AS pos,
       |    unnest(list_transform(t, s -> ${duckHash60("s")} % 1000003)) AS h
       |  FROM toks),
       |chunked AS (SELECT doc_id, pos, h,
       |    COALESCE(sum(CASE WHEN h % 64 = 0 THEN 1 ELSE 0 END) OVER
       |      (PARTITION BY doc_id ORDER BY pos
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
       |  FROM flat),
       |fp AS (SELECT doc_id,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list(h ORDER BY pos)),
       |      (a, b) -> (a * 31 + b) % 2147483647) AS chunk_hash,
       |    count(*) AS n_tokens
       |  FROM chunked GROUP BY doc_id, chunk)""".stripMargin
}
