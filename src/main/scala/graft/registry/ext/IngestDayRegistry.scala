package graft.registry.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.registry.Shared._

/** The ingest-day CAPSTONE row: one oracle-certified composition of
  * the already-certified stages — staged arrivals → persisted-index
  * text near-dup gate → persisted-index embedding gate → ChangeSet
  * diff → sink apply → BOTH index refreshes + trained-model refresh →
  * ledger read back through the refreshed states. The engine side is
  * [[graft.ext.IngestDay]]; the oracle replays the entire day in one
  * DuckDB query from the raw tables (LSH machinery, brute-force
  * cosine gates, the NB refit, and the expected sink state).
  *
  * One ExtRegistry domain file ([[graft.registry.ExtRegistry]]
  * aggregates the maps). */
private[graft] object IngestDayRegistry {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // certification shape (pinned cells, total probe coverage,
    // corpus-sized shortlists ⇒ the vector gates are PROVABLY
    // brute-force-equal)
    "q_ingest_day" -> ((s, dir) =>
      graft.ext.IngestDay.run(s,
        s.read.parquet(t(dir, "documents")),
        s.read.parquet(t(dir, "embeddings")),
        tempStateDir() + "/ingestday"))
  )

  /** Rel-id offset for "the same document with its day-2 text": the
    * oracle needs shingle/token state for BOTH versions of the
    * updated docs, so the final-state copy lives at doc_id + OFF in
    * one shared relation. */
  private val OFF = 100000000L

  val oracles: Map[String, String] = Map(
    "q_ingest_day" -> {
      val p = graft.ext.Dedup.MinhashP
      val minCols = graft.ext.Dedup.minhashParams(32).zipWithIndex.map {
        case ((a, b), i) => s"min((h * $a + $b) % $p) AS m$i"
      }.mkString(",\n   ")
      val bandConds = (0 until 8).map { b =>
        (b * 4 until (b + 1) * 4).map(i => s"a.m$i = b.m$i")
          .mkString("(", " AND ", ")")
      }.mkString("\n     OR ")
      def jac(da: String, db: String) =
        s"CAST(len(list_intersect($da.sh, $db.sh)) AS DOUBLE) " +
          s"/ greatest(len(list_distinct(list_concat($da.sh, $db.sh))), 1)"
      val dim = 64
      val stopPct = 6
      val stop = graft.ext.TrainedQuality.Stopwords
        .map(w => s"'$w'").mkString(", ")
      val bucket = s"${duckHash60("tok")} % $dim"
      s"""WITH rel AS (
         |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL
         |  UNION ALL
         |  SELECT doc_id + $OFF AS doc_id, 'rev2 ' || text
         |  FROM documents
         |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 4
         |    AND text IS NOT NULL),
         |docs AS (
         |  SELECT doc_id,
         |    list_distinct(CASE WHEN len(toks) < 3
         |      THEN [array_to_string(toks, ' ')]
         |      ELSE [array_to_string(toks[i:i+2], ' ')
         |            FOR i IN range(1, len(toks) - 1)] END) AS sh
         |  FROM (SELECT doc_id, regexp_split_to_array(
         |          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
         |          ' ') AS toks
         |        FROM rel)),
         |ex AS (SELECT doc_id, ${duckHash60("s")} % $p AS h
         |       FROM (SELECT doc_id, unnest(sh) AS s FROM docs)),
         |sigs AS (SELECT doc_id,
         |   $minCols
         | FROM ex GROUP BY doc_id),
         |tcand AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r
         |  FROM sigs a JOIN sigs b
         |    ON a.doc_id % 2 = 1 AND a.doc_id < $OFF
         |   AND b.doc_id % 2 = 0 AND b.doc_id < $OFF
         |  WHERE $bandConds),
         |dup_text AS (
         |  SELECT DISTINCT c.id_l AS doc_id FROM tcand c
         |  JOIN docs da ON c.id_l = da.doc_id
         |  JOIN docs db ON c.id_r = db.doc_id
         |  WHERE ${jac("da", "db")} >= 0.5),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings),
         |emx AS (
         |  SELECT b.vec_id, max(list_dot_product(b.v, c.v)
         |    / (sqrt(list_dot_product(b.v, b.v))
         |       * sqrt(list_dot_product(c.v, c.v)))) AS m
         |  FROM e b JOIN e c ON b.vec_id % 2 = 1 AND c.vec_id % 2 = 0
         |  WHERE b.vec_id NOT IN (SELECT doc_id FROM dup_text)
         |  GROUP BY b.vec_id),
         |dup_embed AS (
         |  SELECT vec_id AS doc_id FROM emx WHERE round(m, 6) >= 0.4),
         |ing AS (
         |  SELECT doc_id FROM documents WHERE doc_id % 2 = 1
         |    AND doc_id NOT IN (SELECT doc_id FROM dup_text)
         |    AND doc_id NOT IN (SELECT doc_id FROM dup_embed)),
         |fc AS (
         |  SELECT doc_id FROM documents
         |  WHERE doc_id % 2 = 0 AND doc_id % 20 <> 6 AND doc_id % 10 <> 4
         |  UNION ALL
         |  SELECT doc_id + $OFF FROM documents
         |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 4
         |  UNION ALL
         |  SELECT doc_id FROM ing),
         |ftoks AS (
         |  SELECT rel.doc_id, unnest(regexp_split_to_array(
         |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
         |    AS tok
         |  FROM rel JOIN fc USING (doc_id)),
         |lab AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN 100 * count(*) FILTER (tok IN ($stop))
         |         >= $stopPct * count(*) THEN 1 ELSE -1 END AS BIGINT)
         |      AS y
         |  FROM ftoks GROUP BY doc_id),
         |feat AS (
         |  SELECT doc_id, CAST($bucket AS BIGINT) AS bucket,
         |         CAST(count(*) AS BIGINT) AS cnt
         |  FROM ftoks GROUP BY 1, 2),
         |bc AS (
         |  SELECT bucket,
         |         sum(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS cp,
         |         sum(CASE WHEN y = -1 THEN cnt ELSE 0 END) AS cn
         |  FROM feat JOIN lab USING (doc_id) GROUP BY bucket),
         |tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn FROM bc),
         |dc AS (
         |  SELECT count(CASE WHEN y = 1 THEN 1 END) AS np,
         |         count(CASE WHEN y = -1 THEN 1 END) AS nn FROM lab),
         |w AS (
         |  SELECT r.range AS bucket,
         |    CAST(FLOOR(1000000 * (
         |      ln(CAST(coalesce(cp, 0) + 1 AS DOUBLE)
         |        / CAST(tp + $dim AS DOUBLE)) -
         |      ln(CAST(coalesce(cn, 0) + 1 AS DOUBLE)
         |        / CAST(tn + $dim AS DOUBLE)))) AS BIGINT) AS w
         |  FROM range(0, $dim) r LEFT JOIN bc ON bc.bucket = r.range
         |  CROSS JOIN tot),
         |pri AS (
         |  SELECT CAST(FLOOR(1000000 * ln(CAST(np + 1 AS DOUBLE)
         |    / CAST(nn + 1 AS DOUBLE))) AS BIGINT) AS prior FROM dc),
         |mar AS (
         |  SELECT CASE WHEN feat.doc_id >= $OFF THEN feat.doc_id - $OFF
         |         ELSE feat.doc_id END AS doc_id,
         |    CAST(sum(cnt * w.w) + any_value(prior) AS BIGINT) AS margin
         |  FROM feat JOIN w USING (bucket) CROSS JOIN pri
         |  GROUP BY 1),
         |pcand AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r
         |  FROM sigs a JOIN sigs b
         |    ON a.doc_id IN (SELECT doc_id FROM dup_text)
         |   AND b.doc_id IN (SELECT doc_id FROM fc)
         |  WHERE $bandConds),
         |pcnt AS (
         |  SELECT c.id_l AS doc_id,
         |         CAST(count(DISTINCT c.id_r) AS BIGINT) AS n
         |  FROM pcand c
         |  JOIN docs da ON c.id_l = da.doc_id
         |  JOIN docs db ON c.id_r = db.doc_id
         |  WHERE ${jac("da", "db")} >= 0.5
         |  GROUP BY 1),
         |fvec AS (
         |  SELECT e.vec_id, e.v FROM e
         |  WHERE (e.vec_id % 2 = 0 AND e.vec_id % 20 <> 6)
         |     OR e.vec_id IN (SELECT doc_id FROM ing)),
         |smx AS (
         |  SELECT b.vec_id AS doc_id, round(max(list_dot_product(b.v, c.v)
         |    / (sqrt(list_dot_product(b.v, b.v))
         |       * sqrt(list_dot_product(c.v, c.v)))), 6) AS sim_post
         |  FROM e b JOIN fvec c ON b.vec_id <> c.vec_id
         |  WHERE b.vec_id IN (SELECT doc_id FROM dup_embed)
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  CASE WHEN d.doc_id % 2 = 0 AND d.doc_id % 20 = 6 THEN 'deleted'
         |       WHEN d.doc_id % 2 = 0 AND d.doc_id % 10 = 4 THEN 'updated'
         |       WHEN d.doc_id % 2 = 0 THEN 'kept'
         |       WHEN d.doc_id IN (SELECT doc_id FROM dup_text)
         |         THEN 'dup_text'
         |       WHEN d.doc_id IN (SELECT doc_id FROM dup_embed)
         |         THEN 'dup_embed'
         |       ELSE 'ingested' END AS stage,
         |  CAST(CASE WHEN d.doc_id % 2 = 0 AND d.doc_id % 20 = 6 THEN NULL
         |       WHEN d.doc_id % 2 = 0 AND d.doc_id % 10 = 4 THEN 2
         |       WHEN d.doc_id % 2 = 0 THEN 1
         |       WHEN d.doc_id IN (SELECT doc_id FROM ing) THEN 1
         |       ELSE NULL END AS BIGINT) AS version,
         |  CAST(CASE WHEN d.doc_id % 2 = 0 AND d.doc_id % 20 = 6 THEN NULL
         |       WHEN d.doc_id % 2 = 0 AND d.doc_id % 10 = 4
         |         THEN length('rev2 ' || d.text)
         |       WHEN d.doc_id % 2 = 0 THEN length(d.text)
         |       WHEN d.doc_id IN (SELECT doc_id FROM ing)
         |         THEN length(d.text)
         |       ELSE NULL END AS BIGINT) AS len_chars,
         |  mar.margin,
         |  CASE WHEN d.doc_id IN (SELECT doc_id FROM dup_text)
         |       THEN coalesce(pcnt.n, 0) ELSE NULL END AS n_dup_post,
         |  smx.sim_post
         |FROM documents d
         |LEFT JOIN mar USING (doc_id)
         |LEFT JOIN pcnt USING (doc_id)
         |LEFT JOIN smx USING (doc_id)""".stripMargin
    }
  )
}
