package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * PERSISTED retrieval index — [[Assemble.ragPostings]] /
 * [[Assemble.publishIndex]] / [[Assemble.refreshRagIndex]] as a
 * disk-backed store with the generation-pointer commit, completing
 * the persisted-index matrix (minhash dedup, IVF-PQ vectors, trained
 * quality, clip search — and now retrieval): the in-query refresh
 * operators prove delta-proportional COMPUTE; this store gives the
 * same lifecycle delta-proportional COMMITS via the shared
 * segment/tombstone layout ([[graft.util.GenIndex]]).
 *
 * Layout under `root/gen-<n>/` (every segment flat files,
 * hash-partitioned and sorted by the table's key —
 * [[graft.util.GenIndex.writeSegment]]):
 *  - `postings/seg=<k>/`  (doc_id, chunk_id, tok, tf) keyed by
 *    `doc_id` — the UNCAPPED posting state refreshes retract from
 *    (doc-local chunk ids make one document's postings droppable
 *    without touching any other); masked by `tomb_post/` (dropped
 *    doc ids)
 *  - `published/seg=<k>/` (tok, df, rank, chunk_id, tf) keyed by
 *    `tok` — the capped SERVING view (a token lookup reads the
 *    sorted files' row-group stats); a refresh tombstones every
 *    TOUCHED token at the new
 *    segment's ordinal and appends its republished slice there, so
 *    the live view is exactly `carried ∪ republished` (the
 *    [[Assemble.refreshRagIndex]] contract) with delta-sized writes;
 *    masked by `tomb_pub/` (touched tokens)
 *  - `params/` (chunk_tokens, overlap, max_postings, df_cap) — one
 *    row; refreshes replay the build's parameters
 *
 * Both tables append in lockstep (same segment ordinal per refresh)
 * and COMPACT together past [[graft.util.GenIndex.MaxSegments]];
 * `deltaCommit = false` forces the compaction path — the full-rewrite
 * reference that RagStoreSpec compares the segmented commit against.
 */
object RagStore {

  private def postingsPath(dir: String) = s"$dir/postings"
  private def publishedPath(dir: String) = s"$dir/published"
  private def paramsPath(dir: String) = s"$dir/params"
  private def tombPostPath(dir: String) = s"$dir/tomb_post"
  private def tombPubPath(dir: String) = s"$dir/tomb_pub"

  /** LIVE views (segments unioned, tombstones applied). Public: what
    * serving reads and specs inspect. */
  def postingsTable(spark: SparkSession, genDir: String): DataFrame =
    graft.util.GenIndex.readSegmented(spark, postingsPath(genDir),
      tombPostPath(genDir), idCol = "doc_id")
  def publishedTable(spark: SparkSession, genDir: String): DataFrame =
    graft.util.GenIndex.readSegmented(spark, publishedPath(genDir),
      tombPubPath(genDir), idCol = "tok")

  /** The committed serving view of the CURRENT generation — the read
    * a retrieval query plans against (resolve the pointer per query,
    * the [[VectorIndex.probe]] discipline). */
  def servingView(spark: SparkSession, root: String): DataFrame = {
    val cur = graft.util.GenSwap.currentDir(root).getOrElse(
      throw new IllegalStateException(
        s"no committed rag store at $root — build first"))
    publishedTable(spark, cur)
      .select(col("tok"), col("df"), col("rank"), col("chunk_id"),
        col("tf"))
  }

  private def writePostings(segDir: String, p: DataFrame): Unit =
    graft.util.GenIndex.writeSegment(p, segDir, col("doc_id"))

  private def writePublished(segDir: String, p: DataFrame): Unit =
    graft.util.GenIndex.writeSegment(p, segDir, col("tok"))

  private def writeParamsTable(
      spark: SparkSession, dir: String, chunkTokens: Int, overlap: Int,
      maxPostings: Int, dfCap: Long): Unit = {
    import spark.implicits._
    graft.util.GenIndex.writeParams(
      Seq((chunkTokens, overlap, maxPostings, dfCap))
        .toDF("chunk_tokens", "overlap", "max_postings", "df_cap"),
      paramsPath(dir))
  }

  def build(
      spark: SparkSession, docs: DataFrame, root: String,
      chunkTokens: Int = 8, overlap: Int = 4, maxPostings: Int = 3,
      dfCap: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val gen = graft.util.GenSwap.nextDir(root)
    // one chunk+tokenize pass feeds both table writes
    val p = Assemble.ragPostings(docs, idCol, textCol, chunkTokens,
      overlap).persist()
    try {
      val pub = Assemble.publishIndex(p, maxPostings, dfCap)
      graft.util.GenIndex.writeAll(
        () => writePostings(s"${postingsPath(gen)}/seg=0", p),
        () => writePublished(s"${publishedPath(gen)}/seg=0", pub),
        () => writeParamsTable(spark, gen, chunkTokens, overlap,
          maxPostings, dfCap))
      graft.util.GenSwap.commit(root, gen)
    } finally { p.unpersist(); () }
  }

  /** ChangeSet-driven refresh: `changedDocs` (added ∪ updated)
    * re-chunk; `droppedIds` (removed ∪ updated, one `id` column)
    * drop. Only TOUCHED tokens republish
    * ([[Assemble.refreshRagIndex]]'s invariant — a token's published
    * rows can only change if one of its posting rows moved), and the
    * commit Spark-writes only the delta segment pair + the two
    * ledgers. The committed serving view is bit-identical to a full
    * rebuild over the post-sync corpus (spec + oracle). An empty
    * change set (no changed docs, no drops) returns without
    * committing. */
  def refresh(
      spark: SparkSession, root: String, changedDocs: DataFrame,
      droppedIds: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", deltaCommit: Boolean = true): Unit = {
    val cur = graft.util.GenSwap.currentDir(root).getOrElse(
      throw new IllegalStateException(
        s"no committed rag store at $root — build first"))
    val pr = graft.util.GenIndex.readParamsRow(spark, paramsPath(cur))
    val (chunkTokens, overlap, maxPostings, dfCap) =
      (pr.getInt(0), pr.getInt(1), pr.getInt(2), pr.getLong(3))
    val drop = droppedIds.select(col("id").as("doc_id")).persist()
    val newPostings = Assemble.ragPostings(changedDocs, idCol, textCol,
      chunkTokens, overlap).persist()
    try {
      // both frames are cached: an empty refresh is caught before any
      // generation is staged, at one tiny job for a non-empty one
      if (drop.isEmpty && newPostings.isEmpty) return
      val prevLive = postingsTable(spark, cur)
      val droppedRows = prevLive.join(drop, Seq("doc_id"), "left_semi")
      // two consumers (republish filter + the token ledger) over a
      // semi-joined scan ∪ cached-delta plan — cheap enough to leave
      // unpersisted
      val touched = droppedRows.select(col("tok"))
        .unionByName(newPostings.select(col("tok"))).distinct()
      val postAfter = prevLive
        .join(drop, Seq("doc_id"), "left_anti")
        .unionByName(newPostings)
      val republished = Assemble.publishIndex(
        postAfter.join(touched, Seq("tok"), "left_semi"),
        maxPostings, dfCap)
      val gen = graft.util.GenSwap.nextDir(root)
      val segs = graft.util.GenIndex.segValues(postingsPath(cur))
      if (deltaCommit && segs.size < graft.util.GenIndex.MaxSegments) {
        val sv = segs.max + 1
        graft.util.GenIndex.writeAll(
          () => {
            writePostings(s"${postingsPath(gen)}/seg=$sv", newPostings)
            graft.util.GenIndex.carrySegs(
              postingsPath(cur), postingsPath(gen))
          },
          () => graft.util.GenIndex.stageTomb(spark, tombPostPath(cur),
            tombPostPath(gen), drop.select(col("doc_id").as("id")), sv),
          () => {
            writePublished(s"${publishedPath(gen)}/seg=$sv", republished)
            graft.util.GenIndex.carrySegs(
              publishedPath(cur), publishedPath(gen))
          },
          () => graft.util.GenIndex.stageTomb(spark, tombPubPath(cur),
            tombPubPath(gen), touched.select(col("tok").as("id")), sv),
          () => writeParamsTable(spark, gen, chunkTokens, overlap,
            maxPostings, dfCap))
      } else {
        // compaction / forced-full: rewrite the live state as a fresh
        // seg=0 pair, ledgers cleared
        val pubAfter = Assemble.publishIndex(postAfter, maxPostings,
          dfCap)
        graft.util.GenIndex.writeAll(
          () => writePostings(s"${postingsPath(gen)}/seg=0", postAfter),
          () => writePublished(s"${publishedPath(gen)}/seg=0", pubAfter),
          () => writeParamsTable(spark, gen, chunkTokens, overlap,
            maxPostings, dfCap))
      }
      graft.util.GenSwap.commit(root, gen)
    } finally {
      drop.unpersist(); newPostings.unpersist(); ()
    }
  }
}
