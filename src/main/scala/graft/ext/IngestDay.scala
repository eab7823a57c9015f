package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * ONE DAY OF CORPUS INGEST, composed end to end from the certified
 * stages (the q_curation_funnel convention: each stage has its own
 * oracle row; this row certifies the COMPOSITION and its ordering):
 *
 *  1. yesterday's accumulated state — persisted text near-dup index
 *     ([[DedupIndex]]), persisted vector index ([[VectorIndex]]),
 *     trained quality model store ([[TrainedQuality]]), and the sink
 *     table ([[graft.targets.FileTarget]]) — all built over the even
 *     documents at version 1;
 *  2. today's batch: the odd documents arrive; the %10=4 evens are
 *     re-delivered with updated text ("rev2 " prefix, version 2); the
 *     %20=6 evens are deleted upstream;
 *  3. TEXT GATE: arrivals probe the persisted minhash index
 *     ([[DedupIndex.probe]]) — any verified pair at Jaccard ≥ 0.5
 *     drops the arrival as a near-duplicate of already-ingested text;
 *  4. EMBEDDING GATE: survivors (that have embeddings) probe the
 *     persisted vector index ([[VectorIndex.dedupIngest]]) — top-1
 *     round-6 cosine ≥ 0.4 against the indexed corpus drops the row;
 *  5. ChangeSet diff + SINK APPLY: the desired state (kept ∪ updated
 *     ∪ ingested survivors) syncs into the flat file sink through
 *     the full [[graft.pipeline.ImportService]] orchestration (key →
 *     one-join diff → add/update/remove apply);
 *  6. BOTH index refreshes and the trained-model refresh run from the
 *     same ChangeSet (delta-proportional commits);
 *  7. the output ledger reads back THROUGH the refreshed states: the
 *     sink's (version, len_chars) certify the diff+apply, per-doc
 *     margins from the refreshed model store certify the count
 *     retraction/addition (bit-equal to a refit on the final corpus),
 *     `n_dup_post` re-probes the refreshed TEXT index with the
 *     text-gated arrivals, and `sim_post` re-probes the refreshed
 *     VECTOR index with the embedding-gated arrivals.
 *
 * Output: one row per document —
 * (doc_id, stage ∈ {kept, updated, deleted, dup_text, dup_embed,
 * ingested}, version, len_chars, margin, n_dup_post, sim_post).
 *
 * The vector gates use fixed 8-cell indexes, full probe coverage and
 * corpus-sized shortlists, so they are provably brute-force-equal and
 * a DuckDB oracle replays the whole day exactly.
 */
object IngestDay {

  def run(
      spark: SparkSession, docs: DataFrame, embeddings: DataFrame,
      workDir: String): DataFrame = {
    val s = spark
    val hash = TextAnalysis.portableHash60 _
    val d = docs.select(col("doc_id"), col("text"))
    val e = embeddings.select(col("vec_id"), col("embedding"))

    // ── 1. yesterday's accumulated state: the even docs at v1 ──
    val evens = d.filter(col("doc_id") % 2 === 0)
    val evenVecs = e.filter(col("vec_id") % 2 === 0)
    val didx = s"$workDir/didx"
    val vidx = s"$workDir/vidx"
    val qm = s"$workDir/qm"
    // the four yesterday-states live under independent roots and none
    // reads another's output — run the builds as concurrent jobs
    // (guide §2.6: actions are only sequential because the driver
    // calls them sequentially; overlapping fills each build's
    // straggler tail with the next build's tasks). All settle before
    // the gates run (GenIndex.writeAll rethrows the first failure).
    val target = graft.targets.FileTarget(s"$workDir/state")
    graft.util.GenIndex.writeAll(
      () => DedupIndex.build(s, evens, didx, k = 32, bands = 8, n = 3,
        idCol = "doc_id", textCol = "text", baseHash = hash),
      () => VectorIndex.build(s, evenVecs, vidx, nCells = 8, m = 16, k = 32),
      () => TrainedQuality.buildModel(s, evens, qm),
      () => target.writeState(s, evens.select(
        col("doc_id").cast("string").as("id"), lit(1L).as("version"),
        length(col("text")).cast("long").as("len_chars"))))
    val corpusN = evenVecs.count().toInt

    // ── 2.–4. today's arrivals through both gates ──
    val odds = d.filter(col("doc_id") % 2 === 1)
    val dupText = DedupIndex.probe(s, didx, odds, threshold = 0.5,
      idCol = "doc_id", textCol = "text", baseHash = hash)
      .select(col("id_l").cast(d.schema("doc_id").dataType)
        .as("doc_id")).distinct()
      .persist() // reused by the gate, the ledger, and the re-probe
    val dupEmbed = {
      val textSurv = odds.join(dupText, Seq("doc_id"), "left_anti")
      val batchVec = e.join(
        textSurv.select(col("doc_id").as("vec_id")), Seq("vec_id"),
        "left_semi")
      val survivors = VectorIndex.dedupIngest(s, vidx, batchVec,
        threshold = 0.4, nProbe = 8, shortlist = math.max(corpusN, 1))
      batchVec.select(col("vec_id"))
        .join(survivors.select(col("vec_id")), Seq("vec_id"),
          "left_anti")
        .select(col("vec_id").as("doc_id"))
        .persist()
    }
    try {
      val ingested = odds.join(dupText, Seq("doc_id"), "left_anti")
        .join(dupEmbed, Seq("doc_id"), "left_anti")

      // ── 5. ChangeSet diff + sink apply through ImportService ──
      val updated = evens.filter(col("doc_id") % 10 === 4)
        .select(col("doc_id"),
          concat(lit("rev2 "), col("text")).as("text"))
      val deleted = evens.filter(col("doc_id") % 20 === 6)
        .select(col("doc_id"))
      val desired = evens
        .filter(col("doc_id") % 10 =!= 4 && col("doc_id") % 20 =!= 6)
        .select(col("doc_id"), col("text")).withColumn("version", lit(1L))
        .unionByName(updated.withColumn("version", lit(2L)))
        .unionByName(ingested.select(col("doc_id"), col("text"))
          .withColumn("version", lit(1L)))
        .select(col("doc_id").cast("string").as("id"), col("version"),
          col("text"))
      val preset = graft.pipeline.Preset(
        source = graft.sources.InlineSource(_ => desired),
        target = target,
        mapper = graft.mapper.Mapper(
          Seq("len_chars" -> "${length(record.text)}")),
        idAttribute = "id",
        versionAttribute = Some("version"))
      // ── 5.+6. sink apply ∥ index/model refreshes ──
      // The sync and the three refreshes consume only the CACHED gate
      // frames and write to four disjoint roots — none reads another's
      // output (the read-back below needs all four, and runs after
      // every write settles). Phase-profiled at sf0.1: sync ≈ 6-9 s
      // and refreshes ≈ 8 s serial, so the overlap hides the shorter
      // of the two.
      val changedText = ingested.select(col("doc_id"), col("text"))
        .unionByName(updated)
      val droppedTextIds = deleted
        .unionByName(updated.select(col("doc_id")))
        .select(col("doc_id").as("id"))
      // force the gate caches BEFORE the concurrent writes: the
      // persists above are lazy, so without this the four jobs race
      // to fill them on first materialization (correct via block
      // locking, but the losers park on the winner's blocks and the
      // intended overlap partly serializes). dupEmbed reads dupText,
      // so these two counts populate both caches in one pass each.
      dupText.count(); dupEmbed.count()
      graft.util.GenIndex.writeAll(
        () => new graft.pipeline.ImportService(preset).importData(s),
        () => DedupIndex.refresh(s, didx, changedText, droppedTextIds,
          idCol = "doc_id", textCol = "text", baseHash = hash),
        () => VectorIndex.refresh(s, vidx,
          e.join(ingested.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi"),
          deleted.select(col("doc_id").as("id"))),
        () => TrainedQuality.refreshModel(s, qm, changedText,
          droppedTextIds))
      // the seeded state carries every column, even at zero rows (a
      // flat write of an empty frame leaves a schema-bearing file)
      val sink = target.currentState(s).select(
        col("id").cast(d.schema("doc_id").dataType).as("doc_id"),
        col("version").cast("long").as("version"),
        col("len_chars").cast("long").as("len_chars"))

      // ── 7. read back through the refreshed states ──
      val (model, dim) = TrainedQuality.readStore(s, qm)
      val finalDocs = desired.select(
        col("id").cast(d.schema("doc_id").dataType).as("doc_id"),
        col("text"))
      val margins = TrainedQuality.scoreWith(
        TrainedQuality.features(finalDocs, "doc_id", "text", dim),
        model).select(col("id").as("doc_id"), col("margin"))
      val nDupPost = DedupIndex.probe(s, didx,
        odds.join(dupText, Seq("doc_id"), "left_semi"),
        threshold = 0.5, idCol = "doc_id", textCol = "text",
        baseHash = hash)
        .groupBy(col("id_l").cast(d.schema("doc_id").dataType)
          .as("doc_id"))
        .agg(count(lit(1)).as("n_dup_post"))
      val finalN = (corpusN
        - deleted.join(e, deleted("doc_id") === e("vec_id"), "left_semi")
            .count()
        + ingested.join(e, ingested("doc_id") === e("vec_id"),
            "left_semi").count()).toInt
      val simPost = VectorIndex.probe(s, vidx,
        e.join(dupEmbed.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi"),
        k = 1, nProbe = 8, shortlist = math.max(finalN, 1))
        .select(col("q_id").as("doc_id"), col("sim").as("sim_post"))

      // ── the ledger: one row per document ──
      val stage =
        when(col("doc_id") % 2 === 0 && col("doc_id") % 20 === 6,
          lit("deleted"))
        .when(col("doc_id") % 2 === 0 && col("doc_id") % 10 === 4,
          lit("updated"))
        .when(col("doc_id") % 2 === 0, lit("kept"))
        .when(col("is_dup_text"), lit("dup_text"))
        .when(col("is_dup_embed"), lit("dup_embed"))
        .otherwise(lit("ingested"))
      d.select(col("doc_id"))
        .join(dupText.withColumn("is_dup_text", lit(true)),
          Seq("doc_id"), "left")
        .join(dupEmbed.withColumn("is_dup_embed", lit(true)),
          Seq("doc_id"), "left")
        .join(sink, Seq("doc_id"), "left")
        .join(margins, Seq("doc_id"), "left")
        .join(nDupPost, Seq("doc_id"), "left")
        .join(simPost, Seq("doc_id"), "left")
        .select(col("doc_id"), stage.as("stage"), col("version"),
          col("len_chars"), col("margin"),
          when(coalesce(col("is_dup_text"), lit(false)),
            coalesce(col("n_dup_post"), lit(0L))).as("n_dup_post"),
          col("sim_post"))
        .localCheckpoint() // materialize before releasing the caches
    } finally {
      dupText.unpersist(); dupEmbed.unpersist(); ()
    }
  }
}
