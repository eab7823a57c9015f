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

/** Embedding-space operators: cosine/ANN
  (IVF, PQ, LSH, persisted index, filtered probes), semantic dedup +
  clusters, MMR re-rank, leakage audit, RAG index + refresh,
  quantize/meanpool/cluster-balanced selection.
  *
  * One ExtRegistry domain file (split from the
  * monolith, r15 verdict task 7) — entries moved
  * verbatim; [[graft.registry.ExtRegistry]]
  * aggregates the domain maps. */
private[graft] object SimilarityRegistry {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // CLUSTER-BALANCED (diversity) selection — the semantic-shard
    // counterpart of domain mixing (the D4-style "balance over
    // embedding clusters, not metadata domains" pass of corpus
    // curation): each vector lands in one of 16 cells via the
    // exact-integer quantized-projection argmax (intCellAssign —
    // oracle-replayable bit for bit, unlike the float plane kernel),
    // then the equal-weight mixture flattens every cell toward the
    // smallest one with the exact-integer hash-threshold selection.
    // Composition of two certified pieces; selection is a narrow
    // filter, zero shuffles beyond the per-cell counts
    "q_embed_balanced" -> ((s, dir) => {
      val celled = s.read.parquet(t(dir, "embeddings"))
        .select(col("vec_id"),
          Similarity.intCellAssign(col("embedding"), 16)
            .cast("string").as("cell"))
      Assemble.mixture(celled, "vec_id", "cell",
        (0 until 16).map(k => k.toString -> 1L).toMap)
        .select(col("vec_id"), col("cell").cast("int").as("cell"))
    }),

    // int8 embedding quantization (the 4-bytes/dim -> 1 storage
    // path): absmax scale + floor quantizer; the oracle checks the
    // scale (floor-micro integer — no round-half convention; absmax
    // of a float column is the same exact double in both engines)
    // and an exact integer checksum of the quantized vector
    "q_embed_quantize" -> ((s, dir) =>
      Assemble.quantizeInt8(
        s.read.parquet(t(dir, "embeddings")), "vec_id")
        .select(col("vec_id"),
          floor(col("scale") * 1000000L).cast("long").as("scale_micro"),
          aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
          size(col("q")).cast("long").as("n_dims"))),

    // element-wise mean pooling of embeddings per label (chunk→doc /
    // class-prototype reduction): exact integer micro-units before
    // the sum, one flat row per (label, dim)
    "q_embed_meanpool" -> ((s, dir) =>
      Similarity.meanPoolDims(
        s.read.parquet(t(dir, "embeddings")), "label")
        .withColumnRenamed("g", "label")),

    // brute-force cosine similarity pairs over embeddings
    "q_embed_cosine" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Similarity.bruteForcePairs(
        e, e.filter(col("vec_id") % 100 === 0), 0.3)
    }),

    // embedding-cosine near-dup dedup: drop the higher id of every
    // pair above threshold (greedy, deterministic; oracle-checked).
    // Pair generation is the bucketed multi-probe IVF join — no
    // corpus broadcast, no all-pairs nested loop; nProbe=6/16 is
    // pinned to exact recall on this corpus by SimilaritySpec + the
    // DuckDB oracle (which recomputes the pairs exhaustively).
    "q_embed_dedup" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      // exact-dup pre-collapse: the cell self-join runs on unique
      // vectors only — duplicate CLIQUES (the dominant shape in a
      // re-crawled corpus) contribute linear rep edges instead of
      // quadratic pairs; the survivor set is provably identical
      val pairs = Similarity.pairGraphCollapsed(
        e, 0.4, nCells = 16, nProbe = 6)
      e.join(pairs.select(col("n_id").as("vec_id")).distinct(),
          Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("label"))
    }),

    // SemDeDup (Abbas et al. 2023): semantic dedup where each
    // near-dup component keeps the member FARTHEST from its centroid
    // (lowest cosine — the paper's diversity-preserving survivor
    // rule) — centroid from exact integer micro-sums, similarities
    // as fixed-order folds, so the keeper rank replays exactly
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDedup(
        s.read.parquet(t(dir, "embeddings")), 0.4,
        nCells = 16, nProbe = 6)),

    // ── the AUTO-SIZED SemDeDup production path
    // ([[Similarity.semDedupAuto]]): the cell count comes from the
    // unique-vector count at constant target occupancy
    // ([[Similarity.sizedCells]]) — the code a 100 TB run executes,
    // where the pinned-nCells shape above goes quadratic (the r16
    // scale-killer). On the gate corpus the occupancy rule lands on
    // the SAME cell count whose recall is exhaustively pinned
    // (500 reps / 128-per-cell ⇒ the floor of 16 ≡ the certified
    // shape; 2000 at sf0.1 ⇒ ceil = 16 too), so the exhaustive
    // oracle certifies the full production path — count, sizing,
    // bucketed join, survivor rule — bit for bit. ──
    "q_semdedup_auto" -> ((s, dir) =>
      Similarity.semDedupAuto(
        s.read.parquet(t(dir, "embeddings")), 0.4,
        targetPerCell = 128, nProbe = 6)),

    // semantic near-dup CLUSTERS: connected components over the
    // collapsed embedding pair graph (same IVF settings as
    // q_embed_dedup, whose exact recall is spec-pinned; exact-dup
    // members enter through rep edges — components unchanged);
    // oracle recomputes pairs exhaustively and closes them
    // recursively
    "q_embed_clusters" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      val pairs = Similarity.pairGraphCollapsed(
        e, 0.4, nCells = 16, nProbe = 6)
      Dedup.connectedComponents(pairs, "q_id", "n_id")
        .withColumnRenamed("id", "vec_id")
    }),

    // LSH-bucketed ANN top-k — oracle-checked: probeRadius=3 is
    // pinned to EXACT agreement with the exhaustive top-5 on this
    // corpus (RecallProbe), so the DuckDB oracle recomputes the
    // brute-force answer; sub-exhaustive production probing
    // (radius 1-2) is recall-pinned by ExtSpec
    "q_ann_lsh" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Similarity.lshTopK(e, e.filter(col("vec_id") % 100 === 0),
        k = 5, nPlanes = 4, probeRadius = 3)
    }),

    // metadata-FILTERED vector search: neighbors must satisfy a
    // metadata predicate (label < 5) — the pre-filter strategy, where
    // the predicate prunes the corpus BEFORE any scoring (at scale it
    // pushes to the parquet scan; the post-filter alternative scores
    // everything then discards, losing k-coverage under selective
    // predicates). Exact top-5 within the filtered corpus, so the
    // DuckDB oracle replays it with the same predicate
    "q_ann_filtered" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Similarity.bruteForceTopK(
        e.filter(col("label") < 5),
        e.filter(col("vec_id") % 100 === 0), k = 5)
    }),

    // SEMANTIC decontamination (the embedding-level counterpart of
    // the n-gram q_contamination rows): every held-out vector (label
    // >= 8) annotated with how many train vectors sit above cosine
    // 0.5 and the closest one — the eval-leakage audit run before a
    // benchmark score is trusted. Train side scans, held-out side
    // broadcasts; past broadcastable sizes the pair generator swaps
    // for the bucketed IVF join (q_embed_dedup's path)
    "q_semantic_leakage" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      val test = e.filter(col("label") >= 8)
      val pairs = Similarity.bruteForcePairs(
        e.filter(col("label") < 8), test, 0.5)
      val hits = pairs.groupBy(col("q_id"))
        .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("max_sim"))
      test.select(col("vec_id").as("q_id"))
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"),
          col("max_sim"),
          col("n_hits").isNotNull.cast("long").as("leaked"))
    }),

    // MMR diversified top-3 over the 10 nearest candidates (λ=0.7):
    // the greedy diversity re-rank after similarity search — cost
    // bounded by |queries|·kCand², independent of corpus size.
    // Oracle-checked: DuckDB unrolls the same greedy steps over the
    // same rounded sims
    "q_mmr_rerank" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      Similarity.mmrTopK(e, e.filter(col("vec_id") % 100 === 0),
        kCand = 10, k = 3, lambdaMilli = 700)
    }),

    // Trained-centroid IVF ANN: k-means centroids from a
    // deterministic sample, corpus in its nearest cell — oracle-
    // checked: nProbe=7 of 8 cells is pinned to EXACT agreement with
    // the exhaustive top-5 on this corpus (RecallProbe); production
    // probe fractions are recall-pinned by ExtSpec
    "q_ann_ivf_trained" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      val cents = Similarity.trainCentroids(e, nCells = 8)
      Similarity.ivfTopKTrained(e, e.filter(col("vec_id") % 100 === 0),
        k = 5, cents, nProbe = 7)
    }),

    // PQ/ADC ANN with exact refine: corpus compressed to m one-byte
    // codes per vector (deterministic per-subspace k-means
    // codebooks); the full ADC scan runs over the COMPRESSED corpus,
    // then only |queries|·shortlist full vectors are re-ranked
    // exactly. Oracle-checked: shortlist=50 (of a ~640-vector
    // corpus — genuinely sub-exhaustive) re-ranks to EXACT agreement
    // with the exhaustive top-5 (RecallProbe), so the DuckDB oracle
    // recomputes the brute-force answer
    "q_ann_pq" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      val cbs = Similarity.trainPqCodebooks(e, m = 16, k = 32)
      val codes = Similarity.pqEncode(e, cbs)
      Similarity.pqTopKRefined(codes, e,
        e.filter(col("vec_id") % 100 === 0), cbs, k = 5, shortlist = 50)
    }),

    // ── Persisted ANN index (build / refresh / probe split): build
    // trains + encodes a PERTURBED initial corpus into on-disk index
    // tables (generation-committed); a ChangeSet then drives an
    // incremental refresh to the final corpus (re-encode only the
    // delta, model tables untouched); the returned frame is the
    // PROBE-ONLY query — no training or corpus-encode stage in its
    // plan, just index-table scans. nProbe = nCells pins total cell
    // coverage (the q_ann_ivf convention: the gate certifies the
    // persistence/refresh/probe plumbing; sub-exhaustive recall is
    // the recall-pinned in-query rows' business); ADC shortlist =
    // 100 of the 400-vector final corpus stays genuinely
    // sub-exhaustive with exact re-rank from stored vectors (the
    // stale model's worst true-top-5 ADC rank is 59 — RecallProbe-
    // style margin ~1.7×). Oracle: brute-force top-5 over the final
    // corpus. ──
    "q_ann_persisted" -> ((s, dir) => annPersisted(s, dir, "annidx")),

    // ── SERVING latency of the persisted index, separated from its
    // construction: q_ann_persisted times build + ChangeSet refresh +
    // probe in one row (8.9 s in-suite r13 — almost all index
    // construction); this row probes an ALREADY-COMMITTED index over
    // the same final corpus (built once per dir via a harness memo,
    // so the bench's min-of-3 reports pure probe reps). The plan has
    // no training/encode stages — model-table reads + the
    // cell-pruned ADC scan + exact re-rank. Same oracle as
    // q_ann_persisted: exhaustive top-5 over the final corpus. ──
    "q_ann_probe" -> ((s, dir) => {
      val root = annProbeIndex(s, dir)
      val e = s.read.parquet(t(dir, "embeddings"))
      val queries = e.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") % 5 =!= 4)
      graft.ext.VectorIndex.probe(s, root, queries,
        k = 5, nProbe = 8, shortlist = 100)
    }),

    // ── FILTERED vector search served FROM the persisted index: the
    // build carries a metadata column (`label`) into the index's
    // corpus table, and the probe applies a PRE-FILTER predicate that
    // lands in the parquet scan's PushedFilters — the corpus prunes
    // BEFORE any scoring, so selective predicates shrink the scored
    // stream instead of post-discarding and losing k-coverage
    // (q_ann_filtered certifies the same semantics brute-force and
    // in-query; this row certifies them from the index tables).
    // nProbe = nCells total coverage + sub-exhaustive ADC shortlist,
    // exact re-rank. Oracle: exhaustive top-5 within label < 5,
    // queries keep their unfiltered identity. ──
    "q_ann_persisted_filtered" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      val root = tempStateDir() + "/annidx-filt"
      graft.ext.VectorIndex.build(s, e, root,
        nCells = 8, m = 16, k = 32, metaCols = Seq("label"))
      val queries = e.filter(col("vec_id") % 100 === 0)
      graft.ext.VectorIndex.probe(s, root, queries,
        k = 5, nProbe = 8, shortlist = 100,
        filter = Some(col("label") < 5))
    }),

    // ── the AUTO-SIZED index build ([[VectorIndex.buildAuto]]) — the
    // production entry point at scale, where the pinned-nCells build
    // above is the certification shape. targetPerCell=32 puts the
    // occupancy rule ABOVE its floor on the gate corpus (500 vecs ⇒
    // 16 cells, not the floor 8), so the computed sizing is live in
    // the certified plan, not short-circuited. Probe at total cell
    // coverage (nProbe = the cell count buildAuto returns — the
    // q_ann_ivf convention: the gate pins the plumbing; production
    // sub-exhaustive recall is ExtSpec's recall-pinned business) with
    // a genuinely sub-exhaustive ADC shortlist (150 of 500) + exact
    // re-rank. Oracle: the exhaustive brute-force top-5. ──
    "q_ann_auto" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      val root = tempStateDir() + "/annidx-auto"
      val nCells = graft.ext.VectorIndex.buildAuto(s, e, root,
        targetPerCell = 32, m = 16, k = 32)
      val queries = e.filter(col("vec_id") % 100 === 0)
      graft.ext.VectorIndex.probe(s, root, queries,
        k = 5, nProbe = nCells, shortlist = 150)
    }),

    // ── q_ann_persisted's lifecycle on its own index root, kept as a
    // separately oracle-checked row: every VectorIndex commit is a
    // generation flip (graft.util.GenSwap), and in-flight readers of
    // the previous generation keep serving through the refresh
    // (VectorIndexSpec pins that; this row certifies the end state). ──
    "q_ann_gen" -> ((s, dir) => annPersisted(s, dir, "annidx-gen")),

    // ── SEMANTIC dedup AT INGEST served from the persisted index
    // ([[graft.ext.VectorIndex.dedupIngest]]) — the embedding-space
    // twin of q_dedup_probe's minhash dedup-at-ingest: the ingest
    // batch (the %5=4 slice, disjoint from the indexed corpus by
    // construction) probes the ALREADY-COMMITTED q_ann_probe index
    // (harness memo — bench's min-of-3 times pure serving), and every
    // batch row whose exact re-ranked cosine to an indexed vector
    // reaches 0.4 drops; the survivors are what the pipeline actually
    // ingests. Gate exactness: nProbe = nCells (total coverage) and a
    // shortlist wide enough that the true nearest neighbor of every
    // near-threshold row survives the ADC cut (the decision then
    // equals brute force; smallest threshold margin on the gate
    // corpora is 2.8e-5 at sf0.1 — far above round-6 parity). Oracle:
    // keep exactly the batch ids with NO corpus neighbor at round-6
    // cosine ≥ 0.4. ──
    "q_semdedup_ingest" -> ((s, dir) => {
      val root = annProbeIndex(s, dir)
      val batch = s.read.parquet(t(dir, "embeddings"))
        .filter(col("vec_id") % 5 === 4)
        .select(col("vec_id"), col("embedding"))
      graft.ext.VectorIndex.dedupIngest(s, root, batch,
        threshold = 0.4, nProbe = 8, shortlist = 400)
        .select(col("vec_id"))
    }),

    // IVF-style ANN: corpus in its nearest seed cell, queries probe
    // cells in projection order. Oracle-checked at TOTAL coverage
    // (nProbe = nCells): the data-blind seed cells never reach exact
    // recall sub-exhaustively (RecallProbe: 3 misses even at 7/8),
    // so the gate instead pins the PLUMBING — cell assignment, probe
    // expansion, cell join, rank — which at total coverage must
    // reproduce the exhaustive top-5 at any scale; production
    // sub-exhaustive probing (nProbe=3) is recall-pinned by ExtSpec
    "q_ann_ivf" -> ((s, dir) => {
      val e = s.read.parquet(t(dir, "embeddings"))
      val celled = e.withColumn("cell",
        Similarity.ivfAssign(col("embedding"), nCells = 8))
      val q = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
          explode(Similarity.ivfProbe(col("embedding"), 8, 8)).as("cell"))
      val c = celled.select(col("vec_id").as("n_id"),
        col("embedding").as("n_vec"), col("cell"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("n_id"))
      c.join(q, Seq("cell")).filter(col("q_id") =!= col("n_id"))
        .withColumn("sim", graft.functions.GraftFunctions
          .cosine_sim(col("q_vec"), col("n_vec")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("n_id"), round(col("sim"), 6).as("sim"),
          col("rank"))
    }),

    // retrieval capstone: chunk the corpus (8-token windows, overlap
    // 4), then build the capped inverted index over CHUNKS — the
    // "prepare corpus for RAG serving" pipeline as one query; both
    // stages are the certified operators composed
    "q_rag_index" -> ((s, dir) => {
      val chunks = TextAnalysis.chunkText(
        s.read.parquet(t(dir, "documents")), "doc_id", "text",
        chunkTokens = 8, overlap = 4)
        .select(concat(col("id"), lit("#"), col("chunk_idx"))
          .as("chunk_id"), col("chunk_text"))
      Assemble.invertedIndex(chunks, "chunk_id", "chunk_text",
        maxPostings = 3)
        .withColumnRenamed("id", "chunk_id")
    }),

    // ── ChangeSet-driven incremental index maintenance: sync 1
    // builds the index over a perturbed initial corpus; sync 2's
    // ChangeSet (adds %7=0 docs, updates %3=0 docs to their final
    // text, removes the %5=4 slice) drives refreshRagIndex — only
    // the delta is re-chunked, only touched tokens re-publish. The
    // oracle replays a FULL REBUILD over the final corpus; green =
    // the incremental path is bit-identical to rebuild. ──
    "q_rag_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id").cast("string").as("id"), col("text"))
      // initial state (sync 1): %7!=0 docs plus the to-be-removed
      // %5=4 slice; %3=0 docs carry STALE text (they update later)
      val initial = docs
        .filter(pmod(col("id").cast("long"), lit(7)) =!= 0)
        .select(col("id"),
          when(pmod(col("id").cast("long"), lit(3)) === 0,
            concat(lit("stale "), col("text")))
            .otherwise(col("text")).as("text"),
          lit(1L).as("version"))
      // sync-2 source = the final corpus: %5!=4, original text,
      // version bumped on the %3=0 docs so the diff marks them
      val source = docs
        .filter(pmod(col("id").cast("long"), lit(5)) =!= 4)
        .select(col("id"),
          when(pmod(col("id").cast("long"), lit(3)) === 0, lit(2L))
            .otherwise(lit(1L)).as("version"),
          col("text"))
      val p1 = Assemble.ragPostings(initial, "id", "text", 8, 4)
        .localCheckpoint()
      val pub1 = Assemble.publishIndex(p1, 3).localCheckpoint()
      val cs = Diff.computeDataChanges(
        Records.keyRecords(source, "id", Some("version")),
        initial.select(col("id"), col("version")))
      val changed = cs.added.select(col("id"), col("text"))
        .unionByName(cs.updated.select(col("id"), col("text")))
      val dropped = cs.removedIds
        .unionByName(cs.updated.select(col("id")))
      val (_, pub2) = Assemble.refreshRagIndex(p1, pub1,
        changed, dropped, "id", "text", 8, 4, 3)
      pub2
    }),

    // ── the PERSISTED retrieval store ([[graft.ext.RagStore]]):
    // the q_rag_incremental lifecycle (build over the perturbed
    // initial corpus, ChangeSet-refresh to the final one) run
    // through the disk-backed store — delta-proportional segment/
    // tombstone commits on BOTH tables (postings by doc, published
    // by token), the committed serving view read back through the
    // generation pointer. Same full-rebuild oracle: the store's
    // lifecycle must land bit-identical to rebuilding from the final
    // corpus. ──
    "q_rag_store" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
        .select(col("doc_id").cast("string").as("id"), col("text"))
      val initial = docs
        .filter(pmod(col("id").cast("long"), lit(7)) =!= 0)
        .select(col("id"),
          when(pmod(col("id").cast("long"), lit(3)) === 0,
            concat(lit("stale "), col("text")))
            .otherwise(col("text")).as("text"),
          lit(1L).as("version"))
      val source = docs
        .filter(pmod(col("id").cast("long"), lit(5)) =!= 4)
        .select(col("id"),
          when(pmod(col("id").cast("long"), lit(3)) === 0, lit(2L))
            .otherwise(lit(1L)).as("version"),
          col("text"))
      val root = tempStateDir() + "/ragstore"
      graft.ext.RagStore.build(s, initial, root, chunkTokens = 8,
        overlap = 4, maxPostings = 3, idCol = "id", textCol = "text")
      val cs = Diff.computeDataChanges(
        Records.keyRecords(source, "id", Some("version")),
        initial.select(col("id"), col("version")))
      val changed = cs.added.select(col("id"), col("text"))
        .unionByName(cs.updated.select(col("id"), col("text")))
      val dropped = cs.removedIds
        .unionByName(cs.updated.select(col("id")))
      graft.ext.RagStore.refresh(s, root, changed, dropped,
        idCol = "id", textCol = "text")
      graft.ext.RagStore.servingView(s, root)
    }),
  )

  /** Exhaustive SemDeDup replay: pair graph -> recursive CC ->
    * integer-micro centroid -> fixed-order cosine -> (sim asc, id
    * asc) keeper — the state both the pinned (q_semdedup) and the
    * auto-sized (q_semdedup_auto) engine paths compute via the
    * bucketed joins. */
  private lazy val duckSemDedup: String =
    """WITH RECURSIVE emb AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib
      |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v)
      |    / (sqrt(list_dot_product(a.v, a.v))
      |       * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
      |edges AS (SELECT ia AS a, ib AS b FROM p
      |          UNION SELECT ib, ia FROM p),
      |reach AS (
      |  SELECT a AS n, b AS r FROM edges
      |  UNION
      |  SELECT reach.n, g.b FROM reach JOIN edges g ON reach.r = g.a),
      |lab AS (SELECT n AS vec_id, least(n, min(r)) AS cluster_id
      |        FROM reach GROUP BY n),
      |mem AS (SELECT l.vec_id, l.cluster_id, e.v
      |        FROM lab l JOIN emb e USING (vec_id)),
      |cd AS (SELECT cluster_id, CAST(i - 1 AS INT) AS d,
      |              sum(CAST(floor(v[i] * 1000000) AS BIGINT)) AS s,
      |              count(*) AS cnt
      |       FROM mem, LATERAL unnest(range(1, len(v) + 1)) t(i)
      |       GROUP BY 1, 2),
      |ca AS (SELECT cluster_id,
      |              list(CAST(s AS DOUBLE) / (cnt * 1000000.0)
      |                ORDER BY d) AS cent
      |       FROM cd GROUP BY cluster_id),
      |scored AS (SELECT m.vec_id, m.cluster_id,
      |                  list_dot_product(m.v, c.cent)
      |                    / (sqrt(list_dot_product(m.v, m.v))
      |                       * sqrt(list_dot_product(c.cent, c.cent)))
      |                    AS sim
      |           FROM mem m JOIN ca c USING (cluster_id)),
      |verdict AS (SELECT vec_id, cluster_id,
      |                   row_number() OVER (PARTITION BY cluster_id
      |                     ORDER BY sim, vec_id) = 1 AS kept
      |            FROM scored)
      |SELECT e.vec_id, v.cluster_id, coalesce(v.kept, TRUE) AS kept
      |FROM embeddings e LEFT JOIN verdict v USING (vec_id)""".stripMargin

  /** DuckDB oracles for this file's queries. */
  val oracles: Map[String, String] = Map(

    // quantized-projection cells replayed exactly (floor(e·1000)
    // longs; integer weight stream; argmax ties → max k = the
    // engine's struct-max rule), then the equal-weight mixture
    // thresholds — DuckDB's indexed lambda is 1-BASED, hence (i-1)
    "q_embed_balanced" -> {
      val hash = duckHash60("CAST(vec_id AS VARCHAR)")
      s"""WITH q AS (
         |  SELECT vec_id,
         |         list_transform(CAST(embedding AS DOUBLE[]),
         |           e -> CAST(floor(e * 1000) AS BIGINT)) AS qv
         |  FROM embeddings),
         |ks AS (SELECT vec_id, qv, unnest(range(0, 16)) AS k FROM q),
         |sc AS (
         |  SELECT vec_id, k,
         |    CAST(coalesce(list_sum(list_transform(qv, (x, i) ->
         |      x * ((k * 31 + (i - 1) * 7) % 11 - 5))), 0) AS BIGINT) AS s
         |  FROM ks),
         |cell AS (
         |  SELECT vec_id, k FROM (
         |    SELECT vec_id, k, s,
         |      row_number() OVER (PARTITION BY vec_id
         |                         ORDER BY s DESC, k DESC) AS rn
         |    FROM sc) WHERE rn = 1),
         |c AS (SELECT k, count(*) AS cd FROM cell GROUP BY 1),
         |b AS (SELECT min(cd) AS bu FROM c),
         |th AS (SELECT k, (bu * 1000000) // cd AS thr
         |       FROM c CROSS JOIN b)
         |SELECT cell.vec_id, CAST(cell.k AS INT) AS cell
         |FROM cell JOIN th USING (k)
         |WHERE $hash % 1000000 < thr""".stripMargin
    },

    "q_embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        greatest(list_max(list_transform(v, x -> abs(x))), 1e-30)
        |          AS scale
        |      FROM e)
        |SELECT vec_id, CAST(floor(scale * 1000000) AS BIGINT) AS scale_micro,
        |       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(v, x -> CAST(greatest(least(
        |           floor(x * 127 / scale), 127), -127)
        |           AS BIGINT))), (a, b) -> a + b) AS BIGINT) AS q_sum,
        |       CAST(len(v) AS BIGINT) AS n_dims
        |FROM s""".stripMargin,

    // mean is an exact TRUNCATING integer division — Spark `div`
    // truncates toward zero; replicated sign-explicitly over
    // DuckDB's nonnegative `//`
    "q_embed_meanpool" ->
      """WITH x AS (
        |  SELECT label, CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
        |      AS xm
        |  FROM embeddings, LATERAL unnest(range(1, len(embedding) + 1)) t(i)),
        |a AS (SELECT label, dim, count(*) AS n_vecs,
        |        CAST(sum(xm) AS BIGINT) AS sum_micro
        |      FROM x GROUP BY label, dim)
        |SELECT label, dim, n_vecs, sum_micro,
        |  CAST(CASE WHEN sum_micro >= 0 THEN sum_micro // n_vecs
        |       ELSE -((-sum_micro) // n_vecs) END AS BIGINT) AS mean_micro
        |FROM a""".stripMargin,

    "q_embed_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |         list_dot_product(q.v, e.v)
        |           / (sqrt(list_dot_product(q.v, q.v))
        |              * sqrt(list_dot_product(e.v, e.v))) AS s
        |  FROM q JOIN e ON q.vec_id <> e.vec_id)
        |SELECT q_id, n_id, round(s, 6) AS sim FROM scored WHERE s >= 0.3""".stripMargin,

    "q_embed_dedup" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |dups AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.4)
        |SELECT vec_id, label FROM e
        |WHERE vec_id NOT IN (SELECT vec_id FROM dups)""".stripMargin,

    // exhaustive pair graph -> recursive CC -> integer-micro centroid
    // -> fixed-order cosine -> (sim asc, id asc) keeper — the same
    // state the engine computes via the bucketed paths
    "q_semdedup" -> duckSemDedup,

    // the auto-sized production path computes the identical survivor
    // state on the gate corpus (occupancy sizing lands on the
    // recall-pinned cell count) — same exhaustive replay
    "q_semdedup_auto" -> duckSemDedup,

    // the auto-sized build serves the full corpus at total cell
    // coverage — same exhaustive replay as the other ANN rows
    "q_ann_auto" -> duckAnnBruteTop5,

    // ingest-time semantic dedup: brute-force replay of the drop
    // rule — a batch row (the %5=4 slice) survives iff NO indexed
    // corpus vector (%5!=4, the q_ann_probe memo corpus) reaches
    // round-6 cosine 0.4 against it (max-then-round ≡ round-then-max:
    // rounding is monotone, so the rounded comparison matches the
    // engine's round-6 probe output contract exactly)
    "q_semdedup_ingest" ->
      """WITH e AS (SELECT vec_id,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT * FROM e WHERE vec_id % 5 != 4),
        |b AS (SELECT * FROM e WHERE vec_id % 5 = 4),
        |mx AS (
        |  SELECT b.vec_id,
        |         max(list_dot_product(b.v, c.v)
        |           / (sqrt(list_dot_product(b.v, b.v))
        |              * sqrt(list_dot_product(c.v, c.v)))) AS m
        |  FROM b JOIN c ON b.vec_id <> c.vec_id
        |  GROUP BY b.vec_id)
        |SELECT vec_id FROM mx WHERE round(m, 6) < 0.4""".stripMargin,

    // filtered probe from the persisted index: exhaustive replay
    // restricted to label < 5 NEIGHBORS, unfiltered query identity —
    // exactly the q_ann_filtered oracle (the index path must agree
    // with the brute-force path bit for bit)
    "q_ann_persisted_filtered" ->
      """WITH e AS (SELECT vec_id, label,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT * FROM e WHERE label < 5),
        |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |         list_dot_product(q.v, c.v)
        |           / (sqrt(list_dot_product(q.v, q.v))
        |              * sqrt(list_dot_product(c.v, c.v))) AS s
        |  FROM q JOIN c ON q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, s,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY s DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id, round(s, 6) AS sim, CAST(rn AS INTEGER) AS rank
        |FROM ranked WHERE rn <= 5""".stripMargin,

    "q_embed_clusters" ->
      """WITH RECURSIVE emb AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v))
        |       * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
        |edges AS (SELECT ia AS a, ib AS b FROM p
        |          UNION SELECT ib, ia FROM p),
        |reach AS (
        |  SELECT a AS n, b AS r FROM edges
        |  UNION
        |  SELECT reach.n, g.b FROM reach JOIN edges g ON reach.r = g.a
        |)
        |SELECT n AS vec_id, least(n, min(r)) AS cluster_id
        |FROM reach GROUP BY n""".stripMargin,

    // all four ANN variants share the exhaustive oracle — settings in
    // `queries` are pinned to exact recall on the gate corpus
    "q_ann_lsh" -> duckAnnBruteTop5,

    // same exhaustive replay restricted to the metadata-filtered
    // corpus — the predicate applies to NEIGHBORS only, queries keep
    // their unfiltered identity (the engine's pre-filter semantics)
    "q_ann_filtered" ->
      """WITH e AS (SELECT vec_id, label,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT * FROM e WHERE label < 5),
        |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
        |scored AS (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |         list_dot_product(q.v, c.v)
        |           / (sqrt(list_dot_product(q.v, q.v))
        |              * sqrt(list_dot_product(c.v, c.v))) AS s
        |  FROM q JOIN c ON q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT q_id, n_id, s,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY s DESC, n_id) AS rn
        |  FROM scored)
        |SELECT q_id, n_id, round(s, 6) AS sim, CAST(rn AS INTEGER) AS rank
        |FROM ranked WHERE rn <= 5""".stripMargin,

    // exhaustive cross-set replay: raw-sim threshold, rounded max —
    // exactly the engine's filter-then-round order
    "q_semantic_leakage" ->
      """WITH e AS (SELECT vec_id, label,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |tr AS (SELECT * FROM e WHERE label < 8),
        |te AS (SELECT * FROM e WHERE label >= 8),
        |sc AS (
        |  SELECT te.vec_id AS q_id,
        |         list_dot_product(te.v, tr.v)
        |           / (sqrt(list_dot_product(te.v, te.v))
        |              * sqrt(list_dot_product(tr.v, tr.v))) AS s
        |  FROM te JOIN tr ON te.vec_id <> tr.vec_id),
        |hit AS (SELECT q_id, count(*) AS n_hits,
        |               max(round(s, 6)) AS max_sim
        |        FROM sc WHERE s >= 0.5 GROUP BY q_id)
        |SELECT te.vec_id AS q_id,
        |       CAST(coalesce(hit.n_hits, 0) AS BIGINT) AS n_hits,
        |       hit.max_sim,
        |       CAST(CASE WHEN hit.n_hits IS NOT NULL
        |         THEN 1 ELSE 0 END AS BIGINT) AS leaked
        |FROM te LEFT JOIN hit ON te.vec_id = hit.q_id""".stripMargin,

    // the greedy MMR unrolled: step 1 = raw-sim rank 1; steps 2..3
    // maximize 0.7·rel − 0.3·max-sim-to-selected over the SAME
    // 6-rounded sims and tie order (score desc, id asc) the engine
    // uses. Literal 0.7/0.3 parse to the identical doubles the
    // engine's 700/1000.0 milli-weights produce
    "q_mmr_rerank" ->
      """WITH e AS (SELECT vec_id,
        |             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT * FROM e WHERE vec_id % 100 = 0),
        |sc AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |         list_dot_product(q.v, e.v)
        |           / (sqrt(list_dot_product(q.v, q.v))
        |              * sqrt(list_dot_product(e.v, e.v))) AS s
        |  FROM q JOIN e ON q.vec_id <> e.vec_id),
        |cands AS (
        |  SELECT q_id, n_id, round(s, 6) AS rel, rn AS rank
        |  FROM (SELECT q_id, n_id, s,
        |          row_number() OVER (PARTITION BY q_id
        |            ORDER BY s DESC, n_id) AS rn
        |        FROM sc)
        |  WHERE rn <= 10),
        |pv AS (SELECT c.q_id, c.n_id, e.v
        |       FROM cands c JOIN e ON c.n_id = e.vec_id),
        |ps AS (
        |  SELECT x.q_id, x.n_id AS a, y.n_id AS b,
        |         round(list_dot_product(x.v, y.v)
        |           / (sqrt(list_dot_product(x.v, x.v))
        |              * sqrt(list_dot_product(y.v, y.v))), 6) AS s
        |  FROM pv x JOIN pv y ON x.q_id = y.q_id AND x.n_id <> y.n_id),
        |s1 AS (SELECT q_id, n_id FROM cands WHERE rank = 1),
        |p2 AS (SELECT c.q_id, c.n_id, c.rel, max(ps.s) AS pen
        |       FROM cands c
        |       JOIN ps ON ps.q_id = c.q_id AND ps.a = c.n_id
        |       JOIN s1 ON s1.q_id = ps.q_id AND s1.n_id = ps.b
        |       WHERE NOT EXISTS (SELECT 1 FROM s1 z
        |         WHERE z.q_id = c.q_id AND z.n_id = c.n_id)
        |       GROUP BY 1, 2, 3),
        |n2 AS (SELECT q_id, n_id FROM (
        |         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |           ORDER BY 0.7 * rel - 0.3 * pen DESC, n_id) AS rn
        |         FROM p2) WHERE rn = 1),
        |sel2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM n2),
        |p3 AS (SELECT c.q_id, c.n_id, c.rel, max(ps.s) AS pen
        |       FROM cands c
        |       JOIN ps ON ps.q_id = c.q_id AND ps.a = c.n_id
        |       JOIN sel2 ON sel2.q_id = ps.q_id AND sel2.n_id = ps.b
        |       WHERE NOT EXISTS (SELECT 1 FROM sel2 z
        |         WHERE z.q_id = c.q_id AND z.n_id = c.n_id)
        |       GROUP BY 1, 2, 3),
        |n3 AS (SELECT q_id, n_id FROM (
        |         SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id
        |           ORDER BY 0.7 * rel - 0.3 * pen DESC, n_id) AS rn
        |         FROM p3) WHERE rn = 1),
        |ranked AS (
        |  SELECT q_id, n_id, 1 AS mmr_rank FROM s1
        |  UNION ALL SELECT q_id, n_id, 2 FROM n2
        |  UNION ALL SELECT q_id, n_id, 3 FROM n3)
        |SELECT r.q_id, r.n_id, c.rel, CAST(r.mmr_rank AS INTEGER)
        |         AS mmr_rank
        |FROM ranked r JOIN cands c
        |  ON r.q_id = c.q_id AND r.n_id = c.n_id""".stripMargin,

    "q_ann_ivf_trained" -> duckAnnBruteTop5,

    "q_ann_pq" -> duckAnnBruteTop5,

    // brute-force replay over the FINAL corpus — the persisted index
    // (built stale, ChangeSet-refreshed, probe-only query) must agree
    "q_ann_persisted" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id % 5 <> 4),
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
        |FROM ranked WHERE rn <= 5""".stripMargin,

    // the generation-pointer lifecycle serves the same final corpus —
    // identical exhaustive replay (the commit discipline must be
    // answer-invariant)
    "q_ann_gen" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id % 5 <> 4),
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
        |FROM ranked WHERE rn <= 5""".stripMargin,

    // the probe-only row serves the same final corpus from a
    // fresh-model persisted index — same exhaustive replay
    "q_ann_probe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id % 5 <> 4),
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
        |FROM ranked WHERE rn <= 5""".stripMargin,

    "q_ann_ivf" -> duckAnnBruteTop5,

    // chunk CTE (the q_chunk_text replay) feeding the inverted-index
    // CTE (the q_inverted_index replay) over chunk ids
    "q_rag_index" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    x -> x <> '') AS tk
        |  FROM documents),
        |e AS (SELECT doc_id, tk,
        |        unnest(range(1, len(tk) + 1, 4)) AS start
        |      FROM d WHERE len(tk) > 0),
        |chunks AS (
        |  SELECT doc_id || '#' || CAST((start - 1) // 4 AS INTEGER)
        |           AS chunk_id,
        |         tk[start:start+7] AS ct
        |  FROM e),
        |tf AS (SELECT tok, chunk_id, count(*) AS tf
        |       FROM (SELECT chunk_id, unnest(ct) AS tok FROM chunks)
        |       WHERE tok <> '' GROUP BY 1, 2),
        |r AS (SELECT tok, chunk_id, tf,
        |        row_number() OVER
        |          (PARTITION BY tok ORDER BY tf DESC, chunk_id) AS rank,
        |        count(*) OVER (PARTITION BY tok) AS df
        |      FROM tf)
        |SELECT tok, CAST(df AS BIGINT) AS df, CAST(rank AS INTEGER)
        |         AS rank, chunk_id, tf
        |FROM r WHERE rank <= 3""".stripMargin,

    // full-rebuild replay over the FINAL corpus — the incremental
    // path must match it bit-exactly after the two syncs
    "q_rag_incremental" -> duckRagFinalRebuild,

    // identical replay: the PERSISTED store's committed serving view
    // after the same build+refresh lifecycle must equal the same
    // full rebuild (the q_dedup_index / q_dedup_probe shared-oracle
    // convention)
    "q_rag_store" -> duckRagFinalRebuild,
  )

  /** Full-rebuild replay of the capped published view over the FINAL
    * corpus (%5≠4, true text) — shared by the in-query incremental
    * row and the persisted-store lifecycle row. */
  private lazy val duckRagFinalRebuild: String =
    """WITH d AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(
      |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
      |    x -> x <> '') AS tk
      |  FROM documents WHERE doc_id % 5 <> 4),
      |e AS (SELECT doc_id, tk,
      |        unnest(range(1, len(tk) + 1, 4)) AS start
      |      FROM d WHERE len(tk) > 0),
      |chunks AS (
      |  SELECT doc_id || '#' || CAST((start - 1) // 4 AS INTEGER)
      |           AS chunk_id,
      |         tk[start:start+7] AS ct
      |  FROM e),
      |tf AS (SELECT tok, chunk_id, count(*) AS tf
      |       FROM (SELECT chunk_id, unnest(ct) AS tok FROM chunks)
      |       WHERE tok <> '' GROUP BY 1, 2),
      |r AS (SELECT tok, chunk_id, tf,
      |        row_number() OVER
      |          (PARTITION BY tok ORDER BY tf DESC, chunk_id) AS rank,
      |        count(*) OVER (PARTITION BY tok) AS df
      |      FROM tf)
      |SELECT tok, CAST(df AS BIGINT) AS df, CAST(rank AS INTEGER)
      |         AS rank, chunk_id, tf
      |FROM r WHERE rank <= 3""".stripMargin

  /** Build a perturbed initial corpus, ChangeSet-refresh it to the
    * final corpus, then probe — the q_ann_persisted lifecycle. */
  private def annPersisted(
      s: SparkSession, dir: String, rootName: String): DataFrame = {
    val e = s.read.parquet(t(dir, "embeddings"))
    val root = tempStateDir() + "/" + rootName
    // initial corpus: %7!=0 rows plus the to-be-removed %5=4
    // slice; %3=0 vectors are STALE (reversed) until their update
    val initial = e.filter(col("vec_id") % 7 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 3 === 0, reverse(col("embedding")))
          .otherwise(col("embedding")).as("embedding"),
        lit(1L).as("version"))
    graft.ext.VectorIndex.build(s, initial, root,
      nCells = 8, m = 16, k = 32)
    // sync source = final corpus: %5!=4, true vectors, version
    // bumped on the stale rows
    val source = e.filter(col("vec_id") % 5 =!= 4)
      .select(col("vec_id").cast("string").as("id"),
        when(col("vec_id") % 3 === 0, lit(2L)).otherwise(lit(1L))
          .as("version"),
        col("embedding"))
    val cs = Diff.computeDataChanges(
      Records.keyRecords(source, "id", Some("version")),
      initial.select(col("vec_id").cast("string").as("id"),
        col("version")))
    val changed = cs.added.select(col("id"), col("embedding"))
      .unionByName(cs.updated.select(col("id"), col("embedding")))
      .select(col("id").cast("long").as("vec_id"), col("embedding"))
    val dropped = cs.removedIds.unionByName(cs.updated.select(col("id")))
      .select(col("id").cast("long").as("id"))
    graft.ext.VectorIndex.refresh(s, root, changed, dropped)
    val queries = e.filter(col("vec_id") % 100 === 0 &&
      col("vec_id") % 5 =!= 4)
    graft.ext.VectorIndex.probe(s, root, queries,
      k = 5, nProbe = 8, shortlist = 100)
  }
}
