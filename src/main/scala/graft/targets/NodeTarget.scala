package graft.targets

import graft.core.{ChangeSet, Records}
import graft.mapper.Mapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Node-table target — the data semantics of the reference's
 * ContentRepository target (W5-W9,
 * Classes/DataTarget/ContentRepository/ContentRepositoryTarget.php)
 * modeled against a plain "node" table (parquet-backed), with the
 * Neos/Flow CMS plumbing (Fusion caches, Doctrine EM) out of scope
 * per SURVEY §7.4.6.
 *
 * Semantics preserved:
 *  - `idPrefix` — node identifier = prefix + record id; stripped
 *    before diffing (ContentRepositoryTarget.php:99);
 *  - variant fan-out — one record becomes N node variants, one per
 *    dimension returned by the resolver (`:173-192`): an `explode`
 *    over a resolver column, the reference's one UDTF-shaped hook;
 *  - soft delete — removal hides (`hidden := true`) instead of
 *    deleting when configured (`:245-256`); hidden nodes are excluded
 *    from removal candidates but un-hidden on update (`:95-107,202`);
 *  - remove-all under a root path (`:215-236`);
 *  - parent resolution — a `parentPathResolver` places each record
 *    under a record-derived parent path instead of flat
 *    `rootPath/id`, and missing parent container nodes are
 *    auto-created (`:161-171` parentNodeResolver + `:363-392`
 *    getNodeDataByPath auto-creation). Container rows carry the
 *    reserved `auto:` identifier prefix and are excluded from the
 *    diff state — they are structure, not records.
 *
 * Node table schema: (identifier, variant, path, hidden,
 * version, <mapped columns...>).
 *
 * State layout and commit discipline: `path` is a GENERATION ROOT
 * ([[graft.util.GenSwap]]) — every sync writes a fresh immutable
 * `path/gen-<n>/` holding the node table plus its NARROW keyed
 * diff-state index — one row per record id: (id, version, hidden) —
 * under `gen-<n>/_dstate` (the `_`-prefixed subdirectory is invisible
 * to the generation dir's parquet read), then flips the tiny
 * `path/CURRENT` pointer. The table and its index live in ONE
 * generation, so they commit atomically by construction; readers that
 * resolved the previous generation keep serving through a concurrent
 * sync (retained until the commit after next — the two-refresh limit
 * documented on GenSwap), and on object stores the commit is
 * O(pointer), never a bulk rename. The index's next state is a pure
 * projection of the sync's one diff join (the diff keeps unchanged
 * rows for exactly this — [[graft.core.DiffOptions.keepUnchanged]]),
 * so [[currentState]] is a direct narrow scan — the reference's
 * indexed id/version read (DbalTarget.php:118-128) — instead of a
 * per-sync variant-collapsing aggregation + shuffle over the full
 * node table (the 100 TB win: the per-sync read scales with record
 * count, not variant fan-out, and skips the aggregation exchange).
 * [[removeAll]] evolves the index by the under-root id set.
 *
 * A `path` with no CURRENT pointer holds no state: the first sync
 * adds every record.
 *
 * STORAGE: every probe and commit goes through the Hadoop
 * `FileSystem` of the state path ([[graft.util.Fs]]), so the layout
 * works on `file://` (tests/sandbox), HDFS, and object stores
 * unchanged; the sync model (one import run owns the target)
 * satisfies GenSwap's single-writer assumption.
 */
final case class NodeTarget(
    path: String,
    idPrefix: String = "",
    softDelete: Boolean = false,
    rootPath: String = "/sites",
    /** record DataFrame → array column of dimension values; default
      * single empty variant (no dimensions configured). */
    variantsResolver: DataFrame => Column = _ => array(lit("")),
    /** record DataFrame → parent path column; default flat rootPath.
      * Missing parents are auto-created as container rows. */
    parentPathResolver: Option[DataFrame => Column] = None
) extends DataTarget {

  /** Reserved identifier prefix for auto-created parent containers. */
  private val AutoParent = "auto:"

  private def emptyState(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("identifier", StringType),
        StructField("variant", StringType),
        StructField("path", StringType),
        StructField("hidden", BooleanType),
        StructField("version", LongType))))

  private def emptyDstate(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(
        StructField("id", StringType),
        StructField("version", LongType),
        StructField("hidden", BooleanType))))

  /** The COMMITTED state dir: the generation named by the CURRENT
    * pointer. */
  private def resolvedDir(): Option[String] =
    graft.util.GenSwap.currentDir(path)

  /** The committed node table (empty-schema frame before the first
    * commit) — the read surface for consumers: a raw
    * `spark.read.parquet(path)` stopped being meaningful when the
    * state moved under generation dirs. */
  def table(spark: SparkSession): DataFrame = nodes(spark)

  /** Resolved committed generation dir — exposed for tools/tests that
    * inspect the on-disk layout (e.g. the `_dstate` index files). */
  def stateDirResolved: Option[String] = resolvedDir()

  private def nodes(spark: SparkSession): DataFrame =
    resolvedDir() match {
      case Some(d) => spark.read.parquet(d)
      case None => emptyState(spark)
    }

  /** The narrow keyed index: one row per record id. */
  private def dstate(spark: SparkSession): DataFrame =
    resolvedDir() match {
      case None => emptyDstate(spark)
      case Some(d) => spark.read.parquet(s"$d/_dstate")
    }

  /** Stage `next` (+ its `_dstate` index) into a fresh immutable
    * generation dir and flip the pointer ([[graft.util.GenSwap]]) —
    * the node table and its index live in ONE generation, so they
    * commit atomically by construction; a crash mid-stage leaves an
    * orphaned never-referenced dir the next commit's cleanup removes,
    * and in-flight readers of the previous generation keep serving.
    *
    * `overlap` (an independent action over the already-materialized
    * diff — the phase-stats aggregation) runs CONCURRENTLY with the
    * index write: both only read checkpoint/cached blocks the main
    * write just produced, so serializing them was pure latency.
    * Spark job submission is thread-safe; the result is joined
    * before the flip so failures surface before commit. */
  private def commitState[A](
      next: DataFrame, dstateNext: DataFrame)(overlap: => A): A = {
    val staging = graft.util.GenSwap.nextDir(path)
    next.write.mode("overwrite").parquet(staging)
    // written second: when `next`'s plan carries the ChangeSet's lazy
    // checkpoint, the main write above materialized it, so the index
    // write re-reads checkpoint blocks (narrow, record-count rows).
    // Coalesced: a handful of compact files beats inheriting the
    // merge plan's partitioning (dozens of tiny files whose footers
    // every subsequent narrow read would re-list).
    val overlapF = scala.concurrent.Future(overlap)(
      scala.concurrent.ExecutionContext.global)
    dstateNext.coalesce(4).write.mode("overwrite")
      .parquet(s"$staging/_dstate")
    // Degenerate (zero-row) index: a write of an empty frame can leave
    // no schema-bearing data file (coalesce of an empty RDD has zero
    // partitions), making the next `spark.read.parquet(_dstate)`
    // throw. Detect driver-side and rewrite from an explicit
    // 1-partition empty frame. (Reachable: every record hard-removed
    // while `auto:` containers keep the node table itself non-empty.)
    if (!graft.util.Fs.hasData(s"$staging/_dstate",
        requireBytes = true)) {
      graft.util.Fs.deleteRec(s"$staging/_dstate")
      val spark = dstateNext.sparkSession
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq.empty[org.apache.spark.sql.Row], 1),
        dstateNext.schema).write.parquet(s"$staging/_dstate")
    }
    val a = scala.concurrent.Await.result(
      overlapF, scala.concurrent.duration.Duration.Inf)
    graft.util.GenSwap.commit(path, staging)
    a
  }

  /** Diff state: one row per record id (variants collapse), version =
    * max over variants (the reference keys its node cache by stripped
    * identifier, ContentRepositoryTarget.php:88-93). A narrow indexed
    * read (see the class doc) — NOT an aggregation over the node
    * table, mirroring the reference's indexed narrow SELECT. */
  override def currentState(spark: SparkSession): DataFrame =
    dstate(spark).select(col("id"), col("version"), col("hidden"))

  /** DiffOptions this target requires (wired by the Preset).
    * `keepUnchanged` lets [[applyChanges]] derive the next keyed
    * index as a pure projection of the one diff join. */
  def diffOptions: graft.core.DiffOptions = graft.core.DiffOptions(
    localIdPrefix = if (idPrefix.nonEmpty) Some(idPrefix) else None,
    hiddenCol = Some("hidden"),
    keepUnchanged = true)

  override def applyChanges(
      spark: SparkSession, cs: ChangeSet, mapper: Mapper,
      dispatch: DataTarget.EventDispatch): ApplyResult = {

    // the record-level (pre-fan-out) identity columns shared by the
    // node rows and the keyed index
    def parentOf(df: DataFrame): Column =
      parentPathResolver.map(_(df)).getOrElse(lit(rootPath))

    // W5 fan-out: record → one node row per variant, at WRITE time
    // (ContentRepositoryTarget.php:173-192)
    def toNodes(df: DataFrame): DataFrame = {
      // parent resolution at write time (`:161-171`): the resolver
      // column evaluates against the RECORD attributes, pre-mapping
      val withParent = df.withColumn("__parent", parentOf(df))
      val mapped = mapper.applyKeeping(withParent, Seq("__parent"))
        .withColumn("variant", explode(variantsResolver(df)))
      mapped.select(
        Seq(
          concat(lit(idPrefix), col(Records.IdCol)).as("identifier"),
          col("variant"),
          concat(col("__parent"), lit("/"), col(Records.IdCol)).as("path"),
          lit(false).as("hidden"),
          col(Records.VersionCol).as("version")) ++
          mapped.columns.filterNot(c =>
            c.startsWith("__") || c == "variant").map(col): _*)
    }

    val csp = cs.persisted() // single evaluation of the diff join
    val addedN = toNodes(csp.added).cache()
    val updatedN = toNodes(csp.updated).cache()

    // Identifier of the EXISTING node row a change addresses. The
    // diff's prefix strip is conditional (`__local_stripped`): a
    // pre-existing local id that never carried the prefix passes
    // through raw, and its node row keeps that raw identifier — so
    // update-replacement and remove marks must re-glue the prefix
    // ONLY when the strip actually fired. (The unconditional
    // concat(idPrefix, …) this replaces left legacy rows visible
    // forever on soft delete, undeleted on hard delete, and
    // duplicated on update — NodeTargetSpec "pre-existing UNPREFIXED
    // local ids".) Matches the reference: the strip is
    // comparison-only; nodes keep their real identifiers through
    // update/remove (ContentRepositoryTarget.php:99,195-256).
    val oldIdOfChange = when(
      coalesce(col("__local_stripped"), lit(false)),
      concat(lit(idPrefix), col("__change_id")))
      .otherwise(col("__change_id"))
    val removedP = csp.changes.filter(col("__change") === "remove")
      .select(oldIdOfChange.as("identifier")).cache()

    val old = nodes(spark)
    val oldAligned = addedN.schema.fields.foldLeft(old) { (acc, f) =>
      if (acc.columns.exists(_.equalsIgnoreCase(f.name))) acc
      else acc.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(addedN.columns.map(col): _*)

    // ONE pass over the old state handles both updates and removals
    // (the diff branches are disjoint, so each old id carries at most
    // one mark): updates replace every variant of the id and un-hide
    // (W6, `:195-206`); soft delete flags instead of dropping (W7,
    // `:245-256`). The marks come from the RECORD-level diff rows
    // — already one row per id, no per-variant distinct needed — and
    // key on the OLD row's identifier ([[oldIdOfChange]]): an update
    // of a legacy unprefixed id must replace its `legacy` rows, not
    // strand them next to the new `node-legacy` rows.
    val marks = csp.changes.filter(col("__change") === "update")
      .select(oldIdOfChange.as("identifier"))
      .withColumn("__m", lit("u"))
      .unionByName(removedP.withColumn("__m", lit("r")))
    val merged = oldAligned.join(marks, Seq("identifier"), "left_outer")
    val kept =
      if (softDelete)
        merged.filter(col("__m").isNull || col("__m") === "r")
          .withColumn("hidden",
            when(col("__m") === "r", lit(true)).otherwise(col("hidden")))
          .drop("__m")
      else merged.filter(col("__m").isNull).drop("__m")
    val next = kept.unionByName(addedN).unionByName(updatedN)

    // Auto-create missing parent containers (`:363-392`): one row
    // per resolver-derived parent path with no node at that path yet.
    // Containers re-derive from the written paths (strip the last
    // segment), carry the reserved `auto:` identifier, and survive
    // re-runs through `kept` — so a second import is a no-op.
    val withParents =
      if (parentPathResolver.isEmpty) next
      else {
        val pPaths = addedN.select(col("path"))
          .unionByName(updatedN.select(col("path")))
          .select(regexp_replace(col("path"), "/[^/]*$", "").as("ppath"))
          .filter(col("ppath") =!= "").distinct()
        val missing = pPaths.join(
          oldAligned.select(col("path").as("ppath")).distinct(),
          Seq("ppath"), "left_anti")
        val containers = missing.select(addedN.columns.map {
          case "identifier" =>
            concat(lit(AutoParent), md5(col("ppath"))).as("identifier")
          case "variant" => lit("").as("variant")
          case "path" => col("ppath").as("path")
          case "hidden" => lit(false).as("hidden")
          case c => lit(null).cast(addedN.schema(c).dataType).as(c)
        }: _*)
        next.unionByName(containers)
      }

    // The keyed index's next state is a pure PROJECTION of the one
    // diff join — the diff opted into `keepUnchanged`, so EVERY
    // surviving record row is present: adds/updates take the source
    // version un-hidden, soft removes keep the local version and flip
    // hidden (hard removes drop), unchanged rows (NULL `__change`,
    // local side present) carry their local version/hidden through.
    // No join against the old index, no second state read — the
    // projection runs over the checkpoint blocks the main write just
    // materialized.
    val dstateNext = {
      val ch = csp.changes
      val keepRow =
        col("__change").isin("add", "update") ||
          (col("__change") === "remove" && lit(softDelete)) ||
          (col("__change").isNull && col("__local_id").isNotNull)
      // Index id must equal the NODE identifier. Adds/updates write
      // concat(prefix, source id). Local-only rows (unchanged, soft
      // remove) keep their ORIGINAL identifier: the diff's strip is
      // conditional (`__local_stripped`), so re-gluing the prefix onto
      // an id the strip never touched would diverge the index from the
      // node table and surface as a phantom remove+add next sync.
      val indexId = when(
        col("__change").isin("add", "update") ||
          coalesce(col("__local_stripped"), lit(false)),
        concat(lit(idPrefix), col("__change_id")))
        .otherwise(col("__change_id"))
      ch.filter(keepRow).select(
        indexId.as("id"),
        when(col("__change").isin("add", "update"),
          col(Records.VersionCol).cast("long"))
          .otherwise(col("__local_version").cast("long")).as("version"),
        when(col("__change").isin("add", "update"), lit(false))
          .when(col("__change") === "remove", lit(true))
          .otherwise(col("__local_hidden")).as("hidden"))
    }

    // record counts == distinct fanned-out identifiers (1 record →
    // 1 identifier across variants) — counts AND the bounded phase id
    // samples come from ONE aggregation over the diff (vs one counts
    // job + three sample limit-jobs). It runs AFTER the main state
    // write (which materializes the lazy checkpoint, so this re-scans
    // in-memory blocks) and CONCURRENTLY with the index write — both
    // are independent reads of the materialized diff.
    // samples via the BOUNDED HeadK aggregate — slice(collect_list)
    // would buffer the full per-change-type id list (millions of ids
    // in one aggregation buffer on a large sync) before slicing;
    // HeadK's buffer is capped at 5 through update AND merge.
    val stats = commitState(withParents, dstateNext) {
      csp.changes.filter(col("__change").isNotNull)
        .groupBy(col("__change"))
        .agg(count(lit(1)).as("n"),
          // sampled ids are NODE identifiers: adds/updates write
          // concat(prefix, source id); removes address the old row,
          // whose identifier is the conditional [[oldIdOfChange]]
          graft.functions.HeadK.headK(5)(
            when(col("__change") === "remove", oldIdOfChange)
              .otherwise(concat(lit(idPrefix), col("__change_id"))))
            .as("ids"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getSeq[String](2).toSeq))).toMap
    }
    val (nAdd, aIds) = stats.getOrElse("add", (0L, Nil))
    val (nUpd, uIds) = stats.getOrElse("update", (0L, Nil))
    val (nRem, rIds) = stats.getOrElse("remove", (0L, Nil))
    DataTarget.dispatchSnapshotPhasesSampled(dispatch,
      addedN, nAdd, aIds, updatedN, nUpd, uIds, removedP, nRem, rIds)
    val res = ApplyResult(nAdd, nUpd, nRem)
    addedN.unpersist(); updatedN.unpersist(); removedP.unpersist()
    csp.unpersist()
    res
  }

  /** W8 — remove/hide all nodes STRICTLY UNDER the root path
    * (`:215-236`: `path LIKE rootNodePath||'/%'`). The root container
    * node itself is not affected, and sibling paths sharing the root
    * as a string prefix (`/sites/oddball` under root `/sites/odd`)
    * don't match — the reference's `'/'` separator is part of the
    * pattern, so it is part of ours. The keyed index cannot evaluate
    * the path predicate itself (it is id-keyed, pathless), so it
    * evolves by the under-root id set the return count already
    * computes. */
  override def removeAll(spark: SparkSession): Long = {
    if (resolvedDir().isEmpty) return 0L
    val under = col("path").startsWith(rootPath.stripSuffix("/") + "/")
    val all = nodes(spark).cache()
    // the affected id set is both the return count AND the index
    // delta — computed once (paths live in the node table only)
    val idsUnder = all.filter(under)
      .select(col("identifier").as("id")).distinct().cache()
    val n = idsUnder.count()
    if (!softDelete && all.filter(!under).isEmpty) {
      // nothing survives — drop the state wholesale, no empty rewrite
      graft.util.Fs.deleteRec(path)
    } else {
      val oldD = dstate(spark)
      val (next, nextD) =
        if (softDelete) (
          all.withColumn("hidden",
            when(under, lit(true)).otherwise(col("hidden"))),
          oldD.join(idsUnder.withColumn("__rm", lit(true)),
              Seq("id"), "left_outer")
            .withColumn("hidden",
              when(col("__rm"), lit(true)).otherwise(col("hidden")))
            .drop("__rm"))
        else (all.filter(!under), oldD.join(idsUnder, Seq("id"), "left_anti"))
      commitState(next, nextD)(())
    }
    idsUnder.unpersist()
    all.unpersist()
    n
  }
}
