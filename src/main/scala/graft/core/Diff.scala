package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * ChangeSet — the result of the engine's core query: a full-outer
 * id+version comparison of the keyed source against the target's
 * current state (reference: Classes/ValueObject/ChangeSet.php:11-21,
 * Classes/DataTarget/Dbal/DbalTarget.php:66-85).
 *
 * `changes` is ONE discriminated frame (`__change` ∈ add/update/
 * remove) over a SINGLE full-outer join; `added`/`updated`/
 * `removedIds` are filters of it. Exposing three naive branch plans
 * instead would re-plan the join per branch — `.explain` showed 3
 * joins + 6 scans for one diff. Sinks `persist()` `changes` once and
 * every branch (and every count) reuses the cached join.
 */
final case class ChangeSet(
    added: DataFrame,
    updated: DataFrame,
    removedIds: DataFrame,
    changes: DataFrame) {
  /** Single-pass (id, change_type) view — one join in the plan.
    * (The null-change filter is a no-op unless the diff opted into
    * `keepUnchanged`, which stamps unchanged rows with NULL.) */
  def unioned: DataFrame =
    changes.filter(col("__change").isNotNull)
      .select(col("__change_id").as("id"),
        col("__change").as("change_type"))

  /** Materialize the shared join ONCE with lineage truncated
    * (`localCheckpoint`) and rebuild every branch over the snapshot.
    * A plain `persist()` is not enough for sinks: the commit swaps
    * the very state files the join's subtree scans — a post-commit
    * evaluation of a persisted-but-invalidated branch would re-diff
    * against the NEW state and hand listeners empty phase payloads.
    * The checkpoint pins the diff's rows independent of the state
    * files. LAZY (`eager = false`): the first action — the
    * sink's single [[counts]] job, which always runs BEFORE the
    * commit — materializes the blocks, so the checkpoint costs the
    * same one cache-fill job `persist()` paid, not an extra eager
    * pass over the join. Callers use the RETURNED ChangeSet and
    * release via [[unpersist]]. */
  def persisted(): ChangeSet = {
    val srcCols = added.columns.toSeq // added selects exactly source's columns
    // Unchanged rows (NULL `__change` — present only when the diff
    // opted into `keepUnchanged`) are consumed downstream ONLY through
    // their identity/state columns (`__change_id`, `__local_*`): blank
    // their source-attribute payload before checkpointing so snapshot
    // storage scales with the DELTA plus a narrow per-record row, not
    // with the full corpus width (variable-length attribute bytes are
    // the dominant cost; NULLed strings store as null bits). The
    // add/update branches filter on `__change`, so they never see the
    // blanked rows. No-op when keepUnchanged is off (`changes` is
    // already filtered to non-NULL `__change`).
    val srcSet = srcCols.toSet
    val slim =
      if (!Diff.blankUnchangedPayloads) changes
      else changes.select(changes.schema.fields.toSeq.map { f =>
        if (srcSet(f.name))
          when(col("__change").isNotNull, col(f.name))
            .otherwise(lit(null).cast(f.dataType)).as(f.name)
        else col(f.name)
      }: _*)
    val snap = slim.localCheckpoint(eager = false)
    ChangeSet(
      added = snap.filter(col("__change") === "add")
        .select(srcCols.map(col): _*),
      updated = snap.filter(col("__change") === "update")
        .select(srcCols.map(col): _*),
      removedIds = snap.filter(col("__change") === "remove")
        .select(col("__change_id").as("id")),
      changes = snap)
  }

  /** Release the [[persisted]] snapshot's executor storage
    * deterministically (the checkpoint RDD otherwise lingers until a
    * driver GC lets the ContextCleaner reclaim it). Safe on a
    * non-checkpointed ChangeSet — falls back to plan-cache
    * unpersist. */
  def unpersist(): Unit = changes.queryExecution.analyzed match {
    case lr: org.apache.spark.sql.execution.LogicalRDD =>
      lr.rdd.unpersist(blocking = false)
    case _ => changes.unpersist()
  }

  /** Branch counts (added, updated, removed) in ONE aggregation job
    * over the shared frame — three separate `count()` actions would
    * each launch a scan of the (cached) join. The collect is ≤ 3
    * discriminator rows, not data. */
  def counts: (Long, Long, Long) = {
    val m = changes.groupBy(col("__change")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (m.getOrElse("add", 0L), m.getOrElse("update", 0L),
      m.getOrElse("remove", 0L))
  }
}

/** Options controlling the diff (reference: Classes/Preset.php:19-39,
  * Classes/DataTarget/Dbal/DbalTarget.php:66-85). */
final case class DiffOptions(
    forceUpdates: Boolean = false,
    skipAddedRecords: Boolean = false,
    skipRemovedRecords: Boolean = false,
    /** D3: strip this prefix from local ids before comparing
      * (ContentRepositoryTarget.php:99). */
    localIdPrefix: Option[String] = None,
    /** D3: name of a boolean "hidden" column in the local state; hidden
      * rows are excluded from removal candidates but NOT treated as
      * added (ContentRepositoryTarget.php:95-107). */
    hiddenCol: Option[String] = None,
    /** Keep UNCHANGED rows (local present, no add/update/remove fires)
      * in the `changes` frame with `__change` NULL instead of
      * filtering them out. The add/update/remove branches and counts
      * are value-filtered, so they are unaffected; a sink that
      * maintains a keyed state index ([[graft.targets.NodeTarget]])
      * opts in so the index's next state is a pure PROJECTION of the
      * one diff join — no second join against the old index. */
    keepUnchanged: Boolean = false)

/**
 * The core diff query (reference operators D1-D4, SURVEY §2.1).
 *
 * Spark-first shape: ONE full-outer join on id; the three change
 * branches are filters over it, so Catalyst plans a single shuffle
 * (or a broadcast join when the local id/version snapshot is small —
 * it is 2 narrow columns, exactly the reference's narrow read,
 * DbalTarget.php:118-128, which Catalyst's column pruning gives us
 * for free).
 *
 * Scale note (100 TB): the local snapshot is pruned to (id, version
 * [, hidden]) before the join — at 1000 executors this is the only
 * state that moves; source-side attribute columns stay put until the
 * sink projects them. Skew on id is handled by AQE skew-join.
 */
object Diff {

  /** Measurement escape hatch for [[ChangeSet.persisted]]'s
    * unchanged-row payload blanking (the wide-table A/B recorded in
    * BASELINE.md r16) — production code never flips this; it exists
    * so the A/B measures the SAME build with and without the
    * optimization instead of comparing across commits. */
  @volatile private[graft] var blankUnchangedPayloads: Boolean = true

  /** D4 — update-needed predicate (DbalTarget.php:106-116):
    * update iff force ∨ source.version unset ∨ local.version unset ∨
    * source.version > local.version. Strictly greater-than. */
  def updateNeeded(sourceVersion: Column, localVersion: Column, force: Boolean): Column =
    if (force) lit(true)
    else sourceVersion.isNull || localVersion.isNull || (sourceVersion > localVersion)

  /**
   * Compute the ChangeSet.
   *
   * @param source keyed source (has `__id`, `__version`, plus raw
   *               attribute columns — the diff runs on RAW attributes;
   *               mapping applies at write time, DbalTarget.php:136,145)
   * @param local  target current-state snapshot with columns
   *               `id` (string), `version` (long, nullable)
   *               [, hiddenCol]
   */
  def computeDataChanges(
      source: DataFrame,
      local: DataFrame,
      opts: DiffOptions = DiffOptions()): ChangeSet = {

    // Literal prefix strip (reference: ContentRepositoryTarget.php:99
    // does a fixed-length substr) — NOT a regex: a prefix like
    // 'node.' contains metacharacters, and interpolating it into a
    // pattern would strip unintended ids.
    val localId = opts.localIdPrefix match {
      case Some(p) =>
        when(col("id").startsWith(p),
          col("id").substr(lit(p.length + 1), length(col("id"))))
          .otherwise(col("id"))
      case None => col("id")
    }
    val hidden = opts.hiddenCol
      .map(h => coalesce(col(h).cast("boolean"), lit(false)))
      .getOrElse(lit(false))

    // Whether the strip actually fired for this row — a local id that
    // does NOT start with the configured prefix passes through
    // unstripped, and a sink rebuilding prefixed ids from the stripped
    // value must NOT glue the prefix onto it (NodeTarget's keyed
    // index). One boolean instead of duplicating the raw id string —
    // raw = if stripped then prefix+__local_id else __local_id.
    val strippedFlag = opts.localIdPrefix match {
      case Some(p) => col("id").startsWith(p)
      case None => lit(false)
    }

    // Narrow local snapshot: (id, version, hidden) only — column
    // pruning to the scan, mirrors the reference's narrow SELECT.
    val localSnap = local.select(
      localId.as("__local_id"),
      col("version").cast("long").as("__local_version"),
      hidden.as("__local_hidden"),
      strippedFlag.as("__local_stripped"))

    val joined = source.join(
      localSnap,
      source(Records.IdCol) === localSnap("__local_id"),
      "full_outer")

    // ONE pass discriminates every row; skip flags suppress their
    // branch (DbalTarget.php:69,75-77). Hidden rows are neither
    // removed nor added — they simply stay
    // (ContentRepositoryTarget.php:95-107).
    val addType =
      if (opts.skipAddedRecords) lit(null) else lit("add")
    val removeType =
      if (opts.skipRemovedRecords) lit(null) else lit("remove")
    val changeType =
      when(col("__local_id").isNull, addType)
        .when(source(Records.IdCol).isNotNull &&
          updateNeeded(source(Records.VersionCol), col("__local_version"),
            opts.forceUpdates), lit("update"))
        .when(source(Records.IdCol).isNull && !col("__local_hidden"),
          removeType)

    val stamped = joined
      .withColumn("__change", changeType)
      .withColumn("__change_id",
        coalesce(source(Records.IdCol), col("__local_id")))
    val changes =
      if (opts.keepUnchanged) stamped
      else stamped.filter(col("__change").isNotNull)

    val srcCols = source.columns.map(source(_))
    ChangeSet(
      added = changes.filter(col("__change") === "add").select(srcCols: _*),
      updated = changes.filter(col("__change") === "update").select(srcCols: _*),
      removedIds = changes.filter(col("__change") === "remove")
        .select(col("__change_id").as("id")),
      changes = changes)
  }

  /** D1 — id-set difference (DataIds::diff, DataIds.php:52-55):
    * ids present in `left` but not in `right`. Left-anti join — no
    * full shuffle of attributes, ids only. */
  def idDiff(left: DataFrame, right: DataFrame): DataFrame =
    left.select(col(left.columns.head).cast("string").as("id"))
      .join(
        right.select(col(right.columns.head).cast("string").as("id")),
        Seq("id"), "left_anti")
}
