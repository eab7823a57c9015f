package graft.pipeline

import graft.core.{ChangeSet, Diff, DiffOptions, Records}
import graft.mapper.Mapper
import graft.sources.{DataSource, ValidationResult}
import graft.targets.{ApplyResult, DataTarget}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 13 lifecycle events (reference: Classes/ImportService.php:17-31). */
object ImportEvent extends Enumeration {
  val Error, PreComputeChanges, PreImportData,
      PreAddData, DoAddData, PostAddData,
      PreUpdateData, DoUpdateData, PostUpdateData,
      PreRemoveData, DoRemoveData, PostRemoveData,
      Finalize = Value
}

/**
 * Preset — the configured pipeline (reference: Classes/Preset.php:19-52,
 * Classes/Factory/PresetFactory.php:86-92). Wires a source through an
 * optional dataProcessor and a declarative mapper into a target.
 *
 * `dataProcessor` is the reference's arbitrary records→records hook
 * (Preset.php:44-50) — in Spark it is simply `DataFrame => DataFrame`
 * (Dataset.transform), running AFTER keying and BEFORE the diff.
 */
final case class Preset(
    source: DataSource,
    target: DataTarget,
    mapper: Mapper,
    idAttribute: String,
    versionAttribute: Option[String] = None,
    dataProcessor: Option[DataFrame => DataFrame] = None,
    skipAddedRecords: Boolean = false,
    skipRemovedRecords: Boolean = false,
    diffOptions: DiffOptions = DiffOptions(),
    /** Per-preset `${...}` helpers as (name, params, sqlBody) — the
      * reference's custom Eel helpers configured in settings
      * (EelEvaluator.php:23-26); registered on the session at load. */
    helpers: Seq[(String, String, String)] = Nil) {

  /** Extract + key + transform (reference Preset::load, Preset.php:41-52). */
  def load(spark: SparkSession): DataFrame = {
    helpers.foreach { case (name, params, body) =>
      graft.mapper.Helpers.register(spark, name, params, body)
    }
    val raw = source.load(spark)
    val keyed = Records.keyRecords(raw, idAttribute, versionAttribute,
      source.orderColumn)
    dataProcessor match {
      // a processor may rewrite ids (DataRecordsTest.php:48-57) —
      // re-dedup afterwards to restore the keyed-map invariant
      case Some(f) => Records.dedupLastWins(f(keyed), source.orderColumn)
      case None => keyed
    }
  }

  def computeDataChanges(
      spark: SparkSession, data: DataFrame, force: Boolean): ChangeSet =
    Diff.computeDataChanges(data, target.currentState(spark),
      diffOptions.copy(
        forceUpdates = force,
        skipAddedRecords = skipAddedRecords,
        skipRemovedRecords = skipRemovedRecords))
}

final class ImportServiceException(msg: String) extends RuntimeException(msg)

/**
 * Orchestration (reference: Classes/ImportService.php:71-107):
 * load → preComputeChanges → diff → add → update → remove →
 * finalize, with the event surface around each phase. The
 * reference's skip-flag guards (ImportService.php:77-82) have no
 * counterpart: the diff receives the flags and never emits a skipped
 * branch ([[Preset.computeDataChanges]]).
 *
 * Phase ORDER is preserved (add→update→remove); per-record order
 * within a phase is relaxed — a distributed engine has no insertion
 * order (documented divergence, SURVEY §1.5.3).
 */
final class ImportService(preset: Preset) {

  private var listeners: List[(ImportEvent.Value, Any) => Unit] = Nil

  /** `on`/`dispatch` (ImportService.php:44-55). */
  def on(f: (ImportEvent.Value, Any) => Unit): ImportService = {
    listeners = f :: listeners; this
  }
  private def dispatch(e: ImportEvent.Value, payload: Any = ()): Unit =
    listeners.foreach(_(e, payload))

  /** The main path (ImportService.php:71-88). */
  def importData(spark: SparkSession, forceUpdates: Boolean = false): ApplyResult = {
    val data = preset.load(spark)
    dispatch(ImportEvent.PreComputeChanges, data)
    val changeSet = preset.computeDataChanges(spark, data, forceUpdates)
    dispatch(ImportEvent.PreImportData, changeSet)

    // The target owns phase sequencing, so it dispatches the nine
    // phase events (Pre/Do/Post × add/update/remove) in reference
    // order; a connection-class failure inside a phase propagates as
    // the reference's abort-the-import Exception
    // (ImportService.php:144-149).
    val result =
      try preset.target.applyChanges(spark, changeSet, preset.mapper, dispatch)
      catch {
        case e: ImportServiceException => throw e
        case scala.util.control.NonFatal(e) =>
          throw new ImportServiceException(
            s"Exception while importing data: ${e.getMessage}")
      }
    // per-record failures continue the run and surface on the error
    // event with the failing id + message (ImportService.php:144-146)
    result.errorSamples.foreach { case (id, msg) =>
      dispatch(ImportEvent.Error,
        s"""Error while importing record "$id": $msg""")
    }
    if (result.errors > result.errorSamples.size)
      dispatch(ImportEvent.Error,
        s"${result.errors - result.errorSamples.size} further record errors")
    preset.target.finalizeRun(spark)
    dispatch(ImportEvent.Finalize, result)
    result
  }

  /** Prune (ImportService.php:96-107). */
  def removeAllData(spark: SparkSession): Long = {
    if (preset.skipAddedRecords || preset.skipRemovedRecords)
      throw new ImportServiceException(
        "This preset is configured to skip added/removed records, so no " +
          "local records must be removed.")
    try preset.target.removeAll(spark)
    catch {
      case e: Exception =>
        throw new ImportServiceException(
          s"Exception while removing all local records: ${e.getMessage}")
    }
  }

  /** Setup/validate (ImportService.php:57-63). */
  def setup(spark: SparkSession): ValidationResult =
    preset.source.setup(spark).merge(preset.target.setup(spark))
}
