package graft.pipeline

import graft.core.DiffOptions
import graft.mapper.Mapper
import graft.sources._
import graft.targets._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * OptionsSchema — typed option validation for connector configs
 * (reference: Classes/OptionsSchema.php:21-108): required/optional
 * typed options, unknown-option rejection.
 */
final case class OptionsSchema(
    required: Map[String, String] = Map.empty,
    optional: Map[String, String] = Map.empty) {

  def requires(name: String, tpe: String): OptionsSchema =
    copy(required = required + (name -> tpe))
  def has(name: String, tpe: String): OptionsSchema =
    copy(optional = optional + (name -> tpe))

  /** Coerce string option values to the schema-declared type — the
    * presets-file parser and `--override-*-options` CLI path always
    * produce strings ('8', 'true'), while the reference receives
    * typed YAML; without coercion every such option would fail the
    * type check below. Unparseable strings pass through and fail
    * validation with the proper message. */
  def coerced(options: Map[String, Any]): Map[String, Any] =
    options.map { case (k, v) =>
      k -> (((required.get(k) orElse optional.get(k)), v) match {
        case (Some("integer"), s: String) =>
          s.trim.toLongOption.map(l => l: Any).getOrElse(v)
        case (Some("boolean"), s: String) => s.trim.toLowerCase match {
          case "true" => true
          case "false" => false
          case _ => v
        }
        case _ => v
      })
    }

  /** Validate; returns error strings (empty = valid), mirroring
    * OptionsSchema::validate (OptionsSchema.php:45-106). */
  def validate(options: Map[String, Any]): Seq[String] = {
    val known = required.keySet ++ optional.keySet
    val unknown = options.keySet.diff(known)
      .map(k => s"Unknown option '$k'")
    val missing = required.keySet.diff(options.keySet)
      .map(k => s"Missing required option '$k'")
    val badType = options.flatMap { case (k, v) =>
      (required.get(k) orElse optional.get(k)).flatMap { tpe =>
        val ok = tpe match {
          case "string" => v.isInstanceOf[String]
          case "boolean" => v.isInstanceOf[Boolean]
          case "integer" => v.isInstanceOf[Int] || v.isInstanceOf[Long]
          case "array" => v.isInstanceOf[Map[_, _]] || v.isInstanceOf[Seq[_]]
          case _ => true
        }
        if (ok) None
        else Some(s"Option '$k' must be of type $tpe")
      }
    }
    (unknown ++ missing ++ badType).toSeq.sorted
  }
}

/**
 * Preset configuration — the declarative layer (reference:
 * Settings.yaml presets + PresetFactory). A `template` reference
 * merges recursively with the preset's own config overriding
 * (ImportServiceFactory.php:55-68); CLI JSON overrides merge on top
 * (PresetFactory.php:41-44,76-79).
 */
final case class PresetConfig(
    template: Option[String] = None,
    source: Map[String, Any] = Map.empty,
    target: Map[String, Any] = Map.empty,
    mapping: Seq[(String, String)] = Nil,
    /** (name, params, sqlBody) helper functions for `${...}` rules. */
    helpers: Seq[(String, String, String)] = Nil,
    /** Transform hook by NAME — a registered processor or a
      * `ClassName::methodName` reference (Preset.php:44-50); resolved
      * by [[Processors.resolve]] at preset build. */
    dataProcessor: Option[String] = None,
    /** Options handed to the configured processor (the reference
      * passes the preset's options array). */
    processorOptions: Map[String, Any] = Map.empty,
    idAttribute: String = "id",
    versionAttribute: Option[String] = None,
    skipAddedRecords: Boolean = false,
    skipRemovedRecords: Boolean = false)

object PresetFactory {

  val sourceSchemas: Map[String, OptionsSchema] = Map(
    // FileSourceFactory.php:17-21
    "file" -> OptionsSchema().requires("filePath", "string")
      .has("format", "string"),
    // HttpSourceFactory.php:26-33
    "http" -> OptionsSchema().requires("endpoint", "string")
      .has("headers", "array"),
    // DbalSourceFactory schema
    "jdbc" -> OptionsSchema().requires("url", "string")
      .requires("table", "string").has("partitionColumn", "string")
      .has("numPartitions", "integer"))

  val targetSchemas: Map[String, OptionsSchema] = Map(
    "file" -> OptionsSchema().requires("path", "string"),
    "jdbc" -> OptionsSchema().requires("url", "string")
      .requires("table", "string").has("batchSize", "integer"),
    "node" -> OptionsSchema().requires("path", "string")
      .has("idPrefix", "string").has("softDelete", "boolean")
      .has("rootPath", "string"))

  /** Recursive merge-overrule: `over` wins, maps merge deep
    * (ImportServiceFactory.php:61-66 Arrays::arrayMergeRecursiveOverrule). */
  def mergeOverrule(base: Map[String, Any], over: Map[String, Any]): Map[String, Any] =
    (base.keySet ++ over.keySet).map { k =>
      k -> ((base.get(k), over.get(k)) match {
        case (Some(b: Map[String @unchecked, Any @unchecked]),
              Some(o: Map[String @unchecked, Any @unchecked])) =>
          mergeOverrule(b, o)
        case (_, Some(o)) => o
        case (Some(b), None) => b
        case _ => throw new IllegalStateException("unreachable")
      })
    }.toMap

  final case class ConfigException(msg: String) extends RuntimeException(msg)

  private def buildSource(conf: Map[String, Any]): DataSource = {
    val tpe = conf.getOrElse("type", "file").toString
    val schemaOpt = sourceSchemas.get(tpe)
    val rawOptions = conf.getOrElse("options", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]]
    val options = schemaOpt.map(_.coerced(rawOptions)).getOrElse(rawOptions)
    val errors = schemaOpt match {
      case Some(schema) => schema.validate(options)
      case None => Seq(s"Unknown source type '$tpe'")
    }
    if (errors.nonEmpty)
      throw ConfigException(s"Invalid source options: ${errors.mkString("; ")}")
    tpe match {
      case "file" => FileSource(options("filePath").toString,
        options.get("format").map(_.toString))
      case "http" => HttpSource(options("endpoint").toString,
        options.getOrElse("headers", Map.empty[String, Any])
          .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString })
      case "jdbc" => JdbcSource(options("url").toString,
        options("table").toString,
        partitionColumn = options.get("partitionColumn").map(_.toString),
        numPartitions = options.get("numPartitions")
          .map(_.toString.toInt).getOrElse(8))
    }
  }

  private def buildTarget(conf: Map[String, Any]): DataTarget = {
    val tpe = conf.getOrElse("type", "file").toString
    val schemaOpt = targetSchemas.get(tpe)
    val rawOptions = conf.getOrElse("options", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]]
    val options = schemaOpt.map(_.coerced(rawOptions)).getOrElse(rawOptions)
    val errors = schemaOpt match {
      case Some(schema) => schema.validate(options)
      case None => Seq(s"Unknown target type '$tpe'")
    }
    if (errors.nonEmpty)
      throw ConfigException(s"Invalid target options: ${errors.mkString("; ")}")
    tpe match {
      case "file" => FileTarget(options("path").toString)
      case "jdbc" => JdbcTarget(options("url").toString,
        options("table").toString,
        batchSize = options.get("batchSize").map(_.toString.toInt)
          .getOrElse(1000))
      case "node" => NodeTarget(options("path").toString,
        idPrefix = options.getOrElse("idPrefix", "").toString,
        softDelete = options.get("softDelete").exists(_ == true),
        rootPath = options.getOrElse("rootPath", "/sites").toString)
    }
  }

  /**
   * Assemble a Preset from config with template inheritance and
   * optional CLI-style overrides (PresetFactory.php:27-93).
   *
   * @param presets        all named preset configs (for templates)
   * @param overrideSource JSON-ish option overrides merged into the
   *                       source options (ImportCommandController.php:45)
   * @param fixturePath    swap the source for a local file fixture
   *                       (S6, ImportServiceFactory.php:36-48)
   */
  def create(
      presets: Map[String, PresetConfig],
      name: String,
      overrideSource: Map[String, Any] = Map.empty,
      overrideTarget: Map[String, Any] = Map.empty,
      fixturePath: Option[String] = None): Preset = {
    val raw = presets.getOrElse(name,
      throw ConfigException(s"Preset '$name' is not configured"))
    // template inheritance (recursive merge-overrule)
    val resolved = raw.template match {
      case Some(t) =>
        val base = presets.getOrElse(t,
          throw ConfigException(s"Preset template '$t' is not configured"))
        raw.copy(
          source = mergeOverrule(base.source, raw.source),
          target = mergeOverrule(base.target, raw.target),
          mapping = if (raw.mapping.nonEmpty) raw.mapping else base.mapping,
          helpers = if (raw.helpers.nonEmpty) raw.helpers else base.helpers,
          dataProcessor = raw.dataProcessor.orElse(base.dataProcessor),
          // a child that switches to a DIFFERENT processor must not
          // inherit the template's options for the old one (stray
          // options silently change e.g. which column gets scrubbed)
          processorOptions =
            if (raw.dataProcessor.exists(d => !base.dataProcessor.contains(d)))
              raw.processorOptions
            else mergeOverrule(base.processorOptions, raw.processorOptions))
      case None => raw
    }
    val sourceConf = mergeOverrule(resolved.source,
      if (overrideSource.isEmpty) Map.empty
      else Map("options" -> overrideSource))
    val targetConf = mergeOverrule(resolved.target,
      if (overrideTarget.isEmpty) Map.empty
      else Map("options" -> overrideTarget))

    val source = fixturePath match {
      case Some(p) => FileSource(p) // S6 fixture override
      case None => buildSource(sourceConf)
    }
    val target = buildTarget(targetConf)
    val diffOpts = target match {
      case n: NodeTarget => n.diffOptions
      case _ => DiffOptions()
    }
    // resolve at BUILD time so a bad spec (unknown name, missing
    // class, wrong method shape, instance method) fails the preset
    // load; option VALUES surface on first use with a typed
    // ConfigException from the processor itself
    val processor = resolved.dataProcessor.map(Processors.resolve).map {
      p => (df: DataFrame) => p(df, resolved.processorOptions)
    }
    Preset(source, target, Mapper(resolved.mapping),
      helpers = resolved.helpers,
      dataProcessor = processor,
      idAttribute = resolved.idAttribute,
      versionAttribute = resolved.versionAttribute,
      skipAddedRecords = resolved.skipAddedRecords,
      skipRemovedRecords = resolved.skipRemovedRecords,
      diffOptions = diffOpts)
  }
}
