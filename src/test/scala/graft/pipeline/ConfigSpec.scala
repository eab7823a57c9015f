package graft.pipeline

import graft.SparkSpec
import graft.sources.FileSource
import graft.targets.FileTarget

/** Reflection targets for the `ClassName::methodName` dataProcessor
  * contract (Preset.php:44-50). */
object TestProcs {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  def tag(df: DataFrame, options: Map[String, Any]): DataFrame =
    df.withColumn("tag", lit(options.getOrElse("marker", "?").toString))
  def passThrough(df: DataFrame): DataFrame = df
  def notAProcessor(df: DataFrame): String = df.toString
}

/** Instance-method reflection target — the reference's actual shape
  * (`[new $className, $methodName]`, Preset.php:45). */
class InstanceProcs {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  def stamp(df: DataFrame): DataFrame =
    df.withColumn("stamped", lit(true))
}

/** Instance method but no public no-arg ctor ⇒ build-time failure. */
class NoCtorProcs private (ignored: Int) {
  import org.apache.spark.sql.DataFrame
  def m(df: DataFrame): DataFrame = df
}

/** Options schema + preset templates/overrides (C5/C6). */
class ConfigSpec extends SparkSpec {

  test("options schema: required/unknown/type checks (OptionsSchema.php:45-106)") {
    val schema = OptionsSchema()
      .requires("filePath", "string").has("format", "string")
    assert(schema.validate(Map("filePath" -> "/x.json")).isEmpty)
    assert(schema.validate(Map.empty)
      === Seq("Missing required option 'filePath'"))
    assert(schema.validate(Map("filePath" -> "/x", "bogus" -> 1))
      === Seq("Unknown option 'bogus'"))
    assert(schema.validate(Map("filePath" -> 42))
      === Seq("Option 'filePath' must be of type string"))
  }

  private val presets = Map(
    "base" -> PresetConfig(
      source = Map("type" -> "file",
        "options" -> Map("filePath" -> "/tmp/base.json")),
      target = Map("type" -> "file", "options" -> Map("path" -> "/tmp/t")),
      mapping = Seq("id" -> "id"),
      versionAttribute = Some("version")),
    "child" -> PresetConfig(
      template = Some("base"),
      source = Map("options" -> Map("filePath" -> "/tmp/child.json"))))

  test("template inheritance merges recursively, child wins " +
      "(ImportServiceFactory.php:55-68)") {
    val p = PresetFactory.create(presets, "child")
    assert(p.source.asInstanceOf[FileSource].path === "/tmp/child.json")
    assert(p.target.asInstanceOf[FileTarget].path === "/tmp/t")
    assert(p.mapper.rules === Seq("id" -> "id"))
  }

  test("CLI overrides merge into source options (PresetFactory.php:41-44)") {
    val p = PresetFactory.create(presets, "base",
      overrideSource = Map("filePath" -> "/tmp/override.json"))
    assert(p.source.asInstanceOf[FileSource].path === "/tmp/override.json")
  }

  test("fixture path swaps the source (S6, ImportServiceFactory.php:36-48)") {
    val p = PresetFactory.create(presets, "base",
      fixturePath = Some("/tmp/fixture.json"))
    assert(p.source.asInstanceOf[FileSource].path === "/tmp/fixture.json")
  }

  test("per-preset helpers flow from config into ${...} rules " +
      "(custom Eel helpers, EelEvaluator.php:23-26)") {
    import graft.pipeline.{ImportService, Preset}
    import graft.sources.InlineSource
    import graft.targets.FileTarget
    // factory threads helpers through (incl. template inheritance)
    val p = PresetFactory.create(Map(
      "base" -> PresetConfig(
        source = Map("type" -> "file",
          "options" -> Map("filePath" -> "/tmp/x.json")),
        target = Map("type" -> "file", "options" -> Map("path" -> "/t")),
        helpers = Seq(("cents2", "x DOUBLE",
          "CAST(floor(x * 100) AS BIGINT)"))),
      "child" -> PresetConfig(template = Some("base"))), "child")
    assert(p.helpers.map(_._1) === Seq("cents2"))
    // and load() registers them so mapping rules can call them
    val dir = java.nio.file.Files.createTempDirectory("cfg-helpers").toString
    val preset = Preset(
      InlineSource(s => { import s.implicits._
        Seq(("a", 1L, 1.239)).toDF("id", "version", "price") }),
      FileTarget(s"$dir/target"),
      graft.mapper.Mapper(Seq("c" -> "${cents2(record.price)}")),
      idAttribute = "id", versionAttribute = Some("version"),
      helpers = Seq(("cents2", "x DOUBLE", "CAST(floor(x * 100) AS BIGINT)")))
    new ImportService(preset).importData(spark)
    assert(spark.read.parquet(s"$dir/target")
      .select("c").head().getLong(0) === 123L)
  }

  test("string option values coerce to the schema-declared type " +
      "(presets file / CLI overrides always produce strings)") {
    val p = Map("p" -> PresetConfig(
      source = Map("type" -> "jdbc", "options" -> Map(
        "url" -> "jdbc:derby:memory:cfg", "table" -> "t",
        "numPartitions" -> "8")),
      target = Map("type" -> "node", "options" -> Map(
        "path" -> "/tmp/nodes", "softDelete" -> "true"))))
    val preset = PresetFactory.create(p, "p")
    assert(preset.source.asInstanceOf[graft.sources.JdbcSource]
      .numPartitions === 8)
    assert(preset.target.asInstanceOf[graft.targets.NodeTarget].softDelete)
    val pj = PresetFactory.create(Map("j" -> PresetConfig(
      source = Map("type" -> "file",
        "options" -> Map("filePath" -> "/tmp/x.json")),
      target = Map("type" -> "jdbc", "options" -> Map(
        "url" -> "jdbc:derby:memory:cfg", "table" -> "t",
        "batchSize" -> "16")))), "j")
    assert(pj.target.asInstanceOf[graft.targets.JdbcTarget].batchSize === 16)
    // a file target takes only its path
    val pt = intercept[PresetFactory.ConfigException] {
      PresetFactory.create(Map("f" -> PresetConfig(
        source = Map("type" -> "file",
          "options" -> Map("filePath" -> "/tmp/x.json")),
        target = Map("type" -> "file", "options" -> Map(
          "path" -> "/tmp/t2", "partitions" -> "16")))), "f")
    }
    assert(pt.getMessage.contains("Unknown option 'partitions'"))
    // unparseable strings still fail validation with the type message
    val bad = Map("p" -> PresetConfig(
      source = Map("type" -> "jdbc", "options" -> Map(
        "url" -> "u", "table" -> "t", "numPartitions" -> "lots")),
      target = Map("type" -> "file", "options" -> Map("path" -> "/t"))))
    val e = intercept[PresetFactory.ConfigException] {
      PresetFactory.create(bad, "p")
    }
    assert(e.getMessage.contains("'numPartitions' must be of type integer"))
  }

  test("unknown preset / bad options raise ConfigException") {
    intercept[PresetFactory.ConfigException] {
      PresetFactory.create(presets, "nope")
    }
    val bad = Map("p" -> PresetConfig(
      source = Map("type" -> "file", "options" -> Map("bogus" -> "x")),
      target = Map("type" -> "file", "options" -> Map("path" -> "/t"))))
    val e = intercept[PresetFactory.ConfigException] {
      PresetFactory.create(bad, "p")
    }
    assert(e.getMessage.contains("Unknown option 'bogus'"))
    assert(e.getMessage.contains("Missing required option 'filePath'"))
  }

  test("cli preset file parsing + end-to-end run verb") {
    val dir = tmpDir("cli")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.json"),
      """[{"id": "a", "version": 1, "name": "ada"}]""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "presets.conf"),
      s"""demo.source.type = file
         |demo.source.options.filePath = $dir/data.json
         |demo.target.type = file
         |demo.target.options.path = $dir/out
         |demo.mapping.name = $${upper(record.name)}
         |demo.idAttribute = id
         |demo.versionAttribute = version
         |""".stripMargin)
    val presets = graft.cli.Main.parsePresetFile(s"$dir/presets.conf")
    assert(presets.contains("demo"))
    val preset = PresetFactory.create(presets, "demo")
    val r = new ImportService(preset).importData(spark)
    assert(r.added === 1)
    import spark.implicits._
    assert(spark.read.parquet(s"$dir/out").select("name").as[String]
      .head() === "ADA")
  }

  test("dataProcessor configured by NAME runs in the pipeline " +
      "(Preset.php:44-50): registry processor scrubs in place") {
    val dir = tmpDir("proc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.json"),
      """[{"id": "a", "version": 1,
        |  "text": "mail me at bob@example.org today"}]"""
        .stripMargin.replace("\n", ""))
    val presets = Map("p" -> PresetConfig(
      source = Map("type" -> "file",
        "options" -> Map("filePath" -> s"$dir/data.json")),
      target = Map("type" -> "file",
        "options" -> Map("path" -> s"$dir/out")),
      mapping = Seq("text" -> "text"),
      dataProcessor = Some("scrub_text"),
      versionAttribute = Some("version")))
    val r = new ImportService(PresetFactory.create(presets, "p"))
      .importData(spark)
    assert(r.added === 1)
    import spark.implicits._
    assert(spark.read.parquet(s"$dir/out").select("text").as[String]
      .head() === "mail me at <EMAIL> today")
  }

  test("dataProcessor as ClassName::methodName resolves via " +
      "reflection, receives the options map; bad specs fail at " +
      "preset build with the reference's error shape") {
    val tag = Processors.resolve("graft.pipeline.TestProcs::tag")
    import spark.implicits._
    val out = tag(Seq(("a", 1L)).toDF("id", "version"),
      Map("marker" -> "X"))
    assert(out.columns.contains("tag") &&
      out.select("tag").as[String].head() === "X")
    // one-arg form (no options) also resolves
    val noop = Processors.resolve("graft.pipeline.TestProcs::passThrough")
    assert(noop(Seq(("a", 1L)).toDF("id", "version"), Map.empty)
      .count() === 1)
    // unknown name, missing class, non-DataFrame return all fail fast
    intercept[PresetFactory.ConfigException] {
      Processors.resolve("no_such_processor")
    }
    intercept[PresetFactory.ConfigException] {
      Processors.resolve("graft.pipeline.NoSuchClass::m")
    }
    intercept[PresetFactory.ConfigException] {
      Processors.resolve("graft.pipeline.TestProcs::notAProcessor")
    }
  }

  test("dataProcessor instance method: class with a public no-arg " +
      "ctor is instantiated as the receiver (Preset.php:45); a class " +
      "without one fails at preset build") {
    import spark.implicits._
    val stamp = Processors.resolve("graft.pipeline.InstanceProcs::stamp")
    val out = stamp(Seq(("a", 1L)).toDF("id", "version"), Map.empty)
    assert(out.columns.contains("stamped"))
    val e = intercept[PresetFactory.ConfigException] {
      Processors.resolve("graft.pipeline.NoCtorProcs::m")
    }
    assert(e.getMessage.contains("no-arg constructor"))
  }

  test("CLI presets file: dataProcessor + dataProcessor.options keys " +
      "parse and flow into the run") {
    val dir = tmpDir("procfile")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "data.json"),
      """[{"id": "a", "version": 1, "text": "low"},
        | {"id": "b", "version": 1,
        |  "text": "the cat and the dog sat in it and a rug is here """
        .stripMargin.replace("\n", "") + ("word " * 100) + "\"}]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "presets.conf"),
      s"""p.source.type = file
         |p.source.options.filePath = $dir/data.json
         |p.target.type = file
         |p.target.options.path = $dir/out
         |p.mapping.text = text
         |p.dataProcessor = filter_quality
         |p.dataProcessor.options.minQuality = 0.5
         |p.versionAttribute = version
         |""".stripMargin)
    val presets = graft.cli.Main.parsePresetFile(s"$dir/presets.conf")
    assert(presets("p").dataProcessor === Some("filter_quality"))
    assert(presets("p").processorOptions === Map("minQuality" -> "0.5"))
    val r = new ImportService(PresetFactory.create(presets, "p"))
      .importData(spark)
    // the low-quality one-word doc is filtered before the diff
    assert(r.added === 1)
  }

  test("CLI k=v overrides: quoted values carry ',' and '=' " +
      "(JDBC URLs, HTTP headers)") {
    val kv = graft.cli.Main.parseKv(
      """url="jdbc:derby:memory:db;a=1,b=2",table=t,""" +
        """hdr='X-Key: a=b, c',empty=,flag""")
    assert(kv("url") === "jdbc:derby:memory:db;a=1,b=2")
    assert(kv("table") === "t")
    assert(kv("hdr") === "X-Key: a=b, c")
    assert(kv("empty") === "")
    assert(kv("flag") === "")
    // unquoted values keep the old fast path, incl. bare '=' in value
    assert(graft.cli.Main.parseKv("a=1,b=x=y") ===
      Map("a" -> "1", "b" -> "x=y"))
    // escaped quote inside a quoted value
    assert(graft.cli.Main.parseKv("""msg="he said \"hi\", twice"""")
      ("msg") === """he said "hi", twice""")
    // an INTERIOR apostrophe is data, not a quote opener — later
    // pairs must survive
    assert(graft.cli.Main.parseKv("name=O'Brien,x=1") ===
      Map("name" -> "O'Brien", "x" -> "1"))
    // unterminated quotes fail loudly instead of silently eating
    // the rest of the argument
    intercept[IllegalArgumentException] {
      graft.cli.Main.parseKv("a='oops,b=1")
    }
  }
}
