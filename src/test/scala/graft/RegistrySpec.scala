package graft

import scala.jdk.CollectionConverters._

/** Registry ↔ oracle contract: every query has an oracle and vice
  * versa (the driver's set-equality check), including the LAZY
  * data-parameterized tail (the trained-unigram oracle trains on
  * `Shared.verifySfDir` at dump time — exercised here against a
  * self-contained fixture corpus, no external testdata dependency). */
class RegistrySpec extends SparkSpec {
  import spark.implicits._

  test("queries and oracleSql cover exactly the same names, and the " +
      "lazy trained-unigram oracle materializes against the dump-time " +
      "corpus dir") {
    val dir = tmpDir("registry-fixture")
    Seq(
      (1L, "the quick brown fox"),
      (2L, "jumps over the lazy dog"),
      (3L, "pack my box with five dozen jugs"),
      (4L, "the lazy dog naps"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val prev = graft.registry.Shared.verifySfDir
    try {
      graft.registry.Shared.verifySfDir = dir
      val q = SparkEntry.queries.keySet
      val o = SparkEntry.oracleSql // materializes the lazy tail
      assert(q === o.keySet,
        s"orphan oracles: ${o.keySet -- q}; missing oracles: ${q -- o.keySet}")
      assert(o.values.forall(_.trim.nonEmpty))
      // the trained literals must reflect THIS corpus: the fixture's
      // dominant multi-codepoint piece ("the ") appears in the vocab
      // VALUES list
      val trained = o("q_unigram_encode_trained")
      assert(trained.contains("VALUES"))
      assert(trained.contains("('the'") || trained.contains("('laz'") ||
        trained.contains("('dog'"), "trained vocab literals missing")
    } finally graft.registry.Shared.verifySfDir = prev
  }

  /** Every main Scala source, read from the test cwd. */
  private def mainSources(): List[java.nio.file.Path] = {
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get("src/main/scala"))
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toList
      finally walk.close()
    assert(files.size > 50, "main sources not found from the test cwd")
    files
  }

  test("main code reads no environment variable outside the deployment " +
      "and Bench-budget allow-list") {
    val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_REPLAY_TIMEOUT_MS", "GRAFT_BENCH_WARMUP_BUDGET_S",
      "GRAFT_BENCH_ATTEMPT2_BUDGET_S", "GRAFT_BENCH_DEGRADE_BUDGET_S")
    val files = mainSources()
    val read = "(sys\\.env|System\\.getenv)".r
    val envName = "\"([A-Z][A-Z0-9]*_[A-Z0-9_]+)\"".r
    // in a file that reads the environment, every quoted env-style
    // name counts — also one passed through a helper (Bench's envSec)
    val offenders = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      if (read.findFirstIn(text).isEmpty) Nil
      else envName.findAllMatchIn(text).map(_.group(1))
        .filterNot(allowed).map(n => s"${f.getFileName}: $n").toList
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("every GenIndex family writes flat segments: no main source that " +
      "reads or carries segments also writes with partitionBy") {
    val segmented = "GenIndex\\.(carrySegs|readSegmented)".r
    // `.write`, any option/mode calls, then `.partitionBy(` — not the
    // window-spec `Window.partitionBy(`
    val dirWrite = "\\.write(\\s*\\.\\w+\\([^)]*\\))*\\s*\\.partitionBy\\(".r
    val offenders = mainSources().filter { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      segmented.findFirstIn(text).nonEmpty &&
        dirWrite.findFirstIn(text).nonEmpty
    }.map(_.getFileName.toString)
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
