package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session; suites are
  * lazy so the first toucher pays the startup).
  *
  * Core count: the r18 driver `sbt test` run was killed at the wall
  * budget mid-suite with every completed test green — the suite had
  * outgrown the budget on a 4-core session while the host has 32
  * cores. Measured: MORE session cores make the suite SLOWER (the
  * all-206-query sweeps are fixed-overhead bound — shuffle.partitions
  * = cpus, so a 16-core session runs 4× the tasks of a 4-core one on
  * near-empty data; a 16-core trial read ~1.6 s/test vs ~1.0 at 4).
  * The wall win comes from running SUITES concurrently instead
  * (build.sbt `testForkedParallel` — planning and janino codegen,
  * the real per-test cost, parallelize across driver threads).
  * Results are core-count-independent by the engine's determinism
  * contract (fixed-point arithmetic, total orders); suites that read
  * the partition count read it from the session conf, not a literal.
  * Overridable for experiments. */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Tables.session(
    "graft-test", sys.env.getOrElse("GRAFT_TEST_CPUS", "4"))
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Every path under `root` (relative) with its millisecond mtime —
    * equal before and after a call iff the call wrote nothing there. */
  def treeMtimes(root: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val r = java.nio.file.Paths.get(root)
    val walk = java.nio.file.Files.walk(r)
    try walk.iterator().asScala.map(p => r.relativize(p).toString ->
      java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    finally walk.close()
  }
}
