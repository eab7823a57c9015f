package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Testdata table reader. Driver generations have stored `events.ts`
 * two ways, both normalized here to a session-TZ TimestampType so
 * every downstream operator sees ONE type:
 *  - parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects it;
 *    sessions set `spark.sql.legacy.parquet.nanosAsLong=true` and the
 *    resulting long (nanoseconds) converts back to a TimestampType at
 *    microsecond precision (the data is micro-precise — the
 *    sub-microsecond part is zero, verified);
 *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark infers
 *    TIMESTAMP_NTZ, which time functions (`unix_micros`, watermarks)
 *    reject; the cast to TimestampType is value-preserving because
 *    sessions pin `spark.sql.session.timeZone=UTC` (the same naive-
 *    as-UTC convention DuckDB applies reading the file).
 */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.name == "ts" && f.dataType == LongType)
        acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else if (f.name == "ts" && f.dataType == TimestampNTZType)
        acc.withColumn("ts", col("ts").cast(TimestampType))
      else acc
    }
  }

  /**
   * Spread a narrow scan across all cores before CPU-heavy narrow
   * transforms (shingling, hashing, embedding math). A single parquet
   * file with one row group plans as ONE input partition regardless of
   * `maxPartitionBytes` — row groups are the split unit — so without
   * this the per-document work runs on 1 of N cores. At production
   * scale inputs already carry ≥ parallelism partitions and this is a
   * no-op; the shuffle only ever moves data that fit in one partition.
   */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Session defaults shared by Verify / Bench / tests.
    *
    * `shuffle.partitions` matches the core count — the gate-SF
    * posture. AQE's initial partition number, the parquet codec and
    * the shuffled-hash-join local-map threshold are Spark's own
    * defaults (initial = `shuffle.partitions`, snappy, 0 —
    * PipelineSpec pins them). A
    * deployment sets them through the standard `spark.sql.*`
    * settings: at 100× scale a fixed 32-way sort of a 60M-row join
    * output OOMs at the default heap (the r17 q_pagerank smoke), so a
    * wider `coalescePartitions.initialPartitionNum` is the knob sized
    * per SF.
    *
    * `fs.file.impl` is [[NioLocalFileSystem]]: `file://` paths resolve
    * to a `LocalFileSystem` that sets permissions through `java.nio`
    * instead of forking `chmod` per created file and dir. The session's
    * Hadoop conf carries it to the [[Fs]] calls and the
    * task-side writes alike; other schemes are untouched. */
  def session(appName: String, cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl",
        classOf[NioLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    s
  }
}
