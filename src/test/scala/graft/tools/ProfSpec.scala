package graft.tools

import graft.SparkSpec

class ProfSpec extends SparkSpec {

  test("Prof's collector charges each timed action exactly its own " +
      "jobs and shuffle records, read straight after the action") {
    val collector = new Prof.Collector(spark)
    val reps = (1 to 2).map { _ =>
      val (_, rows, c) = Prof.measure(collector) {
        spark.range(1000).repartition(4).collect()
      }
      assert(rows.length === 1000)
      c
    }
    reps.foreach { c =>
      assert(c.shuffleRecordsWritten === 1000L, c)
      assert(c.shuffleRecordsRead === 1000L, c)
      assert(c.shuffleWriteBytes > 0L && c.shuffleReadBytes > 0L, c)
      assert(c.jobs >= 1, c)
    }
    // rep 2 starts from zero: nothing of rep 1 is carried over
    assert(reps(1) === reps(0).copy(cpuS = reps(1).cpuS), reps)
  }
}
