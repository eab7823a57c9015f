package graft.util

import graft.SparkSpec

/** The bucket-partitioned index layout under the generation-pointer
  * commit: orphaned gen dirs are never served; segment/tombstone
  * refreshes equal a rebuild; in-flight readers survive a refresh. */
class BucketedSwapIndexSpec extends SparkSpec {
  import spark.implicits._

  test("an orphaned gen dir (crashed first stage) is NOT legacy data: " +
      "the root is unbuilt; a later commit supersedes the orphan") {
    val root = tmpDir("bsi-orphan") + "/idx"
    Fs.mkdirs(s"$root/gen-00000000")
    Fs.touch(s"$root/gen-00000000/garbage")
    assert(BucketedSwapIndex.resolve(root) === None)
    // a successful build lands PAST the orphan and prunes it
    BucketedSwapIndex.stageAndSwap(root,
      Seq((7L, 70L)).toDF("fp", "payload"), $"fp", 4)
    assert(BucketedSwapIndex.resolve(root).get.endsWith("gen-00000001"))
    assert(BucketedSwapIndex.read(spark, root).count() === 1L)
  }

  test("refreshAndSwap: delta segment + tombstone state equals a " +
      "full rebuild (drop, re-add, add all exact); previous segments " +
      "carry as hard links; compaction bounds the segment count") {
    def rows(ids: Seq[Long], v: Long) =
      ids.map(i => (s"m$i", (i * 7) % 16, v))
        .toDF("media_id", "fp", "payload")
    val root = tmpDir("bsi-delta") + "/idx"
    BucketedSwapIndex.stageAndSwap(root, rows(1L to 20L, 0L), $"fp", 4)
    // drop m3 + m4, RE-ADD m3 with payload 1, add m21 — in one refresh
    BucketedSwapIndex.refreshAndSwap(root, rows(Seq(3L, 21L), 1L),
      Seq("m3", "m4").toDF("id"), $"fp", 4)
    val live = BucketedSwapIndex.read(spark, root)
      .select($"media_id", $"payload")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = ((1L to 20L).filterNot(i => i == 3 || i == 4)
      .map(i => (s"m$i", 0L)) ++ Seq(("m3", 1L), ("m21", 1L))).toSet
    assert(live === want)
    // previous segment files are hard links; the delta segment is new
    import scala.jdk.CollectionConverters._
    val cur = BucketedSwapIndex.resolve(root).get
    val links = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$cur/table"))
      .iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => java.nio.file.Files.getAttribute(p, "unix:nlink")
        .asInstanceOf[Number].intValue).toSeq
    assert(links.count(_ > 1) > 0, "no carried segments")
    assert(links.count(_ == 1) > 0, "no fresh delta segment")
    // many more refreshes cross the bound — compaction keeps the
    // segment count bounded and the live state exact
    val extra = GenIndex.MaxSegments + 2
    (1 to extra).foreach { i =>
      BucketedSwapIndex.refreshAndSwap(root,
        rows(Seq(100L + i), 2L), Seq.empty[String].toDF("id"),
        $"fp", 4)
    }
    val segsNow = GenIndex.segValues(
      s"${BucketedSwapIndex.resolve(root).get}/table")
    assert(segsNow.size <= GenIndex.MaxSegments,
      s"segment count unbounded: $segsNow")
    val ids2 = BucketedSwapIndex.read(spark, root)
      .select($"media_id").collect().map(_.getString(0)).toSet
    assert(ids2 === want.map(_._1) ++
      (1 to extra).map(i => s"m${100 + i}").toSet)
  }

  test("a reader holding the previous generation survives one " +
      "concurrent commit") {
    val root = tmpDir("bsi-reader") + "/idx"
    BucketedSwapIndex.stageAndSwap(root,
      Seq((1L, 10L)).toDF("fp", "payload"), $"fp", 4)
    val gen1 = BucketedSwapIndex.resolve(root).get
    val oldReader = spark.read.parquet(s"$gen1/table").select($"fp")
    BucketedSwapIndex.stageAndSwap(root,
      Seq((2L, 20L)).toDF("fp", "payload"), $"fp", 4)
    assert(oldReader.as[Long].collect().toSet === Set(1L))
    assert(BucketedSwapIndex.read(spark, root)
      .select($"fp").as[Long].collect().toSet === Set(2L))
  }
}
