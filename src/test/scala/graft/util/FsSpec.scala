package graft.util

import graft.SparkSpec

/** The Hadoop-`FileSystem` helpers every persisted root shares:
  * contents-copy semantics, the hard-link carry, and the
  * degenerate-write detector. */
class FsSpec extends SparkSpec {
  import spark.implicits._

  test("copyRec replicates CONTENTS at dst (not cp-into-dir) and " +
      "overwrites existing files") {
    val root = tmpDir("swap-copy")
    val src = s"$root/src"
    val dst = s"$root/dst"
    Fs.mkdirs(s"$src/sub")
    Fs.touch(s"$src/a.txt")
    Fs.touch(s"$src/sub/b.txt")
    Fs.mkdirs(dst) // dst EXISTS: java.nio semantics merge into it
    Fs.touch(s"$dst/c.txt")
    Fs.copyRec(src, dst)
    assert(Fs.exists(s"$dst/a.txt"))
    assert(Fs.exists(s"$dst/sub/b.txt")) // contents, not dst/src/sub
    assert(Fs.exists(s"$dst/c.txt")) // merge keeps unrelated files
    assert(!Fs.exists(s"$dst/src"))
    Fs.copyRec(src, dst) // overwrite path: second copy is a no-op
    assert(Fs.exists(s"$dst/a.txt"))
  }

  test("linkOrCopyRec over a nested tree creates every directory and " +
      "hard-links every file to its source's inode") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("fs-link")
    val src = Paths.get(s"$root/src")
    val dst = Paths.get(s"$root/dst")
    Files.createDirectories(src.resolve("a/b/c"))
    Files.createDirectories(src.resolve("empty"))
    Seq("top.txt", "a/x.txt", "a/b/y.txt", "a/b/c/z.txt")
      .foreach(f => Files.writeString(src.resolve(f), f))
    Fs.linkOrCopyRec(src.toString, dst.toString)
    def tree(d: Path): Set[Path] =
      Files.walk(d).iterator().asScala.map(d.relativize).toSet
    assert(tree(dst) === tree(src))
    tree(src).foreach { r =>
      val (s, d) = (src.resolve(r), dst.resolve(r))
      if (Files.isDirectory(s))
        assert(Files.isDirectory(d), s"$r is not a directory")
      else
        assert(Files.getAttribute(s, "unix:ino") ===
          Files.getAttribute(d, "unix:ino"), s"$r is not a hard link")
    }
  }

  test("Fs.hasData distinguishes real data files from empty/degenerate " +
      "writes; fingerprint changes when a dir's contents change") {
    val root = tmpDir("fs-hasdata")
    val d = s"$root/out"
    assert(!Fs.hasData(d, acceptDirs = true)) // missing dir
    Seq(("a", 1)).toDF("id", "v").repartition(1)
      .write.parquet(d)
    assert(Fs.hasData(d, acceptDirs = false, requireBytes = true))
    val fp1 = Fs.fingerprint(d)
    Seq(("a", 1), ("b", 2)).toDF("id", "v").repartition(1)
      .write.mode("overwrite").parquet(d)
    assert(Fs.fingerprint(d) !== fp1)
    // partitionBy layout: data lives in subdirs — acceptDirs sees it
    val pd = s"$root/part"
    Seq(("a", 1)).toDF("id", "bucket")
      .write.partitionBy("bucket").parquet(pd)
    assert(Fs.hasData(pd, acceptDirs = true))
    assert(!Fs.hasData(pd, acceptDirs = false, requireBytes = true))
  }
}
