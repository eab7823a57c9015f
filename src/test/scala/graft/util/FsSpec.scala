package graft.util

import graft.SparkSpec

/** The Hadoop-`FileSystem` helpers every persisted root shares:
  * contents-copy semantics, the hard-link carry, the
  * degenerate-write detector, and the session's fork-free local
  * filesystem. */
class FsSpec extends SparkSpec {
  import spark.implicits._
  import java.nio.file.{Files, Paths}
  import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import scala.jdk.CollectionConverters._

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Hadoop's stock checksummed local filesystem — the one whose
    * `setPermission` forks `chmod` without the native library. */
  private def stockLocal(): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    fs
  }

  /** Every `chmod` process started while `body` runs (JFR
    * `jdk.ProcessStart`). */
  private def chmodsDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("fs-procs", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
        .filter(_.split(" ").headOption.exists(_.endsWith("chmod")))
    } finally { rec.close(); Files.deleteIfExists(out); () }
  }

  test("a Tables.session resolves file paths to NioLocalFileSystem, on " +
      "the Fs calls, FileSystem.getLocal and the task-side conf") {
    val dir = tmpDir("fs-impl")
    assert(Fs.fsOf(Fs.path(dir)).isInstanceOf[NioLocalFileSystem])
    assert(Fs.fsOf(Fs.path(s"file://$dir")).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
    assert(new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
      .isInstanceOf[NioLocalFileSystem])
    // the session's own conf names it (Hadoop caches one `file://`
    // instance per JVM, so the lookups above alone cannot tell)
    assert(spark.sessionState.newHadoopConf().get("fs.file.impl") ===
      classOf[NioLocalFileSystem].getName)
  }

  test("files and dirs from a parquet write, Fs.mkdirs and " +
      "GenSwap.commit carry the umask's permissions, the bits the stock " +
      "local filesystem sets, with no chmod process") {
    val conf = spark.sparkContext.hadoopConfiguration
    val umask = FsPermission.getUMask(conf)
    val fileBits = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirBits = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    // the stock class sets exactly these bits
    val stockRoot = tmpDir("fs-stock")
    val stock = stockLocal()
    stock.mkdirs(new Path(s"$stockRoot/d"))
    stock.create(new Path(s"$stockRoot/d/f")).close()
    assert(mode(Paths.get(s"$stockRoot/d")) === dirBits)
    assert(mode(Paths.get(s"$stockRoot/d/f")) === fileBits)

    val root = tmpDir("fs-perms")
    val chmods = chmodsDuring {
      Seq((1, "a"), (2, "b")).toDF("v", "k")
        .write.partitionBy("k").parquet(s"$root/parquet")
      Fs.mkdirs(s"$root/made/a/b")
      val idx = s"$root/idx"
      val gen = GenSwap.nextDir(idx)
      Seq(1).toDF("v").write.parquet(s"$gen/t")
      GenSwap.commit(idx, gen)
    }
    assert(chmods.isEmpty, chmods.take(3))
    val entries = Files.walk(Paths.get(root)).iterator().asScala.toSeq
      .filter(_ != Paths.get(root))
    assert(entries.exists(_.getFileName.toString == "CURRENT"))
    assert(entries.exists(_.getFileName.toString.startsWith("part-")))
    entries.foreach { e =>
      val want = if (Files.isDirectory(e)) dirBits else fileBits
      assert(mode(e) === want, s"$e: ${mode(e).toOctalString}")
    }
  }

  test("NioLocalFileSystem.setPermission sets the stock class's bits; " +
      "modes with sticky/setgid bits take the stock path") {
    val root = tmpDir("fs-setperm")
    val ours = Fs.fsOf(Fs.path(root))
    val stock = stockLocal()
    // a control: the stock class really forks chmod, so JFR sees it
    val control = new Path(s"$root/control")
    stock.create(control).close()
    assert(chmodsDuring(stock.setPermission(control,
      new FsPermission(Integer.parseInt("640", 8).toShort))).nonEmpty)
    Seq("600", "640", "700", "750", "755", "777", "1777", "2750")
      .foreach { m =>
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        Seq(true, false).foreach { dir =>
          val (a, b) = (new Path(s"$root/ours-$m-$dir"),
            new Path(s"$root/stock-$m-$dir"))
          Seq(a, b).foreach(p =>
            if (dir) Files.createDirectory(Paths.get(p.toUri.getPath))
            else Files.createFile(Paths.get(p.toUri.getPath)))
          ours.setPermission(a, perm)
          stock.setPermission(b, perm)
          assert(mode(Paths.get(a.toUri.getPath)) ===
            mode(Paths.get(b.toUri.getPath)), s"mode $m, dir $dir")
        }
      }
    // chmod keeps a directory's setgid bit under a plain 0755
    val perm = new FsPermission(Integer.parseInt("755", 8).toShort)
    val sgid = new FsPermission(Integer.parseInt("2755", 8).toShort)
    val (a, b) = (new Path(s"$root/ours-sgid"), new Path(s"$root/stock-sgid"))
    Seq(a, b).foreach { p =>
      Files.createDirectory(Paths.get(p.toUri.getPath))
      stock.setPermission(p, sgid)
    }
    ours.setPermission(a, perm)
    stock.setPermission(b, perm)
    assert(mode(Paths.get(a.toUri.getPath)) ===
      mode(Paths.get(b.toUri.getPath)))
  }

  test("a DedupIndex build and refresh start no chmod process") {
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon id$i")).toDF("doc_id", "text")
    val root = tmpDir("fs-dedup") + "/idx"
    val chmods = chmodsDuring {
      graft.ext.DedupIndex.build(spark, docs(1 to 20), root)
      graft.ext.DedupIndex.refresh(spark, root, docs(21 to 24),
        Seq(3L, 4L).toDF("id"))
    }
    assert(chmods.isEmpty, s"${chmods.size} chmods: ${chmods.take(3)}")
    assert(GenSwap.currentGen(root).contains("gen-00000001"))
  }

  test("a DedupIndex delta refresh carries every segment file with its " +
      ".crc sibling, both hard links of the previous generation's") {
    def docs(ids: Range) = ids.map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon id$i")).toDF("doc_id", "text")
    val root = tmpDir("fs-crc") + "/idx"
    graft.ext.DedupIndex.build(spark, docs(1 to 40), root)
    val prev = GenSwap.currentDir(root).get
    graft.ext.DedupIndex.refresh(spark, root, docs(41 to 44),
      Seq(3L).toDF("id"))
    val cur = GenSwap.currentDir(root).get
    assert(cur !== prev)
    def ino(p: java.nio.file.Path) = Files.getAttribute(p, "unix:ino")
    Seq("bands", "shingles").foreach { t =>
      val (seg, was) =
        (Paths.get(s"$cur/$t/seg=0"), Paths.get(s"$prev/$t/seg=0"))
      val data = Files.walk(seg).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(data.nonEmpty, t)
      data.foreach { f =>
        val crc = f.resolveSibling(s".${f.getFileName}.crc")
        assert(Files.exists(crc), s"${seg.relativize(crc)} not carried")
        Seq(f, crc).foreach(p => assert(
          ino(p) === ino(was.resolve(seg.relativize(p))),
          s"${seg.relativize(p)} is not a hard link"))
      }
    }
  }

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
    assert(!Fs.hasData(d)) // missing dir
    Seq(("a", 1)).toDF("id", "v").repartition(1)
      .write.parquet(d)
    assert(Fs.hasData(d, requireBytes = true))
    val fp1 = Fs.fingerprint(d)
    Seq(("a", 1), ("b", 2)).toDF("id", "v").repartition(1)
      .write.mode("overwrite").parquet(d)
    assert(Fs.fingerprint(d) !== fp1)
  }
}
