package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}

/**
 * Storage access for the persisted-state layer (the generation roots
 * of [[GenSwap]], FileTarget's in-place swap): every probe, walk,
 * delete and copy goes through the Hadoop `FileSystem` API resolved
 * from the path's own scheme, so the state dirs work unchanged on
 * `file://` (the test/sandbox layout) and on HDFS-like stores,
 * instead of hard-wiring `java.io.File`. Paths without a scheme
 * resolve against the active session's default filesystem — exactly
 * how `spark.read.parquet(path)` resolves the same string, so the
 * probe and the read always agree on a store.
 */
object Fs {

  /** Active session's Hadoop conf when one exists (carries
    * `fs.defaultFS` plus any object-store credentials the deployment
    * set); a vanilla local conf otherwise (driver tools, early CLI). */
  def conf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def path(s: String): Path = new Path(s)

  def fsOf(p: Path): FileSystem = p.getFileSystem(conf)

  def exists(p: Path): Boolean = fsOf(p).exists(p)
  def exists(s: String): Boolean = exists(path(s))

  def isDir(s: String): Boolean = {
    val p = path(s)
    val fs = fsOf(p)
    fs.exists(p) && fs.getFileStatus(p).isDirectory
  }

  /** Children of `dir`, empty when the dir is missing (the
    * `Option(listFiles())` idiom — Hadoop throws on a missing path). */
  def list(p: Path): Seq[FileStatus] = {
    val fs = fsOf(p)
    if (fs.exists(p)) fs.listStatus(p).toSeq else Seq.empty
  }
  def list(s: String): Seq[FileStatus] = list(path(s))

  /** True iff a Spark write under `dir` produced schema-bearing data:
    * a `part-` file (non-empty when `requireBytes`), or — for
    * `partitionBy` layouts when `acceptDirs` — a partition
    * subdirectory. The degenerate-(zero-row)-write detector shared by
    * the swap sinks: a coalesce/partitionBy write of an empty frame
    * can leave NO data file, making the next `spark.read.parquet`
    * throw, so writers probe and rewrite from an explicit empty frame. */
  def hasData(dir: String, acceptDirs: Boolean,
      requireBytes: Boolean = false): Boolean =
    list(dir).exists(st =>
      (acceptDirs && st.isDirectory) ||
        (st.getPath.getName.startsWith("part-") &&
          (!requireBytes || st.getLen > 0)))

  /** Stable content fingerprint of a dir's immediate children
    * ((name, size, mtime) triples) — the serving-side model-cache key
    * in [[graft.ext.VectorIndex]]: any commit that rewrites the dir
    * changes the fingerprint, so caches miss and re-read. */
  def fingerprint(dir: String): String =
    list(dir)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|").hashCode.toHexString

  def mkdirs(s: String): Unit = { fsOf(path(s)).mkdirs(path(s)); () }

  def deleteRec(p: Path): Unit = {
    val fs = fsOf(p)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
  def deleteRec(s: String): Unit = deleteRec(path(s))

  /** Recursive driver-side copy (bounded metadata dirs only — e.g.
    * carrying an unchanged model table into a new generation without a
    * Spark re-write job). Replicates the CONTENTS of `src` at `dst`
    * (cp -r src/. dst), overwriting existing files — not Hadoop
    * `FileUtil.copy`'s cp-into-dir behavior. */
  def copyRec(src: Path, dst: Path): Unit = {
    val sfs = fsOf(src)
    val dfs = fsOf(dst)
    if (sfs.getFileStatus(src).isDirectory) {
      dfs.mkdirs(dst)
      sfs.listStatus(src).foreach { st =>
        copyRec(st.getPath, new Path(dst, st.getPath.getName))
      }
    } else {
      FileUtil.copy(sfs, src, dfs, dst,
        /* deleteSource = */ false, /* overwrite = */ true, conf)
      ()
    }
  }
  def copyRec(src: String, dst: String): Unit = copyRec(path(src), path(dst))

  private def isLocal(fs: FileSystem): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem => true
    case _: org.apache.hadoop.fs.RawLocalFileSystem => true
    case _ => false
  }

  /** Carry an immutable directory tree forward WITHOUT rewriting its
    * bytes where the store allows it: when both ends resolve to a
    * local filesystem, every file is HARD-LINKED — O(metadata) per
    * file, zero new bytes on disk, and the link survives deletion of
    * the source dir — and every directory is created through
    * `java.nio` (Hadoop's local `mkdirs` forks a `chmod` process per
    * directory when the native library is absent). Elsewhere falls
    * back to [[copyRec]]: on object stores that is a per-object copy —
    * no executor re-encode, but O(bytes) through the copier. The
    * delta-narrowed index refreshes ([[GenIndex.carrySegs]]) use this
    * to carry untouched segment dirs into a new generation. */
  def linkOrCopyRec(src: Path, dst: Path): Unit = {
    val sfs = fsOf(src)
    val dfs = fsOf(dst)
    if (!(isLocal(sfs) && isLocal(dfs))) { copyRec(src, dst); return }
    def walk(s: Path, d: Path): Unit = {
      val dNio = java.nio.file.Paths.get(d.toUri.getPath)
      if (sfs.getFileStatus(s).isDirectory) {
        java.nio.file.Files.createDirectories(dNio)
        sfs.listStatus(s).foreach(st =>
          walk(st.getPath, new Path(d, st.getPath.getName)))
      } else {
        val sNio = java.nio.file.Paths.get(s.toUri.getPath)
        java.nio.file.Files.deleteIfExists(dNio)
        try { java.nio.file.Files.createLink(dNio, sNio); () }
        catch {
          // cross-device / no-hardlink filesystems: fall back per file
          case _: UnsupportedOperationException |
              _: java.nio.file.FileSystemException =>
            FileUtil.copy(sfs, s, dfs, d,
              /* deleteSource = */ false, /* overwrite = */ true, conf)
            ()
        }
      }
    }
    walk(src, dst)
  }
  def linkOrCopyRec(src: String, dst: String): Unit =
    linkOrCopyRec(path(src), path(dst))

  /** Create an empty marker file (the SCD2 apply-ledger entry). */
  def touch(s: String): Unit = {
    val p = path(s)
    fsOf(p).create(p, false).close()
  }
}
