package graft.util

/**
 * Generation-pointer commit — the one commit protocol of every
 * persisted index and snapshot sink ([[graft.ext.VectorIndex]],
 * [[graft.ext.DedupIndex]], [[graft.ext.TrainedQuality]],
 * [[graft.ext.RagStore]], [[BucketedSwapIndex]],
 * [[graft.targets.NodeTarget]], [[graft.targets.Scd2Target]]): each
 * build/refresh/sync writes a FRESH immutable generation directory
 * `root/gen-<n>/` and then flips a tiny `root/CURRENT` pointer file
 * (tmp + rename — one small-object op) to it. Readers resolve the
 * pointer per query and plan against an immutable dir, so:
 *
 *  - no rename of bulk data ever happens — on S3-like stores a
 *    commit is O(pointer), not O(index bytes);
 *  - a reader that resolved the OLD generation keeps a consistent
 *    view through a concurrent commit (its dir is immutable and is
 *    retained until the commit after next) — serving never blocks
 *    on, or fails across, a refresh;
 *  - crash anywhere is safe without a recovery step: an interrupted
 *    stage leaves an orphaned (never-referenced) generation that the
 *    next successful commit's cleanup removes; the pointer flip
 *    itself is a single atomic rename (local/HDFS) or single-object
 *    PUT-copy (S3) of ~20 bytes.
 *
 * Cleanup policy: after flipping to generation M, every generation
 * dir except M and the immediately-previous CURRENT is deleted —
 * exactly the in-flight-reader generation survives, and orphans from
 * crashed stages go with the old history. Single-writer (one import/
 * build run owns the root), like every sink in this library.
 *
 * Serving guidance — the TWO-REFRESH reader limit: retention is
 * exactly {new, previous}, so a reader may cache a resolved
 * generation dir across AT MOST ONE subsequent commit. A server that
 * pins a dir across two refreshes finds it deleted; re-resolve the
 * pointer per query (the [[graft.ext.VectorIndex.probe]]
 * discipline) or at least once per refresh interval.
 */
object GenSwap {

  private val PointerName = "CURRENT"
  private val GenPrefix = "gen-"

  private def pointerPath(root: String) = s"$root/$PointerName"

  private def ordinalOf(name: String): Option[Long] =
    if (name.startsWith(GenPrefix))
      name.stripPrefix(GenPrefix).toLongOption
    else None

  /** Committed generation NAME (e.g. "gen-00000002"), if any.
    *
    * A missing pointer is NOT always "no generation": on stores
    * without an AbstractFileSystem binding (the s3a default) the flip
    * is delete+rename, so a committed root transiently has no pointer
    * — exactly one small-object op wide, with `CURRENT.tmp` present
    * throughout (created before the delete, removed only by the
    * rename). Silently answering None there would serve EMPTY results
    * mid-commit on the very store this layout targets, so the cases
    * are distinguished:
    *  - pointer present → that generation;
    *  - pointer and tmp both absent → genuinely uncommitted root
    *    (empty, or a stage crashed before its first commit) → None;
    *  - pointer absent, tmp present → a commit is in flight: retry
    *    through the window (bounded ~1 s), then fail LOUDLY — a
    *    still-missing pointer means the writer died mid-flip; recover
    *    by re-running the build or renaming CURRENT.tmp to CURRENT. */
  def currentGen(root: String): Option[String] = {
    val p = Fs.path(pointerPath(root))
    val tmp = p.suffix(".tmp")
    val fs = Fs.fsOf(p)
    def readPointer(): Option[String] =
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim finally in.close()
        if (s.nonEmpty) Some(s) else None
      }
    var got = readPointer()
    var attempts = 0
    while (got.isEmpty && fs.exists(tmp) && attempts < 50) {
      Thread.sleep(20)
      got = readPointer()
      attempts += 1
    }
    if (got.nonEmpty) got
    // tmp probed AFTER the last pointer read: a flip completing
    // between the two probes leaves the pointer present above, never
    // a false "mid-flip" verdict here
    else if (fs.exists(tmp))
      throw new IllegalStateException(
        s"generation pointer missing at $root but CURRENT.tmp is " +
          "present — a commit died mid-flip on a non-atomic pointer " +
          "store; re-run the build or rename CURRENT.tmp to CURRENT")
    else None
  }

  /** Committed generation DIRECTORY (the path readers plan against). */
  def currentDir(root: String): Option[String] =
    currentGen(root).map(g => s"$root/$g")

  /** Path for the NEXT generation dir (not created): one past the
    * highest ordinal present on disk — committed, previous, or
    * orphaned-by-crash alike — so a re-run after a failed stage never
    * writes into a half-written dir. */
  def nextDir(root: String): String = {
    val maxSeen = Fs.list(root)
      .flatMap(st => ordinalOf(st.getPath.getName)).maxOption
      .getOrElse(-1L)
    f"$root/$GenPrefix${maxSeen + 1}%08d"
  }

  /** Flip the pointer to `genDir` (must be fully staged), then prune
    * every generation except the new one and the one that was CURRENT
    * until this flip. */
  def commit(root: String, genDir: String): Unit = {
    val genName = Fs.path(genDir).getName
    require(ordinalOf(genName).nonEmpty,
      s"not a generation dir: $genDir")
    val prev = currentGen(root)
    val p = Fs.path(pointerPath(root))
    val fs = Fs.fsOf(p)
    val tmp = p.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(genName.getBytes("UTF-8")) finally out.close()
    // Readers resolve the pointer PER QUERY, so the flip must never
    // leave a no-pointer window: prefer the atomic-overwrite rename
    // (FileContext — local/HDFS), fall back to delete+rename on
    // stores without an AbstractFileSystem binding (the window is
    // then one small-object op wide, and a reader hitting it resolves
    // the previous pointer state as "no generation", never a torn one).
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri, Fs.conf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new java.io.IOException(
            s"pointer rename failed: $tmp -> $p")
    }
    // prune: everything but {new, previous} — removes older committed
    // generations AND orphans from crashed stages, idempotently
    Fs.list(root).foreach { st =>
      val name = st.getPath.getName
      if (ordinalOf(name).nonEmpty && name != genName &&
          !prev.contains(name))
        Fs.deleteRec(st.getPath)
    }
  }
}
