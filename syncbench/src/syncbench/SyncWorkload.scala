package syncbench

import graft.pipeline.{ImportService, Preset, PresetConfig, PresetFactory}
import graft.targets.ApplyResult
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Per-round change mix, as numbers of records. */
final case class Churn(adds: Int, updates: Int, removes: Int, dups: Int,
    rejectAdds: Int, rejectUpdates: Int)

/** Expected outcome of one sync, computed by diffing the generator's
  * source model against its model of the committed target. */
final case class Expected(added: Long, updated: Long, removed: Long,
    rejected: Set[String])

/**
 * The generator's model of the sync workloads: which ids the source holds
 * at which version, which of them carry a too-wide (rejected) name, and
 * what the target must hold after each sync. Records themselves are
 * recomputed from (seed, id, version) by [[Gen.record]].
 */
final class SyncModel(seed: Long, initial: Int, churn: Churn) {
  private var cap = initial * 2
  private var srcVer = new Array[Int](cap)
  private var tblVer = new Array[Int](cap)
  private var wide = new Array[Boolean](cap)
  private var dup = new Array[Boolean](cap)
  var nextId = initial
  (0 until initial).foreach(i => srcVer(i) = 1)

  private def grow(): Unit = {
    cap *= 2
    srcVer = java.util.Arrays.copyOf(srcVer, cap)
    tblVer = java.util.Arrays.copyOf(tblVer, cap)
    wide = java.util.Arrays.copyOf(wide, cap)
    dup = java.util.Arrays.copyOf(dup, cap)
  }

  /** Plant round `r`'s delta into the source model: last round's rejects
    * come back fixed (a version bump with a valid name), then removals,
    * version-bumped updates, new ids, duplicate ids and new rejects. */
  def plan(r: Int): Unit = {
    val rnd = Gen.rng(seed, 0x10000L + r)
    (0 until nextId).foreach { i =>
      if (wide(i)) { wide(i) = false; srcVer(i) += 1 }
      dup(i) = false
    }
    val touched = mutable.HashSet.empty[Int]
    def pick(): Int = {
      var i = rnd.nextInt(nextId)
      while (srcVer(i) == 0 || touched(i)) i = rnd.nextInt(nextId)
      touched += i
      i
    }
    (0 until churn.removes).foreach(_ => srcVer(pick()) = 0)
    val updated = (0 until churn.updates).map { _ =>
      val i = pick(); srcVer(i) += 1; i
    }
    val added = (0 until churn.adds).map { _ =>
      if (nextId == cap) grow()
      val i = nextId; nextId += 1; srcVer(i) = 1; touched += i; i
    }
    (0 until churn.dups).foreach(_ => dup(pick()) = true)
    added.take(churn.rejectAdds).foreach(wide(_) = true)
    updated.take(churn.rejectUpdates).foreach(wide(_) = true)
  }

  def expected(): Expected = {
    var a, u, rm = 0L
    val rej = Set.newBuilder[String]
    (0 until nextId).foreach { i =>
      val s = srcVer(i); val t = tblVer(i)
      if (s > 0 && t == 0) { a += 1; if (wide(i)) rej += Gen.idStr(i) }
      else if (s > t && t > 0) { u += 1; if (wide(i)) rej += Gen.idStr(i) }
      else if (s == 0 && t > 0) rm += 1
    }
    Expected(a, u, rm, rej.result())
  }

  /** Apply the source model to the target model; rejects do not land. */
  def commit(): Unit = (0 until nextId).foreach { i =>
    if (!wide(i)) tblVer(i) = srcVer(i)
  }

  def liveRows: Long = (0 until nextId).count(tblVer(_) > 0).toLong
  def versionSum: Long = (0 until nextId).map(tblVer(_).toLong).sum

  /** Order-independent fingerprint (rows, sum of row hashes) of the
    * committed target as the generator expects it, mapping applied here. */
  def fingerprint(): (Long, Long) = {
    var n = 0L; var h = 0L
    (0 until nextId).foreach { i =>
      if (tblVer(i) > 0) {
        n += 1
        h += Gen.hash64(Gen.mappedLine(Gen.record(seed, i, tblVer(i), false)))
      }
    }
    (n, h)
  }

  /** Write the source model as parquet. Rows are generated on the
    * executors in id order, one file per slice; a duplicate id is written
    * as a stale row (the next version's values) directly before the live
    * row, in the same file, so "last occurrence wins" is well defined. */
  def writeSource(spark: SparkSession, path: String, slices: Int): Unit = {
    val sc = spark.sparkContext
    val n = nextId
    val b = sc.broadcast((java.util.Arrays.copyOf(srcVer, n),
      java.util.Arrays.copyOf(wide, n), java.util.Arrays.copyOf(dup, n)))
    val sd = seed
    def row(r: Gen.Rec) = Row(r.id, r.version, r.name, r.amount, r.qty, r.flag)
    val rows = sc.parallelize(0 until slices, slices).flatMap { s =>
      val (v, w, d) = b.value
      val lo = (s.toLong * n / slices).toInt
      val hi = ((s + 1).toLong * n / slices).toInt
      (lo until hi).iterator.flatMap { i =>
        if (v(i) == 0) Iterator.empty
        else {
          val live = row(Gen.record(sd, i, v(i), w(i)))
          if (d(i)) Iterator(row(Gen.record(sd, i, v(i) + 1, false)), live)
          else Iterator.single(live)
        }
      }
    }
    spark.createDataFrame(rows, SyncModel.SourceSchema)
      .write.mode("overwrite").parquet(path)
    b.destroy()
  }
}

object SyncModel {
  val SourceSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("name", StringType), StructField("amount", DoubleType),
    StructField("qty", IntegerType), StructField("flag", BooleanType)))

  /** The preset's mapper: renames and `${...}` expressions. */
  val Mapping: Seq[(String, String)] = Seq(
    "id" -> "id", "version" -> "version", "title" -> "name",
    "amount_cents" -> "${CAST(round(record.amount * 100) AS BIGINT)}",
    "qty" -> "qty", "label" -> "${upper(substr(record.name, 1, 8))}",
    "active" -> "flag")

  val MappedColumns: Seq[String] =
    Seq("id", "version", "title", "amount_cents", "qty", "label", "active")

  def line(r: Row): String =
    MappedColumns.indices.map(i => String.valueOf(r.get(i))).mkString("|")
}

/**
 * `file_sync` and `jdbc_sync`: `ImportService.importData` on a preset
 * built by `PresetFactory` from a parquet `FileSource` into the default
 * flat `FileTarget` or a `JdbcTarget` over embedded Derby.
 *
 * A round is `sync` (the round's delta), `noop` (the same source again)
 * and [[ReadsPerRound]] × `read` (the target's `currentState` snapshot,
 * aggregated to a row count and version sum).
 */
final class SyncWorkload(spark: SparkSession, h: Harness,
    rec: Option[Recorder], seed: Long, work: String, cpus: Int,
    jdbc: Boolean) extends Workload {

  // Sizes: see syncbench/README.md (input make-up).
  private val rows = if (jdbc) 10000 else 50000
  private val churn =
    if (jdbc) Churn(adds = 250, updates = 2500, removes = 250, dups = 10,
      rejectAdds = 4, rejectUpdates = 4)
    else Churn(adds = 250, updates = 500, removes = 250, dups = 20,
      rejectAdds = 0, rejectUpdates = 0)
  /** The state read is short, so a round samples it several times; a
    * `jdbc_sync` read takes under 0.1 s, so it is sampled twice as often. */
  private val ReadsPerRound = if (jdbc) 6 else 3

  private val model = new SyncModel(seed, rows, churn)
  private val srcPath = s"$work/source.parquet"
  private val derbyDb = s"$work/derby-db"
  private def url(counting: Boolean) =
    (if (counting) CountingDriver.Prefix else "jdbc:derby:") + derbyDb

  private def targetName(i: Int): String = if (jdbc) s"ITEMS$i" else s"$work/state$i"
  private val twinName = if (jdbc) "ITEMS_TWIN" else s"$work/state_twin"
  private var mainName = ""
  private var main: Preset = _
  private var service: ImportService = _
  private var twin: Preset = _

  private def preset(target: String): Preset = {
    val targetConf: Map[String, Any] =
      if (jdbc) Map("type" -> "jdbc", "options" ->
        Map("url" -> url(rec.isDefined), "table" -> target))
      else Map("type" -> "file", "options" -> Map("path" -> target))
    PresetFactory.create(Map("bench" -> PresetConfig(
      source = Map("type" -> "file", "options" -> Map("filePath" -> srcPath)),
      target = targetConf, mapping = SyncModel.Mapping,
      idAttribute = "id", versionAttribute = Some("version"))), "bench")
  }

  private def newService(p: Preset): ImportService = {
    val s = new ImportService(p)
    rec.foreach(r => s.on((e, _) => r.event(e.toString)))
    s
  }

  private def sql(stmts: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url(false))
    try stmts.foreach(s => c.createStatement().execute(s)) finally c.close()
  }

  private def createTable(t: String): Unit =
    sql(s"CREATE TABLE $t (id VARCHAR(16) NOT NULL PRIMARY KEY, " +
      "version BIGINT, title VARCHAR(64), amount_cents BIGINT, qty INT, " +
      "label VARCHAR(8), active BOOLEAN)")

  override def prepare(): Unit = {
    if (jdbc) {
      CountingDriver.register()
      val c = java.sql.DriverManager.getConnection(url(false) + ";create=true")
      c.close()
    }
    model.writeSource(spark, srcPath, cpus)
  }

  private def check(what: String, r: ApplyResult, e: Expected): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    if ((r.added, r.updated, r.removed) != ((e.added, e.updated, e.removed)))
      errs += s"$what: (added, updated, removed) = " +
        s"${(r.added, r.updated, r.removed)}, planted ${(e.added, e.updated, e.removed)}"
    if (r.errors != e.rejected.size)
      errs += s"$what: ${r.errors} record errors, planted ${e.rejected.size}"
    val stray = r.errorSamples.map(_._1).filterNot(e.rejected)
    if (stray.nonEmpty) errs += s"$what: error samples for unplanted ids $stray"
    if (e.rejected.nonEmpty && r.errorSamples.isEmpty)
      errs += s"$what: record errors without samples"
    errs.toSeq
  }

  /** Initial full import into a fresh, empty target. */
  override def initialLoad(i: Int): Unit = {
    val name = targetName(i)
    if (jdbc) createTable(name)
    val p = preset(name)
    val e = model.expected()
    h.op("initial_import", counted = false)(newService(p).importData(spark))(
      check("initial import", _, e))
    if (mainName.nonEmpty) dropTarget(mainName)
    mainName = name; main = p; service = newService(p)
  }

  private def dropTarget(name: String): Unit =
    if (jdbc) sql(s"DROP TABLE $name") else Harness.deleteRec(name)

  override def twinLoad(): Unit = {
    if (jdbc) createTable(twinName)
    twin = preset(twinName)
    val e = model.expected()
    h.op("initial_import", counted = false)(newService(twin).importData(spark))(
      check("twin import", _, e))
  }

  override def afterLoads(): Unit = model.commit()

  /** While the JIT compiles the sync and read paths, every operation
    * gets faster from round to round: on `jdbc_sync` a sync takes ~1.2 s
    * in the first round and levels off at ~0.75 s after about eight, a
    * state read ~0.12 s and ~0.08 s. A `jdbc_sync` round is short, so
    * three rounds of warm-up fit; `file_sync` rounds take twice as long
    * and get one. */
  override def warmupRounds: Int = if (jdbc) 3 else 1

  private def readState(p: Preset): (Long, Long) = {
    val r = p.target.currentState(spark)
      .agg(count(col("id")), sum(col("version"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  override def round(r: Int): Unit = {
    model.plan(r)
    model.writeSource(spark, srcPath, cpus)
    for (kind <- Seq("sync", "noop")) {
      val e = model.expected()
      rec match {
        case None =>
          h.op(kind, counted = true)(service.importData(spark))(check(kind, _, e))
        case Some(tr) =>
          val s = tr.span(s"$kind.importData") { s =>
            h.op(kind, counted = true)(service.importData(spark))(check(kind, _, e))
            s
          }
          Workload.recordOp(h, tr, kind, s, cpus)
          decomposed(tr, kind, e, s.wallS)
      }
      model.commit()
    }
    val want = (model.liveRows, model.versionSum)
    def readCheck(got: (Long, Long)) =
      if (got == want) Nil else Seq(s"state (rows, version sum) $got, expected $want")
    (0 until ReadsPerRound).foreach { _ =>
      rec match {
        case None => h.op("read", counted = true)(readState(main))(readCheck)
        case Some(tr) =>
          val s = tr.span("read.currentState") { s =>
            h.op("read", counted = true)(readState(main))(readCheck)
            s
          }
          h.layerValue("read.targets.state_read_s", s.wallS)
          Workload.recordOp(h, tr, "read", s, cpus)
      }
    }
  }

  /** The same sync on the twin target, one public call per layer, each
    * forced (cached and counted) so its cost stays in its own span. */
  private def decomposed(tr: Recorder, kind: String, e: Expected,
      opWallS: Double): Unit = {
    val p = twin
    tr.span(s"$kind.decomposed") { _ =>
      val core = new CoreLayers(tr, spark, p.source, p.idAttribute,
        p.versionAttribute, p.target.currentState(spark).select("id", "version"))
      val sMap = tr.span("mapper.applyKeepingKeys", side = true) { s =>
        p.mapper.applyKeepingKeys(core.csp.added.unionByName(core.csp.updated))
          .write.format("noop").mode("overwrite").save()
        s
      }
      val storage = if (jdbc) s"$derbyDb/seg0" else twinName
      val before = Harness.inodes(storage)
      val (res, sApply) = tr.span("targets.applyChanges") { s =>
        (p.target.applyChanges(spark, core.csp, p.mapper), s)
      }
      val after = Harness.inodes(storage)
      h.op(s"$kind.decomposed", counted = true)(res)(
        check(s"$kind (decomposed)", _, e))
      val written =
        if (jdbc) sApply.jdbc("statements").toDouble
        else tr.sparkOf(sApply).recordsWritten.toDouble
      core.record(h, kind, sApply, written, before, after, opWallS)
      def v(n: String, x: Double): Unit = h.layerValue(s"$kind.$n", x)
      v("mapper.project_s", sMap.wallS)
      if (jdbc) {
        Seq("statements", "batches", "rollbacks", "rows_reexecuted",
          "connections").foreach(c =>
          v(s"targets.JdbcTarget.$c", sApply.jdbc(c).toDouble))
        v("targets.JdbcTarget.record_errors", res.errors.toDouble)
      } else v("util.files_linked", (after.keySet & before.keySet).size.toDouble)
    }
  }

  override def stateBytesPerRow(): Double = {
    val bytes =
      if (jdbc) {
        val c = java.sql.DriverManager.getConnection(url(false))
        try {
          val rs = c.createStatement().executeQuery(
            "SELECT SUM(NUMALLOCATEDPAGES * PAGESIZE) FROM TABLE " +
              s"(SYSCS_DIAG.SPACE_TABLE('APP', '$mainName')) T")
          rs.next(); rs.getLong(1).toDouble
        } finally c.close()
      } else Harness.inodes(mainName).values.sum.toDouble
    bytes / model.liveRows
  }

  /** The committed target, read without the engine (plain Spark for the
    * parquet state, plain JDBC for the table), must fingerprint exactly
    * like the generator's expected records. */
  override def verify(): Seq[String] = {
    val got: (Long, Long) =
      if (jdbc) {
        val c = java.sql.DriverManager.getConnection(url(false))
        try {
          val rs = c.createStatement().executeQuery(
            s"SELECT ${SyncModel.MappedColumns.mkString(", ")} FROM $mainName")
          var n = 0L; var hs = 0L
          while (rs.next()) {
            n += 1
            hs += Gen.hash64((1 to 7).map(i => String.valueOf(rs.getObject(i)))
              .mkString("|"))
          }
          (n, hs)
        } finally c.close()
      } else {
        spark.read.parquet(mainName).select(SyncModel.MappedColumns.map(col): _*)
          .rdd.map(r => (1L, Gen.hash64(SyncModel.line(r))))
          .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      }
    val want = model.fingerprint()
    if (got == want) Nil
    else Seq(s"state fingerprint (rows, hash sum) $got, expected $want")
  }

  override def close(): Unit =
    if (jdbc) try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () }
}
