package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expressions — the (b)-tier of the custom-operator
 * ladder (compose built-ins → custom Expression → custom plan):
 * used where built-in operators CAN express the semantics but only
 * via interpreted higher-order functions whose per-row lambda
 * overhead dominates (measured ~100µs/pair for zip_with/aggregate
 * cosine — see graft.ext.Similarity).
 */

/**
 * One-pass cosine similarity over two float-array columns: a single
 * codegen'd loop accumulating dot product and both norms — no
 * intermediate arrays, no lambda dispatch, stays inside whole-stage
 * codegen. Zero-magnitude vectors yield 0.0 (not NaN).
 */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  // manual type check (ExpectsInputTypes.inputTypes needs the
  // private[sql] AbstractDataType, unavailable outside org.apache.spark)
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<float> arguments, got " +
          s"${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName everywhere: fixed locals like `i` collide with
      // Spark's own generated variables in fused whole-stage code,
      // and janino's compile failure silently demotes the WHOLE
      // stage to interpreted mode
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      val den = ctx.freshName("den")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getFloat($i);
         |  double $yi = $b.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |double $den = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |${ev.value} = ($den == 0.0) ? 0.0 : $dot / $den;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/**
 * One-pass dot product over two numeric-array columns (float or
 * double element type on either side) — the ADC scoring kernel for
 * the PQ tier ([[graft.ext.Similarity.pqTopK]]): the interpreted
 * zip_with/aggregate form costs ~100µs+/pair and dominated the PQ
 * scan (measured 173 s for 250k pairs at sf0.1); this stays inside
 * whole-stage codegen like [[CosineSimilarity]].
 */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product requires array<float|double> arguments, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")

  private def isFloat(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val lf = isFloat(left.dataType); val rf = isFloat(right.dataType)
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      // element accessor picked at CODEGEN time from the child types
      val getX = if (isFloat(left.dataType)) "getFloat" else "getDouble"
      val getY = if (isFloat(right.dataType)) "getFloat" else "getDouble"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $a.$getX($i)) * ((double) $b.$getY($i));
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/**
 * `parse_version` — the reference's `DataVersion::parse` as a SQL
 * function (Classes/ValueObject/DataVersion.php:48-70): ints pass
 * through (negatives rejected to NULL), date strings / timestamps
 * become epoch seconds, anything else NULL. Resolves its behavior
 * from the child's data type at analysis time; interpreted
 * (CodegenFallback) — version parsing is never the hot path.
 */
case class ParseVersion(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "parse_version"
  override def nullable: Boolean = true

  private lazy val parser: Any => Any = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType =>
      v => {
        val l = v.asInstanceOf[Number].longValue()
        if (l >= 0) l else null
      }
    case FloatType | DoubleType =>
      v => {
        val d = v.asInstanceOf[Number].doubleValue()
        if (d >= 0) d.toLong else null
      }
    case TimestampType => v => v.asInstanceOf[Long] / 1000000L
    case DateType => v => v.asInstanceOf[Int].toLong * 86400L
    case StringType =>
      v => {
        val s = v.asInstanceOf[UTF8String].toString.trim
        if (s.matches("-?[0-9]+")) {
          val l = java.lang.Long.parseLong(s)
          if (l >= 0) l else null
        } else {
          try {
            java.time.OffsetDateTime.parse(s).toEpochSecond
          } catch {
            case _: Exception =>
              try {
                java.time.LocalDateTime
                  .parse(s.replace(' ', 'T'))
                  .toEpochSecond(java.time.ZoneOffset.UTC)
              } catch { case _: Exception => null }
          }
        }
      }
    case _ => _ => null
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else parser(v)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseVersion =
    copy(child = newChild)
}

/**
 * Intersection size of two SORTED, distinct string arrays via a
 * single merge pass — the verification kernel for set-similarity
 * joins (Jaccard over shingles; `graft.ext.Dedup.shingles` emits
 * sorted-distinct arrays). `array_intersect` builds a hash set per
 * CALL; at millions of candidate pairs the per-pair allocation
 * dominates verification. The merge is allocation-free and stays in
 * whole-stage codegen. Precondition: ascending binary-sorted, no
 * null elements (behavior undefined otherwise).
 */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sorted_intersect_size requires two array<string> arguments, " +
          s"got ${l.simpleString}, ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var n = 0
    while (i < nx && j < ny) {
      val c = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName: see CosineSimilarity — fixed locals break fused
      // whole-stage compilation
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val n = ctx.freshName("n"); val c = ctx.freshName("c")
      s"""
         |int $nx = $a.numElements(), $ny = $b.numElements();
         |int $i = 0, $j = 0, $n = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $n++; $i++; $j++; }
         |  else if ($c < 0) $i++;
         |  else $j++;
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectSize =
    copy(left = newLeft, right = newRight)
}

/**
 * 60-bit engine-portable hash, natively: the value of
 * `conv(substring(md5(x), 1, 15), 16, 10)` — i.e. the top 60 bits of
 * the md5 digest — computed straight from the digest bytes. The
 * composed form round-trips through a 32-char hex string and a
 * base-16 string parse PER CALL; at one call per exploded shingle
 * (minhash/simhash signatures: |docs| × |shingles| rows) that string
 * arithmetic dominated the dedup bench (BENCH_r02: q_minhash_dedup
 * 10.3 s vs 3.4 s with xxhash64). This kernel keeps the cross-engine
 * contract — DuckDB replays it as
 * `CAST('0x' || substr(md5(x),1,15) AS BIGINT)` — at near-xxhash
 * cost. Accepts string (hashes UTF-8 bytes, matching
 * `cast(s AS binary)`) or binary input.
 */
case class PortableHash60(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "portable_hash60"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"portable_hash60 requires a string or binary argument, got ${t.simpleString}")
  }

  private def digestTop60(md: java.security.MessageDigest, bytes: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(bytes)
    // big-endian value of the first 8 digest bytes, dropping the low
    // nibble = integer value of the first 15 hex chars
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = child.dataType match {
      case StringType => input.asInstanceOf[UTF8String].getBytes
      case _ => input.asInstanceOf[Array[Byte]]
    }
    digestTop60(PortableHash60.threadMd.get(), bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val md = ctx.addMutableState("java.security.MessageDigest", "graftMd5",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) {
              |  throw new RuntimeException(e);
              |}""".stripMargin)
    val toBytes: String => String = child.dataType match {
      case StringType => a => s"$a.getBytes()"
      case _ => a => a
    }
    nullSafeCodeGen(ctx, ev, a => {
      val dig = ctx.freshName("digest")
      val v = ctx.freshName("v")
      val i = ctx.freshName("i")
      s"""
         |$md.reset();
         |byte[] $dig = $md.digest(${toBytes(a)});
         |long $v = 0L;
         |for (int $i = 0; $i < 8; $i++) {
         |  $v = ($v << 8) | ($dig[$i] & 0xffL);
         |}
         |${ev.value} = $v >>> 4;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PortableHash60 =
    copy(child = newChild)
}

object PortableHash60 {
  /** MessageDigest is not thread-safe; a per-expression lazy val is
    * only safe while Spark deserializes a fresh tree per task. A
    * ThreadLocal stays correct even if one bound projection is ever
    * shared across threads (e.g. driver-side concurrent eval). */
  private[functions] val threadMd: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/**
 * Unicode NFC (canonical composition) normalization as a native,
 * codegen'd expression. Canonical-equivalent text (e.g. `é` composed
 * vs `e` + U+0301) must fingerprint identically before any
 * hash-based dedup, or the same document in two encodings survives
 * as a "distinct" pair — the standard pre-hash step in corpus
 * cleanup. `java.text.Normalizer` implements the published Unicode
 * canonical-composition algorithm; DuckDB's `nfc_normalize`
 * (utf8proc) implements the same spec, so results are
 * engine-portable. Fast path: `isNormalized` short-circuits the
 * overwhelmingly-common already-NFC case without allocating.
 */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize requires a string argument, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.NfcNormalize.normalize($a)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Static kernel shared by the interpreted and codegen paths. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/**
 * Shared kernel for the pseudo-random hyperplane family
 * ([[PlaneProjections]], [[PlaneBucket]]): the component of plane `p`
 * at dimension `d` is a pure function of (p, d) —
 * `(pmod(xxhash64(p, d), 1000003) / 1000003.0) * 2 - 1`, exactly the
 * value the composed `zip_with`/`aggregate` formulation in
 * graft.ext.Similarity produced — so the whole plane matrix is
 * computed ONCE per process and cached, not re-derived per row per
 * plane per dimension. At nPlanes=12, d=64 the HOF stack evaluated
 * 768 interpreted lambdas (each with an xxhash64) per row; the cached
 * matrix reduces a row to nPlanes fused dot products.
 */
object Planes {
  // Keyed by (nPlanes, seedStride, dim): dim comes from the DATA, so a
  // corpus with ragged vector lengths materializes one matrix per
  // distinct dim. Bounded: past MaxEntries the cache is cleared before
  // the insert — lookups stay lock-free CHM reads (this runs per row),
  // and a miss only costs the nPlanes×dim tabulate. A corpus cycling
  // through >MaxEntries distinct dims would thrash recompute, but
  // stays correct and memory-bounded.
  private val MaxEntries = 64
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]()

  /** Bit-parity with `xxhash64(lit(p), d)` (seed 42, ints hashed in
    * order) feeding `pmod(·, 1000003)` — verified by FunctionsSpec
    * against the composed column formulation. */
  private def component(p: Int, d: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashInt(d, XXH64.hashInt(p, 42L))
    val r = h % 1000003L
    val q = if (r < 0) r + 1000003L else r
    (q.toDouble / 1000003.0) * 2.0 - 1.0
  }

  def matrix(nPlanes: Int, seedStride: Int, dim: Int): Array[Array[Double]] = {
    val key = (nPlanes, seedStride, dim)
    val hit = cache.get(key)
    if (hit != null) return hit
    if (cache.size >= MaxEntries) cache.clear()
    cache.computeIfAbsent(key, _ =>
      Array.tabulate(nPlanes, dim)((p, j) => component(p * seedStride, j)))
  }
}

/**
 * `plane_proj(vec, nPlanes, seedStride)` — the `nPlanes` hyperplane
 * dot products of a float vector as `array<double>`, one cached-matrix
 * pass per row. Plane `p` uses seed `p * seedStride` (stride 1 = the
 * LSH plane family, 7919 = the IVF pseudo-centroid family — disjoint
 * hash streams). Precondition: non-null float elements and a
 * non-empty vector (d=0 yields all-zero projections where the HOF
 * reference formulation produced nulls — out-of-contract input;
 * [[PlaneBucket]] pins ITS d=0 case to bucket 0, the HOF behavior).
 */
case class PlaneProjections(child: Expression, nPlanes: Int, seedStride: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "plane_proj"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"plane_proj requires an array<float> argument, got ${t.simpleString}")
  }

  /** Public — invoked from generated code via a reference object. */
  def project(vec: ArrayData): ArrayData = {
    val d = vec.numElements()
    val m = Planes.matrix(nPlanes, seedStride, d)
    val out = new Array[Double](nPlanes)
    var p = 0
    while (p < nPlanes) {
      val row = m(p)
      var s = 0.0; var i = 0
      while (i < d) { s += vec.getFloat(i).toDouble * row(i); i += 1 }
      out(p) = s; p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override def nullSafeEval(input: Any): Any =
    project(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planeProjExpr", this,
      classOf[PlaneProjections].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.project($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneProjections =
    copy(child = newChild)
}

/**
 * `plane_bucket(vec, nPlanes, seedStride)` — the sign-pattern LSH
 * bucket id (bit `p` set iff projection `p` ≥ 0) as one long, fused
 * over the same cached matrix as [[PlaneProjections]] (no
 * intermediate array, no per-bit column stack). Precondition:
 * non-null float elements (a null slot reads as 0.0, which the HOF
 * reference formulation instead propagated to a null projection).
 * A zero-length vector yields bucket 0 — matching the reference
 * formulation's null-projection → bit-unset behavior.
 */
case class PlaneBucket(child: Expression, nPlanes: Int, seedStride: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "plane_bucket"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"plane_bucket requires an array<float> argument, got ${t.simpleString}")
  }

  /** Public — invoked from generated code via a reference object. */
  def bucket(vec: ArrayData): Long = {
    val d = vec.numElements()
    if (d == 0) return 0L // degenerate vector: no bits set
    val m = Planes.matrix(nPlanes, seedStride, d)
    var b = 0L
    var p = 0
    while (p < nPlanes) {
      val row = m(p)
      var s = 0.0; var i = 0
      while (i < d) { s += vec.getFloat(i).toDouble * row(i); i += 1 }
      if (s >= 0) b |= 1L << p
      p += 1
    }
    b
  }

  override def nullSafeEval(input: Any): Any =
    bucket(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planeBucketExpr", this,
      classOf[PlaneBucket].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.bucket($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneBucket =
    copy(child = newChild)
}

/**
 * `int_cell_assign(vec, nCells)` — EXACT-INTEGER quantized-projection
 * cell argmax for cluster-balanced selection (q_embed_balanced): the
 * vector quantizes to `floor(f·1000)` longs (a float × 1000 is exact
 * in double, so every engine quantizes identically), cell `k` scores
 * it with the deterministic integer weight stream
 * `w(k,i) = (k·31 + i·7) mod 11 − 5`, and the result is the argmax
 * with ties to the MAX cell id. No double enters the decision, so a
 * SQL oracle replays assignments bit-exactly. A zero-length vector
 * scores 0 everywhere ⇒ the tie rule yields `nCells − 1`.
 * Precondition: non-null float elements (the plane-kernel contract).
 * Native + codegen'd: the composed transform/zip_with/aggregate
 * formulation evaluated ~nCells·dim interpreted lambdas per row
 * (measured 2.4 ms/row at 16×64 — a scale-killer); this loop is
 * ~1 µs/row.
 */
case class IntCellAssign(child: Expression, nCells: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "int_cell_assign"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"int_cell_assign requires an array<float> argument, got ${t.simpleString}")
  }

  /** Public — invoked from generated code via a reference object. */
  def assign(vec: ArrayData): Int = {
    val d = vec.numElements()
    val q = new Array[Long](d)
    var i = 0
    while (i < d) {
      q(i) = math.floor(vec.getFloat(i).toDouble * 1000.0).toLong
      i += 1
    }
    var bestK = 0
    var bestS = Long.MinValue
    var k = 0
    while (k < nCells) {
      var s = 0L
      var j = 0
      while (j < d) {
        s += q(j) * (math.floorMod(k.toLong * 31L + j.toLong * 7L, 11L) - 5L)
        j += 1
      }
      if (s >= bestS) { bestS = s; bestK = k } // ties → max k
      k += 1
    }
    bestK
  }

  override def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("intCellAssignExpr", this,
      classOf[IntCellAssign].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.assign($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): IntCellAssign =
    copy(child = newChild)
}

/**
 * Top-`nProbe` trained-centroid cells by cosine (descending, ties to
 * the smaller cell id) — the IVF cell-probe/assign kernel behind
 * [[graft.ext.Similarity.centroidProbe]]. The composed
 * transform/array_sort HOF formulation it replaces evaluated an
 * interpreted lambda + struct alloc PER CENTROID per row, then a
 * full interpreted sort — measured ~9 ms/row at 782 occupancy-sized
 * cells (the whole 100× buildAuto wall, BASELINE.md r16); this loop
 * is nCells fused dot/norm passes + an insertion top-k, ~50 µs/row
 * at the same width, and stays inside whole-stage codegen via a
 * reference-object call. Per-cell cosine arithmetic is EXACTLY
 * [[CosineSimilarity]]'s (same accumulation order, same zero-denom
 * clamp), and the (sim desc, cell asc) total order matches the old
 * array_sort comparator — assignments are bit-identical to the HOF
 * formulation. Centroids ride the expression as a value-equal Seq
 * (plan canonicalization/CSE see through to the matrix).
 *
 * FINITE-INPUT PRECONDITION: the bit-identical claim is scoped to
 * finite components. A NaN component poisons every cell's cosine to
 * NaN; the strict `>` insertions never let a NaN displace anything,
 * so a NaN-bearing vector probes cells in id order `[0..nProbe)` —
 * deterministic (FunctionsSpec pins it), but NOT Spark's
 * NaN-is-largest comparator order the replaced array_sort would
 * apply. Trained centroids are finite by construction unless the
 * corpus itself carried NaN.
 */
case class CentroidProbe(
    child: Expression, centroids: Seq[Seq[Float]], nProbe: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "centroid_probe"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      if (centroids.isEmpty) TypeCheckResult.TypeCheckFailure(
        "centroid_probe requires a non-empty centroid matrix")
      else if (nProbe < 1) TypeCheckResult.TypeCheckFailure(
        "centroid_probe requires nProbe >= 1")
      else TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"centroid_probe requires an array<float> argument, got ${t.simpleString}")
  }

  @transient private lazy val cents: Array[Array[Float]] =
    centroids.map(_.toArray).toArray

  /** Public — invoked from generated code via a reference object. */
  def probe(vec: ArrayData): ArrayData = {
    val m = cents.length
    val k = math.min(nProbe, m)
    val simT = new Array[Double](k)
    val idxT = new Array[Int](k)
    var filled = 0
    var c = 0
    while (c < m) {
      val ctr = cents(c)
      val n = math.min(vec.numElements(), ctr.length)
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xi = vec.getFloat(i).toDouble
        val yi = ctr(i).toDouble
        dot += xi * yi; nx += xi * xi; ny += yi * yi
        i += 1
      }
      val den = math.sqrt(nx) * math.sqrt(ny)
      val s = if (den == 0.0) 0.0 else dot / den
      // insertion keeping (sim desc, cell asc): strictly-greater sims
      // displace; equal sims keep the earlier (smaller) cell id
      if (filled < k || s > simT(filled - 1)) {
        var pos = math.min(filled, k - 1)
        while (pos > 0 && simT(pos - 1) < s) {
          simT(pos) = simT(pos - 1); idxT(pos) = idxT(pos - 1)
          pos -= 1
        }
        simT(pos) = s; idxT(pos) = c
        if (filled < k) filled += 1
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(idxT, filled))
  }

  override def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidProbeExpr", this,
      classOf[CentroidProbe].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.probe($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidProbe =
    copy(child = newChild)
}

/**
 * PQ code assignment — `m` codes per vector, one per subspace:
 * `argmax_c (x_j·cw_c / ‖x‖ − ‖cw_c‖²/2)`, ties to the SMALLER
 * codeword id, norm clamped at 1e-30 — exactly the composed
 * expression stack in [[graft.ext.Similarity.pqCodesCol]]'s first
 * formulation. That stack inlined m·k (=512 at the default 16×32)
 * codeword-literal dot loops into the fused stage: the generated
 * `processNext()` passed 64 KB and Janino REJECTED it, silently
 * demoting the whole encode stage to interpreted eval (the ERROR
 * lines in every verify log that touched the PQ tier). This kernel
 * is one reference object + one tight loop — the stage stays
 * codegen'd at any m·k. Arithmetic is bit-identical (same
 * accumulation order, same clamp, same tie rule).
 *
 * FINITE-INPUT PRECONDITION: the bit-identical claim is scoped to
 * finite components. A NaN component drives the norm (math.max
 * propagates NaN) and thus every subspace score to NaN, and the
 * strict `>` argmax never selects a NaN score — a NaN-bearing vector
 * encodes as codeword 0 in every subspace, deterministic
 * (FunctionsSpec pins it) but distinct from greatest()'s
 * NaN-wins rule in the replaced struct stack.
 */
case class PqCodes(child: Expression, codebooks: Seq[Seq[Seq[Float]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) =>
      if (codebooks.isEmpty || codebooks.exists(_.isEmpty))
        TypeCheckResult.TypeCheckFailure(
          "pq_codes requires non-empty codebooks")
      else TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_codes requires an array<float> argument, got ${t.simpleString}")
  }

  @transient private lazy val books: Array[Array[Array[Float]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val cwNorm2: Array[Array[Double]] =
    codebooks.map(_.map(_.map(v => v.toDouble * v.toDouble).sum).toArray)
      .toArray

  /** Public — invoked from generated code via a reference object. */
  def assign(vec: ArrayData): ArrayData = {
    val d = vec.numElements()
    val m = books.length
    val dSub = books.head.head.length
    var nx = 0.0
    var i = 0
    while (i < d) {
      val xi = vec.getFloat(i).toDouble; nx += xi * xi; i += 1
    }
    val nrm = math.max(math.sqrt(nx), 1e-30)
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = books(j)
      val base = j * dSub
      var bestC = 0
      var bestS = Double.NegativeInfinity
      var c = 0
      while (c < cb.length) {
        val cw = cb(c)
        // slice(x, base+1, dSub): elements past the vector end just
        // don't exist — same truncation as the dot over the slice
        var dot = 0.0
        var t = 0
        val lim = math.min(dSub, math.max(0, d - base))
        while (t < lim) {
          dot += vec.getFloat(base + t).toDouble * cw(t).toDouble
          t += 1
        }
        val s = dot / nrm - cwNorm2(j)(c) / 2
        if (s > bestS) { bestS = s; bestC = c } // ties → smaller c
        c += 1
      }
      out(j) = bestC
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    assign(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodesExpr", this,
      classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.assign($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/**
 * ADC score of one (query, PQ-coded candidate) pair:
 * `Σ_i q[i] · cw_{j(i), code_{j(i)}}[i mod dSub]` — bit-identical to
 * `dot_product(q, flatten(transform(codes, (code, j) =>
 * element_at(flatCodebook, j·k + code + 1))))`, the reconstruct-then-
 * dot formulation it replaces (same element order, same double
 * accumulation, same min-length truncation), WITHOUT materializing
 * the d-float reconstruction per scored pair — one codebook
 * reference object and a fused loop inside whole-stage codegen. The
 * query side accepts float or double elements (the normalized query
 * is double).
 */
/**
 * L2-normalize a float vector to array<double> — the native kernel
 * behind [[graft.ext.Similarity.l2norm]]. Bit-identical to the HOF
 * formulation it replaces (`transform(v, x => when(n === 0, 0.0)
 * .otherwise(x.cast(double) / n))` with `n = sqrt(aggregate(...))`):
 * the norm is the same left-fold Σx² then sqrt, each output element
 * the same IEEE division, zero-norm vectors map to all-0.0, and a
 * null element poisons the fold so EVERY output element is null
 * (the when/otherwise branch yields null once n is null) —
 * FunctionsSpec pins all of it. The HOF shape was the r17 bulk-gate
 * scale-killer: Catalyst inlines the norm subexpression into every
 * element's lambda, so each row paid d × d interpreted boxed evals
 * (~2.75 ms/row at d=64 — 110 CPU-seconds per 40k-row ingest batch,
 * measured); this kernel is one primitive loop inside whole-stage
 * codegen.
 */
case class VecNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_normalize"

  // Any atomic numeric element type is accepted (the HOF formulation
  // this kernel replaced cast each element to double, so
  // array<double>/array<int> callers — pqTopK over double embeddings —
  // worked before the kernel and must keep working); decimals stay
  // rejected (no caller, and exact-decimal division is a different
  // contract than the IEEE one pinned here).
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType | IntegerType | LongType |
        ShortType | ByteType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      "vec_normalize requires an array of a non-decimal numeric type, " +
        s"got ${t.simpleString}")
  }

  // element accessor resolved ONCE (not per element — the loop body
  // must stay a primitive read): 0=float 1=double 2=int 3=long
  // 4=short 5=byte
  @transient private lazy val elemKind: Int =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => 0
      case DoubleType => 1
      case IntegerType => 2
      case LongType => 3
      case ShortType => 4
      case ByteType => 5
      case t => throw new IllegalStateException(s"unreachable: $t")
    }

  private def elemAsDouble(vec: ArrayData, i: Int): Double =
    elemKind match {
      case 0 => vec.getFloat(i).toDouble
      case 1 => vec.getDouble(i)
      case 2 => vec.getInt(i).toDouble
      case 3 => vec.getLong(i).toDouble
      case 4 => vec.getShort(i).toDouble
      case _ => vec.getByte(i).toDouble
    }

  /** Public — invoked from generated code via a reference object. */
  def normalize(vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    var i = 0
    while (i < n) { // a null element nulls the fold, hence every slot
      if (vec.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](n))
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < n) { // the aggregate() left fold: acc + x² in order
      val x = elemAsDouble(vec, i)
      ss += x * x
      i += 1
    }
    val nrm = math.sqrt(ss)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = if (nrm == 0.0) 0.0 else elemAsDouble(vec, i) / nrm
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    normalize(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("vecNormalizeExpr", this,
      classOf[VecNormalize].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.normalize($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): VecNormalize =
    copy(child = newChild)
}

case class PqAdcScore(
    left: Expression, right: Expression,
    codebooks: Seq[Seq[Seq[Float]]]) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(FloatType | DoubleType, _)) =>
        if (codebooks.isEmpty || codebooks.exists(_.isEmpty))
          TypeCheckResult.TypeCheckFailure(
            "pq_adc_score requires non-empty codebooks")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "pq_adc_score requires (array<int> codes, array<float|double> " +
          s"query), got ${l.simpleString}, ${r.simpleString}")
    }

  @transient private lazy val books: Array[Array[Array[Float]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val qIsDouble: Boolean = right.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** Public — invoked from generated code via a reference object. */
  def score(codes: ArrayData, q: ArrayData): Double = {
    val m = math.min(codes.numElements(), books.length)
    val dSub = books.head.head.length
    val qLen = q.numElements()
    var s = 0.0
    var j = 0
    var i = 0 // flat reconstruction index — dot truncates at min(len)
    while (j < m && i < qLen) {
      val cw = books(j)(codes.getInt(j))
      var t = 0
      while (t < dSub && i < qLen) {
        val qi = if (qIsDouble) q.getDouble(i) else q.getFloat(i).toDouble
        s += qi * cw(t).toDouble
        t += 1; i += 1
      }
      j += 1
    }
    s
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    score(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcScoreExpr", this,
      classOf[PqAdcScore].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.score($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/**
 * Registration — both paths:
 *  - `GraftFunctions.register(spark)` for an existing session
 *    (used by Tables.session);
 *  - `GraftExtensions` for
 *    `spark.sql.extensions=graft.functions.GraftExtensions` at
 *    session build (the SparkSessionExtensions route).
 */
object GraftFunctions {
  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  /** Extract a constant float matrix (e.g. `typedLit(Seq[Seq[Float]])`)
    * from a literal argument — the registry route for expressions
    * parameterized by a trained model. */
  private def litFloatMatrix(
      e: Expression, fn: String, arg: String): Seq[Seq[Float]] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        v: ArrayData, ArrayType(ArrayType(FloatType, _), _)) =>
      v.toObjectArray(ArrayType(FloatType)).toSeq.map(row =>
        row.asInstanceOf[ArrayData].toFloatArray().toSeq)
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a constant array<array<float>> literal, got " +
        other.simpleString(25))
  }

  /** Three-level variant of [[litFloatMatrix]] (trained PQ codebooks:
    * subspace → codeword → components). */
  private def litFloatCube(
      e: Expression, fn: String, arg: String): Seq[Seq[Seq[Float]]] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        v: ArrayData,
        ArrayType(inner @ ArrayType(ArrayType(FloatType, _), _), _)) =>
      v.toObjectArray(inner).toSeq.map(book =>
        book.asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(FloatType)).toSeq
          .map(cw => cw.asInstanceOf[ArrayData].toFloatArray().toSeq))
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a constant array<array<array<float>>> " +
        s"literal, got ${other.simpleString(25)}")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (es => CosineSimilarity(es.head, es(1))),
    "dot_product" -> (es => DotProduct(es.head, es(1))),
    "parse_version" -> (es => ParseVersion(es.head)),
    "sorted_intersect_size" -> (es => SortedIntersectSize(es.head, es(1))),
    "portable_hash60" -> (es => PortableHash60(es.head)),
    "nfc_normalize" -> (es => NfcNormalize(es.head)),
    "plane_proj" -> (es => PlaneProjections(es.head,
      litInt(es(1), "plane_proj", "nPlanes"),
      litInt(es(2), "plane_proj", "seedStride"))),
    "plane_bucket" -> (es => PlaneBucket(es.head,
      litInt(es(1), "plane_bucket", "nPlanes"),
      litInt(es(2), "plane_bucket", "seedStride"))),
    "int_cell_assign" -> (es => IntCellAssign(es.head,
      litInt(es(1), "int_cell_assign", "nCells"))),
    "centroid_probe" -> (es => CentroidProbe(es.head,
      litFloatMatrix(es(1), "centroid_probe", "centroids"),
      litInt(es(2), "centroid_probe", "nProbe"))),
    "vec_normalize" -> (es => VecNormalize(es.head)),
    "pq_codes" -> (es => PqCodes(es.head,
      litFloatCube(es(1), "pq_codes", "codebooks"))),
    "pq_adc_score" -> (es => PqAdcScore(es.head, es(1),
      litFloatCube(es(2), "pq_adc_score", "codebooks"))),
    // Spark's native bloom-probe expression (codegen'd, deserializes
    // the sketch once per task) is NOT in the public function
    // registry (4.1 exposes only bloom_filter_agg) — surface it here
    // so hot-path prefilters never need a Scala closure UDF.
    "bloom_might_contain" -> (es =>
      org.apache.spark.sql.catalyst.expressions
        .BloomFilterMightContain(es.head, es(1))))

  def register(spark: SparkSession): Unit = all.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "built-in")
  }

  /** Column-API helpers (sessions register the functions via
    * [[register]] / [[GraftExtensions]]; `call_function` resolves
    * through the registry, which is the public route to a custom
    * Expression since the Spark 4 Column/ColumnNode split). */
  def cosine_sim(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("cosine_sim", a, b)
  def dot_product(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_product", a, b)
  def parse_version(c: Column): Column =
    org.apache.spark.sql.functions.call_function("parse_version", c)
  def sorted_intersect_size(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("sorted_intersect_size", a, b)
  def portable_hash60(c: Column): Column =
    org.apache.spark.sql.functions.call_function("portable_hash60", c)
  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.functions.call_function("nfc_normalize", c)
  def plane_proj(vec: Column, nPlanes: Int, seedStride: Int): Column =
    org.apache.spark.sql.functions.call_function("plane_proj", vec,
      org.apache.spark.sql.functions.lit(nPlanes),
      org.apache.spark.sql.functions.lit(seedStride))
  def plane_bucket(vec: Column, nPlanes: Int, seedStride: Int): Column =
    org.apache.spark.sql.functions.call_function("plane_bucket", vec,
      org.apache.spark.sql.functions.lit(nPlanes),
      org.apache.spark.sql.functions.lit(seedStride))
  def int_cell_assign(vec: Column, nCells: Int): Column =
    org.apache.spark.sql.functions.call_function("int_cell_assign", vec,
      org.apache.spark.sql.functions.lit(nCells))
  def centroid_probe(
      vec: Column, centroids: Seq[Seq[Float]], nProbe: Int): Column =
    org.apache.spark.sql.functions.call_function("centroid_probe", vec,
      org.apache.spark.sql.functions.typedLit(centroids),
      org.apache.spark.sql.functions.lit(nProbe))
  def pq_codes(vec: Column, codebooks: Seq[Seq[Seq[Float]]]): Column =
    org.apache.spark.sql.functions.call_function("pq_codes", vec,
      org.apache.spark.sql.functions.typedLit(codebooks))
  def pq_adc_score(
      codes: Column, query: Column,
      codebooks: Seq[Seq[Seq[Float]]]): Column =
    org.apache.spark.sql.functions.call_function("pq_adc_score", codes,
      query, org.apache.spark.sql.functions.typedLit(codebooks))
  /** `bloom` is a serialized `org.apache.spark.util.sketch.BloomFilter`
    * (binary, constant-foldable — e.g. `lit(bytes)`); `value` a LONG
    * probed via `mightContainLong`. */
  def vec_normalize(v: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_normalize", v)
  def bloom_might_contain(bloom: Column, value: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "bloom_might_contain", bloom, value)
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
}
