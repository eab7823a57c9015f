package graft.functions

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** Native Catalyst expressions: cosine_sim (codegen) + parse_version. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 2.0f)), (1L, Array(0.5f, -1.0f, 0.25f)),
    (2L, Array(0.0f, 0.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("cosine_sim matches the higher-order-function formulation") {
    val nonZero = vecs.filter($"vec_id" =!= 2L)
    val both = nonZero.as("a").crossJoin(nonZero.as("b")).select(
      GraftFunctions.cosine_sim($"a.embedding", $"b.embedding").as("native"),
      Similarity.cosine($"a.embedding", $"b.embedding").as("hof"))
    both.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, s"row $r")
    }
  }

  test("cosine_sim: zero vector yields 0.0, not NaN or a div-by-zero " +
      "error (the ANSI-mode HOF formulation throws)") {
    val z = vecs.filter($"vec_id" === 2L).as("a")
    val out = z.crossJoin(vecs.as("b")).select(
      GraftFunctions.cosine_sim($"a.embedding", $"b.embedding")).as[Double]
    assert(out.collect().forall(_ === 0.0))
  }

  test("dot_product matches the HOF formulation on float arrays and " +
      "accepts mixed float/double sides") {
    val both = vecs.as("a").crossJoin(vecs.as("b")).select(
      GraftFunctions.dot_product($"a.embedding", $"b.embedding").as("native"),
      Similarity.dot($"a.embedding", $"b.embedding").as("hof"))
    both.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, s"row $r")
    }
    // double side (the PQ query path: normalized query vs float recon)
    val mixed = vecs.as("a").crossJoin(vecs.as("b")).select(
      GraftFunctions.dot_product(
        transform($"a.embedding", x => x.cast("double")),
        $"b.embedding").as("native"),
      Similarity.dot($"a.embedding", $"b.embedding").as("hof"))
    mixed.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, s"row $r")
    }
  }

  test("cosine_sim callable from SQL") {
    vecs.createOrReplaceTempView("v")
    val sim = spark.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) FROM v a JOIN v b
        |ON a.vec_id = 0 AND b.vec_id = 0""".stripMargin)
      .as[Double].head()
    assert(math.abs(sim - 1.0) < 1e-12)
  }

  test("parse_version: SQL surface over the DataVersion::parse matrix") {
    val rows = spark.sql(
      """SELECT parse_version(42L) AS a,
        |       parse_version(-1) AS b,
        |       parse_version('1722945600') AS c,
        |       parse_version('2024-08-07T12:00:00+00:00') AS d,
        |       parse_version('2024-08-07 12:00:00') AS e,
        |       parse_version('garbage') AS f,
        |       parse_version(TIMESTAMP '2024-08-07 12:00:00') AS g""".stripMargin)
      .head()
    assert(rows.getLong(0) === 42L)
    assert(rows.isNullAt(1))
    assert(rows.getLong(2) === 1722945600L)
    assert(rows.getLong(3) === 1723032000L)
    assert(rows.getLong(4) === 1723032000L)
    assert(rows.isNullAt(5))
    assert(rows.getLong(6) === 1723032000L)
  }

  test("TopK aggregator equals the window top-k formulation") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter($"vec_id" % 200 === 0)
    val windowed = Similarity.bruteForceTopK(e, q, k = 4)
      .select("q_id", "n_id", "sim", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val c = e.select($"vec_id".as("n_id"), $"embedding".as("n_vec"))
    val scored = c.crossJoin(
        q.select($"vec_id".as("q_id"), $"embedding".as("q_vec")))
      .filter($"q_id" =!= $"n_id")
      .withColumn("sim", GraftFunctions.cosine_sim($"q_vec", $"n_vec"))
    val agged = Similarity.topKAgg(scored, k = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(agged === windowed)
  }

  test("sorted_intersect_size equals array_intersect on sorted input") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    val sh = docs.select($"doc_id",
      graft.ext.Dedup.shingles($"text", 3).as("sh"))
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select(
        GraftFunctions.sorted_intersect_size($"a.sh", $"b.sh").as("fast"),
        size(array_intersect($"a.sh", $"b.sh")).as("ref"))
    assert(pairs.filter($"fast" =!= $"ref").count() === 0)
    assert(pairs.filter($"fast" > 0).count() > 0) // non-degenerate
    // edge cases: empty-vs-any, disjoint, identical
    val edge = Seq(
      (Seq[String](), Seq("a", "b"), 0),
      (Seq("a", "c"), Seq("b", "d"), 0),
      (Seq("a", "b", "c"), Seq("a", "b", "c"), 3),
      (Seq("a", "b", "z"), Seq("b", "c", "z"), 2))
      .toDF("x", "y", "want")
    assert(edge.filter(
      GraftFunctions.sorted_intersect_size($"x", $"y") =!= $"want")
      .count() === 0)
  }

  test("portable_hash60 equals the composed md5/conv form exactly " +
      "(the cross-engine contract the DuckDB oracles replay)") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    val both = docs.select(
      GraftFunctions.portable_hash60($"text").as("native"),
      conv(substring(md5($"text".cast("binary")), 1, 15), 16, 10)
        .cast("long").as("composed"))
    assert(both.filter($"native" =!= $"composed").count() === 0)
    assert(both.filter($"native" < 0).count() === 0) // top 60 bits: positive
    // edge cases: empty string, unicode, binary input = utf-8 string bytes
    val edge = spark.sql(
      """SELECT portable_hash60('') AS a,
        |  CAST(conv(substring(md5(CAST('' AS binary)),1,15),16,10) AS BIGINT) AS a0,
        |  portable_hash60('héllo wörld ⚡') AS b,
        |  CAST(conv(substring(md5(CAST('héllo wörld ⚡' AS binary)),1,15),16,10) AS BIGINT) AS b0,
        |  portable_hash60(CAST('xyz' AS binary)) AS c,
        |  portable_hash60('xyz') AS c0""".stripMargin).head()
    assert(edge.getLong(0) === edge.getLong(1))
    assert(edge.getLong(2) === edge.getLong(3))
    assert(edge.getLong(4) === edge.getLong(5))
  }

  test("nfc_normalize composes decomposed sequences, is idempotent, " +
      "and agrees between SQL (codegen) and Column paths") {
    val composed = "caf\u00e9"
    val decomposed = "cafe\u0301"
    val rows = Seq(
      ("a", composed),           // already NFC - unchanged
      ("b", decomposed),         // e + combining acute -> composed
      ("c", "A\u030A"),          // A + combining ring -> Aring
      ("d", ""),                 // empty
      ("e", "plain ascii")).toDF("id", "s")
    val out = rows.select($"id",
      GraftFunctions.nfc_normalize($"s").as("n")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("a") === composed)
    assert(out("b") === composed)
    assert(out("c") === "\u00c5")
    assert(out("d") === "")
    assert(out("e") === "plain ascii")
    // composed and decomposed forms fingerprint identically post-NFC
    val fp = rows.filter($"id".isin("a", "b")).select(md5(
      GraftFunctions.nfc_normalize($"s").cast("binary")).as("f"))
      .collect().map(_.getString(0))
    assert(fp(0) === fp(1))
    // idempotent; SQL surface (codegen path) agrees; null passes through
    val sqlRow = spark.sql(
      s"""SELECT nfc_normalize(nfc_normalize('$decomposed')) AS a,
        |  nfc_normalize('$decomposed') AS b,
        |  nfc_normalize(CAST(NULL AS STRING)) AS c""".stripMargin).head()
    assert(sqlRow.getString(0) === composed)
    assert(sqlRow.getString(1) === composed)
    assert(sqlRow.isNullAt(2))
  }

  test("expressions survive whole-stage codegen on real data") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = e.limit(50).select(
      GraftFunctions.cosine_sim(col("embedding"), col("embedding")).as("self"))
    assert(out.filter(abs(col("self") - 1.0) > 1e-9).count() === 0)
  }

  test("plane_proj is bit-identical to the composed zip_with/aggregate " +
      "hyperplane formulation (both seed strides) on real embeddings") {
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    for (stride <- Seq(1, 7919); nPlanes <- Seq(4, 8)) {
      val refs = (0 until nPlanes).map(p =>
        Similarity.planeProjectionRef($"embedding", p * stride).as(s"r$p"))
      val rows = e.select(
        GraftFunctions.plane_proj($"embedding", nPlanes, stride).as("nat")
          +: refs: _*).collect()
      rows.foreach { r =>
        val nat = r.getSeq[Double](0)
        (0 until nPlanes).foreach { p =>
          // exact ==: the kernel must replay the identical double
          // accumulation order, not merely approximate it
          assert(nat(p) === r.getDouble(p + 1),
            s"plane $p stride $stride: ${nat(p)} vs ${r.getDouble(p + 1)}")
        }
      }
    }
  }

  test("plane_bucket equals the sign-pattern fold over plane_proj, and " +
      "the pre-kernel lshBucket results (ExtSpec pins recall) still hold") {
    val e = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    val both = e.select(
      GraftFunctions.plane_bucket($"embedding", 8, 1).as("nat"),
      aggregate(
        zip_with(
          GraftFunctions.plane_proj($"embedding", 8, 1),
          sequence(lit(0), lit(7)),
          (s, p) => when(s >= 0,
            call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))),
        lit(0L), (acc, v) => acc.bitwiseOR(v)).as("folded"))
    assert(both.filter($"nat" =!= $"folded").count() === 0)
    // buckets use all nPlanes bits and nothing above them
    val range = both.agg(min($"nat"), max($"nat")).head()
    assert(range.getLong(0) >= 0L && range.getLong(1) < 256L)
  }

  test("int_cell_assign is bit-identical to the composed quantize/" +
      "score/argmax formulation on real embeddings (codegen path vs " +
      "column-function path), and cells stay inside [0, nCells)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(200)
    // composed reference: floor(e*1000) longs, the integer weight
    // stream, argmax with ties to the max cell — the formulation the
    // native kernel replaced (and the DuckDB oracle replays)
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * 1000).cast("long"))
    val scored = transform(sequence(lit(0), lit(15)), k =>
      struct(
        aggregate(
          zip_with(q, sequence(lit(0L), size(q).cast("long") - 1L),
            (qi, i) =>
              qi * (pmod(k.cast("long") * 31L + i * 7L, lit(11L)) - 5L)),
          lit(0L), (acc, x) => acc + x).as("s"),
        k.cast("int").as("c")))
    val both = e.select(
      GraftFunctions.int_cell_assign(col("embedding"), 16).as("nat"),
      array_max(scored).getField("c").as("hof"))
    assert(both.filter($"nat" =!= $"hof").count() === 0)
    val r = both.agg(min($"nat"), max($"nat")).head()
    assert(r.getInt(0) >= 0 && r.getInt(1) < 16)
  }

  test("centroid_probe is bit-identical to the composed transform/" +
      "array_sort HOF chain it replaced (cosine desc, cell-id asc, " +
      "zero-vector clamp), including tie cells and nProbe > nCells") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // centroids deliberately include a DUPLICATE (tie on every row)
    // and a zero vector (denominator clamp)
    val sample = Similarity.trainSample(e, sampleN = 64)
    val cents: Seq[Seq[Float]] =
      Similarity.trainCentroidsOnSample(sample, 7) ++
        Seq(Similarity.trainCentroidsOnSample(sample, 7).head,
          Seq.fill(sample.head.length)(0.0f))
    for (nProbe <- Seq(1, 3, cents.length, cents.length + 5)) {
      val probes = math.min(nProbe, cents.length)
      val lit0 = typedLit(cents)
      val scored = transform(lit0, (c, i) => struct(
        GraftFunctions.cosine_sim(col("embedding"), c).as("s"),
        i.as("c")))
      val bySim = array_sort(scored, (a, b) =>
        when(a.getField("s") > b.getField("s"), -1)
          .when(a.getField("s") < b.getField("s"), 1)
          .otherwise((a.getField("c") - b.getField("c")).cast("int")))
      val hof = transform(slice(bySim, 1, probes),
        x => x.getField("c").cast("int"))
      val both = e.select(
        GraftFunctions.centroid_probe(col("embedding"), cents, probes)
          .as("nat"),
        hof.as("hof"))
      assert(both.filter(to_json($"nat") =!= to_json($"hof")).count() === 0,
        s"nProbe=$nProbe")
    }
  }

  test("vec_normalize is bit-identical to the nested-HOF l2norm it " +
      "replaced (same left-fold norm, per-element IEEE division, " +
      "zero-vector => all-0.0, null element poisons every slot, " +
      "empty array passes through)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val both = e.select(
      GraftFunctions.vec_normalize(col("embedding")).as("nat"),
      Similarity.l2normHof(col("embedding")).as("hof"))
    assert(both.filter(to_json($"nat") =!= to_json($"hof")).count() === 0)
    // edge shapes: zero vector, empty, single element, a null slot,
    // denormal-ish tiny components
    val edge = Seq(
      (1L, Array[java.lang.Float](0f, 0f, 0f)),
      (2L, Array.empty[java.lang.Float]),
      (3L, Array[java.lang.Float](42.5f)),
      (4L, Array[java.lang.Float](1f, null, 3f)),
      (5L, Array[java.lang.Float](1e-38f, -1e-38f, 1f))
    ).toDF("vec_id", "embedding")
    val eb = edge.select(
      GraftFunctions.vec_normalize(col("embedding")).as("nat"),
      Similarity.l2normHof(col("embedding")).as("hof"))
    assert(eb.filter(
      to_json($"nat") =!= to_json($"hof") ||
        (to_json($"nat").isNull =!= to_json($"hof").isNull)).count() === 0)
    // null ARRAY maps to null out (nullSafeEval), matching the HOF
    val nulls = Seq((6L, null: Array[java.lang.Float]))
      .toDF("vec_id", "embedding")
      .select(
        GraftFunctions.vec_normalize(col("embedding")).as("nat"),
        Similarity.l2normHof(col("embedding")).as("hof"))
      .collect()(0)
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("pq_codes is bit-identical to the composed greatest-of-structs " +
      "stack it replaced (norm clamp, tie-to-smaller-codeword, short " +
      "vectors, k=1 books) — without the 64 KB codegen blowup") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding"))
      // a SHORT vector exercises the slice truncation, a zero vector
      // the norm clamp
      .unionByName(Seq(Seq(1.0f, 2.0f), Seq.empty[Float])
        .toDF("embedding"))
    val sample = Similarity.trainSample(
      e.withColumn("vec_id", monotonically_increasing_id()), sampleN = 64)
    for (cbs <- Seq(
        Similarity.trainPqCodebooksOnSample(sample, m = 8, k = 16),
        // k=1 books: degenerate argmax branch
        Similarity.trainPqCodebooksOnSample(sample, m = 4, k = 1))) {
      val dSub = cbs.head.head.length
      val x = col("embedding")
      val nrm = greatest(
        sqrt(GraftFunctions.dot_product(x, x)), lit(1e-30))
      val codeCols: Seq[org.apache.spark.sql.Column] =
        cbs.zipWithIndex.map { case (cb, j) =>
          val sub = slice(x, j * dSub + 1, dSub)
          val scored = cb.zipWithIndex.map { case (cw, ci) =>
            val cwNorm2 = cw.map(v => v.toDouble * v.toDouble).sum
            val s = GraftFunctions.dot_product(sub, typedLit(cw)) /
              nrm - lit(cwNorm2 / 2)
            struct(s.as("s"), lit(-ci).as("o"), lit(ci).as("c"))
          }
          if (scored.length == 1) lit(0)
          else greatest(scored: _*).getField("c")
        }
      val both = e.select(
        GraftFunctions.pq_codes(x, cbs).as("nat"),
        array(codeCols: _*).as("hof"))
      assert(both.filter(to_json($"nat") =!= to_json($"hof")).count() === 0,
        s"m=${cbs.length} k=${cbs.head.length}")
    }
  }

  test("NaN-bearing vectors: centroid_probe fills cells in id order, " +
      "pq_codes emits codeword 0 per subspace — deterministic; the " +
      "HOF-equivalence claims are scoped to FINITE inputs (Spark " +
      "orders NaN largest, the kernels' strict > never selects NaN)") {
    val cents = Seq(Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(1.0f, 1.0f))
    val cbs = Seq(Seq(Seq(1.0f), Seq(2.0f)), Seq(Seq(3.0f), Seq(4.0f)))
    val df = Seq(
      Seq(Float.NaN, 1.0f), // NaN leading
      Seq(1.0f, Float.NaN)  // NaN trailing — norm still poisons all
    ).toDF("embedding")
    val got = df.select(
      GraftFunctions.centroid_probe(col("embedding"), cents, 2).as("cells"),
      GraftFunctions.pq_codes(col("embedding"), cbs).as("codes"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Int](0) === Seq(0, 1), s"cells in $r")
      assert(r.getSeq[Int](1) === Seq(0, 0), s"codes in $r")
    }
    // a FINITE vector alongside is unaffected (sanity anchor)
    val fin = Seq(Seq(0.0f, 1.0f)).toDF("embedding")
      .select(GraftFunctions.centroid_probe(col("embedding"), cents, 1))
      .collect().head.getSeq[Int](0)
    assert(fin === Seq(1))
  }

  test("pq_adc_score is bit-identical to reconstruct-then-dot_product " +
      "(flat codeword element_at chain), for float and double queries") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val sample = Similarity.trainSample(e, sampleN = 64)
    val cbs = Similarity.trainPqCodebooksOnSample(sample, m = 8, k = 16)
    val flat: Seq[Seq[Float]] = cbs.flatten
    val kPerSub = cbs.head.length
    val cbCol = typedLit(flat)
    val coded = e.select(col("vec_id"),
      GraftFunctions.pq_codes(col("embedding"), cbs).as("codes"),
      col("embedding"))
    val recon = flatten(transform(col("codes"), (code, j) =>
      element_at(cbCol, (j * kPerSub + code + 1).cast("int"))))
    // float query = the raw embedding; double query = normalized
    val qDouble = transform(col("embedding"), x => x.cast("double") * 0.5)
    val both = coded.select(
      GraftFunctions.pq_adc_score(col("codes"), col("embedding"), cbs)
        .as("natF"),
      GraftFunctions.dot_product(col("embedding"), recon).as("hofF"),
      GraftFunctions.pq_adc_score(col("codes"), qDouble, cbs).as("natD"),
      GraftFunctions.dot_product(qDouble, recon).as("hofD"))
    both.collect().foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1), s"float row $r")
      assert(r.getDouble(2) === r.getDouble(3), s"double row $r")
    }
  }
}
