package graft

import graft.operators.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  lazy val vecs = tables.embeddings
    .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    .cache()

  test("native vec_dot is bit-equal to the zip_with/aggregate form") {
    val both = vecs.as("a").join(vecs.as("b"),
      col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("native"),
        Similarity.dotHof(col("a.v"), col("b.v")).as("hof"))
    // bit-equal, not approximately equal: same summation order
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("vec_dot null and length semantics") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0))),
      (Some(Seq(1.0, 2.0, 9.0)), Some(Seq(2.0, 3.0)))) // min-length
      .toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("d"))
    val got = df.collect().map(r => Option(r.get(0)))
    assert(got(0).contains(11.0))
    assert(got(1).isEmpty)
    assert(got(2).contains(8.0))
  }

  test("vec_dot rejects non-double-array inputs at analysis") {
    intercept[Exception] {
      Seq((1, 2)).toDF("a", "b")
        .select(Similarity.dot(col("a"), col("b"))).collect()
    }
  }

  test("SQL registration: SELECT vec_dot(...) works") {
    vecs.createOrReplaceTempView("vecs_view")
    val n = spark.sql(
      """SELECT a.vec_id, vec_dot(a.v, b.v) AS d
        |FROM vecs_view a JOIN vecs_view b ON a.vec_id < b.vec_id
        |WHERE vec_dot(a.v, b.v) > 0""".stripMargin).count()
    assert(n > 0)
  }

  /** The SQ8 column formula the native kernel replaced — the
    * reference its codes must equal bit for bit. */
  private def sq8Formula(v: Column): Column = {
    val scale = greatest(array_max(transform(v, x => abs(x))),
      lit(1e-12)) / lit(127.0)
    transform(v, x => floor(x / scale + lit(0.5)).cast("long"))
  }

  /** Edge rows as an RDD-backed frame, so the optimizer cannot fold
    * the projection over a local relation at planning time. */
  private lazy val sq8Edges = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows: Seq[Seq[java.lang.Double]] = Seq(
      Seq(0.0, 0.0, 0.0),                         // zero vector
      Seq(),                                      // empty array
      Seq(127.0, 2.5, -2.5, 0.5, -0.5, 126.5, -126.5), // ±x.5 boundaries
      Seq(-127.0, 127.0, 1.0),                    // ±127 extremes
      Seq(-3.0, 1.0, 0.25),                       // max|x| from a negative
      Seq(1e-300, -1e-300, 0.0),                  // below the 1e-12 floor
      Seq(1e-300, 5e-12, -3e-12),
      Seq(1.0, null, -2.0),                       // null element
      Seq(Double.NaN, 1.0),
      Seq(Double.PositiveInfinity, -1.0, 0.0),
      Seq(-0.0, 0.0))
    val data = rows.map(Row(_)) :+ Row(null)      // null array → null
    val schema = StructType(Seq(
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def assertSq8MatchesFormula(): Unit =
    for ((name, df) <- Seq("fixture" -> vecs.select("v"), "edges" -> sq8Edges)) {
      val both = df.select(Similarity.sq8Codes(col("v")).as("native"),
        sq8Formula(col("v")).as("formula"))
      val differ = both.filter(!(col("native") <=> col("formula")))
      assert(differ.isEmpty,
        s"$name: ${differ.limit(3).collect().mkString("; ")}")
      assert(both.count() == df.count())
    }

  test("native sq8_codes is bit-equal to the SQ8 column formula " +
    "(whole-stage codegen, no fallback)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      assertSq8MatchesFormula()
    }
  }

  test("native sq8_codes is bit-equal to the SQ8 column formula " +
    "(interpreted eval)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertSq8MatchesFormula()
    }
  }

  test("sq8_codes null, empty and type semantics") {
    val got = sq8Edges.select(Similarity.sq8Codes(col("v")).as("c"))
      .collect().map(r => Option(r.getSeq[java.lang.Long](0)))
    assert(got.last.isEmpty, "null array must code to null")
    assert(got(1).contains(Seq.empty))
    assert(got(2).get.map(_.longValue) == Seq(127L, 3L, -2L, 1L, 0L, 127L, -126L))
    assert(got(7).get(1) == null, "a null element must code to null")
    intercept[Exception] {
      Seq(Seq(1.0f)).toDF("v").select(Similarity.sq8Codes(col("v"))).collect()
    }
  }

  // ---- int8 vec_dot ------------------------------------------------

  /** (a, b) rows: every byte −128..127 against one double, the 256
    * bytes in one array, and arrays of different lengths; RDD-backed
    * like [[sq8Edges]]. */
  private lazy val int8Rows = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bytes = (-128 to 127).map(_.toByte)
    val rnd = new scala.util.Random(7)
    val perByte = bytes.map(b => Row(Seq(b), Seq(rnd.nextGaussian() * 3)))
    val data = perByte ++ Seq(
      Row(bytes, bytes.map(_ => rnd.nextGaussian())),
      Row(Seq[Byte](3, -7, 127, -128, 0), Seq(0.5, -0.25, 1e300)),
      Row(Seq[Byte](1, 2), Seq(2.0, 3.0, 5.0, 7.0)),
      Row(Seq.empty[Byte], Seq(1.0)),
      Row(null, Seq(1.0)))
    val schema = StructType(Seq(
      StructField("a", ArrayType(ByteType, containsNull = false)),
      StructField("b", ArrayType(DoubleType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  private def assertInt8MatchesCast(): Unit = {
    val a = col("a")
    val b = col("b")
    val ad = a.cast("array<double>")
    val both = int8Rows.select(
      Similarity.dot(a, b).as("ab"), Similarity.dot(ad, b).as("ab_ref"),
      Similarity.dot(b, a).as("ba"), Similarity.dot(b, ad).as("ba_ref"),
      Similarity.dot(a, a).as("aa"), Similarity.dot(ad, ad).as("aa_ref"))
    val differ = both.filter(!(col("ab") <=> col("ab_ref")) ||
      !(col("ba") <=> col("ba_ref")) || !(col("aa") <=> col("aa_ref")))
    assert(differ.isEmpty, differ.limit(3).collect().mkString("; "))
    assert(both.count() == 256 + 5)
  }

  test("int8 vec_dot is bit-equal to the cast path (whole-stage " +
    "codegen, no fallback)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      assertInt8MatchesCast()
    }
  }

  test("int8 vec_dot is bit-equal to the cast path (interpreted eval)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertInt8MatchesCast()
    }
  }

  test("vec_dot rejects element types other than DOUBLE and TINYINT") {
    for (t <- Seq("array<int>", "array<float>", "array<bigint>",
        "array<smallint>", "array<decimal(10,2)>", "array<string>")) {
      intercept[org.apache.spark.sql.AnalysisException] {
        int8Rows.select(Similarity.dot(col("a").cast(t), col("b")))
          .collect()
      }
      intercept[org.apache.spark.sql.AnalysisException] {
        int8Rows.select(Similarity.dot(col("b"), col("a").cast(t)))
          .collect()
      }
    }
  }

  // ---- IVF nearest-cell kernel --------------------------------------

  /** The `row_number` window formulation the kernel replaced: the
    * vector × centroid cross product ranked per id, assign by
    * (c2 − 2·dot) ascending, probe by dot descending, ties to the lower
    * cell; the first `n` cells per id, best first. */
  private def windowCells(vs: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, n: Int,
      probe: Boolean): Map[Long, Seq[Int]] = {
    import org.apache.spark.sql.expressions.Window
    val key = if (probe) Similarity.dot(col("v"), col("cv")).desc
      else (col("c2") - lit(2.0) * Similarity.dot(col("v"), col("cv"))).asc
    vs.crossJoin(broadcast(cent))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(key, col("cell"))))
      .filter(col("rk") <= n)
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("rk"), col("cell")))).as("c"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getInt(1))).toMap
  }

  private def kernelCells(vs: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame, n: Int,
      probe: Boolean): Map[Long, Seq[Int]] =
    vs.select(col("id"), graft.functions.VectorFunctions.ivf_nearest(
        col("v"), Similarity.ivfCells(cent), n, probe).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  /** Edge vectors (dimension 3) and a hand-made centroid set listed
    * out of cell order: two identical centroids (exact distance and dot
    * ties), a zero centroid with c2 = −0.0 beside one with c2 = 0.0
    * (the keys −0.0 and 0.0 tie), and an opposite direction. */
  private lazy val (edgeVecs, edgeCents) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val inf = Double.PositiveInfinity
    val vecs: Seq[Seq[Double]] = Seq(
      Seq(1.0, 0.0, 0.0),          // ties the two identical centroids
      Seq(0.5, 0.5, 0.0),          // ties the two axes
      Seq(Double.NaN, 1.0, 0.0),
      Seq(inf, 0.0, 0.0),          // inf, -inf and NaN (inf·0) keys
      Seq(-inf, 1.0, 0.0),
      Seq(-0.0, 0.0, -0.0),
      Seq(0.0, -0.0, 1e-300),
      Seq(0.0, 0.0, 0.0),          // zero vector
      Seq(2.0),                    // shorter than the centroids
      Seq(0.1, -0.2, 0.3, 9.0))    // longer
    val data = vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) } :+
      Row(vecs.length.toLong, null) // null vector
    val vs = spark.createDataFrame(spark.sparkContext.parallelize(data, 2),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = false)))))
    val cents = Seq(
      (9, Seq(1.0, 0.0, 0.0), 1.0),
      (2, Seq(0.0, 1.0, 0.0), 1.0),
      (5, Seq(1.0, 0.0, 0.0), 1.0),
      (7, Seq(0.0, 0.0, 0.0), -0.0),
      (0, Seq(-1.0, 0.0, 0.0), 1.0),
      (4, Seq(0.0, 0.0, 0.0), 0.0),
      (1, Seq(0.0, 0.6, 0.8), 1.0)).toDF("cell", "cv", "c2")
    (vs, cents)
  }

  private def assertKernelMatchesWindow(): Unit = {
    val fixV = vecs.select(col("vec_id").as("id"), col("v"))
    val fixC = Similarity.ivfCentroids(vecs, "vec_id", "v", 16)
    val oneC = fixC.filter(col("cell") === 3)
    val cases = Seq(
      ("fixture", fixV, fixC, Seq(1, 4, 16, 19)),
      ("fixture, one centroid", fixV, oneC, Seq(1, 2)),
      ("edges", edgeVecs, edgeCents, Seq(1, 3, 7, 10)),
      ("edges, one centroid", edgeVecs,
        edgeCents.filter(col("cell") === 7), Seq(1, 2)))
    for ((name, vs, cent, ns) <- cases; n <- ns; probe <- Seq(false, true)) {
      val want = windowCells(vs, cent, n, probe)
      val got = kernelCells(vs, cent, n, probe)
      assert(got == want, s"$name, n = $n, probe = $probe")
      assert(got.size == vs.count())
    }
  }

  test("ivf_nearest equals the row_number window, assign and probe " +
    "(whole-stage codegen, no fallback)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false") {
      assertKernelMatchesWindow()
    }
  }

  test("ivf_nearest equals the row_number window, assign and probe " +
    "(interpreted eval)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assertKernelMatchesWindow()
    }
  }

  test("ivf_nearest type checks: an ARRAY<DOUBLE> vector and a foldable " +
    "centroid literal") {
    val cells = Similarity.ivfCells(edgeCents)
    val nearest = graft.functions.VectorFunctions.ivf_nearest _
    intercept[org.apache.spark.sql.AnalysisException] {
      edgeVecs.select(nearest(col("v").cast("array<float>"), cells, 1,
        false)).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      edgeVecs.select(nearest(col("v"), array(struct(lit(0), col("v"),
        lit(1.0))), 1, false)).collect()
    }
  }

  test("micro-bench: native vs HOF dot (informational)") {
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val pairs = vecs.as("a").join(vecs.as("b"),
      col("a.vec_id") =!= col("b.vec_id"))
    // warmup both
    pairs.select(sum(Similarity.dot(col("a.v"), col("b.v")))).collect()
    pairs.select(sum(Similarity.dotHof(col("a.v"), col("b.v")))).collect()
    val tNative = time(
      pairs.select(sum(Similarity.dot(col("a.v"), col("b.v")))).collect())
    val tHof = time(
      pairs.select(sum(Similarity.dotHof(col("a.v"), col("b.v")))).collect())
    info(f"native=$tNative%.2fs hof=$tHof%.2fs speedup=${tHof / tNative}%.2fx")
    // native should never be dramatically slower
    assert(tNative < tHof * 1.5)
  }
}
