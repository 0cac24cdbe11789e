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
