package graft

import graft.operators.Similarity
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
