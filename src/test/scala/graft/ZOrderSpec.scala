package graft

import graft.functions.ZOrderFunctions.interleave_bits16
import graft.sources.Writers
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Z-order clustering (q160): the native interleave expression against
  * a Scala reference, SQL registration, codegen, and — the point of
  * the whole exercise — row-group pruning measured on REAL parquet
  * footers: a z-ordered layout bounds BOTH dimensions per row group,
  * a single-column sort only one. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def refInterleaveAt(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    for (i <- 0 until bits)
      z |= (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    z
  }

  private def refInterleave(x: Long, y: Long): Long =
    refInterleaveAt(x, y, 16)

  test("interleave_bits16 matches the bit-loop reference on edge " +
    "cases and a deterministic sweep; inputs mask to 16 bits") {
    val cases = Seq[(Long, Long)](
      (0L, 0L), (65535L, 0L), (0L, 65535L), (65535L, 65535L),
      (3L, 5L), (1L, 0L), (0L, 1L),
      (65536L, 0L), (131071L, 2L), // >16-bit: must mask
      (12345L, 54321L))
    val sweep = (0 until 500).map(i => (i * 131L % 65536, i * 977L % 65536))
    val got = (cases ++ sweep).toDF("x", "y")
      .select(col("x"), col("y"), interleave_bits16(col("x"), col("y")).as("z"))
      .collect()
    got.foreach { r =>
      val want = refInterleave(r.getLong(0) & 0xffffL, r.getLong(1) & 0xffffL)
      assert(r.getLong(2) == want, s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("interleave_bits16 is registered as a SQL function, is null-" +
    "safe, and stays inside whole-stage codegen") {
    assert(spark.sql("SELECT interleave_bits16(3L, 5L)").head().getLong(0)
      == 39L)
    val nulls = spark.sql(
      "SELECT interleave_bits16(CAST(NULL AS BIGINT), 5L)").head()
    assert(nulls.isNullAt(0))
    val df = spark.range(10).select(
      interleave_bits16(col("id"), col("id") + 1).as("z"))
    val wsc = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.nonEmpty, df.queryExecution.executedPlan.toString)
    // and the codegen path agrees with eval: same results either way
    assert(df.collect().map(_.getLong(0)).toSeq ==
      (0L until 10L).map(i => refInterleave(i, i + 1)))
  }

  test("interleave_bits at 31 bits matches the bit-loop reference, " +
    "and Writers.zValueN's 2-equal-budget delegation is bit-identical " +
    "to the general fold's documented packing") {
    val sweep = (0 until 300).map { i =>
      ((i * 2654435761L) & 0x7fffffffL, (i * 40503L * 65537L) & 0x7fffffffL)
    }
    val got = sweep.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.functions.ZOrderFunctions
          .interleave_bits(col("x"), col("y"), 31).as("z31"),
        graft.sources.Writers
          .zValueN(Seq(col("x"), col("y")), Seq(31, 31)).as("zw"))
      .collect()
    got.foreach { r =>
      val want = refInterleaveAt(r.getLong(0), r.getLong(1), 31)
      assert(r.getLong(2) == want, s"expr (${r.getLong(0)},${r.getLong(1)})")
      assert(r.getLong(3) == want, s"zValueN (${r.getLong(0)},${r.getLong(1)})")
    }
    // SQL surface with an explicit width
    assert(spark.sql("SELECT interleave_bits(3L, 5L, 31)")
      .head().getLong(0) == 39L)
    // the general fold (unequal budgets / n>2) is untouched: 3-column
    // round-robin packing of (1,1,1) at 1 bit each = 0b111
    assert(Seq((1L, 1L, 1L)).toDF("a", "b", "c")
      .select(graft.sources.Writers.zValueN(
        Seq(col("a"), col("b"), col("c")), Seq(1, 1, 1)))
      .head().getLong(0) == 7L)
  }

  test("monotone locality: z-range of a 2-d box is bounded — points " +
    "inside a quadrant never interleave outside its z-range") {
    // quadrant [0,255]x[0,255] occupies exactly z in [0, 65535]
    val inQ = (0 until 200).map(i => (i * 13L % 256, i * 29L % 256))
    inQ.foreach { case (x, y) =>
      val z = refInterleave(x, y)
      assert(z >= 0 && z <= 65535, s"($x,$y) -> $z")
    }
    assert(refInterleave(256L, 0L) > 65535L)
  }

  /** Per-row-group (min, max) of a long column read straight from the
    * parquet footers under `dir` — what a 100 TB reader's pruning
    * actually consults. */
  private def rowGroupStats(
      dir: String, column: String): Seq[(Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val rd = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
        try rd.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == column).get
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
            st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
        } finally rd.close()
      }
  }

  test("z-ordered parquet prunes row groups on the NON-sort " +
    "dimension where a single-column sort cannot (footer min/max)") {
    val li = tables.lineitem.select("l_partkey", "l_suppkey")
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder_")
    val linearDir = s"$tmp/linear"
    val zDir = s"$tmp/zorder"
    val files = 8
    // single-column layout: range-partition + sort by l_partkey only
    li.repartitionByRange(files, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.parquet(linearDir)
    val (pkLo, pkHi, skLo, skHi) = {
      val r = li.agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).head()
      (r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble)
    }
    // z-ordered layout through the shipped writer, on both keys
    // scaled onto the same 16-bit grid (raw keys of unequal width
    // would let the wider one fill the top z bits alone)
    def grid16(c: String, lo: Double, hi: Double) =
      floor((col(c) - lit(lo)) * 65535.0 / (hi - lo)).cast("long")
    Writers.zOrdered(
      li.withColumn("__x", grid16("l_partkey", pkLo, pkHi))
        .withColumn("__y", grid16("l_suppkey", skLo, skHi)),
      zDir, "__x", "__y", files)
    // narrow band on l_suppkey — the dimension the linear layout
    // ignores entirely
    val bandLo = skLo.toLong
    val bandHi = (skLo + (skHi - skLo) / 8).toLong
    def overlapping(dir: String): Int =
      rowGroupStats(dir, "l_suppkey").count { case (mn, mx) =>
        mx >= bandLo && mn <= bandHi
      }
    val lin = overlapping(linearDir)
    val zo = overlapping(zDir)
    // linear: suppkey is uncorrelated with the sort key, every row
    // group spans ~the full suppkey domain -> nothing prunes
    assert(lin >= files - 1, s"linear overlapped $lin of >= $files")
    // z-order: the band confines itself to a strict subset
    assert(zo < lin, s"z-order overlapped $zo, linear $lin")
    assert(zo <= files / 2, s"z-order overlapped $zo of $files")
    // correctness unaffected by layout: identical rows both ways
    val a = spark.read.parquet(linearDir)
    val b = spark.read.parquet(zDir).drop("__x", "__y")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
