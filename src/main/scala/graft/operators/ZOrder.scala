package graft.operators

import graft.functions.ZOrderFunctions.interleave_bits16
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering for multi-dimensional data
  * skipping — the layout-side optimization that makes selective scans
  * cheap at 100 TB: sort the table along an interleaved-bit curve of
  * two filter columns before writing parquet, and a range predicate
  * on EITHER column confines its matches to few row groups, so the
  * reader's min/max stats prune the rest without opening them. A
  * single-column sort gives perfect pruning on that column and NONE
  * on the other; the Z-curve splits the difference (the public Delta
  * Lake OPTIMIZE ZORDER design).
  *
  * The interleave itself is a native codegen'd expression
  * ([[graft.functions.InterleaveBits16]]). The z-ordered write is
  * [[graft.sources.Writers.zOrdered]]: one `repartitionByRange(zvalue)`
  * + in-partition sort — exactly the shuffle a plain sorted write
  * already pays, so Z-ordering is cost-neutral at write time.
  */
object ZOrder {

  /** Morton code of two pre-scaled 16-bit columns. */
  def zValue(x16: Column, y16: Column): Column =
    interleave_bits16(x16.cast("long"), y16.cast("long"))

  /** q160 — Z-order layout audit over lineitem on (l_partkey,
    * l_suppkey): bucket rows by the top bits of the Morton code and
    * report per-bucket extents of BOTH dimensions. The hash gate
    * proves the interleave math bit-for-bit against the oracle's
    * arithmetic construction; the per-bucket min/max columns ARE the
    * row-group stats a z-ordered write would produce — tight on both
    * dimensions at once (ZOrderSpec proves the pruning consequence on
    * real parquet footers). */
  def q160(t: graft.Tables): DataFrame =
    t.lineitem
      .select(
        col("l_partkey"), col("l_suppkey"),
        zValue(col("l_partkey") % 65536, col("l_suppkey") % 65536)
          .as("z"))
      .withColumn("bucket", shiftright(col("z"), 16).cast("long"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
        min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"),
        min("z").as("min_z"), max("z").as("max_z"))
      .orderBy("bucket")
}
