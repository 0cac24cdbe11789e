package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DateType, LongType,
  StringType, StructField, StructType}

/** Persisted, stream-maintained KLL sketch table — the "summary table
  * at 100 TB" story end-to-end: q167 reads quantiles OFF a sketch
  * table; this ledger is what KEEPS that table current as events
  * stream in, with exactly-once semantics despite foreachBatch's
  * at-least-once replay (the [[Ledger]] commit protocol and its
  * [[Ledger.admit]] exactly-once guard).
  *
  * Each micro-batch: sketch the batch per (event_type, day), merge
  * with the current table (kilobytes — |types|·|days| rows regardless
  * of event volume), write the merged table as a NEW version, commit
  * via manifest rename with the batchId recorded. A replay of an
  * uncommitted batch re-derives from the same prior version
  * (semantically idempotent — KLL merge randomness may vary the
  * bytes, never getN or the error bound); a replay of a committed
  * batch sees its own id and no-ops. The fact stream is consumed
  * once; no query against the table ever rescans events.
  */
object SketchLedger {

  import Ledger.{Manifest, partName, writeManifest}

  private def tableDir(statePath: String, part: String) =
    s"$statePath/table/$part"

  private val schema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("day", DateType),
    StructField("sketch", BinaryType),
    StructField("n_values", LongType)))

  /** Start from an empty sketch table (version 1). */
  def init(spark: SparkSession, statePath: String): Unit = {
    Ledger.requireFresh(statePath)
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      schema)
      .write.mode("overwrite").parquet(tableDir(statePath, partName(1)))
    writeManifest(statePath, Manifest(1, Seq(partName(1))))
  }

  /** The current committed sketch table. Unlike the append-only
    * ledgers, every version is a FULL table, so the manifest always
    * lists exactly one part. With `asOfVersion`, the time-travel read:
    * the sketch table exactly as committed then — superseded versions
    * survive until an explicit [[vacuum]], so "what did the p99 look
    * like before yesterday's batch?" is a one-line audit read. Refuses
    * versions beyond CURRENT or without a committed snapshot (see
    * [[Ledger.readManifestAt]]). */
  def table(
      spark: SparkSession, statePath: String,
      asOfVersion: Long = -1L): DataFrame =
    tableOf(spark, statePath, Ledger.at(statePath, asOfVersion))

  private def tableOf(
      spark: SparkSession, statePath: String, m: Manifest): DataFrame =
    spark.read.schema(schema)
      .parquet(tableDir(statePath, m.keyParts.last))

  /** Quantile read-off from the current table, rolled up per
    * event_type (the q167 shape, but against live streamed state). */
  def quantiles(
      spark: SparkSession, statePath: String,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99), k: Int = 200): DataFrame = {
    import graft.functions.QuantileSketch.{kllNUdf, kllQuantilesUdf, kll_merge_agg}
    table(spark, statePath)
      .groupBy("event_type")
      .agg(sum("n_values").as("n_values"),
        kll_merge_agg(col("sketch"), k).as("sk"))
      .select(col("event_type"), col("n_values"),
        kllNUdf(col("sk")).as("sketch_n"),
        kllQuantilesUdf(col("sk"),
          typedlit(ps)).as("qs"))
      .orderBy("event_type")
  }

  /** foreachBatch function: usage
    * `events.writeStream.foreachBatch(SketchLedger.absorbSink(spark,
    * state)).start()`. Single writer per ledger, as everywhere. */
  def absorbSink(
      spark: SparkSession, statePath: String,
      k: Int = 200): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      Ledger.admit(statePath, batchId).foreach { m =>
        import graft.functions.QuantileSketch.{kll_agg, kll_merge_agg}
        val fresh = batch.filter(col("value").isNotNull)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(kll_agg(col("value").cast("double"), k).as("sketch"),
            count(lit(1)).as("n_values"))
        val next = m.version + 1
        tableOf(spark, statePath, m).unionByName(fresh)
          .groupBy("event_type", "day")
          .agg(kll_merge_agg(col("sketch"), k).as("sketch"),
            sum("n_values").as("n_values"))
          .select("event_type", "day", "sketch", "n_values")
          .write.mode("overwrite")
          .parquet(tableDir(statePath, partName(next)))
        writeManifest(statePath,
          Manifest(next, Seq(partName(next)), Some(batchId)))
      }

  /** Age-based retention for the per-version sketch tables — see
    * [[Ledger.vacuumState]]. */
  def vacuum(statePath: String, keepVersions: Int): Long =
    Ledger.vacuumState(statePath, keepVersions,
      m => m.keyParts.map("table/" + _), Seq("table"))
}
