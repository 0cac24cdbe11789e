package graft

import graft.operators.Dedup
import graft.plans.PlanAudit
import org.apache.spark.sql.execution.PartialReducerPartitionSpec
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("mega-paragraph class (round-8 skew rehearsal): WindowGroupLimit " +
    "is in the plan so the rn=1 prune runs map-side, and exactly one " +
    "copy of the 1000-occurrence boilerplate survives") {
    val boiler = (0 until 10).map(i => s"boiler$i").mkString(" ")
    val docs = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) s"$boiler\n\nunique body $i with tail words"
          else s"unique body $i with tail words"))
      .toDF("doc_id", "text")
    val kept = Dedup.paragraphDedupNewline(docs)
    // the engaged mechanism: Catalyst's WindowGroupLimit rewrite
    // inserts a map-side top-1 per pmd5 BEFORE the shuffle, so the
    // mega-class ships one row per input partition, not 1000 rows
    val plan = kept.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    val rows = kept.collect()
    val boilerMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(boiler.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val megaKept = rows.filter(_.getAs[String]("pmd5") == boilerMd5)
    assert(megaKept.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("pidx"))).toSeq
      == Seq((0L, 0L)))
    // every unique body survives
    assert(rows.length == 2000 + 1)
  }

  test("AQE skew-join splits a hot partition into parallel sub-reads " +
    "(the mechanism the q135/q129 verify joins lean on at 100 TB " +
    "partition sizes)") {
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    // a conf with no set value reports null (or throws) — both mean
    // "restore by unsetting"
    val saved = keys.map(k =>
      k -> util.Try(conf.get(k)).toOption.filter(_ != null)).toMap
    try {
      // the skew thresholds exist for 100 TB partition sizes; scale
      // them down so a local hot key crosses them — the MECHANISM is
      // what's under test, not the production constants
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "65536")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32768")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // one hot key carrying 150k of 200k rows
      val big = spark.range(0, 200000).select(
        when($"id" < 150000, 0L).otherwise($"id" % 1000).as("k"),
        $"id".as("v"))
      val small = spark.range(0, 1000).select(
        $"id".as("k"), ($"id" * 2).as("w"))
      val joined = big.join(small, "k")
      // collect() (not count()) so THIS QueryExecution runs and its
      // adaptive plan finalizes — count() would execute a separate one
      assert(joined.collect().length == 200000)
      val skewReads = PlanAudit
        .flatten(joined.queryExecution.executedPlan).collect {
          case r: AQEShuffleReadExec if r.partitionSpecs
            .exists(_.isInstanceOf[PartialReducerPartitionSpec]) => r
        }
      assert(skewReads.nonEmpty,
        "expected an AQEShuffleRead with PartialReducerPartitionSpec " +
          "(the skew split); got:\n" +
          joined.queryExecution.executedPlan.toString.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }
}
