package graft

import graft.streaming.EventsStreaming
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch-vs-stream equivalence (SURVEY §5.2.6): the same transform body
  * run over `spark.read` and `spark.readStream` on the same parquet
  * must agree. */
class StreamingSpec extends SparkSpec {

  // streaming file source wants a directory of parquet part-files with
  // a declared schema; write the normalized events once
  lazy val eventsDir: String = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-stream").toString + "/events"
    tables.events.write.parquet(dir)
    dir
  }

  private def canon(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def runStream(
      name: String, transform: DataFrame => DataFrame): DataFrame = {
    val q = EventsStreaming.runToMemory(spark, eventsDir, name, transform)
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("corpus-hygiene transforms are streaming-safe: stream == batch " +
    "(piiScrub + normalizeText + blocklistTag are narrow, no state)") {
    import graft.operators.Scrub
    val docsRoot = java.nio.file.Files
      .createTempDirectory("graft-stream-docs")
    // recursive cleanup at JVM exit — deleteOnExit can't remove a
    // populated directory and repeated runs would accumulate copies
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Option(docsRoot.toFile.listFiles).foreach { _ =>
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory)
            Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
          f.delete(); ()
        }
        rm(docsRoot.toFile)
      }))
    val docsDir = docsRoot.toString + "/documents"
    tables.documents.write.parquet(docsDir)
    val schema = tables.documents.schema
    def hygiene(df: DataFrame): DataFrame =
      Scrub.blocklistTag(
        Scrub.piiScrub(df.withColumn(
          "text", Scrub.normalizeText(col("text")))),
        Seq("slow", "merge", "window"))
        .select(col("doc_id"), col("text"), col("n_email"),
          col("blocked"), col("block_term"))
    val batch = hygiene(spark.read.parquet(docsDir))
    val q = spark.readStream.schema(schema).parquet(docsDir)
      .transform(hygiene)
      .writeStream.format("memory").queryName("hygiene")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("hygiene")
    assert(canon(stream) == canon(batch))
  }

  test("model-based quality scoring is streaming-safe: a persisted " +
    "model scores the document stream == batch") {
    import graft.ml.QualityModel
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-qscore")
    val docsDir = root.toString + "/documents"
    tables.documents.write.parquet(docsDir)
    // the production split: train OFFLINE on a labeled sample, persist,
    // then score the ingest stream with the reloaded model — scoring is
    // a narrow stateless transform (hash featurizer + one broadcast
    // coefficient vector), so it composes with readStream unchanged
    val labeled = QualityModel
      .hashedNgrams(tables.documents, dims = 1 << 12)
      .withColumn("label", (col("doc_id") % 5 === 0).cast("double"))
    val modelDir = java.nio.file.Files
      .createTempDirectory("graft-qmodel").toString
    QualityModel.saveModel(QualityModel.train(labeled), modelDir)
    val model = QualityModel.loadModel(modelDir)
    def scoreIt(df: DataFrame): DataFrame =
      QualityModel.score(model, df)
        .select(col("doc_id"), col("quality"))
    val batch = scoreIt(spark.read.parquet(docsDir))
    val q = spark.readStream.schema(tables.documents.schema)
      .parquet(docsDir)
      .transform(scoreIt)
      .writeStream.format("memory").queryName("qscore")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    assert(canon(spark.table("qscore")) == canon(batch))
  }

  test("tumbling window: stream == batch") {
    val batch = EventsStreaming.tumblingCounts(
      spark.read.parquet(eventsDir))
    val stream = runStream("tumbling", EventsStreaming.tumblingCounts)
    assert(canon(stream) == canon(batch))
  }

  test("sliding window: stream == batch") {
    val batch = EventsStreaming.slidingCounts(spark.read.parquet(eventsDir))
    val stream = runStream("sliding", EventsStreaming.slidingCounts)
    assert(canon(stream) == canon(batch))
  }

  test("session windows: stream == batch == lag formulation") {
    val batchDf = spark.read.parquet(eventsDir)
    val batch = EventsStreaming.sessionsPerUser(batchDf)
    // streaming session_window needs update/complete mode + watermark
    val q = EventsStreaming.runToMemory(
      spark, eventsDir, "sessions",
      df => EventsStreaming.sessionCounts(df), Some("ts" -> "31 days"),
      "complete")
    try q.processAllAvailable() finally q.stop()
    val stream = spark.table("sessions")
      .groupBy("user_id")
      .agg(count(lit(1)).as("sessions"), sum("n").cast("long").as("events"))
    assert(canon(stream) == canon(batch))
    // and the lag+running-sum batch formulation agrees (q28 oracle shape)
    val lagForm = Relational2.sessionsViaLag(batchDf)
    assert(canon(lagForm) == canon(batch.orderBy("user_id")))
  }

  test("transformWithState event-time timers close idle sessions " +
    "exactly once (append mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def t(s: String) = Timestamp.valueOf(s)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp)]
      val q = graft.streaming.TwsTimedSessions
        .sessionize(spark, mem.toDF().toDF("user_id", "ts")).toDF()
        .writeStream.format("memory").queryName("tws_timed")
        .outputMode("append").start()
      try {
        // batch 1: two keys open sessions
        mem.addData((1L, t("2024-01-01 10:00:00")),
          (1L, t("2024-01-01 10:10:00")), (2L, t("2024-01-01 10:05:00")))
        q.processAllAvailable()
        // batch 2: u1's late event closes its first session in-batch
        mem.addData((1L, t("2024-01-01 12:00:00")))
        q.processAllAvailable()
        // sentinel batches advance the watermark so the TIMERS close
        // the idle sessions of u2 (10:35 deadline) and u1 (12:30)
        mem.addData((99L, t("2024-01-01 13:00:00")))
        q.processAllAvailable()
        mem.addData((99L, t("2024-01-01 15:00:00")))
        q.processAllAvailable()
        mem.addData((99L, t("2024-01-01 17:00:00")))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_timed")
        .select(col("user_id"), col("start").cast("string"),
          col("end").cast("string"), col("n_events"))
        .as[(Long, String, String, Long)].collect().toSet
      val expected = Set(
        (1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2L),
        (1L, "2024-01-01 12:00:00", "2024-01-01 12:00:00", 1L),
        (2L, "2024-01-01 10:05:00", "2024-01-01 10:05:00", 1L),
        (99L, "2024-01-01 13:00:00", "2024-01-01 13:00:00", 1L),
        (99L, "2024-01-01 15:00:00", "2024-01-01 15:00:00", 1L))
      // exact-once append: every closed session exactly once, the
      // still-open 17:00 session absent
      assert(got == expected, s"got $got")
      assert(spark.table("tws_timed").count() == 5)
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  test("timed sessionization handles out-of-order events under a " +
    "nonzero watermark delay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def t(s: String) = Timestamp.valueOf(s)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp)]
      val q = graft.streaming.TwsTimedSessions
        .sessionize(spark, mem.toDF().toDF("user_id", "ts"),
          delay = "1 hour").toDF()
        .writeStream.format("memory").queryName("tws_ooo")
        .outputMode("append").start()
      try {
        // batch 1: session opens at 12:00; watermark becomes 11:00
        mem.addData((1L, t("2024-01-01 12:00:00")))
        q.processAllAvailable()
        // batch 2: two LATE-but-in-watermark events. 11:50 is within
        // the 30-min gap of [12:00,12:00] and must EXTEND its start;
        // 11:10 is more than a gap earlier and must open a DISTINCT
        // session — the naive merge would fold both into [12:00,12:00]
        mem.addData((1L, t("2024-01-01 11:50:00")),
          (1L, t("2024-01-01 11:10:00")))
        q.processAllAvailable()
        // sentinels march the watermark past both close deadlines so
        // the timer drains u1 (nothing may close on in-batch evidence
        // here: a bridging event could still arrive under the delay)
        mem.addData((99L, t("2024-01-01 14:00:00")))
        q.processAllAvailable()
        mem.addData((99L, t("2024-01-01 16:00:00")))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_ooo")
        .filter(col("user_id") === 1L)
        .select(col("user_id"), col("start").cast("string"),
          col("end").cast("string"), col("n_events"))
        .as[(Long, String, String, Long)].collect().toSet
      val expected = Set(
        (1L, "2024-01-01 11:10:00", "2024-01-01 11:10:00", 1L),
        (1L, "2024-01-01 11:50:00", "2024-01-01 12:00:00", 2L))
      assert(got == expected, s"got $got")
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  test("timed sessionization splits events exactly one gap apart " +
    "(the repo-wide >= convention)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp)]
      val q = graft.streaming.TwsTimedSessions
        .sessionize(spark, mem.toDF().toDF("user_id", "ts")).toDF()
        .writeStream.format("memory").queryName("tws_gap")
        .outputMode("append").start()
      try {
        // one batch, 30-min gap, events exactly 30 min apart: two
        // sessions — same boundary rule as session_window and the
        // sibling sessionizers (a merge here would also contradict the
        // watermark close rule when the same events span batches)
        mem.addData((1L, t("2024-01-01 10:00:00")),
          (1L, t("2024-01-01 10:30:00")))
        q.processAllAvailable()
        mem.addData((99L, t("2024-01-01 13:00:00")))
        q.processAllAvailable()
        mem.addData((99L, t("2024-01-01 15:00:00")))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_gap").filter(col("user_id") === 1L)
        .select(col("start").cast("string"), col("n_events"))
        .as[(String, Long)].collect().toSet
      assert(got == Set(("2024-01-01 10:00:00", 1L),
        ("2024-01-01 10:30:00", 1L)), s"got $got")
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  test("timed sessionization does not early-close a session a " +
    "sub-ms-adjacent future event can still reach") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(Long, Timestamp)]
      val q = graft.streaming.TwsTimedSessions
        .sessionize(spark, mem.toDF().toDF("user_id", "ts")).toDF()
        .writeStream.format("memory").queryName("tws_subms")
        .outputMode("append").start()
      try {
        // session A ends at 10:00:00.000500; B starts a gap + 100 µs
        // later — separate sessions, but B only proves future events
        // have ts >= 10:30:00.000 (MS-FLOORED watermark), which is
        // 600 µs BEFORE B and inside A's gap. A bare >=-gap evidence
        // close would emit A here...
        mem.addData((1L, t("2024-01-01 10:00:00.0005")))
        q.processAllAvailable()
        mem.addData((1L, t("2024-01-01 10:30:00.0006")))
        q.processAllAvailable()
        // ...and then this watermark-legal event (100 µs above the
        // floored watermark, 500 µs below B) BRIDGES A and B into one
        // session — an emitted A would now be a duplicate/
        // contradicting append row
        mem.addData((1L, t("2024-01-01 10:30:00.0001")))
        q.processAllAvailable()
        // sentinels march the watermark so the timer drains key 1
        mem.addData((99L, t("2024-01-01 11:30:00")))
        q.processAllAvailable()
        mem.addData((99L, t("2024-01-01 13:00:00")))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("tws_subms").filter(col("user_id") === 1L)
        .select(col("start").cast("string"), col("end").cast("string"),
          col("n_events"))
        .as[(String, String, Long)].collect().toSet
      assert(got == Set(("2024-01-01 10:00:00.0005",
        "2024-01-01 10:30:00.0006", 3L)), s"got $got")
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  test("stream-static enrichment join: stream == batch") {
    import org.apache.spark.sql.functions.{count => fcount}
    val userDim = tables.events.select("user_id").distinct()
      .withColumn("cohort", pmod(col("user_id"), lit(3)))
    val transform: DataFrame => DataFrame = df =>
      EventsStreaming.enriched(df, userDim)
        .groupBy("cohort", "event_type").agg(fcount(lit(1)).as("n"))
    val batch = transform(spark.read.parquet(eventsDir))
    val stream = runStream("enriched", transform)
    assert(canon(stream) == canon(batch))
  }

  test("watermark drops late data in append mode") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import java.sql.Timestamp
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def ts(s: String): Timestamp = Timestamp.valueOf(s)
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
    val agg = EventsStreaming.tumblingCounts(df)
    val q = agg.writeStream.format("memory").queryName("late_test")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: events up to 12:30 → watermark advances to 11:30
      mem.addData(
        (ts("2024-01-01 09:10:00"), "click", 1.0),
        (ts("2024-01-01 12:30:00"), "click", 1.0))
      q.processAllAvailable()
      // batch 2: a late event at 08:20 — beyond the 1h watermark.
      // its 08:00 window is already finalized; plus a fresh event that
      // closes the 09:00 window so it emits
      mem.addData(
        (ts("2024-01-01 08:20:00"), "click", 1.0),
        (ts("2024-01-01 14:00:00"), "click", 1.0))
      q.processAllAvailable()
      val emitted = spark.table("late_test")
        .select(col("w").cast("string")).as[String].collect().toSet
      // the 09:00 window emitted once closed; the late 08:00 never did
      assert(emitted.contains("2024-01-01 09:00:00"))
      assert(!emitted.contains("2024-01-01 08:00:00"))
    } finally q.stop()
  }

  test("stream-stream interval self-join: stream == batch") {
    val batch = EventsStreaming.clicksBeforePurchase(
      spark.read.parquet(eventsDir))
    // inner stream-stream joins emit in append mode; watermark only
    // bounds state
    val q = EventsStreaming.runToMemory(
      spark, eventsDir, "ss_join", EventsStreaming.clicksBeforePurchase,
      watermark = None, outputMode = "append")
    try q.processAllAvailable() finally q.stop()
    assert(canon(spark.table("ss_join")) == canon(batch))
    assert(batch.count() > 0)
  }

  test("stream-stream LEFT OUTER interval join: stream == batch " +
    "including a never-matched purchase") {
    val base = java.nio.file.Files.createTempDirectory("graft-oj").toString
    val srcDir = s"$base/src"; new java.io.File(srcDir).mkdirs()
    var n = 0
    def feed(df: DataFrame, tag: String): Unit = {
      val tmp = s"$base/stage_$tag"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          n += 1
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$srcDir/part_${tag}_$n.parquet"))
        }
    }
    val ev = spark.read.parquet(eventsDir)
    // a purchase on a user no other event touches — the outer join
    // must emit exactly one (424242, 900001, null) row for it
    val lone = ev.limit(1).select(lit(900001L).as("event_id"),
      col("ts"), lit(424242L).as("user_id"),
      lit("purchase").as("event_type"), col("value"), col("props"))
    val real = ev.unionByName(lone)
    // far-future click+purchase sentinels advance BOTH side watermarks
    // past every real purchase so the outer nulls get emitted; their
    // own rows are excluded from the comparison
    def sentinel(days: Int) = ev.limit(2).select(
      (lit(990000L) + col("event_id")).as("event_id"),
      (col("ts") + expr(s"INTERVAL $days DAYS")).as("ts"),
      lit(999999L).as("user_id"),
      (when(col("event_id") % 2 === 0, "click").otherwise("purchase"))
        .as("event_type"),
      col("value"), col("props"))
    feed(real, "a")
    val q = spark.readStream.schema(EventsStreaming.eventsSchema)
      .parquet(srcDir)
      .transform(EventsStreaming.purchasesWithClicks)
      .writeStream.format("memory").queryName("ss_outer")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      feed(sentinel(90), "b"); q.processAllAvailable()
      feed(sentinel(180), "c"); q.processAllAvailable()
    } finally q.stop()
    val stream = spark.table("ss_outer").filter(col("user_id") =!= 999999L)
    val batch = EventsStreaming.purchasesWithClicks(real)
    assert(canon(stream) == canon(batch))
    val loneRows = stream.filter(col("user_id") === 424242L).collect()
    assert(loneRows.length == 1 && loneRows.head.isNullAt(2),
      s"never-matched purchase: ${loneRows.mkString(",")}")
    // and the outer result strictly contains the inner one
    assert(stream.filter(col("c_event").isNull).count() > 0)
  }

  test("parquet sink + checkpoint: kill/restart loses and duplicates nothing") {
    import org.apache.spark.sql.DataFrame
    val base = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ck = s"$base/ck"
    new java.io.File(srcDir).mkdirs()
    // the file source consumes top-level files: stage each feed to a
    // temp dir and move its part file in under a unique name
    var n = 0
    def feed(df: DataFrame, tag: String): Unit = {
      val tmp = s"$base/stage_$tag"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          n += 1
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$srcDir/part_${tag}_$n.parquet"))
        }
    }
    val ev = tables.events
    val half = ev.count() / 2
    // far-future sentinels: push the watermark past every real window so
    // append mode finalizes them; their own (held-open) window never
    // emits, so the expected output is exactly the real windows
    val sentinel = ev.limit(2)
      .withColumn("ts", col("ts") + expr("INTERVAL 90 DAYS"))

    feed(ev.filter(col("event_id") <= half), "a")
    val q1 = EventsStreaming.runToParquet(
      spark, srcDir, outDir, ck, EventsStreaming.tumblingCounts)
    try q1.processAllAvailable() finally q1.stop() // the "kill"

    feed(ev.filter(col("event_id") > half), "b")
    val q2 = EventsStreaming.runToParquet(
      spark, srcDir, outDir, ck, EventsStreaming.tumblingCounts)
    try {
      q2.processAllAvailable()
      feed(sentinel.limit(1), "z1")
      q2.processAllAvailable()
      feed(sentinel, "z2")
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(outDir)
      .collect().map(_.toString).sorted.toSeq
    val expected = EventsStreaming.tumblingCounts(ev)
      .collect().map(_.toString).sorted.toSeq
    // multiset equality: a replayed batch would duplicate rows, a lost
    // state store would drop windows spanning the kill point
    assert(got == expected)
  }

  test("foreachBatch upsert: kill/restart converges to batch groupBy") {
    import org.apache.spark.sql.DataFrame
    val base = java.nio.file.Files.createTempDirectory("graft-up").toString
    val srcDir = s"$base/src"; val tableDir = s"$base/table"
    val ck = s"$base/ck"
    new java.io.File(srcDir).mkdirs()
    var n = 0
    def feed(df: DataFrame, tag: String): Unit = {
      val tmp = s"$base/stage_$tag"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          n += 1
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(s"$srcDir/part_${tag}_$n.parquet"))
        }
    }
    val ev = tables.events
    val half = ev.count() / 2
    feed(ev.filter(col("event_id") <= half), "a")
    val q1 = EventsStreaming.runUpsert(spark, srcDir, tableDir, ck)
    try q1.processAllAvailable() finally q1.stop() // the "kill"
    // keys updated in the first half must already be present
    assert(spark.read.parquet(tableDir).count() > 0)

    feed(ev.filter(col("event_id") > half), "b")
    val q2 = EventsStreaming.runUpsert(spark, srcDir, tableDir, ck)
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(tableDir)
      .select(col("user_id"), col("n_events"),
        round(col("total_value"), 4).as("v"))
      .collect().map(_.toString).sorted.toSeq
    val expected = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))
      .select(col("user_id"), col("n_events"),
        round(col("total_value"), 4).as("v"))
      .collect().map(_.toString).sorted.toSeq
    // last-writer-wins merge must equal the batch aggregate: one row
    // per key, totals spanning the kill point, no replay duplicates
    assert(got == expected)
  }

  test("streaming MG heavy hitters: superset guarantee and lower " +
    "bounds hold on the batch path AND across micro-batches (RocksDB); " +
    "state stays bounded") {
    import graft.streaming.TwsHeavyHitters
    val spark2 = spark
    import spark2.implicits._
    val C = 50
    val toks = tables.documents
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val exact = toks.groupBy("token").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    val hitters = exact.collect {
      case (t, n) if n * C > total => t
    }.toSet
    assert(hitters.nonEmpty, "fixture must have at least one hitter")
    // streaming path FIRST: three micro-batches through RocksDB state
    // (this also spins up the StateStoreCoordinator the batch-mode
    // TransformWithStateExec below needs)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = toks.as[String].collect()
    val chunks = all.grouped(math.max(1, all.length / 3 + 1)).toSeq
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[String]
      val q = TwsHeavyHitters.heavyHitterCandidates(
          spark, mem.toDF().toDF("token")).toDF()
        .writeStream.format("memory").queryName("mg_cands")
        .outputMode(OutputMode.Update()).start()
      try {
        chunks.foreach { c =>
          mem.addData(c.toIndexedSeq)
          q.processAllAvailable()
        }
      } finally q.stop()
      val rows = spark.table("mg_cands").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3)))
      // final state per bucket = the rows carrying its max `seen`
      val fin = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        val mx = rs.map(_._4).max; rs.filter(_._4 == mx).toSeq
      }
      assert(hitters.subsetOf(fin.map(_._2).toSet),
        s"missing: ${hitters -- fin.map(_._2).toSet}")
      fin.foreach(c => assert(c._3 <= exact(c._2), c.toString))
      fin.groupBy(_._1).foreach { case (_, rs) =>
        assert(rs.map(_._2).distinct.length <= C)
      }
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
    // batch path: the same body, state evaluated once per bucket
    val cand = TwsHeavyHitters.heavyHitterCandidates(spark, toks)
      .collect()
    assert(hitters.subsetOf(cand.map(_.token).toSet))
    cand.foreach(c => assert(c.lb <= exact(c.token), c.toString))
    cand.groupBy(_.bucket).foreach { case (_, rs) =>
      assert(rs.map(_.token).distinct.length <= C)
    }
  }

  test("JSONL ingest front door: stream == batch on the same directory, " +
    "corrupt lines route in both") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-jsonl-stream").toString + "/docs"
    graft.sources.Formats.writeJsonl(tables.documents, dir)
    val q = graft.sources.Formats.jsonlStream(spark, dir)
      .writeStream.format("memory").queryName("jsonl_in")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        Option(r.getString(3)),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        Option(r.getString(5)))
    val got = spark.table("jsonl_in").collect().map(key).toSet
    val want = graft.sources.Formats
      .jsonlRoundtrip(spark, tables.documents).collect().map(key).toSet
    assert(got == want)
    assert(got.exists(_._2 == 1L) && got.exists(_._2 == 0L))
  }

  test("streaming dedup drops duplicate event ids") {
    val doubled = tables.events.unionAll(tables.events)
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-stream2").toString + "/events"
    doubled.write.parquet(dir2)
    val q = EventsStreaming.runToMemory(
      spark, dir2, "dedup", EventsStreaming.dedupped,
      watermark = None, outputMode = "append")
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("dedup").count() == tables.events.count())
  }
}

/** Batch lag+running-sum sessionization with session_window boundary
  * semantics (>= gap ⇒ new session) — the q28 oracle twin. */
object Relational2 {
  import org.apache.spark.sql.expressions.Window
  def sessionsViaLag(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapMicros = 30L * 60 * 1000 * 1000
    events
      .select(col("user_id"),
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
          >= gapMicros, 1).otherwise(0).as("new_sess"))
      .groupBy("user_id")
      .agg((lit(1) + sum("new_sess")).cast("long").as("sessions"),
        count(lit(1)).as("events"))
      .orderBy("user_id")
  }
}
