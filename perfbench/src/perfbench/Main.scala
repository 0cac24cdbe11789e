package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Measured JVM of the benchmark: one workload, closed loop, one pass at
  * a time, on a fresh `graft.Sessions.builder` session.
  *
  * Pass 0 is the cold pass. Warm passes follow until `--seconds` have
  * elapsed since the first warm pass started, and at least
  * `--min-warm` have run. With `--trace 1`, half the warm passes run
  * with the job and plan ledgers registered; the others stay untraced
  * so the same run also measures tracing overhead. Every pass writes
  * under a fresh directory that is deleted after its checks, and the
  * session's cache is cleared between passes. The quality figures are
  * measured once, on the last pass's output.
  *
  * Writes one JSON document (`--out`) with the raw record of every
  * pass; `run.py` turns it into metrics.
  *
  *   perfbench.Main --workload W --inputs DIR --work DIR --seconds S
  *     --trace 0|1 --cores N --partitions P --min-warm M --out FILE
  */
object Main {

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  private def bytesUnder(f: File): Long =
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty[File]).map(bytesUnder).sum
    else f.length()

  private def delete(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty[File]).foreach(delete)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = a("workload")
    val work = new File(a("work")).getAbsolutePath
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val minWarm = a("min-warm").toInt
    val manifest = org.json4s.jackson.JsonMethods
      .parse(new File(a("inputs"), "manifest.json"))
      .values.asInstanceOf[Map[String, Any]]

    val spark = graft.Sessions.builder(s"perfbench-$name",
        Some(s"local[$cores]"), a("partitions").toInt)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS =
      ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val sc = spark.sparkContext
    val wl = Workload(name, spark, a("inputs"), manifest)
    val spans = new Spans
    val jobs = new JobLedger
    val plans = new PlanLedger
    def setTrace(on: Boolean): Unit = {
      PerfbenchBus.drain(sc)
      if (on) {
        jobs.drain(); plans.drain()
        sc.addSparkListener(jobs)
        spark.listenerManager.register(plans)
      } else {
        sc.removeSparkListener(jobs)
        spark.listenerManager.unregister(plans)
      }
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var quality = Map.empty[String, Double]
    var firstHash: Option[String] = None
    var warmStart = Double.NaN
    var i = 0
    var last = false
    while (!last) {
      if (i == 1) warmStart = spans.nowMs
      // warm passes trace in the order T U U T T U U T ..., so traced
      // and untraced passes sit equally late on average in the JIT's
      // warm-up and trace_overhead is not biased by it
      val traced = trace && i > 0 && i % 4 < 2
      if (traced) setTrace(true)
      val dir = new File(work, s"pass_$i")
      val gc0 = gcMs
      val t0 = spans.nowMs
      val failure =
        try { wl.pass(dir.getPath, spans); None }
        catch { case e: Throwable => Some(e) }
      val t1 = spans.nowMs
      val gc1 = gcMs
      last = i >= minWarm && spans.nowMs - warmStart >= seconds * 1000
      val calls = spans.drain()
      val (js, qs) =
        if (traced) {
          PerfbenchBus.drain(sc)
          val r = (jobs.drain(), plans.drain())
          setTrace(false)
          r
        } else (Nil, Nil)

      val check = failure match {
        case Some(e) =>
          Check(Seq(s"pass threw ${e.getClass.getName}: ${e.getMessage}"),
            "", Map.empty)
        case None =>
          try wl.check(dir.getPath)
          catch {
            case e: Throwable => Check(
              Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}"),
              "", Map.empty)
          }
      }
      val errors = mutable.ArrayBuffer(check.errors: _*)
      val findings = mutable.ArrayBuffer.empty[String]
      if (errors.isEmpty) {
        if (firstHash.isEmpty) firstHash = Some(check.hash)
        if (!firstHash.contains(check.hash)) {
          val msg = s"output hash ${check.hash} differs from the first " +
            s"pass's ${firstHash.get}"
          if (wl.hashMustRepeat) errors += msg else findings += msg
        }
        if (last && quality.isEmpty)
          quality = try wl.quality(dir.getPath) catch {
            case e: Throwable =>
              errors += s"quality threw ${e.getClass.getName}: ${e.getMessage}"
              Map.empty
          }
      }
      failure.foreach(_.printStackTrace())
      val t2 = spans.nowMs
      val stored = bytesUnder(dir)
      delete(dir)
      spark.catalog.clearCache()

      passes += Map(
        "index" -> i, "traced" -> traced, "start_ms" -> t0, "end_ms" -> t1,
        "wall_s" -> (t1 - t0) / 1000.0, "gc_s" -> (gc1 - gc0) / 1000.0,
        "check_s" -> (t2 - t1) / 1000.0,
        "stored_bytes" -> stored, "hash" -> check.hash,
        "errors" -> errors.toSeq, "findings" -> findings.toSeq,
        "values" -> check.values,
        "spans" -> calls.map(s => Map(
          "name" -> s.name, "parent" -> "pass", "start_ms" -> s.startMs,
          "end_ms" -> s.endMs)),
        "jobs" -> js.map(j => Map(
          "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "task_ms" -> j.taskMs, "cpu_ns" -> j.cpuNs,
          "input_bytes" -> j.inBytes, "output_bytes" -> j.outBytes,
          "shuffle_records" -> j.shuffleRecords,
          "spill_bytes" -> j.spillBytes)),
        "queries" -> qs.map(q => Map(
          "phases" -> q.phases.map { case (s, e) => Seq(s, e) },
          "join_rows" -> q.joinRows)))
      i += 1
    }

    // retained heap: the least used heap over three full collections,
    // so garbage that one collection happens to miss does not count
    val memory = ManagementFactory.getMemoryMXBean
    val retained = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200); memory.getHeapMemoryUsage.getUsed
    }.min
    val heapUsed = memory.getHeapMemoryUsage
    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> name, "cores" -> cores,
      "partitions" -> a("partitions").toInt,
      "session_start_s" -> sessionStartS,
      "heap_retained_mb" -> retained / 1048576.0,
      "heap_max_mb" -> heapUsed.getMax / 1048576.0,
      "jvm_args" -> rt.getInputArguments.asScala.toSeq,
      "quality" -> quality, "passes" -> passes.toSeq)
    spark.stop()
    val out = new java.io.PrintWriter(a("out"), "UTF-8")
    try out.write(org.json4s.jackson.Serialization.write(result)(
      org.json4s.DefaultFormats))
    finally out.close()
  }
}
