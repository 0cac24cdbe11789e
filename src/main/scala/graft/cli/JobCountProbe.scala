package graft.cli

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Diagnostic: counts the Spark JOBS (driver-synchronized actions) a
  * named operator launches — the evidence instrument for loop-shaped
  * operators (star components, PageRank, BFS) whose per-round job
  * count is the optimization target but whose final `explain` plan
  * only shows the last checkpoint read — and, since round 16, the
  * aggregate TASK METRICS of one measured materialization (input
  * bytes/records read, shuffle bytes/records written): the direct
  * guide-§2.3 evidence for "scans the input once instead of twice" /
  * "shuffles fewer bytes" claims that neither the initial plan (AQE
  * placeholders) nor the executed-plan STRING (reused stages print
  * their subtree at every reference) can show honestly. Usage:
  * `SPARK_GRAFT_SF_DIR=... runMain graft.cli.JobCountProbe <op>` where
  * op ∈ {star, pagerank, ppr, bfs, inc, ivf} or `q:<declaredQuery>`
  * (e.g. `q:q99_mad`). */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local("graft-jobcount-probe")
    val t = new graft.Tables(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val inBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val inRecords = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufWrite = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufRecords = new java.util.concurrent.atomic.AtomicLong(0L)
    val verbose = args.contains("-v")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        stages.addAndGet(js.stageInfos.size)
        starts.put(js.jobId, (js.time, js.stageInfos.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (verbose) Option(starts.get(je.jobId)).foreach {
          case (t0, ns) => println(
            f"  job=${je.jobId}%3d stages=$ns%2d ms=${je.time - t0}%5d")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          inBytes.addAndGet(m.inputMetrics.bytesRead)
          inRecords.addAndGet(m.inputMetrics.recordsRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    val op = args.headOption.getOrElse("star")
    def body(): org.apache.spark.sql.DataFrame = op match {
      case q if q.startsWith("q:") =>
        graft.SparkEntry.queries(q.stripPrefix("q:"))(spark, sfDir)
      case "star"     => graft.operators.Dedup.nearDupComponents(t.documents)
      case "pagerank" => graft.operators.Graph.pageRank(t.lineitem)
      case "ppr"      => graft.operators.Graph.personalizedPageRank(
        t.lineitem, seedSupplier = 7L)
      case "bfs"      => graft.operators.Graph.bfsHops(t.lineitem)
      case "inc"      => graft.sources.CorpusIncrement.q177(t.documents)
      case "ivf"      => graft.operators.Similarity.ivfCosineTopK(t.embeddings)
      case other      => sys.error(s"unknown op $other")
    }
    body().write.format("noop").mode("overwrite").save() // warmup
    Thread.sleep(500) // let the async listener bus drain
    jobs.set(0); stages.set(0)
    inBytes.set(0L); inRecords.set(0L); shufWrite.set(0L); shufRecords.set(0L)
    val t0 = System.nanoTime()
    body().write.format("noop").mode("overwrite").save()
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let the async listener bus drain
    println(f"""{"job_count_probe":"$op","jobs":${jobs.get},"stages":${stages.get},"sec":$sec%.3f,"input_mb":${inBytes.get / 1e6}%.1f,"input_records":${inRecords.get},"shuffle_write_mb":${shufWrite.get / 1e6}%.1f,"shuffle_records":${shufRecords.get},"sf":"$sfDir"}""")
    spark.stop()
  }
}
