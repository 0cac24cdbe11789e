package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // optional substring filter for focused local iteration; the driver
    // sets no filter and always dumps the full set
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
    // Failed queries must stay VISIBLE: round 6's correctness artifact
    // silently dropped three erroring queries (152 entries where round 5
    // had 155) and the absence was only caught by a cross-round diff.
    // Record every failure in errors.json and leave an empty marker dir
    // so the driver reports an err row instead of omitting the query.
    val failures = scala.collection.mutable.ListBuffer.empty[(String, String)]
    SparkEntry.queries
      .filter { case (n, _) =>
        filter.forall(f => f.split(',').exists(n.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val firstLine = BenchGate.errorLine(e)
        System.err.println(s"[verify] $name FAILED: $firstLine")
        // the marker dir must be EMPTY: a mid-write failure leaves
        // _temporary debris, and a rerun over a previous success would
        // otherwise serve STALE parquet as current results. If the
        // cleanup itself fails, say so LOUDLY in the recorded error —
        // stale-served-as-current must never be invisible.
        val dir = new java.io.File(s"$outDir/$name")
        def rmrf(f: java.io.File): Boolean = {
          val childrenOk =
            if (f.isDirectory)
              Option(f.listFiles()).getOrElse(Array.empty)
                .forall(rmrf)
            else true
          childrenOk && (f.delete() || !f.exists())
        }
        val cleaned = rmrf(dir)
        dir.mkdirs()
        val residue = Option(dir.listFiles()).getOrElse(Array.empty)
        failures += name -> (
          if (cleaned && residue.isEmpty) firstLine
          else s"[STALE-DIR: marker dir could not be emptied — " +
            s"results under $name may be stale] " + firstLine)
        if (!cleaned || residue.nonEmpty)
          System.err.println(
            s"[verify] $name marker dir NOT emptied — stale risk")
      }
    }
    import BenchGate.{jsonString => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: " +
          failures.map(_._1).mkString(", "))
    }
    spark.stop()
  }
}
