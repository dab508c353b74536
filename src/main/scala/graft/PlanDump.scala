package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Optimization-round instrumentation: dump `.explain("formatted")` for
  * declared queries to text files, so plan claims in OPTIMIZATION_rN.md
  * are verifiable against committed artifacts (`plans/rN/<query>_*.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [q1 q2 ...]
  * Writes `<outDir>/<query>_<suffix>.txt` per query. With no names, dumps
  * the full inventory. Streaming queries execute during construction
  * (their returned frame is the drained snapshot); the dumped plan is the
  * final batch plan over the sink table — stated in the file header so a
  * reader doesn't mistake it for the micro-batch plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <suffix> [queries...]")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.GraftSession.local(appName = "plan-dump")
    Files.createDirectories(Paths.get(outDir))
    var failed = 0
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val header = s"== $name @ $sfDir (${spark.sparkContext.master}) ==\n"
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          (header + txt).getBytes(StandardCharsets.UTF_8))
        System.err.println(s"[plandump] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
          failed += 1
      }
    }
    spark.stop()
    System.err.println(s"[plandump] done: ${names.size - failed} ok, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
