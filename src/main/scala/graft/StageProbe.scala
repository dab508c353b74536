package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Optimization-round instrumentation: run one declared query under a
  * stage listener and print per-stage wall time, task core-time and
  * shuffle IO — the poor man's Spark-UI stage page for a headless box.
  *
  * Usage: runMain graft.StageProbe <sfDir> <query> [reps]
  */
object StageProbe {
  final class Tap extends SparkListener {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for { s <- si.submissionTime; c <- si.completionTime }
        yield c - s).getOrElse(-1L)
      val m = si.taskMetrics
      rows.add(f"stage ${si.stageId}%4d tasks=${si.numTasks}%4d wall=${wall}%6d ms " +
        f"run=${m.executorRunTime}%7d ms gc=${m.jvmGCTime}%5d ms " +
        f"deser=${m.executorDeserializeTime}%5d ms cpu=${m.executorCpuTime / 1000000}%7d ms " +
        f"sRead=${m.shuffleReadMetrics.totalBytesRead}%12d sWrite=${m.shuffleWriteMetrics.bytesWritten}%12d " +
        f"in=${m.inputMetrics.bytesRead}%12d  ${si.name.takeWhile(_ != '\n').take(60)}")
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProbe <sfDir> <query> [reps]")
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.GraftSession.local(appName = "stage-probe")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    (1 to reps).foreach { r =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val tap = new Tap
      spark.sparkContext.addSparkListener(tap)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.GraftShims.waitListenerBus(spark)
      spark.sparkContext.removeSparkListener(tap)
      println(f"== $name rep $r: $dt%.3f s ==")
      tap.rows.forEach(println(_))
    }
    spark.stop()
  }
}
