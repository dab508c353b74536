package graft

/** Attribution probe for the x65/x70 bench variance (round 13): the
  * driver board showed x70 3.09 → 3.59 across r11/r12 and local runs
  * span 3.9–6.4 s — pass2 sometimes SLOWER than pass1 on an idle box.
  * Loops the two graph queries in one JVM under Bench's exact session
  * config, releasing caches between iterations, and prints per-iteration
  * wall plus the JVM GC-time delta so a slow line is attributable to
  * collector pressure vs plan instability. Run:
  *   Test/runMain graft.GraphBenchProbe /root/testdata/sf0.1 6
  */
object GraphBenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val iters = if (args.length > 1) args(1).toInt else 6
    val aqe = sys.env.getOrElse("PROBE_AQE", "true")
    val spark = graft.core.GraftSession.local(32, "graph-bench-probe")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // JIT warmup, untimed
    for (name <- Seq("x65_pagerank", "x70_triangle_count")) {
      SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save()
      release()
    }
    for (i <- 1 to iters; name <- Seq("x65_pagerank", "x70_triangle_count")) {
      val g0 = gcMs
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[probe] iter$i $name%-20s ${dt}%6.2f s  gc +${gcMs - g0} ms")
      release()
    }
    spark.stop()
  }
}
