package graft

/** Attribution probe for the round-13 bench movers (VERDICT r13 #3):
  * m5_image_decode read 2.30× (0.40→0.93 s) and p8_index_refresh
  * 1.67× (0.92→1.53 s) in the archived wiped-store run against a
  * 1.065× board median, with neither file changed. Before reading the
  * r14 bench, separate code from weather (the d10 lesson): loop each
  * query in one JVM under Bench's session config with per-iteration
  * GC deltas, and for p8 time the COLD arm (rotated artifact store +
  * cleared training memo → pays quantizer training + base-manifest
  * build) separately from the WARM arm (stored-manifest read → pays
  * only delta aggregates + merge) — the archive's wiped-store number
  * bills the cold rebuild to "refresh". Run:
  *   Test/runMain graft.BenchAttributionProbe /root/testdata/sf0.1 6
  */
object BenchAttributionProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val iters = if (args.length > 1) args(1).toInt else 6
    val spark = graft.core.GraftSession.local(32, "bench-attribution-probe")
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
    def rotateStore(): Unit = {
      spark.conf.set("spark.graft.artifacts.dir",
        java.nio.file.Files.createTempDirectory("attr_store").toString)
      graft.queries.AnnQueries.clearTrainingMemo()
    }
    def timed(label: String, iter: Int)(body: => Unit): Unit = {
      val g0 = gcMs
      val t0 = System.nanoTime()
      body
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[attr] iter$iter $label%-18s ${dt}%6.2f s  gc +${gcMs - g0} ms")
    }
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    rotateStore()
    // JIT warmup, untimed
    Seq("m4_resize", "m5_image_decode", "p8_index_refresh")
      .foreach { n => SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
        .write.format("noop").mode("overwrite").save(); release() }
    for (i <- 1 to iters) {
      timed("m4_resize", i) { run("m4_resize") }; release()
      timed("m5_image_decode", i) { run("m5_image_decode") }; release()
      // p8 cold: fresh store — pays quantizer training + base build
      rotateStore()
      timed("p8_cold_rebuild", i) { run("p8_index_refresh") }; release()
      // p8 warm: same store — the per-refresh cost the query exists for
      timed("p8_warm_refresh", i) { run("p8_index_refresh") }; release()
    }
    spark.stop()
  }
}
