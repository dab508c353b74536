package graft

/** Does a query's persist/checkpoint of a multiply-referenced relation
  * actually reach the consuming plan, or silently re-derive? Round 13
  * found x65/x70's persist+temp-view pattern NEVER substituting (the
  * cache manager does not match a WithCTE subtree against its
  * expansion inside the consumer's own WITH chain) — this probe prints
  * the leaf histogram (InMemoryTableScan / Scan ExistingRDD / FileScan)
  * of each named query's planned physical tree so re-derivation shows
  * up as an excess parquet-scan count.
  * Run: Test/runMain graft.CacheHitProbe <sfDir> <query...>
  */
object CacheHitProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 1 && args(1) == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 1) args.drop(1).toSeq
      else Seq("x65_pagerank", "x70_triangle_count")
    val spark = graft.core.GraftSession.local(8, "cache-hit-probe")
    // isolated artifact store: plan probing must not publish into (or
    // read from) the session-default store another run relies on
    spark.conf.set("spark.graft.artifacts.dir",
      java.nio.file.Files.createTempDirectory("cacheprobe_store").toString)
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      val mem = "InMemoryTableScan".r.findAllIn(plan).length
      val rddScan = "Scan ExistingRDD".r.findAllIn(plan).length
      val fs = "FileScan parquet".r.findAllIn(plan).length
      println(s"[cacheprobe] $name: InMemoryTableScan=$mem ExistingRDD=$rddScan FileScan=$fs")
      // PROBE_DUMP=1: one line per parquet scan (the file + pushed
      // schema) so an excess count is attributable to a relation
      if (sys.env.get("PROBE_DUMP").contains("1"))
        "FileScan parquet [^\\n]*".r.findAllIn(plan)
          .foreach(l => println("  " + l.take(200)))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
