package graft

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** INSTRUMENT (test scope, never shipped): measures the fixed
  * per-query / per-trigger cost floor of the streaming demo lines
  * (VERDICT r10 task 6). The seven demo-feed bench lines
  * (x27/x29/x31/x32/x33/x66/x68) sum to ~17 s at sf0.1 and drift in
  * the documented RocksDB band; this probe separates what a
  * maximally-trivial feed costs through the SAME machinery — RocksDB
  * state store + changelog checkpointing, AvailableNow trigger, memory
  * sink, 4 state partitions — from the lines' real work.
  *
  * Method: 1-row-per-file feeds with pinned mtimes, maxFilesPerTrigger
  * = 1, so n files = n triggers. Two shapes per n ∈ {1, 2, 4, 8}:
  *  - stateless: select() passthrough — planning + trigger/commit
  *    floor with NO state store;
  *  - window: x27's exact watermark + 1-minute tumbling count —
  *    adds the per-trigger RocksDB open/put/changelog-commit.
  * Each cell runs twice, min taken (the Bench convention). The report
  * prints wall(n) per shape plus the least-squares intercept (per-
  * QUERY session floor: query start/stop, checkpoint dir, memory sink)
  * and slope (per-TRIGGER floor). Findings land in PLANS.md.
  *
  * Run: sbt -batch "Test/runMain graft.StreamingFloorProbe"
  */
object StreamingFloorProbe {

  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(32, "streaming-floor-probe")
    // mirror StreamingQueries.withShufflePartitions exactly
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    spark.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "false")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")

    def mkFeed(nFiles: Int): String = {
      import spark.implicits._
      val root = Files.createTempDirectory(s"floor_feed_$nFiles").toFile
      (0 until nFiles).foreach { i =>
        val part = new java.io.File(root, s"build_$i")
        Seq((s"2024-01-01 00:0$i:00", i.toLong))
          .toDF("ts_s", "v").select(col("ts_s").cast("timestamp").as("ts"), col("v"))
          .coalesce(1).write.mode("overwrite").parquet(part.toString)
        val f = part.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(root, s"f$i.parquet")
        f.renameTo(dst)
        dst.setLastModified(1700000000000L + i * 1000L)
        org.apache.commons.io.FileUtils.deleteDirectory(part)
      }
      root.toString
    }

    def run(shape: String, feed: String): Double = {
      val tmp = Files.createTempDirectory("floor_ckpt").toString
      val schema = spark.read.parquet(feed).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
      val out: DataFrame = shape match {
        case "stateless" => stream.select(col("ts"), col("v"))
        case "window" => stream.withWatermark("ts", "30 seconds")
          .groupBy(window(col("ts"), "1 minute"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("window.start").as("wstart"), col("cnt"))
      }
      val qname = "floor_" + UUID.randomUUID().toString.replace("-", "")
      val t0 = System.nanoTime()
      val q = out.writeStream
        .outputMode(if (shape == "stateless") "append" else "append")
        .format("memory").queryName(qname)
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sql(s"DROP TABLE IF EXISTS $qname")
      dt
    }

    val ns = Seq(1, 2, 4, 8)
    val feeds = ns.map(n => n -> mkFeed(n)).toMap
    // untimed warmup: generated-class + RocksDB native-lib first touch
    run("stateless", feeds(1)); run("window", feeds(1))
    val results = for (shape <- Seq("stateless", "window"); n <- ns) yield {
      val t = math.min(run(shape, feeds(n)), run(shape, feeds(n)))
      println(f"[floor] $shape%-10s n=$n%-2d  $t%6.3f s")
      (shape, n, t)
    }
    Seq("stateless", "window").foreach { shape =>
      val pts = results.filter(_._1 == shape).map(r => (r._2.toDouble, r._3))
      val xm = pts.map(_._1).sum / pts.size
      val ym = pts.map(_._2).sum / pts.size
      val slope = pts.map(p => (p._1 - xm) * (p._2 - ym)).sum /
        pts.map(p => (p._1 - xm) * (p._1 - xm)).sum
      val icept = ym - slope * xm
      println(f"[floor] $shape%-10s per-query intercept $icept%6.3f s   per-trigger slope $slope%6.3f s")
    }
    spark.stop()
  }
}
