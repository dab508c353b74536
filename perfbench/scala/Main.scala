package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.core.{GraftSession, Tables, Weather}

/** The benchmark's JVM side: set up, run one workload against the
  * program's public entry points, and write the raw measurements as
  * JSON for `run.py`, which derives the metrics and checks outputs.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <runDir>
  *             <processStartEpochMs> <opsScript> [query ...]
  */
object Main {
  final case class Op(pass: Int, name: String, ok: Boolean, wallS: Double, error: String,
                      extra: Map[String, Any] = Map.empty) {
    def toMap: Map[String, Any] =
      Map("pass" -> pass, "name" -> name, "ok" -> ok, "wall_s" -> wallS, "error" -> error) ++ extra
  }

  /** Batch passes after the cold one that only warm up (JIT, codegen
    * caches) and are not timed into any metric; see README.md. */
  val WarmupPasses = 1
  /** Timed warm passes run for the run's seconds, and at least this many. */
  val MinTimedPasses = 4

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val seed = args(1).toLong
    val seconds = args(2).toDouble
    val traced = args(3) == "1"
    val runDir = new File(args(4)).getAbsoluteFile
    val processStart = args(5).toDouble
    val opsScript = args(6)
    val queries = args.drop(7).toSeq
    val nproc = Runtime.getRuntime.availableProcessors()
    val steal0 = Weather.stealTicks()
    val wall0 = Clock.nowMs

    val dataDir = new File(runDir, "data").getPath
    val rain = new RainStorm(runDir, seed, opsScript, seconds)
    def stage(spark: SparkSession): Unit = workload match {
      case "rainstorm" => rain.stage(spark)
      case _ => Tables.names.filter(t => new File(dataDir, s"$t.parquet").exists)
        .foreach(t => Tables.load(spark, dataDir, t).count())
    }
    // set-up runs once, counted from the launcher's clock, so it carries
    // the JVM start, class loading and the first session
    val spark = GraftSession.local(nproc, s"perfbench-$workload")
    stage(spark)
    val setupS = (Clock.nowMs - processStart) / 1e3
    // the streaming progress the rainstorm latency metrics need
    val recorder = new ProgressRecorder
    if (workload == "rainstorm") spark.streams.addListener(recorder)
    val tracer = if (traced) Some(new Tracer(spark)) else None

    val ops = mutable.ArrayBuffer.empty[Op]
    val passTraced = mutable.Map.empty[Int, Boolean]
    val builds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** In a traced run the cold pass is traced, and the timed warm passes
      * from `firstTimed` on are traced, untraced, untraced, traced, so
      * traced and untraced passes of the same work can be compared: that
      * gap is the tracing overhead. In that order both kinds have the same
      * mean position, so the JIT's continuing warm-up does not show as
      * overhead. */
    def traceOn(pass: Int, firstTimed: Int): Boolean =
      pass == 0 || (pass >= firstTimed && Set(0, 3).contains((pass - firstTimed) % 4))
    def withTrace[T](pass: Int, on: Boolean)(body: => T): T = tracer match {
      case Some(t) if on =>
        passTraced(pass) = true
        t.start()
        try t.span("pass", s"pass $pass")(body) finally t.stop()
      case _ =>
        passTraced(pass) = false
        body
    }
    val span = new Spanner {
      def apply[T](kind: String, name: String)(body: => T): T = tracer match {
        case Some(t) => t.span(kind, name)(body)
        case None => body
      }
    }

    workload match {
      case "batch" =>
        val fns = graft.SparkEntry.queries
        val unknown = queries.filterNot(fns.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        writeJson(new File(runDir, "oracle.json"),
          queries.map(q => q -> graft.SparkEntry.oracleSql.getOrElse(q, "")).toMap)
        val outDir = new File(runDir, "out")
        val artifacts = new File(spark.conf.get("spark.graft.artifacts.dir"))
        val tmp = new File(System.getProperty("java.io.tmpdir"))
        def releaseCaches(): Unit = {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        }
        def runPass(pass: Int): Unit = {
          val art0 = artifactDirs(artifacts)
          val feed0 = feedDirs(tmp)
          var family = ' '
          withTrace(pass, traceOn(pass, WarmupPasses + 1)) {
            queries.sorted.foreach { name =>
              // a family's shared caches (d4/d5 read d1's ids) are released
              // at the family boundary, untimed, as graft.Bench does
              if (name.head != family) { releaseCaches(); family = name.head }
              Context.query = name
              Context.pass = pass
              val t0 = System.nanoTime()
              val err = try {
                span("query", name) {
                  val df = span("call", name)(fns(name)(spark, dataDir))
                  span("action", name) {
                    if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(new File(outDir, name).getPath)
                    else df.write.format("noop").mode("overwrite").save()
                  }
                }
                ""
              } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
              ops += Op(pass, name, err.isEmpty, (System.nanoTime() - t0) / 1e9, err)
            }
          }
          releaseCaches()
          builds += Map("pass" -> pass,
            "artifact_builds" -> (artifactDirs(artifacts) -- art0).size,
            "feed_builds" -> (feedDirs(tmp) -- feed0).size,
            "artifact_bytes" -> bytesUnder(artifacts))
        }
        runPass(0)
        (1 to WarmupPasses).foreach(runPass)
        val timed0 = Clock.nowMs
        var pass = WarmupPasses + 1
        while (pass <= WarmupPasses + MinTimedPasses || Clock.nowMs - timed0 < seconds * 1000) {
          runPass(pass); pass += 1
        }

      case "rainstorm" =>
        // (a) HyDFS, closed loop: a cold round, then warm rounds for a
        // share of the run, at least two (four in a traced run, see traceOn)
        val hydfs0 = Clock.nowMs
        val minRounds = if (traced) 5 else 3
        var round = 0
        while (round < minRounds || Clock.nowMs - hydfs0 < RainStorm.HydfsShare * seconds * 1000) {
          withTrace(round, traceOn(round, 1)) { ops ++= rain.hydfsRound(spark, round, span) }
          round += 1
        }
        // (b) RainStorm, open loop: each app is fed for the run's seconds
        Context.pass = round
        withTrace(round, on = true) {
          rain.apps.foreach { app =>
            Context.query = app.name
            ops ++= rain.runApp(spark, app, recorder, span)
          }
        }
        checks ++= rain.checks
    }

    val progress = recorder.all
    val traceOut = tracer.map { t =>
      val (counters, spans) = t.result()
      writeJsonLines(new File(runDir, "spans.jsonl"), spans)
      counters
    }
    val wallS = (Clock.nowMs - wall0) / 1e3
    val steal1 = Weather.stealTicks()
    val stealPct = if (steal0 < 0 || steal1 < 0) -1.0 else Weather.stealPct(steal1 - steal0, wallS, nproc)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "nproc" -> nproc,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "setup_s" -> setupS, "warmup_passes" -> (if (workload == "batch") WarmupPasses else 0), "ops" -> ops.map(_.toMap).toSeq,
      "pass_traced" -> passTraced.toSeq.sortBy(_._1).map { case (p, t) => Map("pass" -> p, "traced" -> t) },
      "builds" -> builds.toSeq, "checks" -> checks.toSeq,
      "progress" -> progress.map(_.toMap), "rainstorm" -> rain.record,
      "layers" -> traceOut.getOrElse(Map.empty), "steal_pct" -> stealPct,
      "wall_s" -> wallS, "peak_rss_mb" -> peakRssMb(), "heap_peak_mb" -> heapPeakMb())
    spark.stop()
    writeJson(new File(runDir, "result.json"), record)
  }

  private def artifactDirs(root: File): Set[String] =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && !d.getName.startsWith(".") && new File(d, "_graft_done").exists())
      .map(_.getName).toSet

  private def feedDirs(tmp: File): Set[String] =
    Option(tmp.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.matches("graft_.*_feed_.*")).map(_.getName).toSet

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(bytesUnder).sum
    else if (f.exists) f.length else 0L

  private def peakRssMb(): Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
      line.map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(-1.0)
    } catch { case NonFatal(_) => -1.0 }

  private def heapPeakMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(f: File, v: Any): Unit =
    Files.write(f.toPath, mapper.writeValueAsBytes(v))

  private def writeJsonLines(f: File, rows: Seq[Any]): Unit =
    Files.write(f.toPath, rows.map(mapper.writeValueAsString).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
}
