package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.sources.AppendLogStore
import graft.streaming.RainStormJob

/** Opens a span around a call into the program (a no-op in timed runs). */
trait Spanner { def apply[T](kind: String, name: String)(body: => T): T }

/** The `rainstorm` workload: (a) one closed-loop HyDFS client on
  * [[AppendLogStore]], (b) two RainStorm apps on
  * [[RainStormJob.runStreaming]] fed by an open-loop file generator.
  * Every input is drawn from `seed`; the generator's own record is what
  * the outputs are checked against. */
final class RainStorm(runDir: File, seed: Long, opsScript: String, seconds: Double) {
  import RainStorm._

  private val root = new File(runDir, "rs")
  private val staging = new File(root, "staging")
  private val script = new File(root, "bin/keep_punched.sh")
  private val checkList = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val schedule = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val hydfsStats = mutable.ArrayBuffer.empty[Map[String, Any]]

  /** Files each app is fed: one per 100 ms for the run's seconds. */
  val filesPerApp: Int = math.max(MinFilesPerApp, math.round(FilesPerSecond * seconds).toInt)

  final case class App(name: String, op1: String, op2: String) {
    def dir(kind: String): File = new File(root, s"$kind/$name")
  }
  lazy val apps: Seq[App] = Seq(
    App("app1", s"exec:${script.getAbsolutePath}:$ExecBatchLines", "project:2,3"),
    App("app2", "filter_field_eq:6:Punched Telespar", "count:8"))

  private def linesOf(app: String, i: Int): Seq[String] = {
    val rng = new SplittableRandom(seed * 7919 + app.hashCode * 31L + i)
    (0 until LinesPerFile).map { j =>
      val f = Seq(f"-88.${rng.nextInt(1000)}%03d", f"40.${rng.nextInt(1000)}%03d", s"${i * 1000 + j}",
        pick(rng, Signs), pick(rng, Sizes), "None", pick(rng, Posts), s"${1990 + rng.nextInt(35)}",
        pick(rng, Categories), pick(rng, Notes))
      // a few short rows: the ops drop rows that lack the fields they read
      val r = rng.nextInt(100)
      (if (r < 3) f.take(5) else if (r < 5) f.take(8) else f).mkString(",")
    }
  }

  /** Set-up: write every app's input files to staging, stage the exec
    * operator script, and scan the staged input once. */
  def stage(spark: SparkSession): Unit = {
    deleteRec(root)
    for (app <- Seq("app1", "app2"); i <- 0 until filesPerApp) {
      val f = new File(staging, f"$app/part-$i%05d.csv")
      f.getParentFile.mkdirs()
      Files.writeString(f.toPath, linesOf(app, i).mkString("", "\n", "\n"))
    }
    script.getParentFile.mkdirs()
    Files.copy(new File(opsScript).toPath, script.toPath, StandardCopyOption.REPLACE_EXISTING)
    require(script.setExecutable(true), s"cannot make $script executable")
    spark.read.text(staging.getPath + "/*").count()
  }

  /** One HyDFS round on a fresh store: create, [[AppendsPerRound]]
    * appends with a merge-on-read get after every [[GetEvery]]th, so
    * gets see up to that many log segments, then compact and get. Each
    * get is checked against the round's own model of the store. */
  def hydfsRound(spark: SparkSession, round: Int, span: Spanner): Seq[Main.Op] = {
    val s = spark
    import s.implicits._
    val rng = new SplittableRandom(seed * 104729 + round)
    val dir = new File(root, s"hydfs/round_$round")
    val store = new AppendLogStore(spark, dir.getPath)
    val model = mutable.Map.empty[Long, (String, String)]
    var nextTs = 0L
    var physicalRows = 0L
    var userBytes = 0L
    def rows(n: Int): Seq[(Long, String, String)] = Seq.fill(n) {
      // one row in twenty re-sends an earlier timestamp from another writer
      val ts = if (nextTs > 0 && rng.nextInt(20) == 0) rng.nextLong(nextTs)
               else { nextTs += 1 + rng.nextInt(3); nextTs }
      val row = (ts, s"w${rng.nextInt(4)}", payload(rng))
      val cand = (row._2, row._3)
      if (model.get(ts).forall(old => Ordering[(String, String)].lt(cand, old))) model(ts) = cand
      physicalRows += 1
      userBytes += 8 + row._2.length + row._3.length
      row
    }
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    def op(kind: String, extra: Map[String, Any] = Map.empty)(body: => String): Unit = {
      val t0 = System.nanoTime()
      val err = try span("hydfs", kind)(body) catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      val wall = (System.nanoTime() - t0) / 1e9
      ops += Main.Op(round, s"hydfs.$kind", err.isEmpty, wall, err, extra)
    }
    def get(): Unit = {
      val segments = Option(new File(dir, "log").listFiles()).getOrElse(Array.empty)
        .count(_.getName.startsWith("append_"))
      val scanned = physicalRows
      var timed = 0.0
      op("get", Map("segments" -> segments, "rows_scanned" -> scanned, "rows_returned" -> model.size)) {
        // the reference's get hands the file to the client: the merged
        // rows are collected, and those same rows are checked
        val t0 = System.nanoTime()
        val rows = store.read(TieBreak).collect()
        timed = (System.nanoTime() - t0) / 1e9
        val got = rows.toSeq.map(r => (r.getAs[Long]("ts"), r.getAs[String]("writer"), r.getAs[String]("payload")))
        val want = model.toSeq.sortBy(_._1).map { case (ts, (w, p)) => (ts, w, p) }
        if (got == want) "" else s"wrong output: get returned ${got.size} rows, expected ${want.size}" +
          got.zip(want).find { case (a, b) => a != b }.map { case (a, b) => s"; first diff $a vs $b" }.getOrElse("")
      }
      // only the collect is timed, not the check
      if (ops.last.ok) ops(ops.size - 1) = ops.last.copy(wallS = timed)
    }
    op("create") { store.create(rows(CreateRows).toDF("ts", "writer", "payload")); "" }
    for (i <- 1 to AppendsPerRound) {
      op("append") { store.append(rows(AppendRows).toDF("ts", "writer", "payload")); "" }
      if (i % GetEvery == 0) get()
    }
    op("compact") { store.compact(TieBreak); physicalRows = model.size; "" }
    get()
    hydfsStats += Map("round" -> round, "bytes_on_disk" -> Main.bytesUnder(dir), "user_bytes" -> userBytes)
    ops.toSeq
  }

  /** Run one app: start the streaming job on a processing-time trigger,
    * feed its files on a fixed schedule from a separate thread, wait
    * until every line was read, stop, and check the sink. */
  def runApp(spark: SparkSession, app: App, recorder: ProgressRecorder, span: Spanner): Seq[Main.Op] = {
    val src = app.dir("src"); val dest = app.dir("dest"); val ckpt = app.dir("ckpt")
    src.mkdirs()
    val t0 = System.nanoTime()
    val q = span("call", app.name)(RainStormJob.runStreaming(spark, app.op1, app.op2, src.getPath,
      dest.getPath, ckpt.getPath, Trigger.ProcessingTime(TriggerMs)))
    val period = 1000.0 / FilesPerSecond
    val start = Clock.nowMs + 500
    val generator = new Thread(() => {
      for (i <- 0 until filesPerApp) {
        val due = start + i * period
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val name = f"part-$i%05d.csv"
        Files.move(new File(staging, s"${app.name}/$name").toPath, new File(src, name).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        schedule.synchronized {
          schedule += Map("app" -> app.name, "file" -> name, "due_ms" -> due, "moved_ms" -> Clock.nowMs)
        }
      }
    }, "perfbench-generator")
    val expected = filesPerApp.toLong * LinesPerFile
    val err = try span("action", app.name) {
      generator.start()
      generator.join()
      val deadline = Clock.nowMs + DrainTimeoutMs
      def read = recorder.all.filter(_.query == app.name).map(_.inputRows).sum
      while (read < expected && Clock.nowMs < deadline && q.exception.isEmpty) Thread.sleep(20)
      q.exception.map(e => s"query failed: ${e.getMessage}")
        .getOrElse(if (read < expected) s"read $read of $expected lines within the drain timeout" else "")
    } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
    finally q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val checkErr = if (err.nonEmpty) err else check(spark, app)
    checkList += Map("name" -> app.name, "ok" -> checkErr.isEmpty, "detail" -> checkErr)
    Seq(Main.Op(0, s"rainstorm.${app.name}", checkErr.isEmpty, wall, checkErr,
      Map("ckpt" -> ckpt.getPath, "lines" -> expected)))
  }

  /** The sink against the generator's record: app1's lines as a
    * multiset, app2's final running-count snapshot as a map. */
  private def check(spark: SparkSession, app: App): String = {
    val lines = (0 until filesPerApp).flatMap(i => linesOf(app.name, i)).map(_.split(",", -1))
    val got = spark.read.text(app.dir("dest").getPath).collect().map(_.getString(0)).toSeq
    app.name match {
      case "app1" =>
        val want = lines.filter(f => f.mkString(",").contains("Punched") && f.length >= 4)
          .map(f => s"${f(2)},${f(3)}")
        if (got.sorted == want.sorted) ""
        else s"wrong output: sink has ${got.size} lines, expected ${want.size}; first unexpected: " +
          got.diff(want).headOption.getOrElse("(none)")
      case "app2" =>
        val want = lines.filter(f => f.length >= 9 && f(6) == "Punched Telespar")
          .groupBy(_(8)).map { case (k, v) => s"$k,${v.size}" }.toSeq
        if (got.sorted == want.sorted) "" else s"wrong output: final counts ${got.sorted} != ${want.sorted}"
    }
  }

  def checks: Seq[Map[String, Any]] = checkList.toSeq

  def record: Map[String, Any] = Map("schedule" -> schedule.toSeq, "hydfs" -> hydfsStats.toSeq,
    "files_per_app" -> filesPerApp, "lines_per_file" -> LinesPerFile,
    "files_per_second" -> FilesPerSecond, "trigger_ms" -> TriggerMs, "create_rows" -> CreateRows,
    "append_rows" -> AppendRows, "appends_per_round" -> AppendsPerRound, "get_every" -> GetEvery)
}

object RainStorm {
  // Traffic: README.md gives the reason for each number.
  val FilesPerSecond = 10.0
  val LinesPerFile = 500
  val MinFilesPerApp = 20
  val ExecBatchLines = 100
  val TriggerMs = 500L
  val CreateRows = 2000
  val AppendRows = 300
  val AppendsPerRound = 40
  val GetEvery = 10
  val HydfsShare = 0.4
  val DrainTimeoutMs = 60000.0
  val TieBreak = Seq("writer", "payload")
  private val Signs = Array("Stop", "Yield", "Speed", "Warn", "School", "Merge")
  private val Sizes = Array("30x30", "36x36", "24x24", "12x18")
  private val Posts = Array("Punched Telespar", "Punched Telespar", "Square Post",
    "Unpunched Telespar", "Telespar Punched", "Wood Post")
  private val Categories = Array("Warning", "Regulatory", "Other", "Stop", "Guide")
  private val Notes = Array("none", "none", "none", "Punched note here")
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def pick(rng: SplittableRandom, a: Array[String]): String = a(rng.nextInt(a.length))

  private def payload(rng: SplittableRandom): String =
    Seq.fill(20 + rng.nextInt(40))(Alphabet(rng.nextInt(Alphabet.length))).mkString

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }
}
