package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.sources.AppendLogStore
import graft.streaming.RainStormJob

/** The reference's terminal command surface (SURVEY §2.2,
  * user/user.go:320-559 `HandleTerminalInput`) as a Spark CLI — the
  * migration path for a reference user: every command they type today
  * has a twin here, backed by [[AppendLogStore]] (buffered appends +
  * merge-on-read) and [[RainStormJob]] (the 3-stage pipeline).
  *
  * {{{
  * runMain graft.GraftCli <root> create <localFile> <name>
  * runMain graft.GraftCli <root> append <localFile> <name>
  * runMain graft.GraftCli <root> get <name> <localFile>
  * runMain graft.GraftCli <root> getfromreplica <vm> <name> <localFile>
  * runMain graft.GraftCli <root> multiappend <name> <localFile1,localFile2,…>
  * runMain graft.GraftCli <root> merge <name>
  * runMain graft.GraftCli <root> ls <name>
  * runMain graft.GraftCli <root> store
  * runMain graft.GraftCli <root> list_mem_ids [numNodes]
  * runMain graft.GraftCli <root> rainstorm <op1> <op2> <srcFile> <destDir> <numTasks>
  * }}}
  *
  * File model: a stored "file" is rows of (ts, content) chunks — create
  * writes the initial content at ts=0, each append adds one
  * client-timestamped chunk (the reference's one-timestamp-per-append,
  * user/user.go:161-170), get returns chunks merged unique-by-ts in ts
  * order (O11). Append timestamps are WALL-CLOCK microseconds
  * (Instant.now), matching the reference's client wall-clock stamp —
  * a monotonic arbitrary-origin clock (nanoTime) would make chunks from
  * different CLI invocations/machines incomparable and could reassemble
  * appends out of order. Op specs for rainstorm are
  * [[RainStormJob.parseOp]]'s (`filter_contains:X`, `filter_field_eq:i:X`,
  * `project:i,j`, `count:i`, `exec:/path/to/binary`, `exec_transform:…`,
  * `exec_agg:…`).
  *
  * Placement commands (`ls`, `list_mem_ids`) mirror the reference's
  * consistent-hash ring view (user/user.go:193-232): nodes are hashed by
  * FNV-1a 32 and a file lands on the first node with hash ≥ fnv(name)
  * plus two successors (utils/utils.go:8-14, synchronizer.go:40-72).
  * Here the ring is a REPORT (real placement belongs to HDFS/the object
  * store, per SURVEY §7): it shows where the reference would place each
  * file, completing the command-surface migration path.
  */
object GraftCli {

  /** Reference default: 10 VMs (rainstorm.go:38-43). */
  private val defaultRingSize = 10

  private[graft] def nodeName(i: Int): String = s"node-$i"

  /** Hash-sorted ring of (hash, node), the reference's membership list
    * ordering (ring/member/member.go:536-541). */
  private[graft] def ring(n: Int): Seq[(Long, String)] =
    (1 to n).map { i =>
      (graft.functions.Fnv1a32.hash(nodeName(i).getBytes("UTF-8")), nodeName(i))
    }.sortBy(_._1)

  /** First node with hash >= fnv(name) (wrapping) + 2 successors —
    * replication factor 3 (synchronizer.go:55-72). */
  private[graft] def placement(name: String, n: Int = defaultRingSize): Seq[String] = {
    val r = ring(n)
    val h = graft.functions.Fnv1a32.hash(name.getBytes("UTF-8"))
    val start = r.indexWhere(_._1 >= h) match { case -1 => 0; case i => i }
    (0 until math.min(3, n)).map(k => r((start + k) % n)._2)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GraftCli <root> <command> [args...]")
    val spark = GraftSession.local(appName = "graft-cli")
    try run(spark, args.head, args(1), args.drop(2))
    finally spark.stop()
  }

  def run(spark: SparkSession, root: String, cmd: String, rest: Seq[String]): Unit = {
    import spark.implicits._
    def store(name: String) = new AppendLogStore(spark, s"$root/$name")
    cmd match {
      case "create" =>
        val Seq(local, name) = rest.toSeq
        val content = Files.readString(Paths.get(local))
        store(name).create(Seq((0L, content)).toDF("ts", "content"))
        println(s"created $name")
      case "append" =>
        val Seq(local, name) = rest.toSeq
        val content = Files.readString(Paths.get(local))
        store(name).append(
          Seq((wallClockMicros(), content)).toDF("ts", "content"))
        println(s"appended to $name")
      case "get" =>
        val Seq(name, local) = rest.toSeq
        val n = download(spark, store(name), name, local)
        println(s"got $name -> $local ($n chunks)")
      case "getfromreplica" =>
        // reference semantics (user/user.go:103-140): ALWAYS merge
        // first, then read from the chosen replica — so any replica
        // returns the converged bytes (the property test5 diffs for).
        // Here "replica" selects nothing physically (storage owns
        // replication) but the merge-before-read contract is kept.
        val Seq(vm, name, local) = rest.toSeq
        store(name).compact(Seq("content"))
        val n = download(spark, store(name), name, local)
        println(s"got $name from replica $vm -> $local ($n chunks)")
      case "multiappend" =>
        // reference test5 (user/user.go:256-317): fan out CONCURRENT
        // appends — one writer thread per local file, each with its own
        // wall-clock stamp — then rely on the ordered merge to converge.
        val Seq(name, locals) = rest.toSeq
        val files = locals.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val threads = files.map { local =>
          new Thread(() =>
            try store(name).append(
              Seq((wallClockMicros(), Files.readString(Paths.get(local))))
                .toDF("ts", "content"))
            catch { case t: Throwable => failures.add(t) })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        if (!failures.isEmpty) {
          val first = failures.peek()
          throw new IllegalStateException(
            s"${failures.size} of ${files.length} appends failed: ${first.getMessage}", first)
        }
        println(s"multiappended ${files.length} files to $name")
      case "merge" =>
        val Seq(name) = rest.toSeq
        store(name).compact(Seq("content"))
        println(s"merged $name")
      case "ls" =>
        val Seq(name) = rest.toSeq
        println(s"replicas: ${placement(name).mkString(", ")}")
        listFs(spark, s"$root/$name").foreach(println)
      case "store" =>
        listFs(spark, root).foreach(println)
      case "list_mem_ids" =>
        val n = rest.headOption.map(_.toInt).getOrElse(defaultRingSize)
        ring(n).foreach { case (h, node) => println(f"$h%10d  $node") }
      case "rainstorm" =>
        val Seq(op1, op2, src, dest, n) = rest.toSeq
        RainStormJob.runBatch(spark, op1, op2, src, dest, n.toInt)
        println(s"rainstorm done -> $dest")
      case other =>
        throw new IllegalArgumentException(s"unknown command '$other'")
    }
  }

  /** Driver-side download cap for `get`/`getfromreplica` — a "download
    * one file" command collects to the driver like the reference's get
    * (user/user.go:74-140), which is fine for files and wrong for
    * tables; past the cap it fails with advice instead of an
    * executor-to-driver OOM. Overridable for tests. */
  private[graft] var maxGetBytes: Long = 256L * 1024 * 1024

  /** Merge-on-read, size-guard, then write the merged bytes to `local`;
    * returns the chunk count. */
  private def download(spark: SparkSession,
                       s: AppendLogStore, name: String, local: String): Int = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, sum}
    import spark.implicits._
    val df = s.read(Seq("content"))
    // octet_length, not length: Spark length() counts CHARACTERS, and
    // the guard protects driver memory, which fills with BYTES;
    // coalesce covers the empty-store case (sum over zero rows is null)
    val bytes = df.agg(coalesce(sum(expr("octet_length(content)")), lit(0L)))
      .head().getLong(0)
    require(bytes <= maxGetBytes,
      s"'$name' is $bytes bytes merged; get is a driver-side download " +
        s"capped at $maxGetBytes — read the store as a DataFrame instead")
    val chunks = df.select("content").as[String].collect()
    Files.writeString(Paths.get(local), chunks.mkString)
    chunks.length
  }

  /** Wall-clock microseconds since epoch — comparable across JVMs and
    * machines (unlike nanoTime's arbitrary origin); create's ts=0 sorts
    * below any realistic append stamp. Monotonicity guard: the merge
    * DEDUPS by ts (O11 — the reference does too, via map overwrite,
    * user/user.go:161-170 + synchronizer.go:85), so two appends landing
    * in the same microsecond (multiappend's concurrent threads, or a
    * coarse platform clock) would silently drop one; the CAS loop makes
    * stamps from THIS process strictly increasing. Cross-process
    * collisions inherit the reference's last-writer-wins semantics. */
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private def wallClockMicros(): Long = {
    val now = java.time.Instant.now()
    val micros = now.getEpochSecond * 1000000L + now.getNano / 1000L
    var prev = lastStamp.get()
    var next = math.max(micros, prev + 1)
    while (!lastStamp.compareAndSet(prev, next)) {
      prev = lastStamp.get()
      next = math.max(micros, prev + 1)
    }
    next
  }

  private def listFs(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq(s"(no such path: $path)")
    else fs.listStatus(p).toSeq.map { st =>
      val kind = if (st.isDirectory) "d" else "-"
      f"$kind ${st.getLen}%9d ${st.getPath.getName}"
    }
  }
}
