package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution:
  * span times and Spark's own event times (epoch ms) share one axis. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One timed interval. `parent` is the id of the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double, attrs: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start_ms" -> startMs, "end_ms" -> endMs) ++ attrs
}

/** Streaming progress of one micro-batch, kept in timed runs too: the
  * trigger and event-latency metrics are computed from it. */
final case class Progress(query: String, pass: Int, batchId: Long, inputRows: Long,
                          recvMs: Double, durations: Map[String, Long],
                          state: Map[String, Long]) {
  def toMap: Map[String, Any] = Map("query" -> query, "pass" -> pass, "batch" -> batchId,
    "input_rows" -> inputRows, "recv_ms" -> recvMs, "durations" -> durations, "state" -> state)
}

/** What the benchmark loop is doing right now. Streaming queries are
  * filed under it when they start (see [[ProgressRecorder]]); the
  * listeners' own events are attributed through span ids instead. */
object Context {
  @volatile var query: String = ""
  @volatile var pass: Int = 0
}

/** Records every micro-batch's progress event. Progress arrives late on
  * the listener bus, possibly after the loop moved to the next query or
  * pass, so each event is filed under the query and pass that were
  * current when its run started: `onQueryStarted` runs synchronously
  * inside `DataStreamWriter.start`. */
final class ProgressRecorder extends StreamingQueryListener {
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[Progress]
  private val owner = new ConcurrentHashMap[java.util.UUID, (String, Int)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    owner.put(e.runId, (Context.query, Context.pass))
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val state = Map(
      "commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
      "rows_updated" -> p.stateOperators.map(_.numRowsUpdated).sum,
      "rows_removed" -> p.stateOperators.map(_.numRowsRemoved).sum,
      "rows_dropped_by_watermark" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
      "memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
      "stores" -> p.stateOperators.map(_.numStateStoreInstances).sum)
    val (query, pass) = Option(owner.get(p.runId)).getOrElse((s"unknown ${p.name}", -1))
    events.add(Progress(query, pass, p.batchId, p.numInputRows, Clock.nowMs,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, state))
  }
  def all: Seq[Progress] = events.asScala.toSeq
}

/** The traced run's instruments: spans opened by the benchmark around
  * each call into a program layer, plus Spark's public listeners
  * (scheduler, query execution) folded into per-layer counters. Nothing
  * here is attached in a timed run. */
final class Tracer(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val spanKind = new ConcurrentHashMap[Long, String]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val counters = new ConcurrentHashMap[String, Double]()
  private def add(k: String, v: Double): Unit = counters.merge(k, v, (a, b) => a + b)

  /** Job id -> enclosing benchmark span, its own span, start and SQL execution id. */
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpanId = new ConcurrentHashMap[Int, Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, Double]()
  private val jobExec = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageCpuNs = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]
  private val stageIO = new java.util.concurrent.ConcurrentLinkedQueue[graft.core.StageIO]
  private val kernelExecs = ConcurrentHashMap.newKeySet[Long]()
  private val windows = mutable.ArrayBuffer.empty[(Double, Double)]
  private var windowStart = 0.0
  private var jvm0: Map[String, Double] = Map.empty

  /** Time `body` as a span of `kind` under the innermost open span. */
  def span[T](kind: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = ids.incrementAndGet()
    spanKind.put(id, kind)
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = Clock.nowMs
    var ok = true
    try body catch { case e: Throwable => ok = false; throw e } finally {
      spans.add(Span(id, parent, kind, name, t0, Clock.nowMs, attrs + ("ok" -> ok)))
      sc.setLocalProperty("perfbench.span", prevProp)
      stack.set(stack.get.tail)
    }
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = spanOf(e.properties)
      jobSpan.put(e.jobId, parent)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      add("scheduler.jobs", 1)
      if (spanKind.get(parent) == "call") add("queries.eager_jobs", 1)
      jobStartMs.put(e.jobId, e.time.toDouble)
      jobSpanId.put(e.jobId, ids.incrementAndGet())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val parent = Option(jobSpan.get(e.jobId)).map(_.longValue).getOrElse(0L)
      val start = Option(jobStartMs.get(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
      spans.add(Span(jobSpanId.get(e.jobId), parent, "job", s"job ${e.jobId}", start, e.time.toDouble,
        Map("job_id" -> e.jobId)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      add("scheduler.tasks", 1)
      add("scheduler.task_run_s", m.executorRunTime / 1e3)
      add("scheduler.task_cpu_s", m.executorCpuTime / 1e9)
      add("scheduler.task_gc_s", m.jvmGCTime / 1e3)
      add("scheduler.task_deser_s", m.executorDeserializeTime / 1e3)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("shuffle.spill_memory_bytes", m.memoryBytesSpilled.toDouble)
      add("shuffle.spill_disk_bytes", m.diskBytesSpilled.toDouble)
      add("shuffle.input_bytes", m.inputMetrics.bytesRead.toDouble)
      stageCpuNs.merge(e.stageId, m.executorCpuTime, (a, b) => a + b)
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        .synchronized(stageTaskMs.get(e.stageId) += e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      add("scheduler.stages", 1)
      for (s <- si.submissionTime; c <- si.completionTime) {
        add("scheduler.stage_wall_s", (c - s) / 1e3)
        stageIntervals.add((s.toDouble, c.toDouble))
        val job = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
        val parent = Option(jobSpanId.get(job)).map(_.longValue).getOrElse(0L)
        spans.add(Span(ids.incrementAndGet(), parent, "stage", s"stage ${si.stageId}", s.toDouble,
          c.toDouble, Map("job_id" -> job, "tasks" -> si.numTasks)))
      }
      stageIO.add(graft.core.StageIO(si.stageId, si.numTasks,
        si.taskMetrics.shuffleReadMetrics.totalBytesRead,
        si.taskMetrics.shuffleWriteMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("catalyst.executions", 1)
      val phases = qe.tracker.phases
      add("catalyst.analysis_ms", phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
      add("catalyst.optimization_ms", phases.get("optimization").map(_.durationMs.toDouble).getOrElse(0.0))
      add("catalyst.planning_ms", phases.get("planning").map(_.durationMs.toDouble).getOrElse(0.0))
      val plan = qe.executedPlan
      val nodes = collectWithSubqueries(plan) { case p => p }
      val kernels = nodes.map(n => n.expressions.map(countKernels).sum).sum
      val inFilter = nodes.collect { case f: FilterExec => countKernels(f.condition) }.sum
      add("functions.kernel_nodes", kernels)
      add("functions.kernel_nodes_in_filter", inFilter)
      if (kernels > 0) kernelExecs.add(qe.id)
      val topk = nodes.count(_.getClass.getName.startsWith("graft.plans.TopK"))
      add("plans.topk_nodes", topk)
      add("plans.window_group_limit_nodes", nodes.count(_.isInstanceOf[WindowGroupLimitExec]))
      if (topk > 0) add("plans.topk_query_s", durationNs / 1e9)
      def rows(p: SparkPlan): Double =
        p.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
      add("sql.scan_rows", nodes.collect {
        case s: FileSourceScanExec => rows(s)
        case s: BatchScanExec => rows(s)
      }.sum)
      add("sql.join_output_rows",
        nodes.filter(_.getClass.getSimpleName.endsWith("JoinExec")).map(rows).sum)
      add("sql.result_rows", nodes.find(_.metrics.contains("numOutputRows")).map(rows).getOrElse(0.0))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("catalyst.failed_executions", 1)
  }

  private def countKernels(e: org.apache.spark.sql.catalyst.expressions.Expression): Int =
    e.collect { case x if x.getClass.getName.startsWith("graft.") => 1 }.sum

  private def jvmNow(): Map[String, Double] = Map(
    "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble,
    "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "codegen_n" -> org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  private var codegenMean0 = 0.0

  /** Attach the listeners; every event until [[stop]] is counted. */
  def start(): Unit = {
    GraftShims.waitListenerBus(spark)
    jvm0 = jvmNow()
    codegenMean0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    windowStart = Clock.nowMs
  }

  /** Drain the listener bus, then detach. */
  def stop(): Unit = {
    GraftShims.waitListenerBus(spark)
    windows += ((windowStart, Clock.nowMs))
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    val j = jvmNow()
    add("jvm.gc_ms", j("gc_ms") - jvm0("gc_ms"))
    add("jvm.jit_ms", j("jit_ms") - jvm0("jit_ms"))
    val n = j("codegen_n") - jvm0("codegen_n")
    add("codegen.compilations", n)
    // the compile-time histogram keeps a sample, not a sum: its mean times
    // the count delta is the closest public estimate of the time spent
    val mean = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    add("codegen.compile_ms", n * math.max(mean, codegenMean0))
  }

  /** Counters, derived ratios and the span list, for the run record. */
  def result(): (Map[String, Double], Seq[Map[String, Any]]) = {
    val c = counters.asScala.toMap
    val covered = unionLength(stageIntervals.asScala.toSeq)
    val traced = windows.map { case (a, b) => b - a }.sum
    val taskRun = c.getOrElse("scheduler.task_run_s", 0.0)
    val ratios = stageTaskMs.asScala.values.map(_.sorted).filter(_.size >= 4)
      .map(ts => ts.last.toDouble / math.max(1.0, ts(ts.size / 2).toDouble)).toSeq.sorted
    val advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
      .replaceAll("[^0-9]", "").toLong
    val kernelCpu = stageCpuNs.asScala.collect {
      case (stage, ns) if Option(stageJob.get(stage)).flatMap(j => Option(jobExec.get(j)))
        .exists(x => kernelExecs.contains(x)) => ns / 1e9
    }.sum
    val derived = Map(
      "scheduler.outside_stage_s" -> math.max(0.0, traced - covered) / 1e3,
      "scheduler.cpu_frac" -> (if (taskRun > 0) c.getOrElse("scheduler.task_cpu_s", 0.0) / taskRun else 0.0),
      "scheduler.straggler_ratio" -> (if (ratios.isEmpty) 0.0 else ratios(ratios.size / 2)),
      "shuffle.hazard_stages" -> graft.core.AmplificationHazard(stageIO.asScala.toSeq, advisory).size.toDouble,
      "functions.kernel_query_cpu_s" -> kernelCpu,
      "trace.window_s" -> traced / 1e3)
    (c ++ derived, spans.asScala.toSeq.sortBy(_.id).map(_.toMap))
  }

  private def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
