package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. The root span of an op has `parent == -1`; every
  * span of one op shares its `opId`. Times are epoch ms (the clock Spark's
  * listener events carry), so jobs and planning phases can be placed. */
final class Span(val id: Int, val parent: Int, val opId: Int, val name: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  def ms: Long = endMs - startMs
}

/** What Spark did inside one span (directly, not through child spans). */
final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Long = 0, taskMs: Long = 0,
                      taskCpuMs: Double = 0, planMs: Long = 0, inputBytes: Long = 0,
                      inputRecords: Long = 0, shuffleWriteBytes: Long = 0, outputBytes: Long = 0,
                      busyMs: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskMs + o.taskMs, taskCpuMs + o.taskCpuMs, planMs + o.planMs, inputBytes + o.inputBytes,
    inputRecords + o.inputRecords, shuffleWriteBytes + o.shuffleWriteBytes,
    outputBytes + o.outputBytes, busyMs + o.busyMs)
}

/**
 * Span recorder plus the Spark listeners that attribute work to spans.
 *
 * With tracing off every method is a pass-through: no listener is
 * registered and no job group is set. With tracing on, each span runs
 * under a job group named after it, so a job lands in the span that
 * submitted it; jobs without one of these groups (a streaming trigger's,
 * or a pool thread's that did not inherit the group) fall back to the
 * innermost span open when the job started. Listener events arrive
 * asynchronously; [[flush]] runs a marker job and waits for its end
 * event, after which every earlier event has been delivered.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextOp = 0

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val taskIntervals = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (phase start ms, plan ms)
  @volatile private var flushed = false
  private val FlushGroup = "graftbench-flush"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      jobs.add(JobRec(e.jobId, prop("spark.jobGroup.id").getOrElse(""), e.time, e.stageIds,
        prop("streaming.sql.batchId").isDefined))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobs.asScala.exists(j => j.id == e.jobId && j.group == FlushGroup)) flushed = true
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null)
        stages.add(StageRec(i.stageId, i.numTasks, m.executorRunTime, m.executorCpuTime / 1e6,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
          m.outputMetrics.bytesWritten))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      taskIntervals.add((e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime))
  }
  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) plans.add((ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }
  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def newOp(): Int = { nextOp += 1; nextOp }

  /** Run `body` as a span named `name` of op `opId`, nested in the open span. */
  def span[T](name: String, opId: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.fold(-1)(_.id), opId, name, System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"graftbench-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"graftbench-${p.id}", p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  /** Record a span measured elsewhere (a streaming trigger from its progress event). */
  def addSpan(name: String, opId: Int, parent: Int, startMs: Long, endMs: Long): Span = {
    val s = new Span(spans.size, parent, opId, name, startMs)
    s.endMs = endMs
    spans += s
    s
  }

  def all: Seq[Span] = spans.toSeq

  /** The root span of op `opId` (tracing on only). */
  def root(opId: Int): Option[Span] = spans.reverseIterator.find(s => s.opId == opId && s.parent == -1)

  /** Wait until the listeners have seen every event posted so far. */
  def flush(): Unit = if (enabled) {
    flushed = false
    sc.setJobGroup(FlushGroup, "flush", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    while (!flushed && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(flushed, "listener bus did not drain within 60 s")
  }

  /** Spark work attributed to each span itself (children excluded). */
  def work(): Map[Int, Work] = {
    flush()
    val byId = spans.map(s => s.id -> s).toMap
    // innermost span (latest start) open at time t
    def at(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => (s.startMs, s.id)).lastOption
    val groupSpan: String => Option[Span] = g =>
      if (g.startsWith("graftbench-") && g != FlushGroup) byId.get(g.stripPrefix("graftbench-").toInt)
      else None
    // a streaming trigger's jobs run on the query's thread: placed by time
    val jobSpan = jobs.asScala.filter(_.group != FlushGroup).flatMap { j =>
      (if (j.streaming) at(j.startMs) else groupSpan(j.group).orElse(at(j.startMs))).map(s => j -> s)
    }
    val stageSpan = jobSpan.flatMap { case (j, s) => j.stageIds.map(_ -> s.id) }.toMap
    val acc = mutable.Map.empty[Int, Work].withDefaultValue(Work())
    jobSpan.foreach { case (_, s) => acc(s.id) += Work(jobs = 1) }
    stages.asScala.foreach { st =>
      stageSpan.get(st.stageId).foreach { id =>
        acc(id) += Work(stages = 1, tasks = st.tasks, taskMs = st.runMs, taskCpuMs = st.cpuMs,
          inputBytes = st.inBytes, inputRecords = st.inRecords, shuffleWriteBytes = st.shufBytes,
          outputBytes = st.outBytes)
      }
    }
    taskIntervals.asScala.groupBy(t => stageSpan.get(t._1)).foreach {
      case (Some(id), ts) => acc(id) += Work(busyMs = unionMs(ts.map(t => (t._2, t._3)).toSeq))
      case _              =>
    }
    plans.asScala.foreach { case (t, ms) => at(t).foreach(s => acc(s.id) += Work(planMs = ms)) }
    acc.toMap
  }

  /** Length of the union of [start, end] intervals. */
  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Work of a span and all its descendants. */
  def subtree(work: Map[Int, Work]): Map[Int, Work] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.Map.empty[Int, Work]
    def go(id: Int): Work = memo.getOrElseUpdate(id,
      kids.getOrElse(id, Nil).foldLeft(work.getOrElse(id, Work()))((w, c) => w + go(c.id)))
    spans.map(s => s.id -> go(s.id)).toMap
  }
}

object Tracer {
  private final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int],
                                  streaming: Boolean)
  private final case class StageRec(stageId: Int, tasks: Int, runMs: Long, cpuMs: Double,
                                    inBytes: Long, inRecords: Long, shufBytes: Long, outBytes: Long)
}

/** Process and host counters read around a timed window. */
final case class Ctx(wallNs: Long, cpuNs: Long, gcMs: Long, jitMs: Long, stat: Array[Long]) {
  /** Window metrics from `this` (start) to `end`. */
  def until(end: Ctx): Map[String, Double] = {
    val d = stat.indices.map(i => end.stat(i) - stat(i))
    val total = d.sum.toDouble
    val steal = if (d.size > 7) d(7) else 0L
    val busy = d.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 && i != 7 => v }.sum
    val hz = 100.0 // USER_HZ: /proc/stat counts in 1/100 s
    val ownCpuJiffies = (end.cpuNs - cpuNs) / 1e9 * hz
    Map(
      "jvm.gc_ms" -> (end.gcMs - gcMs).toDouble,
      "jvm.jit_ms" -> (end.jitMs - jitMs).toDouble,
      "host.steal_pct" -> (if (total > 0) 100.0 * steal / total else 0.0),
      "host.other_busy_pct" -> (if (total > 0) 100.0 * math.max(0.0, busy - ownCpuJiffies) / total else 0.0)
    )
  }
}

object Ctx {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  def now(): Ctx = Ctx(
    System.nanoTime(), cpuNs(),
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    procStat())
  /** Aggregate cpu line of /proc/stat: user nice system idle iowait irq softirq steal. */
  private def procStat(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
    finally src.close()
  }
}

/** Per-layer metric builders shared by the workloads. */
object Layers {
  /** The shared per-op layer metrics over the ops' root spans. */
  def perOp(roots: Seq[Span], tree: Map[Int, Work]): Seq[Metric] =
    calls("ops", roots, tree, "_per_op") ++ {
      val n = math.max(1, roots.size).toDouble
      val w = roots.map(s => tree.getOrElse(s.id, Work())).foldLeft(Work())(_ + _)
      Seq(
        Metric("ops.stages_per_op", w.stages / n, "count"),
        Metric("ops.task_cpu_ms_per_op", w.taskCpuMs / n, "ms"),
        Metric("ops.input_bytes_per_op", w.inputBytes / n, "bytes"),
        Metric("ops.shuffle_write_bytes_per_op", w.shuffleWriteBytes / n, "bytes"),
        Metric("ops.output_bytes_per_op", w.outputBytes / n, "bytes"))
    }

  /** Jobs, tasks, task time, time outside tasks and planning time per call of a layer. */
  def calls(layer: String, spans: Seq[Span], tree: Map[Int, Work], suffix: String): Seq[Metric] = {
    val n = math.max(1, spans.size).toDouble
    val ws = spans.map(s => s -> tree.getOrElse(s.id, Work()))
    def per(f: ((Span, Work)) => Double) = ws.map(f).sum / n
    Seq(
      Metric(s"$layer.jobs$suffix", per(_._2.jobs), "count"),
      Metric(s"$layer.tasks$suffix", per(_._2.tasks.toDouble), "count"),
      Metric(s"$layer.task_ms$suffix", per(_._2.taskMs.toDouble), "ms"),
      Metric(s"$layer.outside_task_ms$suffix", per { case (s, w) => (s.ms - w.busyMs).toDouble }, "ms"),
      Metric(s"$layer.plan_ms$suffix", per(_._2.planMs.toDouble), "ms"))
  }

  /** JVM and host context over a window. */
  def ctx(c0: Ctx, c1: Ctx): Seq[Metric] =
    c0.until(c1).toSeq.map { case (k, v) => Metric(k, v, if (k.endsWith("_pct")) "%" else "ms") }
}
