package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, parse, pretty, render}

import graft.util.{Memo, ProcStat}

/**
 * The gate-query sweep: one cold pass and three timed passes over
 * [[SparkEntry.queries]] on `$SPARK_GRAFT_SF_DIR` at
 * `local[$SPARK_GRAFT_CPUS]`, judged against `bench_baseline.json`.
 *
 * The gate is structural. At the bench scales a query's cost is its
 * Spark jobs and stages, not its data, and for a fixed input and config
 * those counts are deterministic; so a count above the baseline is an
 * exact regression that host noise cannot raise or hide. Time adds one
 * plain bar: median CPU above 2x the baseline and more than 0.5 cpu-s
 * above it. The bar reads process CPU net of HotSpot JIT compile time:
 * the compiler threads' work lands on whichever query runs while they
 * are busy (in a 12-query `SPARK_GRAFT_BENCH_ONLY` run at sf0.1 it was
 * 0.3-0.9 s of each small query's 0.8-1.7 cpu-s). A query whose counts
 * differ across its timed passes is flagged `unstable`: that is a
 * determinism bug.
 *
 * The baseline is keyed `<sf basename>@<cpus>` -> query -> {jobs, stages,
 * cpu_s}. A missing query is seeded from the run, a lower count replaces
 * the stored one, `cpu_s` is written only when absent, and rebasing means
 * deleting the key.
 *
 * Prints one compact JSON line, last on stdout; the per-query record goes
 * to `bench_detail.json`. `SPARK_GRAFT_BENCH_ONLY=q1,q2` restricts the
 * query set.
 */
object Bench {

  /** Spark work of one query run. */
  final case class Counts(jobs: Int, stages: Int, tasks: Long, taskCpuMs: Long, shuffleWriteBytes: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskCpuMs - o.taskCpuMs, shuffleWriteBytes - o.shuffleWriteBytes)
  }

  /** One run of one query: wall, process-CPU, JIT-compiler and GC
    * seconds, and its Spark work. */
  final case class Run(wall: Double, cpu: Double, jit: Double, gc: Double, counts: Counts)

  /** A query's baseline at one `<sf>@<cpus>` key; `cpuS` is median
    * process CPU net of JIT compile time. */
  final case class Base(jobs: Int, stages: Int, cpuS: Double)

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Judge each query's timed passes against the baseline. Returns the
    * regressed queries with their reasons, and the next baseline. */
  def judge(base: Map[String, Base], runs: Map[String, Seq[Run]]): (Map[String, String], Map[String, Base]) = {
    val judged = runs.toSeq.map { case (q, rs) =>
      val cpu = median(rs.map(r => r.cpu - r.jit))
      val jobs = rs.map(_.counts.jobs).distinct
      val stages = rs.map(_.counts.stages).distinct
      if (jobs.size > 1 || stages.size > 1)
        (q, Some(s"unstable: jobs ${jobs.mkString("/")} stages ${stages.mkString("/")}"), base.get(q))
      else base.get(q) match {
        case None => (q, None, Some(Base(jobs.head, stages.head, cpu)))
        case Some(b) =>
          val why = Seq(
            Option.when(jobs.head > b.jobs)(s"jobs ${jobs.head} > ${b.jobs}"),
            Option.when(stages.head > b.stages)(s"stages ${stages.head} > ${b.stages}"),
            Option.when(cpu > 2 * b.cpuS && cpu - b.cpuS > 0.5)(f"cpu $cpu%.3f s > 2 x ${b.cpuS}%.3f s")
          ).flatten
          (q, Option.when(why.nonEmpty)(why.mkString(", ")),
            Some(Base(math.min(jobs.head, b.jobs), math.min(stages.head, b.stages), b.cpuS)))
      }
    }
    (judged.collect { case (q, Some(why), _) => q -> why }.toMap,
      base ++ judged.collect { case (q, _, Some(b)) => q -> b })
  }

  /** Counts jobs, stages, tasks, task CPU and shuffle writes on the
    * listener bus. The bus is asynchronous, so [[drained]] first runs a
    * marker job and waits for its end event: every event posted before
    * it has then been counted. Queries run one at a time, so the
    * difference of two snapshots is one query's work. */
  final class Counter(sc: SparkContext) extends SparkListener {
    private val Marker = "graft-bench-drain"
    private val jobs, stages, tasks, taskCpuMs, shuffleWriteBytes, markersEnded = new AtomicLong
    private val markerJobs, markerStages = ConcurrentHashMap.newKeySet[Int]()
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Marker)) {
        markerJobs.add(e.jobId)
        e.stageIds.foreach(markerStages.add(_))
      } else jobs.incrementAndGet()

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (markerJobs.contains(e.jobId)) markersEnded.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!markerStages.contains(e.stageInfo.stageId)) {
        val m = e.stageInfo.taskMetrics
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks)
        taskCpuMs.addAndGet(m.executorCpuTime / 1000000L)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }

    /** Totals so far, once the bus has delivered every earlier event. */
    def drained(): Counts = {
      val target = markersEnded.get + 1
      sc.setJobGroup(Marker, "drain the listener bus", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60000000000L
      while (markersEnded.get < target && System.nanoTime() < deadline) Thread.sleep(1)
      require(markersEnded.get >= target, "listener bus did not drain within 60 s")
      Counts(jobs.get.toInt, stages.get.toInt, tasks.get, taskCpuMs.get, shuffleWriteBytes.get)
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  private implicit val formats: Formats = DefaultFormats

  def readBaseline(p: Path): Map[String, Map[String, Base]] =
    if (!Files.exists(p)) Map.empty
    else parse(Files.readString(p)).extract[Map[String, Map[String, Map[String, Double]]]].map {
      case (key, qs) => key -> qs.map { case (q, b) => q -> Base(b("jobs").toInt, b("stages").toInt, b("cpu_s")) }
    }

  def baselineJson(all: Map[String, Map[String, Base]]): JValue =
    JObject(all.toList.sortBy(_._1).map { case (key, qs) =>
      key -> JObject(qs.toList.sortBy(_._1).map { case (q, b) =>
        q -> (("jobs" -> b.jobs) ~ ("stages" -> b.stages) ~ ("cpu_s" -> r3(b.cpuS)))
      })
    })

  private def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCpus(4)
    val spark = GraftSession.local(cpus)
    val counter = new Counter(spark.sparkContext)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val queries = only.fold(SparkEntry.queries)(ns => SparkEntry.queries.filter(kv => ns(kv._1)))
    val names = queries.keys.toSeq.sorted
    // a failed query records its error and no timing, and is not run again
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var mark = counter.drained()
    def pass(): Map[String, Run] = names.filterNot(errors.contains).flatMap { name =>
      val w0 = System.nanoTime(); val c0 = ProcStat.cpuNs(); val j0 = ProcStat.jitMs(); val g0 = ProcStat.gcMs()
      val ok =
        try { queries(name)(spark, sfDir).count(); true }
        catch { case NonFatal(e) =>
          errors(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          false
        }
      val wall = (System.nanoTime() - w0) / 1e9; val cpu = (ProcStat.cpuNs() - c0) / 1e9
      val jit = (ProcStat.jitMs() - j0) / 1e3; val gc = (ProcStat.gcMs() - g0) / 1e3
      val now = counter.drained()
      val run = Run(wall, cpu, jit, gc, now - mark)
      mark = now
      Option.when(ok)(name -> run)
    }.toMap

    // the cold pass also builds every per-(session, sf-dir) memo, which
    // Memo itemizes; its counts are not judged
    val steal0 = ProcStat.stealJiffies(); val jit0 = ProcStat.jitMs(); val gc0 = ProcStat.gcMs()
    val cold = pass()
    val coldJitS = (ProcStat.jitMs() - jit0) / 1e3; val coldGcS = (ProcStat.gcMs() - gc0) / 1e3
    val steal1 = ProcStat.stealJiffies()
    val timed = Seq.fill(3)(pass())
    val steal2 = ProcStat.stealJiffies()
    val runs = names.filterNot(errors.contains).map(q => q -> timed.map(_(q))).toMap

    val key = s"${Paths.get(sfDir).getFileName}@$cpus"
    val basePath = Paths.get("bench_baseline.json")
    val baseline = readBaseline(basePath)
    val (regressions, next) = judge(baseline.getOrElse(key, Map.empty), runs)
    Files.writeString(basePath, pretty(render(baselineJson(baseline + (key -> next)))) + "\n")
    regressions.toSeq.sortBy(_._1).foreach { case (q, why) => System.err.println(s"[bench] REGRESSION $q: $why") }

    // the reported counts are those of the median-CPU pass
    val med = runs.map { case (q, rs) =>
      q -> Run(median(rs.map(_.wall)), median(rs.map(_.cpu)), median(rs.map(_.jit)), median(rs.map(_.gc)),
        rs.sortBy(_.cpu).apply(rs.size / 2).counts)
    }
    val total = med.values.map(_.wall).sum
    val memo = Memo.buildSeconds
    val summary =
      ("metric" -> "total") ~ ("value" -> r3(total)) ~ ("unit" -> "sec") ~ ("sf" -> sfDir) ~ ("cpus" -> cpus) ~
        ("n_queries" -> med.size) ~ ("n_errors" -> errors.size) ~ ("n_regressions" -> regressions.size) ~
        ("cpu_total" -> r3(med.values.map(_.cpu).sum)) ~ ("cold_total" -> r3(cold.values.map(_.wall).sum)) ~
        ("memo_total_s" -> r3(memo.values.sum)) ~
        ("jobs_total" -> med.values.map(_.counts.jobs).sum) ~ ("stages_total" -> med.values.map(_.counts.stages).sum) ~
        ("steal_cold_pct" -> r3(ProcStat.stealPct(steal0, steal1))) ~
        ("steal_warm_pct" -> r3(ProcStat.stealPct(steal1, steal2)))
    val detail = summary ~ ("key" -> key) ~ ("cold_cpu_total" -> r3(cold.values.map(_.cpu).sum)) ~
      ("cold_jit_s" -> r3(coldJitS)) ~ ("cold_gc_s" -> r3(coldGcS)) ~
      ("memo_build_s" -> memo.map { case (k, v) => k -> r3(v) }) ~
      ("regressions" -> regressions) ~ ("errors" -> errors.toMap) ~
      ("queries" -> JObject(med.toList.sortBy(_._1).map { case (q, r) =>
        val c = r.counts
        q -> (("wall_s" -> r3(r.wall)) ~ ("cpu_s" -> r3(r.cpu)) ~ ("jit_s" -> r3(r.jit)) ~ ("gc_s" -> r3(r.gc)) ~
          ("cold_wall_s" -> cold.get(q).map(v => r3(v.wall))) ~ ("cold_cpu_s" -> cold.get(q).map(v => r3(v.cpu))) ~
          ("jobs" -> c.jobs) ~ ("stages" -> c.stages) ~ ("tasks" -> c.tasks) ~
          ("task_cpu_ms" -> c.taskCpuMs) ~ ("shuffle_write_bytes" -> c.shuffleWriteBytes))
      }))
    Files.writeString(Paths.get("bench_detail.json"), pretty(render(detail)) + "\n")
    spark.stop()
    // the driver keeps a ~2000-char tail of stdout: scalars, the 12
    // slowest queries, and at most 3 regressions and 3 errors, each capped
    def capped(m: Iterable[(String, String)], n: Int): Map[String, String] =
      m.toSeq.sortBy(_._1).take(n).map { case (k, v) => k -> v.take(100) }.toMap
    val line = summary ~
      ("queries" -> JObject(med.toList.sortBy(-_._2.wall).take(12).map { case (q, r) => q -> JDouble(r3(r.wall)) })) ~
      ("regressions" -> capped(regressions, 3)) ~ ("errors" -> capped(errors, 3)) ~ ("detail" -> "bench_detail.json")
    // last line on stdout, after Spark's shutdown chatter (on stderr)
    System.out.println(compact(render(line)))
    System.out.flush()
  }
}
