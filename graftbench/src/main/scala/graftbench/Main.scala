package graftbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** A reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** Correctness bookkeeping: a failed check is a failed op, never a timing. */
final class Checks {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Record `what` as failed unless `ok`; returns `ok`. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) failures += what
    ok
  }
}

/** What one timed window measured. `ops` counts attempted ops, `failed`
  * those whose call threw or whose output check failed. `e2e` holds the
  * shared end-to-end metrics, `named` the workload's own. */
final case class WindowResult(ops: Int, failed: Int, e2e: Map[String, Double],
                              named: Seq[Metric], layers: Seq[Metric])

/** One benchmark workload. */
trait Workload {
  /** Generate the run's fixture under `dir` (the timed part of set-up). */
  def stage(spark: SparkSession, dir: String): Unit
  /** Set-up work that follows staging (a reference result, a cold pass); it counts as set-up. */
  def prepare(spark: SparkSession, fixture: String, work: String, checks: Checks): Unit = ()
  /** Untimed warm-up with the workload's own mix. */
  def warm(spark: SparkSession, fixture: String, work: String, checks: Checks): Unit
  /** How long one cycle of the timed window takes on a 4-core host. */
  def nominalCycleS: Double
  /** One timed window of `cycles` cycles, starting from a fresh copy of `fixture`. */
  def window(spark: SparkSession, fixture: String, work: String, cycles: Int,
             tracer: Tracer, checks: Checks): WindowResult
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]); NaN when empty. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def ms(t0Ns: Long): Double = (System.nanoTime() - t0Ns) / 1e6
}

/**
 * The benchmark JVM: one workload, one seed, one process. It stages the
 * fixture, warms up, runs the timed window(s) and writes one JSON result
 * file; `run.py` turns that into the benchmark's output lines.
 *
 * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
 *          --cpus C --run-dir D --digests gate_digests.json --out result.json
 *          [--spans spans.json]
 */
object Main {
  /** Times set-up (session + staging) is repeated; `setup_s` is the median. */
  val SetupRepeats = 3

  def sessionConf(cpus: Int, runDir: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "20000",
    "spark.local.dir" -> s"$runDir/spark-local",
    "spark.sql.warehouse.dir" -> s"$runDir/warehouse")

  def session(conf: Seq[(String, String)]): SparkSession = {
    val s = conf.foldLeft(SparkSession.builder().appName("graftbench")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, seed: Long, digests: => Map[String, String]): Workload = name match {
    case "event_store" => new EventStore(seed)
    case "read_side"   => new ReadSide(seed, digests)
    case other                => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private val t0 = System.nanoTime()
  /** Progress line on stderr (the JVM log), seconds since JVM start of main. */
  private def phase(what: String): Unit = System.err.println(f"graftbench: $what done at ${Stats.ms(t0) / 1e3}%.1f s")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val runDir = a("run-dir")
    val conf = sessionConf(cpus, runDir)
    val w = workload(name, seed, Pin.readDigests(a("digests")))
    val checks = new Checks

    // set-up, repeated: a fresh session and a freshly staged fixture each time
    var spark: SparkSession = null
    final case class Timed(wallS: Double, cpuS: Double)
    def timed(body: => Unit): Timed = {
      val t0 = System.nanoTime()
      val c0 = Ctx.cpuNs()
      body
      Timed(Stats.ms(t0) / 1e3, (Ctx.cpuNs() - c0) / 1e9)
    }
    val setups = (1 to SetupRepeats).map { i =>
      timed {
        if (spark != null) spark.stop()
        spark = session(conf)
        w.stage(spark, s"$runDir/fixture-$i")
      }
    }
    val fixture = s"$runDir/fixture-$SetupRepeats"
    val work = s"$runDir/work"
    val prep = timed(w.prepare(spark, fixture, work, checks))
    // set-up is reported in CPU seconds: hypervisor steal on shared hosts
    // moved its wall time by up to 2x from run to run; the wall time is
    // on the detail line
    val setupS = Stats.median(setups.map(_.cpuS)) + prep.cpuS
    val setupWallS = Stats.median(setups.map(_.wallS)) + prep.wallS

    phase("set-up")
    w.warm(spark, fixture, work, checks)
    phase("warm-up")

    // with tracing, an untraced window first: the difference is the overhead
    val c0 = Ctx.now()
    // a whole number of cycles, fixed by --seconds: the same work in every run
    val cycles = math.max(1, math.round(seconds / w.nominalCycleS).toInt)
    val plain = w.window(spark, fixture, work, cycles, new Tracer(spark, enabled = false), checks)
    val context = c0.until(Ctx.now())
    phase("window")
    val tracedRun = if (trace) {
      val tracer = new Tracer(spark, enabled = true)
      val r = w.window(spark, fixture, work, cycles, tracer, checks)
      a.get("spans").foreach(p => writeSpans(p, tracer))
      Some(r)
    } else None
    spark.stop()
    phase("stop")

    val windows = plain +: tracedRun.toSeq
    val failedOps = windows.map(_.failed).sum
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", name)
    out.put("seed", seed)
    out.put("correct", checks.failures.isEmpty)
    out.put("attempted", windows.map(_.ops).sum)
    // a failure outside the timed ops (warm-up, final audit) still fails the run
    out.put("failed", if (checks.failures.nonEmpty && failedOps == 0) 1 else failedOps)
    out.put("failures", javaList(checks.failures.take(20).toSeq))
    out.put("e2e", javaMap((plain.e2e + ("setup_s" -> setupS)).toSeq))
    out.put("named", metricMap(Metric("setup_wall_s", setupWallS, "s") +: plain.named))
    out.put("window_cycles", cycles)
    out.put("setup_runs_wall_s", javaList(setups.map(_.wallS)))
    out.put("setup_runs_cpu_s", javaList(setups.map(_.cpuS)))
    out.put("context", javaMap(context.toSeq))
    tracedRun.foreach { r =>
      out.put("traced_e2e", javaMap(r.e2e.toSeq))
      out.put("trace_overhead", javaMap(r.e2e.toSeq.collect {
        case (k, v) if plain.e2e.contains(k) => k -> (v - plain.e2e(k))
      }))
      out.put("layers", metricMap(r.layers))
    }
    val launch = new java.util.LinkedHashMap[String, Any]()
    conf.foreach { case (k, v) => launch.put(k, v) }
    launch.put("java.io.tmpdir", System.getProperty("java.io.tmpdir"))
    launch.put("max_heap_bytes", Runtime.getRuntime.maxMemory())
    out.put("launch", launch)
    new ObjectMapper().writeValue(new File(a("out")), out)
  }

  private def javaList(xs: Seq[Any]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any]()
    xs.foreach(l.add)
    l
  }
  private def javaMap(kv: Seq[(String, Any)]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  private def metricMap(ms: Seq[Metric]): java.util.Map[String, Any] =
    javaMap(ms.map(m => m.name -> javaMap(Seq("value" -> m.value, "unit" -> m.unit))))

  private def writeSpans(path: String, t: Tracer): Unit = {
    val work = t.work()
    val rows = t.all.map { s =>
      val w = work.getOrElse(s.id, Work())
      javaMap(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.opId, "name" -> s.name,
        "start_ms" -> s.startMs, "ms" -> s.ms, "self_ms" -> (s.ms - t.all.filter(_.parent == s.id).map(_.ms).sum),
        "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks, "task_ms" -> w.taskMs,
        "plan_ms" -> w.planMs))
    }
    new ObjectMapper().writeValue(new File(path), javaList(rows))
  }
}
