package graftbench

import java.security.MessageDigest

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/**
 * The read side: analysts running gate queries of `SparkEntry.queries` on
 * generated tables, and projection consumers catching a projection up
 * through the streaming pump and folding it in batch (see [[Projections]]),
 * in one session. A pass runs each of these ops once, in a seeded order.
 *
 * Each gate query is timed through `collect()`, which materializes every
 * output column (a `count()` would let Catalyst prune them). Set-up
 * includes the cold pass, which builds the engine's per-session memo
 * tables and serves as the warm-up. The gate tables come from a fixed
 * generator seed so their results can be pinned: every query's digest must
 * equal the one in `gate_digests.json`, which `pin_digests.py` checked
 * against the engine's DuckDB oracles. The projection log comes from the
 * run seed.
 */
final class ReadSide(seed: Long, digests: Map[String, String]) extends Workload {
  import ReadSide._

  private var want: Map[String, Long] = Map.empty
  private var passes = 0

  def stage(spark: SparkSession, dir: String): Unit = {
    Gen.gateTables(spark, s"$dir/tables", TableSeed, Scale)
    Projections.stage(spark, s"$dir/log", seed)
  }

  private def pass(spark: SparkSession, fixture: String, work: String, order: Seq[String],
                   tracer: Tracer, checks: Checks): Seq[Option[Run]] = {
    passes += 1
    order.map { name =>
      val opId = tracer.newOp()
      val t0 = System.nanoTime()
      val c0 = Ctx.cpuNs()
      val ok = try tracer.span(name, opId)(runOp(spark, fixture, work, name, opId, tracer, checks))
        catch { case e: Exception => checks.check(ok = false, s"$name pass $passes threw $e") }
      val run = Run(name, Stats.ms(t0), (Ctx.cpuNs() - c0) / 1e6, tracer.root(opId))
      System.err.println(f"graftbench: pass $passes%d $name%s ${run.ms}%.0f ms")
      if (ok) Some(run) else None
    }
  }

  /** Run one op and check its output; true if the check passed. */
  private def runOp(spark: SparkSession, fixture: String, work: String, name: String, opId: Int,
                    tracer: Tracer, checks: Checks): Boolean = name match {
    case CatchupOp =>
      Projections.catchup(spark, s"$fixture/log", s"$work/catchup-$passes", want, checks)
        .map(c => catchups :+= ((c, tracer.root(opId)))).isDefined
    case FoldOp =>
      tracer.span("proj.ProjectionBatch.finalStates", opId)(Projections.fold(spark, s"$fixture/log", want, checks))
    case q =>
      val df = tracer.span("build", opId)(SparkEntry.queries(q)(spark, s"$fixture/tables"))
      val d = digest(tracer.span("collect", opId)(df.collect()))
      checks.check(digests.get(q).contains(d), s"$q pass $passes: digest $d, pinned ${digests.getOrElse(q, "none")}")
  }

  /** Catch-ups of the current window with their root spans (tracing on). */
  private var catchups = Vector.empty[(Projections.Catchup, Option[Span])]

  override def prepare(spark: SparkSession, fixture: String, work: String, checks: Checks): Unit = {
    want = Projections.expected(spark, s"$fixture/log")
    checks.check(want.values.sum == Projections.Events,
      s"log holds ${want.values.sum} events, expected ${Projections.Events}")
    pass(spark, fixture, work, Ops, new Tracer(spark, enabled = false), checks)
  }

  /** The cold pass of set-up is the warm-up. */
  def warm(spark: SparkSession, fixture: String, work: String, checks: Checks): Unit = ()

  val nominalCycleS = 9.0

  def window(spark: SparkSession, fixture: String, work: String, cycles: Int,
             tracer: Tracer, checks: Checks): WindowResult = {
    val rng = new Random(seed)
    catchups = Vector.empty
    val c0 = Ctx.now()
    val ps = (1 to cycles).map(_ => pass(spark, fixture, work, rng.shuffle(Ops), tracer, checks))
    val c1 = Ctx.now()
    val runs = ps.flatten.flatten
    val ms = runs.map(_.ms)
    val attempted = ps.map(_.size).sum
    def of(name: String) = runs.filter(_.name == name)
    val gates = ps.filter(p => p.forall(_.isDefined)).map(_.flatten.filter(r => Queries.contains(r.name)))
    val trig = catchups.flatMap(c => Projections.triggerMs(c._1))
    val e2e = Map(
      "throughput_per_s" -> runs.size / (ms.sum / 1e3),
      "latency_p50_ms" -> Stats.median(ms),
      "cpu_ms_per_op" -> (c1.cpuNs - c0.cpuNs) / 1e6 / attempted)
    val named = Seq(
      Metric("pass_s", Stats.median(gates.map(_.map(_.ms).sum / 1e3)), "s"),
      Metric("pass_cpu_s", Stats.median(gates.map(_.map(_.cpuMs).sum / 1e3)), "s"),
      Metric("catchup_events_per_s", Projections.Events * of(CatchupOp).size / (of(CatchupOp).map(_.ms).sum / 1e3), "1/s"),
      Metric("trigger_p50_ms", Stats.median(trig), "ms"),
      Metric("trigger_p90_ms", Stats.pct(trig, 0.9), "ms"),
      Metric("fold_events_per_s", Projections.Events * of(FoldOp).size / (of(FoldOp).map(_.ms).sum / 1e3), "1/s"))
    val layers =
      if (!tracer.enabled) Nil
      else {
        val traced = catchups.collect { case (c, Some(s)) => (c, s) }
        val trigSpans = Projections.triggerSpans(tracer, traced)
        val tree = tracer.subtree(tracer.work())
        val streaming = Projections.layers(tree, traced, trigSpans, of(FoldOp).flatMap(r => r.root.map(s => (r.ms, s))))
        val perQuery = Queries.flatMap { q =>
          val ws = of(q).flatMap(_.root).map(s => s -> tree(s.id))
          def med(f: ((Span, Work)) => Double) = Stats.median(ws.map(f))
          Seq(
            Metric(s"queries.$q.wall_ms", Stats.median(of(q).map(_.ms)), "ms"),
            Metric(s"queries.$q.jobs", med(_._2.jobs), "count"),
            Metric(s"queries.$q.stages", med(_._2.stages), "count"),
            Metric(s"queries.$q.outside_task_ms", med { case (s, w) => (s.ms - w.busyMs).toDouble }, "ms"))
        }
        val total = runs.filter(r => Queries.contains(r.name)).flatMap(_.root)
          .map(s => tree(s.id)).foldLeft(Work())(_ + _)
        Layers.perOp(runs.flatMap(_.root), tree) ++ Layers.ctx(c0, c1) ++ streaming ++ perQuery ++ Seq(
          Metric("queries.plan_ms", total.planMs.toDouble / cycles, "ms"),
          Metric("queries.tasks", total.tasks.toDouble / cycles, "count"),
          Metric("queries.task_ms", total.taskMs.toDouble / cycles, "ms"),
          Metric("queries.shuffle_bytes", total.shuffleWriteBytes.toDouble / cycles, "bytes"))
      }
    WindowResult(attempted, attempted - runs.size, e2e, named, layers)
  }
}

object ReadSide {
  /** One op execution: wall ms, process-CPU ms, root span. */
  final case class Run(name: String, ms: Double, cpuMs: Double, root: Option[Span])

  /** The generator seed of the gate tables; the pinned digests depend on it. */
  val TableSeed = 42L
  val Scale: Gen.GateScale = Gen.GateScale(docs = 1000, vecs = 500, events = 10000, users = 300, orders = 5000)

  /** ROADMAP item 3's fixed-cost targets, then a cheap log-side control. */
  val Queries: Seq[String] = Seq("graph_label_prop", "sim_kmeans", "twinstore_resolve", "read_stream_backward")
  val CatchupOp = "projection_catchup"
  val FoldOp = "projection_fold"
  val Ops: Seq[String] = Queries :+ CatchupOp :+ FoldOp

  /** Order-independent digest of a result: row count plus the sum of a
    * 64-bit hash of each row's canonical rendering (every column). */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val h = MessageDigest.getInstance("SHA-256").digest(render(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    f"${rows.length}%d:$sum%016x"
  }

  private def render(v: Any): String = v match {
    case null            => "null"
    case r: Row          => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[_]     => a.map(render).mkString("[", ",", "]")
    case d: Double       => java.lang.Double.toString(d)
    case f: Float        => java.lang.Float.toString(f)
    case x               => x.toString
  }
}
