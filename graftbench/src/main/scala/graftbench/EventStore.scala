package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.append.{Appender, AppendResult, ProposedEvent}
import graft.log.EventLog
import graft.model._

/**
 * Event-store clients: one client thread (the appender's single-writer
 * contract) issuing a seeded op mix against a canonical log of 100k
 * events over 1,500 streams staged as 8 position-ordered files.
 *
 * Every cycle of 10 ops holds exactly 4 appends (1-5 events, with the
 * exact expected revision), 4 single-stream tail reads (backwards from
 * the end, 20 events) and 2 filtered `$all` reads (forwards from a
 * position, 100 events, event-type prefixes), in a seeded order. Streams
 * are picked with a skew towards low stream ids. Every read opens the
 * log through `Appender.readLog`, so each append's new file is seen by
 * the reads after it.
 *
 * The client keeps a model of the log (per-stream positions, the type of
 * every position). Each append's result and each read's rows are checked
 * against the model after the op's timer stops; a final audit checks
 * dense per-stream revisions and dense global positions.
 */
final class EventStore(seed: Long) extends Workload {
  import EventStore._

  val Events = 100000L
  val Streams = 1499
  val Files = 8
  val WarmCycles = 2
  private val Prefixes = Seq(Seq("c", "p"), Seq("s"), Seq("e", "v"))
  private val spec = Gen.LogSpec(seed, Events, Streams, Files)

  def stage(spark: SparkSession, dir: String): Unit = spec.write(spark, dir)

  /** The model of the staged log, from the generator's own functions. */
  private def fixtureModel(): Model = {
    val m = new Model(mutable.Map.empty, mutable.ArrayBuffer.empty)
    (1L to Events).foreach(p => m.append(spec.streamOf(p), Seq(spec.typeOf(p))))
    m
  }

  /** Run `cycles` cycles on a fresh copy of the fixture. */
  private def drive(spark: SparkSession, fixture: String, dir: String, rng: Random,
                    cycles: Int, tracer: Tracer, checks: Checks): (Seq[Done], Model) = {
    Gen.deleteDir(dir)
    Gen.copyDir(fixture, dir)
    val m = fixtureModel()
    val done = mutable.ArrayBuffer.empty[Done]
    (1 to cycles).foreach { _ =>
      rng.shuffle(Cycle).foreach(k => done += op(spark, dir, k, rng, m, done.size, tracer, checks))
    }
    (done.toSeq, m)
  }

  private def pickStream(rng: Random): String = {
    val u = rng.nextDouble()
    s"user-${(u * u * Streams).toInt}"
  }

  private def op(spark: SparkSession, dir: String, kind: Kind, rng: Random, m: Model, i: Int,
                 tracer: Tracer, checks: Checks): Done = {
    val opId = tracer.newOp()
    val s = pickStream(rng)
    kind match {
      case Append =>
        val types = Seq.fill(1 + rng.nextInt(5))(Gen.EventTypes(rng.nextInt(Gen.EventTypes.size)))
        val evs = types.zipWithIndex.map { case (t, j) =>
          ProposedEvent(s"a$seed-$i-$j", t, s"""{"k": ${rng.nextInt(100)}}""",
            Map("type" -> t, "content-type" -> "application/json"))
        }
        val rev = m.rev(s)
        val want = AppendResult(rev + 1, rev + types.size, m.head + 1, m.head + types.size)
        timed(kind, tracer, opId, checks) {
          tracer.span("append.Appender.append", opId) {
            Appender.append(spark, dir, s, evs, ExactRevision(rev), nowNanos = 1000L * i)
          }
        } { (got: AppendResult) =>
          m.append(s, types)
          checks.check(got == want, s"append to $s returned $got, expected $want")
        }
      case ReadStream =>
        val want = m.byStream.get(s).fold(Seq.empty[(Long, Long)]) { ps =>
          ps.indices.reverse.take(20).map(r => (r.toLong, ps(r)))
        }
        timed(kind, tracer, opId, checks)(read(spark, dir, ReadOptions(OneStream(s), Backwards, FromEnd, Some(20)), opId, tracer)) {
          rows =>
            val got = rows.map(r => (r.getAs[Long]("revision"), r.getAs[Long]("position"))).toSeq
            checks.check(got == want && rows.forall(_.getAs[String]("stream") == s),
              s"read of $s returned ${got.take(3)}..., expected ${want.take(3)}...")
        }
      case ReadAll =>
        val from = 1L + (rng.nextDouble() * m.head).toLong
        val ps = Prefixes(rng.nextInt(Prefixes.size))
        val want = (from to m.head).iterator
          .filter(p => ps.exists(m.types((p - 1).toInt).startsWith(_))).take(100).toSeq
        val opts = ReadOptions(AllStreams, Forwards, From(from), Some(100), Some(PrefixFilter(OnEventType, ps)))
        timed(kind, tracer, opId, checks)(read(spark, dir, opts, opId, tracer)) { rows =>
          val got = rows.map(_.getAs[Long]("position")).toSeq
          checks.check(got == want, s"all-streams read from $from ${ps.mkString("|")} returned ${got.take(3)}..., expected ${want.take(3)}...")
        }
    }
  }

  private def read(spark: SparkSession, dir: String, opts: ReadOptions, opId: Int, tracer: Tracer) = {
    val log = tracer.span("log.Appender.readLog", opId)(Appender.readLog(spark, dir))
    tracer.span("log.EventLog.read", opId)(EventLog.read(log, opts).collect())
  }

  /** Time `call` as one op; `verify` runs after the timer stops. A throw or
    * a failed check makes a failed op with no latency. */
  private def timed[T](kind: Kind, tracer: Tracer, opId: Int, checks: Checks)(call: => T)(verify: T => Boolean): Done = {
    val t0 = System.nanoTime()
    val got = try Right(tracer.span(kind.name, opId)(call)) catch { case e: Exception => Left(e) }
    val ms = Stats.ms(t0)
    val root = tracer.root(opId)
    got match {
      case Right(v) =>
        val rows = v match { case a: Array[_] => a.length; case _ => 0 }
        Done(kind, ms, rows, verify(v), root)
      case Left(e) => Done(kind, ms, 0, checks.check(ok = false, s"${kind.name} threw $e"), root)
    }
  }

  def warm(spark: SparkSession, fixture: String, work: String, checks: Checks): Unit = {
    drive(spark, fixture, s"$work/warm", new Random(seed ^ 0x5eed), WarmCycles,
      new Tracer(spark, enabled = false), checks)
  }

  val nominalCycleS = 3.5

  def window(spark: SparkSession, fixture: String, work: String, cycles: Int,
             tracer: Tracer, checks: Checks): WindowResult = {
    val dir = s"$work/log"
    val c0 = Ctx.now()
    val (ops, m) = drive(spark, fixture, dir, new Random(seed), cycles, tracer, checks)
    val c1 = Ctx.now()
    audit(spark, dir, m, checks)
    val good = ops.filter(_.ok)
    def lat(k: Kind) = good.filter(_.kind == k).map(_.ms)
    // ops per second of a client whose every op takes its kind's median
    // latency: one slow op (a GC pause, a stolen slice) moves it little
    val cycleMs = Cycle.map(k => Stats.median(lat(k))).sum
    val e2e = Map(
      "throughput_per_s" -> Cycle.size / (cycleMs / 1e3),
      "latency_p50_ms" -> Stats.median(lat(Append)),
      "cpu_ms_per_op" -> (c1.cpuNs - c0.cpuNs) / 1e6 / ops.size)
    val named = Seq(
      Metric("ops_per_s", good.size / (good.map(_.ms).sum / 1e3), "1/s"),
      Metric("append_p50_ms", Stats.median(lat(Append)), "ms"),
      Metric("append_p90_ms", Stats.pct(lat(Append), 0.9), "ms"),
      Metric("read_stream_p50_ms", Stats.median(lat(ReadStream)), "ms"),
      Metric("read_all_p50_ms", Stats.median(lat(ReadAll)), "ms"))
    val layers =
      if (!tracer.enabled) Nil
      else {
        val tree = tracer.subtree(tracer.work())
        val appends = ops.filter(_.kind == Append).flatMap(_.root)
        val reads = ops.filter(_.kind != Append).flatMap(_.root)
        val kids = tracer.all.groupBy(_.parent)
        def child(r: Span, n: String) = kids.getOrElse(r.id, Nil).filter(_.name == n)
        val appendCalls = appends.flatMap(child(_, "append.Appender.append"))
        val opens = reads.flatMap(child(_, "log.Appender.readLog"))
        val readCalls = reads.flatMap(child(_, "log.EventLog.read"))
        val returned = ops.filter(_.kind != Append).map(_.rows).sum
        Layers.perOp(ops.flatMap(_.root), tree) ++ Layers.ctx(c0, c1) ++
          Layers.calls("append", appendCalls, tree, "_per_call") ++ Seq(
            Metric("append.files_written_per_call",
              (parquetFiles(dir) - parquetFiles(fixture)).toDouble / appends.size, "count"),
            Metric("log.open_ms", Stats.median(opens.map(_.ms.toDouble)), "ms"),
            Metric("log.read_jobs_per_call", readCalls.map(s => tree(s.id).jobs).sum.toDouble / readCalls.size, "count"),
            Metric("log.read_outside_task_ms_per_call",
              readCalls.map(s => s.ms - tree(s.id).busyMs).sum.toDouble / readCalls.size, "ms"),
            Metric("log.rows_scanned_per_row_returned",
              readCalls.map(s => tree(s.id).inputRecords).sum.toDouble / returned, "count"),
            Metric("log.files", parquetFiles(dir).toDouble, "count"))
      }
    WindowResult(ops.size, ops.count(!_.ok), e2e, named, layers)
  }

  private def parquetFiles(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).fold(0)(_.count(_.getName.endsWith(".parquet")))

  /** Dense per-stream revisions, dense global positions, and the model's counts. */
  private def audit(spark: SparkSession, dir: String, m: Model, checks: Checks): Unit = {
    val log = Appender.readLog(spark, dir)
    val g = log.agg(count(lit(1)), min("position"), max("position"), countDistinct("position")).head()
    checks.check(g.getLong(0) == m.head && g.getLong(1) == 1L && g.getLong(2) == m.head && g.getLong(3) == m.head,
      s"audit: positions not dense 1..${m.head}: $g")
    val streams = log.groupBy("stream")
      .agg(count(lit(1)), min("revision"), max("revision"), countDistinct("revision")).collect()
    val bad = streams.count(r => r.getLong(2) != 0 || r.getLong(3) != r.getLong(1) - 1 || r.getLong(4) != r.getLong(1))
    checks.check(bad == 0, s"audit: $bad streams with non-dense revisions")
    checks.check(streams.map(r => r.getString(0) -> r.getLong(1)).toMap == m.byStream.map { case (k, v) => k -> v.size.toLong },
      "audit: per-stream counts differ from the client's model")
  }
}

object EventStore {
  /** The client's model of the log. */
  final class Model(val byStream: mutable.Map[String, mutable.ArrayBuffer[Long]],
                    val types: mutable.ArrayBuffer[String]) {
    def head: Long = types.size.toLong
    def rev(s: String): Long = byStream.get(s).fold(-1L)(_.size - 1L)
    def append(s: String, ts: Seq[String]): Unit = ts.foreach { t =>
      types += t
      byStream.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += head
    }
  }

  sealed trait Kind { def name: String }
  case object Append extends Kind { val name = "append" }
  case object ReadStream extends Kind { val name = "read_stream" }
  case object ReadAll extends Kind { val name = "read_all" }
  val Cycle: Seq[Kind] = Seq.fill(4)(Append) ++ Seq.fill(4)(ReadStream) ++ Seq.fill(2)(ReadAll)

  /** A finished op: kind, latency, rows returned, whether its check passed. */
  final case class Done(kind: Kind, ms: Double, rows: Int, ok: Boolean, root: Option[Span])
}
