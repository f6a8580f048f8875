package graftbench

import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.append.Appender
import graft.proj.{ProjEvent, Projection, ProjectionBatch}
import graft.streaming.ProjectionPump

/**
 * The projection consumers of the `read_side` workload: a per-stream
 * counting projection over a seeded log, caught up by the streaming pump
 * from an empty checkpoint (`availableNow`, two files per trigger) and
 * folded by the batch path `ProjectionBatch.finalStates`. Nothing appends.
 *
 * The log is staged as position-ordered files with mtimes in position
 * order, so the pump's order guard (kept on) holds. The pump's sink and
 * the fold's result must each equal a `groupBy(stream).count()` of the log.
 */
object Projections {
  val Events = 60000L
  val Streams = 2003
  val Files = 6
  val FilesPerTrigger = 2

  private implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  private val counting: Projection[Long] = Projection.named("count").fromAll().foreachStream()
    .when[Long](0L, Map("$any" -> ((n: Long, _: ProjEvent) => n + 1L))).build

  /** A finished catch-up: its progress events (one per trigger with input). */
  final case class Catchup(progress: Seq[StreamingQueryProgress])

  def stage(spark: SparkSession, dir: String, seed: Long): Unit =
    Gen.LogSpec(seed, Events, Streams, Files).write(spark, dir)

  /** The reference result: events per stream, by an independent aggregation. */
  def expected(spark: SparkSession, log: String): Map[String, Long] =
    Appender.readLog(spark, log).groupBy("stream").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** One pump catch-up into `dir`; None if it failed or its states are wrong. */
  def catchup(spark: SparkSession, log: String, dir: String, want: Map[String, Long],
              checks: Checks): Option[Catchup] = {
    val q = ProjectionPump.start(spark, counting, log, s"$dir/out", s"$dir/checkpoint",
      availableNow = true, sourceOptions = Map("maxFilesPerTrigger" -> FilesPerTrigger.toString))
    try q.awaitTermination() catch { case _: Exception => }
    val ok = checks.check(q.exception.isEmpty, s"catch-up failed: ${q.exception.map(_.getMessage)}") && {
      val got = spark.read.parquet(s"$dir/out/${counting.resultStream}")
        .groupBy("partition").agg(max("state")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      checks.check(got == want, s"pump states differ from the groupBy count on ${diff(got, want)} streams")
    }
    Gen.deleteDir(dir)
    if (ok) Some(Catchup(q.recentProgress.toSeq.filter(_.numInputRows > 0))) else None
  }

  /** One batch fold; false if it threw or its states are wrong. */
  def fold(spark: SparkSession, log: String, want: Map[String, Long], checks: Checks): Boolean =
    try {
      val got = ProjectionBatch.finalStates(counting, Appender.readLog(spark, log)).collect().toMap
      checks.check(got == want, s"fold states differ from the groupBy count on ${diff(got, want)} streams")
    } catch { case e: Exception => checks.check(ok = false, s"fold threw $e") }

  private def diff(got: Map[String, Long], want: Map[String, Long]): Int =
    (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))

  def triggerMs(c: Catchup): Seq[Double] = c.progress.map(_.durationMs.get("triggerExecution").doubleValue())

  /** Record each trigger as a child span of its catch-up's root span, so
    * the trigger's jobs land in it. */
  def triggerSpans(tracer: Tracer, catchups: Seq[(Catchup, Span)]): Seq[Span] =
    catchups.flatMap { case (c, root) =>
      c.progress.map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        tracer.addSpan("streaming.trigger", root.opId, root.id, start,
          start + p.durationMs.get("triggerExecution").longValue())
      }
    }

  /** `streaming.*` and `proj.*` layer metrics (`tree`: work per span subtree). */
  def layers(tree: Map[Int, Work], catchups: Seq[(Catchup, Span)], trigSpans: Seq[Span],
             folds: Seq[(Double, Span)]): Seq[Metric] = {
    val triggers = catchups.flatMap(_._1.progress)
    def phase(k: String) = Stats.median(triggers.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue())))
    val lastState = catchups.map(_._1.progress.last.stateOperators.head)
    def perFold(f: Work => Double) = folds.map(s => f(tree(s._2.id))).sum / folds.size
    Seq(
      Metric("streaming.triggers", triggers.size.toDouble / catchups.size, "count"),
      Metric("streaming.jobs_per_trigger", trigSpans.map(s => tree(s.id).jobs).sum.toDouble / trigSpans.size, "count"),
      Metric("streaming.state_rows_total", Stats.median(lastState.map(_.numRowsTotal.toDouble)), "count"),
      Metric("streaming.state_memory_bytes", Stats.median(lastState.map(_.memoryUsedBytes.toDouble)), "bytes"),
      Metric("streaming.state_commit_ms", Stats.median(triggers.map(_.stateOperators.head.commitTimeMs.toDouble)), "ms"),
      Metric("proj.fold_ms", Stats.median(folds.map(_._1)), "ms"),
      Metric("proj.jobs", perFold(_.jobs), "count"),
      Metric("proj.stages", perFold(_.stages), "count"),
      Metric("proj.task_ms", perFold(_.taskMs.toDouble), "ms"),
      Metric("proj.shuffle_write_bytes", perFold(_.shuffleWriteBytes.toDouble), "bytes"),
      Metric("log.scan_bytes", catchups.map(c => tree(c._2.id).inputBytes).sum.toDouble / catchups.size, "bytes")) ++
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .map(k => Metric(s"streaming.${k}_ms", phase(k), "ms"))
  }
}
