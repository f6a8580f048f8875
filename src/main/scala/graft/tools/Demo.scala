package graft.tools

import java.nio.file.Files


import graft.append.{Appender, ProposedEvent}
import graft.log.EventLog
import graft.model._
import graft.proj.{ProjEvent, Projection}
import graft.streaming.ProjectionPump

final case class DemoCount(count: Long)

/**
 * End-to-end example of the engine's full lifecycle through the public
 * API: append (optimistic concurrency) → bounded read → projection pump
 * (catch-up subscription → fold → result stream). Run:
 * `sbt "runMain graft.tools.Demo"`.
 */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(4)

    val logDir = Files.createTempDirectory("graft-demo-log").toString
    val outDir = Files.createTempDirectory("graft-demo-out").toString
    val ckpt = Files.createTempDirectory("graft-demo-ckpt").toString

    def evs(tpe: String, n: Int) = (0 until n).map(i =>
      ProposedEvent(java.util.UUID.randomUUID().toString, tpe, s"""{"i":$i}""",
        Map("type" -> tpe, "content-type" -> "application/json")))

    // 1. appends with expected-revision preconditions
    val r1 = Appender.append(spark, logDir, "account-1", evs("deposited", 5), NoStream)
    val r2 = Appender.append(spark, logDir, "account-2", evs("withdrawn", 3), NoStream)
    val r3 = Appender.append(spark, logDir, "account-1", evs("withdrawn", 2), ExactRevision(4))
    println(s"append account-1: revisions ${r1.firstRevision}..${r1.lastRevision} positions ${r1.firstPosition}..${r1.lastPosition}")
    println(s"append account-2: revisions ${r2.firstRevision}..${r2.lastRevision} positions ${r2.firstPosition}..${r2.lastPosition}")
    println(s"append account-1: revisions ${r3.firstRevision}..${r3.lastRevision} positions ${r3.firstPosition}..${r3.lastPosition}")
    val conflict =
      try { Appender.append(spark, logDir, "account-1", evs("x", 1), NoStream); "NO-CONFLICT?!" }
      catch { case e: WrongExpectedRevision => s"rejected as expected: ${e.getMessage}" }
    println(s"conflicting append: $conflict")

    // 2. bounded read: account-1 backwards from end, 3 events
    val read = EventLog.read(
      Appender.readLog(spark, logDir),
      ReadOptions(OneStream("account-1"), Backwards, FromEnd, count = Some(3)))
    println("read account-1 backwards-from-end count=3:")
    read.select("stream", "event_type", "revision", "position").show(false)

    // 3. projection pump: per-stream event counts, catch-up then stop
    val proj = Projection
      .named("counts")
      .fromAll()
      .foreachStream()
      .when[DemoCount](DemoCount(0),
        Map("$any" -> ((s: DemoCount, _: ProjEvent) => s.copy(count = s.count + 1))))
      .outputState()
      .build
    import spark.implicits._
    ProjectionPump.start(spark, proj, logDir, outDir, ckpt, availableNow = true).awaitTermination()
    println(s"result stream ${proj.resultStream}:")
    spark.read.parquet(s"$outDir/${proj.resultStream}")
      .groupBy("partition").max("state.count").orderBy("partition").show(false)

    // 4. stream lifecycle: soft delete truncates, tombstone is final
    Appender.delete(spark, logDir, "account-2")
    println(s"after soft-deleting account-2, visible events: " +
      Appender.visible(Appender.readLog(spark, logDir))
        .groupBy("stream").count().collect().mkString(", "))
    Appender.tombstone(spark, logDir, "account-1")
    val tomb =
      try { Appender.append(spark, logDir, "account-1", evs("x", 1)); "NO-ERROR?!" }
      catch { case e: StreamDeleted => s"rejected: ${e.getMessage}" }
    println(s"append to tombstoned stream: $tomb")

    spark.stop()
  }
}
