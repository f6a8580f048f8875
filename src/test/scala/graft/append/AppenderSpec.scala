package graft.append

import java.nio.file.Files

import graft.SparkSpec
import graft.model._

/**
 * Expected-revision matrix + revision/position assignment, ported from
 * `/root/reference/internal/streams/streams_test.go:125-172` (and the
 * position assertions at 245-246, 316-318).
 */
class AppenderSpec extends SparkSpec {

  private val uuidSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Proposed events with globally unique uuids (a duplicate (stream, uuid)
    * is a conflict since the reference's PK semantics were added). */
  private def events(n: Int): Seq[ProposedEvent] =
    (0 until n).map(_ => ProposedEvent(s"u-${uuidSeq.incrementAndGet()}", "event-type", """{"x":1}""",
      Map("type" -> "event-type", "content-type" -> "content-type")))

  private def freshLog(): String = Files.createTempDirectory("graft-append").toString

  test("append assigns dense 0-based revisions and 1-based global positions") {
    val dir = freshLog()
    val r1 = Appender.append(spark, dir, "s1", events(3), NoStream, nowNanos = 1234500L)
    assert(r1 == AppendResult(0L, 2L, 1L, 3L))
    // second stream continues the global position sequence (BIGSERIAL)
    val r2 = Appender.append(spark, dir, "s2", events(2), NoStream, nowNanos = 1234500L)
    assert(r2 == AppendResult(0L, 1L, 4L, 5L))
    // appending again to s1 continues its revision sequence
    val r3 = Appender.append(spark, dir, "s1", events(2), ExactRevision(2), nowNanos = 1234500L)
    assert(r3 == AppendResult(3L, 4L, 6L, 7L))

    val log = Appender.readLog(spark, dir)
    assert(log.count() == 7)
    import org.apache.spark.sql.functions._
    val positions = log.select("position").collect().map(_.getLong(0)).sorted
    assert(positions.toSeq == (1L to 7L))
    // created stamped in 100ns ticks
    val created = log.select(element_at(col("metadata"), "created")).head().getString(0)
    assert(created == "12345")
  }

  test("expected-revision matrix (streams_test.go:136-172)") {
    val dir = freshLog()
    // NoStream on a fresh stream: ok
    Appender.append(spark, dir, "s", events(1), NoStream)
    // NoStream again: fails
    val e1 = intercept[WrongExpectedRevision](Appender.append(spark, dir, "s", events(1), NoStream))
    assert(e1.current == Some(0L))
    // StreamExists on missing stream: fails with current None
    val e2 = intercept[WrongExpectedRevision](Appender.append(spark, dir, "missing", events(1), StreamExists))
    assert(e2.current.isEmpty)
    // StreamExists on existing: ok
    Appender.append(spark, dir, "s", events(1), StreamExists)
    // Exact mismatch: fails reporting current
    val e3 = intercept[WrongExpectedRevision](Appender.append(spark, dir, "s", events(1), ExactRevision(5)))
    assert(e3.current == Some(1L))
    // Exact match + Any: ok
    Appender.append(spark, dir, "s", events(1), ExactRevision(1))
    Appender.append(spark, dir, "s", events(1), AnyRevision)
    assert(graft.log.EventLog.maxRevision(Appender.readLog(spark, dir), "s").head().getLong(0) == 3L)
  }

  test("duplicate (stream, uuid) append → EventConflict (backend.go:48,316-329)") {
    val dir = freshLog()
    val e = ProposedEvent("fixed-uuid", "t", "{}",
      Map("type" -> "t", "content-type" -> "ct"))
    Appender.append(spark, dir, "s", Seq(e))
    // replayed append: conflict, no double-write
    val c = intercept[EventConflict](Appender.append(spark, dir, "s", Seq(e)))
    assert(c.stream == "s" && c.uuid == "fixed-uuid")
    assert(Appender.readLog(spark, dir).count() == 1)
    // same uuid within one batch: conflict
    intercept[EventConflict](Appender.append(spark, dir, "s2", Seq(
      e.copy(uuid = "dup"), e.copy(uuid = "dup"))))
    // same uuid in a DIFFERENT stream: fine (PK is (stream, uuid))
    Appender.append(spark, dir, "other", Seq(e))
    assert(Appender.readLog(spark, dir).count() == 2)
    // batchAppend: duplicate across the call's batches is one tx → conflict
    intercept[EventConflict](Appender.batchAppend(spark, dir, Seq(
      ("b1", Seq(e.copy(uuid = "x")), AnyRevision),
      ("b1", Seq(e.copy(uuid = "x")), AnyRevision))))
  }

  test("one append to a non-empty log runs at most 3 Spark jobs and adds exactly one parquet file") {
    val dir = freshLog()
    Appender.append(spark, dir, "s", events(40), NoStream)
    Appender.append(spark, dir, "t", events(3), NoStream)
    def parquetFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val filesBefore = parquetFiles
    val appendJobs = jobsOf {
      val r = Appender.append(spark, dir, "s", events(4), ExactRevision(39))
      assert(r == AppendResult(40L, 43L, 44L, 47L))
    }
    assert(appendJobs <= 3, s"append ran $appendJobs jobs")
    assert(parquetFiles == filesBefore + 1)
  }

  test("precedence: a tombstoned stream reports StreamDeleted before a wrong revision") {
    val dir = freshLog()
    Appender.append(spark, dir, "s", events(2), NoStream)
    Appender.tombstone(spark, dir, "s", nowNanos = 7L)
    intercept[StreamDeleted](Appender.append(spark, dir, "s", events(1), ExactRevision(99)))
  }

  test("precedence: a wrong revision is reported before a replayed uuid") {
    val dir = freshLog()
    val first = events(2)
    Appender.append(spark, dir, "s", first, NoStream)
    val e = intercept[WrongExpectedRevision](Appender.append(spark, dir, "s", first.take(1), ExactRevision(5)))
    assert(e.current == Some(1L))
  }

  test("precedence: a wrong revision is reported before an in-batch duplicate") {
    val dir = freshLog()
    Appender.append(spark, dir, "s", events(1), NoStream)
    val dup = events(1)
    val e = intercept[WrongExpectedRevision](Appender.append(spark, dir, "s", dup ++ dup, ExactRevision(5)))
    assert(e.current == Some(0L))
  }

  test("EventConflict reports the smallest uuid already in the stream") {
    val dir = freshLog()
    def ev(u: String) = ProposedEvent(u, "t", "{}", Map("type" -> "t", "content-type" -> "ct"))
    val inLog = Seq("m", "g", "q", "x", "c", "w", "k", "t", "e", "p", "h", "s")
    Appender.append(spark, dir, "s", inLog.map(ev))
    val proposed = Seq("z", "new") ++ inLog.filterNot(_ == "c").reverse
    val c = intercept[EventConflict](Appender.append(spark, dir, "s", proposed.map(ev)))
    assert(c.stream == "s" && c.uuid == "e")
    assert(Appender.readLog(spark, dir).count() == inLog.size)
  }

  test("a call that repeats two different uuids reports the smallest one") {
    val dir = freshLog()
    def ev(u: String) = ProposedEvent(u, "t", "{}", Map("type" -> "t", "content-type" -> "ct"))
    val c1 = intercept[EventConflict](Appender.append(spark, dir, "s", Seq("q", "k", "q", "k").map(ev)))
    assert(c1.stream == "s" && c1.uuid == "k")
    val repeated = Seq("n", "j", "g", "d", "b")
    val c2 = intercept[EventConflict](Appender.batchAppend(spark, dir, Seq(
      ("s", repeated.map(ev), AnyRevision),
      ("t", Seq("a").map(ev), AnyRevision),
      ("s", ("z" +: repeated.reverse).map(ev), AnyRevision))))
    assert(c2.stream == "s" && c2.uuid == "b")
    assert(Appender.readLog(spark, dir).count() == 0)
  }

  test("custom_metadata is persisted and round-trips (backend.go:43)") {
    val dir = freshLog()
    val e = ProposedEvent("cm-1", "t", "{}",
      Map("type" -> "t", "content-type" -> "ct"), customMetadata = Some("""{"tag":7}"""))
    Appender.append(spark, dir, "s", Seq(e) ++ events(1))
    import org.apache.spark.sql.functions._
    val log = Appender.readLog(spark, dir)
    val got = log.filter(col("uuid") === "cm-1").select("custom_metadata").head().getString(0)
    assert(got == """{"tag":7}""")
    // absent → null
    assert(log.filter(col("uuid") =!= "cm-1").select("custom_metadata").head().isNullAt(0))
  }

  test("metadata validation: type and content-type required (streams.go:191-203)") {
    val dir = freshLog()
    val bad = Seq(ProposedEvent("u", "t", "{}", Map("type" -> "t"))) // missing content-type
    val e = intercept[MissingMetadata](Appender.append(spark, dir, "s", bad))
    assert(e.key == "content-type")
    val bad2 = Seq(ProposedEvent("u", "t", "{}", Map("content-type" -> "ct")))
    assert(intercept[MissingMetadata](Appender.append(spark, dir, "s", bad2)).key == "type")
  }
}
