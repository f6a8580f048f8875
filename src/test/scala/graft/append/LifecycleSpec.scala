package graft.append

import java.nio.file.Files

import graft.SparkSpec
import graft.model._

/**
 * Delete / Tombstone / BatchAppend — declared in the reference's wire
 * surface but stubbed (`grpc_server.go:271-281`); completed here with
 * EventStoreDB's semantics: soft delete truncates and is recoverable,
 * tombstone is final.
 */
class LifecycleSpec extends SparkSpec {

  private def events(n: Int, tpe: String = "t"): Seq[ProposedEvent] =
    (0 until n).map(i => ProposedEvent(s"u-$tpe-$i", tpe, "{}",
      Map("type" -> tpe, "content-type" -> "application/json")))

  test("soft delete hides prior events; appending recreates the stream") {
    val dir = Files.createTempDirectory("graft-life").toString
    Appender.append(spark, dir, "s", events(5), NoStream)
    assert(Appender.visible(Appender.readLog(spark, dir)).count() == 5)

    Appender.delete(spark, dir, "s", nowNanos = 1L)
    assert(Appender.visible(Appender.readLog(spark, dir)).count() == 0)

    // recreation: new events visible, revision sequence continues
    val r = Appender.append(spark, dir, "s", events(2, "new"))
    assert(r.firstRevision == 6L) // 5 events + marker
    val vis = Appender.visible(Appender.readLog(spark, dir))
    assert(vis.count() == 2)
    assert(vis.select("event_type").collect().forall(_.getString(0) == "new"))
  }

  test("tombstone is final: any further append fails with StreamDeleted") {
    val dir = Files.createTempDirectory("graft-life2").toString
    Appender.append(spark, dir, "s", events(3), NoStream)
    Appender.tombstone(spark, dir, "s", nowNanos = 2L)
    intercept[StreamDeleted](Appender.append(spark, dir, "s", events(1)))
    intercept[StreamDeleted](Appender.delete(spark, dir, "s"))
    assert(Appender.visible(Appender.readLog(spark, dir)).count() == 0)
    // other streams unaffected
    Appender.append(spark, dir, "other", events(1), NoStream)
    assert(Appender.visible(Appender.readLog(spark, dir)).count() == 1)
  }

  test("batchAppend: many streams, one dense global position sequence, per-stream preconditions") {
    val dir = Files.createTempDirectory("graft-life3").toString
    val results = Appender.batchAppend(spark, dir, Seq(
      ("a", events(2), NoStream),
      ("b", events(3), NoStream)
    ), nowNanos = 5L)
    assert(results == Seq(
      "a" -> AppendResult(0L, 1L, 1L, 2L),
      "b" -> AppendResult(0L, 2L, 3L, 5L)
    ))
    // precondition failure anywhere aborts the whole batch before writing
    intercept[WrongExpectedRevision] {
      Appender.batchAppend(spark, dir, Seq(
        ("c", events(1), NoStream),
        ("a", events(1), NoStream) // 'a' exists -> fails
      ))
    }
    val log = Appender.readLog(spark, dir)
    assert(log.count() == 5) // nothing from the failed batch
    assert(log.filter(org.apache.spark.sql.functions.col("stream") === "c").count() == 0)
  }

  test("batchAppend: a stream in two batches of one call continues its dense revisions") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-life4").toString
    val results = Appender.batchAppend(spark, dir, Seq(
      ("s", events(2, "x"), NoStream),
      ("other", events(1, "y"), NoStream),
      ("s", events(2, "z"), AnyRevision) // same stream again, same call
    ), nowNanos = 7L)
    assert(results.map(_._2) == Seq(
      AppendResult(0L, 1L, 1L, 2L),
      AppendResult(0L, 0L, 3L, 3L),
      AppendResult(2L, 3L, 4L, 5L) // revisions CONTINUE, not restart
    ))
    val revs = Appender.readLog(spark, dir).filter(col("stream") === "s")
      .select("revision").collect().map(_.getLong(0)).sorted
    assert(revs.toSeq == Seq(0L, 1L, 2L, 3L)) // dense, no duplicates
    // NoStream for an already-appended stream within the call now fails
    // (distinct uuids so the revision precondition is what trips, not the
    // cross-batch uuid conflict)
    intercept[WrongExpectedRevision](Appender.batchAppend(spark, dir, Seq(
      ("fresh", events(1, "f1"), NoStream),
      ("fresh", events(1, "f2"), NoStream)
    )))
  }

  test("batchAppend over 3 streams on a non-empty log runs at most 3 Spark jobs and adds one parquet file") {
    val dir = Files.createTempDirectory("graft-life5").toString
    Appender.batchAppend(spark, dir, Seq(("a", events(4, "a0"), NoStream), ("b", events(2, "b0"), NoStream)))
    def parquetFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val filesBefore = parquetFiles
    val jobs = jobsOf {
      val r = Appender.batchAppend(spark, dir, Seq(
        ("a", events(2, "a1"), ExactRevision(3)),
        ("b", events(1, "b1"), ExactRevision(1)),
        ("c", events(3, "c1"), NoStream)))
      assert(r == Seq(
        "a" -> AppendResult(4L, 5L, 7L, 8L),
        "b" -> AppendResult(2L, 2L, 9L, 9L),
        "c" -> AppendResult(0L, 2L, 10L, 12L)))
    }
    assert(jobs <= 3, s"batchAppend ran $jobs jobs")
    assert(parquetFiles == filesBefore + 1)
  }

  test("batchAppend precedence is sequential: batch 1's wrong revision before batch 2's repeated uuid") {
    val dir = Files.createTempDirectory("graft-life6").toString
    Appender.append(spark, dir, "s", events(1, "seed"), NoStream)
    val first = events(1, "x")
    val e = intercept[WrongExpectedRevision](Appender.batchAppend(spark, dir, Seq(
      ("s", first, ExactRevision(5)),
      ("s", first, AnyRevision))))
    assert(e.current == Some(0L))
    assert(Appender.readLog(spark, dir).count() == 1)
  }

  test("batchAppend with a tombstoned stream in batch 2 throws StreamDeleted and writes nothing") {
    val dir = Files.createTempDirectory("graft-life7").toString
    Appender.append(spark, dir, "dead", events(2, "d"), NoStream)
    Appender.tombstone(spark, dir, "dead", nowNanos = 3L)
    def parquetFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    val filesBefore = parquetFiles
    val e = intercept[StreamDeleted](Appender.batchAppend(spark, dir, Seq(
      ("live", events(1, "l"), NoStream),
      ("dead", events(1, "n"), AnyRevision),
      ("other", events(1, "o"), NoStream))))
    assert(e.stream == "dead")
    assert(parquetFiles == filesBefore)
    assert(Appender.readLog(spark, dir).count() == 3)
  }
}
