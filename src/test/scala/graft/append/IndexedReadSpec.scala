package graft.append

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkSpec
import graft.log.EventLog
import graft.model._
import graft.streaming.Subscriptions
import graft.util.ParquetDirs

/**
 * Bounded reads of a log through its writer state: the first read folds
 * the state on the driver and a new file extends it, so reads are
 * answered from the state's index and a driver-side parquet read, with no
 * Spark job, and row for row what the Spark plan returns. A stale
 * DataFrame and an irregular log keep the Spark plan.
 */
class IndexedReadSpec extends SparkSpec {

  private val uuidSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def events(types: String*): Seq[ProposedEvent] =
    types.map(t => ProposedEvent(s"i-${uuidSeq.incrementAndGet()}", t, s"""{"t":"$t"}""",
      Map("type" -> t, "content-type" -> "application/json")))

  private def freshLog(): String = Files.createTempDirectory("graft-indexed").toString

  /** 24 events over 4 streams and 4 types in 10 calls: one multi-stream batch, the rest single appends. */
  private def populated(): String = {
    val dir = freshLog()
    Appender.append(spark, dir, "s-0", events("a", "b", "c"), NoStream)
    Appender.batchAppend(spark, dir, Seq(("s-1", events("d", "a"), NoStream), ("s-2", events("b"), NoStream),
      ("s-0", events("c", "c"), ExactRevision(2))))
    for (i <- 0 until 8) Appender.append(spark, dir, s"s-${i % 4}", events(Seq("a", "b", "c", "d")(i % 4), "a"))
    dir
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def folded(dir: String): Long = Appender.stateOf(spark, dir).fold(0L)(_.rowsFolded)

  /** The Spark plan's answer: a projection is not the bare relation. */
  private def planned(dir: String, opts: ReadOptions): Seq[Row] =
    rows(EventLog.read(Appender.readLog(spark, dir).select("*"), opts))

  private val grid: Seq[ReadOptions] = for {
    selector <- Seq(OneStream("s-0"), OneStream("s-2"), OneStream("missing"), AllStreams)
    direction <- Seq(Forwards, Backwards)
    from <- Seq(FromStart, FromEnd, From(3), From(9))
    count <- Seq(Some(2L), Some(50L))
    filter <- Seq(None, Some(PrefixFilter(OnEventType, Seq("a"))), Some(RegexFilter(OnEventType, "^(b|c)$")),
      Some(PrefixFilter(OnStreamId, Seq("s-1", "s-2"))), Some(RegexFilter(OnStreamId, "[02]")))
  } yield ReadOptions(selector, direction, from, count, filter)

  /** Every grid read equals the Spark plan's, and together they run no job. */
  private def assertGrid(dir: String): Unit = {
    val want = grid.map(planned(dir, _))
    var got: Seq[Seq[Row]] = Nil
    val jobs = jobsOf { got = grid.map(o => rows(EventLog.read(Appender.readLog(spark, dir), o))) }
    for ((o, (g, w)) <- grid.zip(got.zip(want))) assert(g == w, s"$o")
    assert(jobs == 0, s"the grid's indexed reads ran $jobs jobs")
    assert(want.exists(_.size > 1) && want.exists(_.isEmpty))
  }

  test("the indexed grid equals the Spark plan after appends, a delete and a tombstone, and runs no job") {
    val dir = populated()
    assertGrid(dir)
    Appender.delete(spark, dir, "s-1")
    Appender.append(spark, dir, "s-1", events("b", "d"))
    Appender.tombstone(spark, dir, "s-2")
    assertGrid(dir)
  }

  test("an empty log and a missing log read as the Spark plan does") {
    val empty = freshLog()
    val missing = new File(empty, "none").toString
    for (dir <- Seq(empty, missing); o <- grid.take(40))
      assert(rows(EventLog.read(Appender.readLog(spark, dir), o)).isEmpty && planned(dir, o).isEmpty)
  }

  test("a steady-state stream-tail and filtered $all read run 0 Spark jobs") {
    val dir = populated()
    val tail = ReadOptions(OneStream("s-1"), Backwards, FromEnd, Some(20))
    val all = ReadOptions(AllStreams, Forwards, From(4), Some(5), Some(PrefixFilter(OnEventType, Seq("a", "d"))))
    for (o <- Seq(tail, all)) {
      var got: Seq[Row] = Nil
      assert(jobsOf { got = rows(EventLog.read(Appender.readLog(spark, dir), o)) } == 0, s"$o")
      assert(got == planned(dir, o) && got.nonEmpty)
    }
  }

  test("a stale DataFrame takes the Spark plan, a foreign df.write is folded alone, and both stay correct") {
    val dir = populated()
    val opts = ReadOptions(AllStreams, Backwards, FromEnd, Some(4))
    val stale = Appender.readLog(spark, dir)
    Appender.append(spark, dir, "s-3", events("d"))
    var got: Seq[Row] = Nil
    assert(jobsOf { got = rows(EventLog.read(stale, opts)) } > 0)
    assert(got == rows(EventLog.read(stale.select("*"), opts)) && got.head.getAs[Long]("position") == 24L)

    import spark.implicits._
    Seq(("s-3", "foreign-1", "a", "{}", Map("type" -> "a", "content-type" -> "ct"), null: String, 5L, 26L))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .write.mode("append").parquet(dir)
    val before = folded(dir)
    assert(jobsOf { got = rows(EventLog.read(Appender.readLog(spark, dir), opts)) } == 0)
    assert(folded(dir) - before == 1L)
    assert(got == planned(dir, opts) && got.head.getAs[Long]("position") == 26L)
    // the next write finds the state current, and reads stay indexed
    Appender.append(spark, dir, "s-3", events("b"), ExactRevision(5))
    assert(jobsOf { got = rows(EventLog.read(Appender.readLog(spark, dir), opts)) } == 0)
    assert(got == planned(dir, opts) && got.map(_.getAs[Long]("position")) == Seq(27L, 26L, 25L, 24L))
  }

  test("a log with irregular revisions keeps the Spark plan and stays correct") {
    import spark.implicits._
    val dir = freshLog()
    Seq(("x", "u-1", "a", 0L, 1L), ("x", "u-2", "b", 2L, 2L), ("y", "u-3", "a", 0L, 3L))
      .map { case (s, u, t, r, p) => (s, u, t, "{}", Map("type" -> t, "content-type" -> "ct"), null: String, r, p) }
      .toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .write.mode("append").parquet(dir)
    Appender.append(spark, dir, "x", events("c"), ExactRevision(2))
    for (o <- Seq(ReadOptions(OneStream("x"), Backwards, FromEnd, Some(2)), ReadOptions(AllStreams, Forwards, FromStart, Some(3)))) {
      var got: Seq[Row] = Nil
      assert(jobsOf { got = rows(EventLog.read(Appender.readLog(spark, dir), o)) } > 0, s"$o")
      assert(got == planned(dir, o) && got.size == 2 + (if (o.selector == AllStreams) 1 else 0))
    }
  }

  test("a log row with a null position fails the seeding write loudly") {
    import spark.implicits._
    val dir = freshLog()
    Seq(("x", "u-1", "a", "{}", Map("type" -> "a"), null: String, 0L, Option.empty[Long]))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .write.mode("append").parquet(dir)
    val e = intercept[Exception](Appender.append(spark, dir, "x", events("b")))
    assert(e.getMessage.contains("null revision or position"), e.getMessage)
  }

  test("a read of a log this JVM never wrote folds its state with no Spark job, and equals the plan") {
    import spark.implicits._
    val dir = freshLog()
    val types = Seq("a", "b", "c", "d")
    // 60 events over 5 streams, dense revisions and positions, in 3 files whose positions interleave
    (1L to 60L).map { p =>
      val s = (p % 5).toInt
      (s"s-$s", s"f-$p", types((p % 4).toInt), "{}", Map("type" -> types((p % 4).toInt), "content-type" -> "ct"),
        null: String, (p - 1) / 5, p)
    }.toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .repartition(3).write.mode("append").parquet(dir)
    assert(Appender.stateOf(spark, dir).isEmpty)
    val opts = ReadOptions(OneStream("s-2"), Backwards, FromEnd, Some(5), Some(PrefixFilter(OnEventType, Seq("b", "c"))))
    var got: Seq[Row] = Nil
    assert(jobsOf { got = rows(EventLog.read(Appender.readLog(spark, dir), opts)) } == 0)
    assert(folded(dir) == 60L)
    assert(got == planned(dir, opts) && got.map(_.getAs[Long]("position")) == Seq(57L, 42L, 37L, 22L, 17L))
    val all = grid.filter(_.selector == AllStreams)
    val want = all.map(planned(dir, _))
    assert(jobsOf { for ((o, w) <- all.zip(want)) assert(rows(EventLog.read(Appender.readLog(spark, dir), o)) == w, s"$o") } == 0)
    assert(folded(dir) == 60L)
  }

  test("a read of a log with a null position fails loudly, as a write does") {
    import spark.implicits._
    val dir = freshLog()
    Seq(("x", "u-1", "a", "{}", Map("type" -> "a"), null: String, 0L, Option.empty[Long]))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .write.mode("append").parquet(dir)
    val e = intercept[IllegalStateException](
      EventLog.read(Appender.readLog(spark, dir), ReadOptions(AllStreams, Forwards, FromStart, Some(5))))
    assert(e.getMessage.contains("null revision or position"), e.getMessage)
  }

  test("endOffset answers from a current writer state with no Spark job") {
    val dir = populated()
    var got = Seq.empty[Long]
    val jobs = jobsOf {
      got = Seq(AllStreams, OneStream("s-0"), OneStream("missing")).map(Subscriptions.endOffset(spark, dir, _))
    }
    assert(jobs == 0 && got == Seq(25L, 9L, 0L), s"$got in $jobs jobs")
  }

  test("readOrEmpty reads an existing directory with no visible parquet, and a missing one, as empty") {
    val dir = freshLog()
    Files.write(new File(dir, ".part-hidden.parquet").toPath, Array[Byte](1, 2, 3))
    Files.write(new File(dir, "_SUCCESS").toPath, Array.emptyByteArray)
    for (d <- Seq(dir, new File(dir, "missing").toString)) {
      val df = ParquetDirs.readOrEmpty(spark, d, Subscriptions.eventSchema)
      assert(df.schema == Subscriptions.eventSchema && df.collect().isEmpty, d)
    }
  }
}
