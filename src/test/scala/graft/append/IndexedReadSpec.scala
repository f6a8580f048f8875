package graft.append

import java.io.File
import java.nio.file.Files

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
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

  /** The state's indexed-read counters: reads, files opened, rows materialized, rows skipped. */
  private def readCounts(dir: String): Seq[Long] =
    Appender.stateOf(spark, dir).fold(Seq(0L, 0L, 0L, 0L))(st =>
      Seq(st.indexedReads, st.filesOpened, st.rowsMaterialized, st.rowsSkipped))

  test("a stream tail over three files materializes exactly the rows it returns, and runs no job") {
    val dir = freshLog()
    for (_ <- 0 until 3) Appender.batchAppend(spark, dir, Seq(("t", events("a", "b"), AnyRevision),
      ("u", events("c", "c", "c"), AnyRevision)))
    val opts = ReadOptions(OneStream("t"), Backwards, FromEnd, Some(5))
    val want = planned(dir, opts)
    val before = readCounts(dir)
    var got: Seq[Row] = Nil
    assert(jobsOf { got = rows(EventLog.read(Appender.readLog(spark, dir), opts)) } == 0)
    assert(got == want && got.map(_.getAs[Long]("revision")) == Seq(5L, 4L, 3L, 2L, 1L))
    // 3 files of 5 rows each: 5 rows materialized, the other 10 skipped
    assert(readCounts(dir).zip(before).map { case (a, b) => a - b } == Seq(1L, 3L, 5L, 10L))
  }

  /** 600 events over 7 streams, dense revisions and positions, written by
    * Spark's `df.write` as one file with its rows sorted by `order`, under
    * the session confs `confs` and the write options `options`. */
  private def sparkWritten(order: Seq[String], confs: Map[String, String] = Map.empty,
                           options: Map[String, String] = Map.empty): String = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = freshLog()
    val types = Seq("a", "b", "c", "d")
    val old = confs.keys.map(k => k -> spark.conf.getOption(k))
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try (1L to 600L).map { p =>
      val t = types((p % 4).toInt)
      (s"s-${p % 7}", s"w-$p", t, s"""{"p":$p}""", Map("type" -> t, "content-type" -> "ct"),
        if (p % 3 == 0) null else s"c-$p", (p - 1) / 7, p)
    }.toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .coalesce(1).sortWithinPartitions(order.map(col): _*).write.options(options).mode("append").parquet(dir)
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    dir
  }

  /** The parquet footer of each visible file of `dir`. */
  private def footers(dir: String): Seq[ParquetMetadata] =
    ParquetDirs.visibleParquet(spark, dir).map { s =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(s, spark.sessionState.newHadoopConf()))
      try r.getFooter finally r.close()
    }

  /** The grid's 50-row reads, plus its $all reads from the middle of a 600-event log. */
  private val wideGrid: Seq[ReadOptions] = {
    val reads = grid.filter(_.count.contains(50L))
    reads ++ reads.collect { case o @ ReadOptions(AllStreams, _, From(v), _, _) => o.copy(from = From(v * 31)) }
  }

  /** Every wide-grid read of `dir` equals the plan's, with no Spark job
    * and one materialized row per returned row. */
  private def assertRowExact(dir: String): Unit = {
    val want = wideGrid.map(planned(dir, _))
    val before = readCounts(dir)
    var got: Seq[Seq[Row]] = Nil
    assert(jobsOf { got = wideGrid.map(o => rows(EventLog.read(Appender.readLog(spark, dir), o))) } == 0)
    for ((o, (g, w)) <- wideGrid.zip(got.zip(want))) assert(g == w, s"$o")
    assert(want.exists(_.size > 1))
    assert(readCounts(dir)(2) - before(2) == want.map(_.size).sum)
  }

  test("files of several row groups and pages, in position order or not, read as the plan does") {
    val small = Map("parquet.block.size" -> "4096", "parquet.block.size.row.check.min" -> "20",
      "parquet.page.row.count.limit" -> "16", "parquet.page.size.row.check.min" -> "8")
    for (order <- Seq(Seq("position"), Seq("stream", "position"))) {
      val dir = sparkWritten(order, options = small)
      assert(footers(dir).forall(_.getBlocks.size > 1), s"$order")
      assertRowExact(dir)
    }
  }

  test("a file in Spark's legacy parquet format reads as the plan does") {
    val dir = sparkWritten(Seq("position"), confs = Map("spark.sql.parquet.writeLegacyFormat" -> "true"))
    // the legacy map layout annotates its repeated group MAP_KEY_VALUE, the standard one leaves it bare
    assert(footers(dir).forall { f =>
      val schema = f.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("metadata")).asGroupType.getType(0).getLogicalTypeAnnotation ==
        LogicalTypeAnnotation.MapKeyValueTypeAnnotation.getInstance
    }, footers(dir).map(_.getFileMetaData.getSchema))
    assertRowExact(dir)
  }

  test("a file the plan reads but the row reader does not take makes the read take the plan, and stays correct") {
    import spark.implicits._
    val dir = freshLog()
    // `revision` as int32: Spark's reader widens it to the schema's long, the row reader takes only int64
    (1 to 12).map(p => (s"s-${p % 2}", s"n-$p", "a", "{}", Map("type" -> "a", "content-type" -> "ct"), null: String,
      (p - 1) / 2, p.toLong))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .coalesce(1).write.mode("append").parquet(dir)
    for (o <- Seq(ReadOptions(OneStream("s-1"), Backwards, FromEnd, Some(3)), ReadOptions(AllStreams, Forwards, From(4), Some(5)))) {
      var got: Seq[Row] = Nil
      assert(jobsOf { got = rows(EventLog.read(Appender.readLog(spark, dir), o)) } > 0, s"$o")
      assert(got == planned(dir, o) && got.nonEmpty, s"$o")
    }
    assert(readCounts(dir).take(2) == Seq(2L, 2L))
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
