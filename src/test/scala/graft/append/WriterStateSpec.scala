package graft.append

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model._
import graft.streaming.{LogSink, Subscriptions}

/**
 * The append path's steady state: preconditions from the writer state
 * (no Spark job), one driver-written parquet file per call, a fold of
 * only the added files after a foreign write, a fold of the whole log
 * after a covered file changes or vanishes, and files that every reader
 * of the log reads back unchanged.
 */
class WriterStateSpec extends SparkSpec {

  private val uuidSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def events(n: Int): Seq[ProposedEvent] =
    (0 until n).map(_ => ProposedEvent(s"w-${uuidSeq.incrementAndGet()}", "event-type", """{"x":1}""",
      Map("type" -> "event-type", "content-type" -> "application/json")))

  private def freshLog(): String = Files.createTempDirectory("graft-writer").toString

  private def names(dir: String): Seq[String] = Option(new File(dir).list()).fold(Seq.empty[String])(_.toSeq)

  private def visibleFiles(dir: String): Seq[String] =
    names(dir).filter(n => n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_"))

  private def log(dir: String): Seq[(String, String, Long, Long)] =
    Appender.readLog(spark, dir).select("stream", "uuid", "revision", "position").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).sortBy(_._4).toSeq

  private def folded(dir: String): Long = Appender.stateOf(spark, dir).fold(0L)(_.rowsFolded)

  /** A non-empty log whose writer state is seeded. */
  private def seededLog(): String = {
    val dir = freshLog()
    Appender.append(spark, dir, "s", events(5), NoStream)
    Appender.batchAppend(spark, dir, Seq(("t", events(2), NoStream), ("u", events(1), NoStream)))
    dir
  }

  test("every kind of steady-state write runs no Spark job and adds exactly one visible parquet file") {
    val dir = seededLog()
    def write[T](what: String)(call: => T): T = {
      val before = visibleFiles(dir).size
      var out: Option[T] = None
      val jobs = jobsOf { out = Some(call) }
      assert(jobs == 0, s"$what ran $jobs jobs")
      assert(visibleFiles(dir).size == before + 1, s"$what must add exactly one visible file")
      out.get
    }
    assert(write("append")(Appender.append(spark, dir, "s", events(3), ExactRevision(4))) ==
      AppendResult(5L, 7L, 9L, 11L))
    val multi = write("3-stream batchAppend")(Appender.batchAppend(spark, dir, Seq(
      ("s", events(1), ExactRevision(7)), ("t", events(2), ExactRevision(1)), ("v", events(1), NoStream))))
    assert(multi == Seq("s" -> AppendResult(8L, 8L, 12L, 12L), "t" -> AppendResult(2L, 3L, 13L, 14L),
      "v" -> AppendResult(0L, 0L, 15L, 15L)))
    assert(write("delete")(Appender.delete(spark, dir, "t", ExactRevision(3), nowNanos = 5L)) ==
      AppendResult(4L, 4L, 16L, 16L))
    assert(write("tombstone")(Appender.tombstone(spark, dir, "u", ExactRevision(0), nowNanos = 6L)) ==
      AppendResult(1L, 1L, 17L, 17L))
    intercept[StreamDeleted](Appender.append(spark, dir, "u", events(1)))
    assert(log(dir).map(_._4) == (1L to 17L))
  }

  test("a file written by another writer costs a fold of that file alone; the next calls continue its revisions and positions") {
    val dir = seededLog()
    import spark.implicits._
    Seq(("s", "foreign-1", "event-type", "{}", Map("type" -> "event-type", "content-type" -> "ct"),
      null: String, 5L, 9L))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata", "revision", "position")
      .write.mode("append").parquet(dir)
    var r: AppendResult = null
    val before = folded(dir)
    val reseed = jobsOf { r = Appender.append(spark, dir, "s", events(2), ExactRevision(5)) }
    assert(r == AppendResult(6L, 7L, 10L, 11L))
    assert(reseed == 0 && folded(dir) - before == 1L, s"the fold of the foreign file ran $reseed jobs")
    val foreign = ProposedEvent("foreign-1", "t", "{}", Map("type" -> "t", "content-type" -> "ct"))
    val c = intercept[EventConflict](Appender.append(spark, dir, "s", events(1) :+ foreign))
    assert(c.stream == "s" && c.uuid == "foreign-1")
    assert(jobsOf(Appender.append(spark, dir, "t", events(1), ExactRevision(1))) == 0)
    assert(log(dir).map(_._4) == (1L to 12L))
  }

  test("a call that fails a precondition writes nothing, and the next call still runs no job") {
    val dir = seededLog()
    Appender.tombstone(spark, dir, "u")
    val replayed = ProposedEvent(log(dir).head._2, "t", "{}", Map("type" -> "t", "content-type" -> "ct"))
    val failing: Seq[(String, () => Any)] = Seq(
      "wrong revision" -> (() => intercept[WrongExpectedRevision](Appender.append(spark, dir, "s", events(1), ExactRevision(9)))),
      "tombstoned" -> (() => intercept[StreamDeleted](Appender.append(spark, dir, "u", events(1)))),
      "uuid in the log" -> (() => intercept[EventConflict](Appender.append(spark, dir, "s", Seq(replayed)))),
      "uuid repeated" -> (() => intercept[EventConflict](Appender.append(spark, dir, "t", events(1) ++ Seq(replayed, replayed)))))
    var next = 4L
    for ((what, call) <- failing) {
      val files = names(dir).sorted
      call()
      assert(names(dir).sorted == files, s"$what wrote something")
      val jobs = jobsOf(assert(Appender.append(spark, dir, "t", events(1), ExactRevision(next - 3)).lastPosition == 6L + next))
      assert(jobs == 0, s"the call after '$what' ran $jobs jobs")
      next += 1
    }
  }

  test("a driver-written file reads back the same rows through readLog, schema inference and the file-stream source") {
    val dir = freshLog()
    val e1 = ProposedEvent("r-1", "opened", """{"a":1}""", Map("type" -> "opened", "content-type" -> "application/json"),
      customMetadata = Some("""{"tag":7}"""))
    val e2 = ProposedEvent("r-2", "closed", "", Map("type" -> "closed", "content-type" -> "text/plain", "k" -> "v"))
    Appender.append(spark, dir, "s", Seq(e1, e2), NoStream, nowNanos = 1234500L)
    Appender.append(spark, dir, "t", Seq(e1), NoStream, nowNanos = 1234500L)
    val meta1 = e1.metadata + ("created" -> "12345")
    val want = Seq(
      Row("s", "r-1", "opened", """{"a":1}""", meta1, """{"tag":7}""", 0L, 1L),
      Row("s", "r-2", "closed", "", e2.metadata + ("created" -> "12345"), null, 1L, 2L),
      Row("t", "r-1", "opened", """{"a":1}""", meta1, """{"tag":7}""", 0L, 3L))
    val cols = Subscriptions.eventSchema.fieldNames.map(col).toSeq
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(cols: _*).collect().sortBy(_.getLong(7)).toSeq

    for (f <- visibleFiles(dir))
      assert(spark.read.parquet(s"$dir/$f").schema == Subscriptions.eventSchema, s"schema of $f")
    assert(rows(Appender.readLog(spark, dir)) == want)
    assert(rows(graft.log.PartitionedLog.open(spark, dir)) == want)
    val q = Subscriptions.subscribe(spark, dir, ReadOptions(AllStreams, from = From(0)))
      .writeStream.format("memory").queryName("writer_state_stream")
      .option("checkpointLocation", Files.createTempDirectory("graft-writer-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(rows(spark.table("writer_state_stream")) == want)
  }

  test("the session's parquet codec names and compresses the file") {
    val dir = freshLog()
    val key = "spark.sql.parquet.compression.codec"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "gzip")
    try Appender.append(spark, dir, "s", events(2))
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val files = visibleFiles(dir)
    assert(files.size == 1 && files.head.startsWith("part-") && files.head.endsWith(".gz.parquet"), files)
    assert(log(dir).size == 2)
  }

  test("hidden files are never read, and do not make the writer reseed") {
    val dir = seededLog()
    val data = new File(dir, visibleFiles(dir).head)
    for (hidden <- Seq(".part-x.parquet.tmp", "_part-y.parquet", ".part-z.parquet"))
      Files.copy(data.toPath, new File(dir, hidden).toPath)
    assert(log(dir).size == 8)
    assert(jobsOf(Appender.append(spark, dir, "s", events(1), ExactRevision(4))) == 0)
    val q = Subscriptions.subscribe(spark, dir, ReadOptions(AllStreams, from = From(0)))
      .writeStream.format("memory").queryName("writer_state_hidden")
      .option("checkpointLocation", Files.createTempDirectory("graft-writer-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(spark.table("writer_state_hidden").count() == 9L)
    // the writer's own temp files are gone once a call returns
    assert(names(dir).filter(_.startsWith(".")).forall(n => n.endsWith(".crc") ||
      Set(".part-x.parquet.tmp", ".part-z.parquet")(n)), names(dir))
  }

  test("a log addressed by a file: URI keeps its positions across calls") {
    val dir = "file://" + freshLog()
    Appender.append(spark, dir, "s", events(3), NoStream)
    Appender.append(spark, dir, "t", events(2), NoStream)
    val r = Appender.append(spark, dir, "s", events(1), ExactRevision(2))
    assert(r == AppendResult(3L, 3L, 6L, 6L))
    assert(log(dir).map(_._4) == (1L to 6L))
  }

  test("a covered file that is rewritten or deleted refolds the whole log") {
    val dir = seededLog()
    Appender.append(spark, dir, "s", events(2), ExactRevision(4))
    val files = visibleFiles(dir).map(new File(dir, _))
    assert(files.size == 3 && log(dir).size == 10)
    // the same bytes under a new mtime: the whole log is folded again
    val before = folded(dir)
    assert(files.head.setLastModified(files.head.lastModified() - 60000L))
    assert(jobsOf(Appender.append(spark, dir, "t", events(1), ExactRevision(1))) == 0)
    assert(folded(dir) - before == 10L)
    // a deleted file: the rest of the log is folded again, and the next call continues it
    val gone = files.find(f => spark.read.parquet(f.toString).count() == 5L).get
    val rest = folded(dir)
    assert(gone.delete())
    assert(Appender.append(spark, dir, "t", events(1), ExactRevision(2)) == AppendResult(3L, 3L, 12L, 12L))
    assert(folded(dir) - rest == 6L)
    assert(log(dir).map(_._4) == (6L to 12L))
  }

  test("a deleted log's state is released, and a write after it starts a new log") {
    val dir = seededLog()
    assert(Appender.stateOf(spark, dir).isDefined)
    for (f <- names(dir)) new File(dir, f).delete()
    assert(new File(dir).delete())
    assert(Subscriptions.endOffset(spark, dir, AllStreams) == 1L)
    assert(Appender.stateOf(spark, dir).isEmpty)
    assert(Appender.append(spark, dir, "s", events(1), NoStream) == AppendResult(0L, 0L, 1L, 1L))
    assert(Appender.stateOf(spark, dir).exists(_.maxPos == 1L))
  }

  test("a redelivered LogSink micro-batch runs at most 2 jobs and writes nothing") {
    import spark.implicits._
    val dir = freshLog()
    val batch = Seq(("a", "u1", "t", "d1", 1L), ("a", "u2", "t", "d2", 2L), ("b", "u3", "t", "d3", 1L))
      .toDF("stream", "uuid", "event_type", "data", "ord")
    LogSink.applyBatch(spark, dir, batch, "ord")
    val files = names(dir).sorted
    val jobs = jobsOf(LogSink.applyBatch(spark, dir, batch, "ord"))
    assert(jobs <= 2, s"the redelivery ran $jobs jobs")
    assert(names(dir).sorted == files)
    assert(log(dir).size == 3)
  }
}
