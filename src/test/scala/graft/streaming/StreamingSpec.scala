package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{call_function, col, countDistinct, explode, expr, lit, max, sequence}
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.model._
import graft.proj._

/** Canonical event row for streaming tests. */
case class EvRow(stream: String, uuid: String, event_type: String, data: String,
                 metadata: Map[String, String], revision: Long, position: Long)

/** Event-time row for watermark tests. */
case class TsRow(stream: String, event_time: java.sql.Timestamp)

/** Ingest row for streaming-dedup tests. */
case class InRow(stream: String, uuid: String, ts: java.sql.Timestamp)

/** Proposed-event row for the LogSink spec. */
case class SinkRow(stream: String, uuid: String, event_type: String, data: String, ord: Long)

/** Right-side row for stream-stream join tests. */
case class ViewRow(v_stream: String, view_id: String, v_ts: java.sql.Timestamp)

/** Activity row (stream, event-time micros) for rolling-WAU tests. */
case class ActRow(stream: String, tus: Long)

case class SCount(count: Long)

case class DocRow(doc_id: Long, text: String)

/** Sourced document row for streaming-curation tests. */
case class CurRow(doc_id: Long, source: String, text: String)

/**
 * Streaming semantics mirrored from the reference's subscription tests
 * (`streams_test.go:482-564`: catch-up history, then live events, other
 * streams must not leak in) and the unwired projection pump (§2.10).
 */
class StreamingSpec extends SparkSpec {

  private def ev(stream: String, tpe: String, rev: Long, pos: Long): EvRow =
    EvRow(stream, s"u-$pos", tpe, """{"k":1}""", Map("type" -> tpe, "content-type" -> "application/json"), rev, pos)

  test("subscription: catch-up replays history, live tail appends, other streams filtered out") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-log").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    // history: 10 events on test-stream interleaved with 10 on other-stream
    val hist = (0L until 10L).flatMap(i =>
      Seq(ev("test-stream", "t", i, 2 * i + 1), ev("other-stream", "t", i, 2 * i + 2)))
    hist.toDF().write.mode("append").parquet(logDir)

    val sub = Subscriptions.subscribe(
      spark, logDir, ReadOptions(OneStream("test-stream"), from = From(0)))
    val q = sub.writeStream
      .format("memory").queryName("sub_test").outputMode(OutputMode.Append()).option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val caught = spark.sql("select * from sub_test").collect()
      assert(caught.length == 10) // catch-up: only test-stream
      // live: append 5 more to each stream
      val live = (10L until 15L).flatMap(i =>
        Seq(ev("test-stream", "t", i, 2 * i + 1), ev("other-stream", "t", i, 2 * i + 2)))
      live.toDF().write.mode("append").parquet(logDir)
      q.processAllAvailable()
      val all = spark.sql("select * from sub_test order by revision").collect()
      assert(all.length == 15)
      assert(all.map(_.getAs[Long]("revision")).toSeq == (0L until 15L))
      assert(all.forall(_.getAs[String]("stream") == "test-stream"))
    } finally q.stop()
  }

  test("subscription filters: event-type prefix on $all from a position") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-log2").toString
    val rows = (1L to 40L).map(p => ev(s"s-${p % 4}", if (p % 2 == 0) "click" else "view", p / 4, p))
    rows.toDF().write.mode("append").parquet(logDir)
    val sub = Subscriptions.subscribe(
      spark, logDir,
      ReadOptions(AllStreams, from = From(11), filter = Some(PrefixFilter(OnEventType, Seq("cl")))))
    val q = sub.writeStream.format("memory").queryName("sub_filter").outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.sql("select position from sub_filter order by position").collect().map(_.getLong(0))
      assert(got.toSeq == (12L to 40L by 2L)) // even positions ≥ 11
    } finally q.stop()
  }

  test("backpressure: maxFilesPerTrigger bounds each micro-batch during catch-up (T6)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val logDir = Files.createTempDirectory("graft-log-bp").toString
    // 5 files of 4 events each (one write per file)
    (0L until 5L).foreach { f =>
      (1L to 4L).map(i => ev("s", "t", f * 4 + i - 1, f * 4 + i))
        .toDF().coalesce(1).write.mode("append").parquet(logDir)
    }
    val sub = Subscriptions.subscribe(
      spark, logDir, ReadOptions(AllStreams, from = FromStart),
      sourceOptions = Map("maxFilesPerTrigger" -> "1"))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = sub.writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += df.count() }; ()
      }
      .start()
    try {
      q.awaitTermination(120000)
      // the 20-event backlog arrived as 5 bounded batches, not one replay
      assert(batchSizes.sum == 20L)
      assert(batchSizes.length == 5)
      assert(batchSizes.forall(_ == 4L))
    } finally q.stop()
  }

  test("ingest dedup: (stream, uuid) redeliveries dropped across micro-batches, state bounded by watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val mem = MemoryStream[InRow]
    val q = IngestDedup.dedupByUuid(mem.toDF(), col("ts"), "10 seconds")
      .writeStream.format("memory").queryName("ingest_dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: u1 delivered twice in-batch
      mem.addData(InRow("s", "u1", ts(10)), InRow("s", "u1", ts(11)), InRow("s", "u2", ts(12)))
      q.processAllAvailable()
      // batch 2: u1 redelivered across batches (within the horizon), u3 new;
      // same uuid on ANOTHER stream is a distinct event, not a duplicate
      mem.addData(InRow("s", "u1", ts(13)), InRow("s", "u3", ts(14)), InRow("s2", "u1", ts(14)))
      q.processAllAvailable()
      val got = spark.sql("select stream, uuid from ingest_dedup").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == Seq(("s", "u1"), ("s", "u2"), ("s", "u3"), ("s2", "u1")))
    } finally q.stop()
  }

  test("log sink: streaming appends get dense revisions; replayed batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val logDir = Files.createTempDirectory("sinklog").toString
    val ckpt = Files.createTempDirectory("sinkckpt").toString
    val mem = MemoryStream[SinkRow]
    val q = LogSink.start(spark, mem.toDF(), logDir, ckpt, orderCol = "ord")
    try {
      mem.addData(SinkRow("a", "u1", "t", "d1", 1), SinkRow("a", "u2", "t", "d2", 2),
        SinkRow("b", "u3", "t", "d3", 1))
      q.processAllAvailable()
      mem.addData(SinkRow("a", "u4", "t", "d4", 3))
      q.processAllAvailable()
    } finally q.stop()
    val log = graft.append.Appender.readLog(spark, logDir)
    val got = log.select("stream", "uuid", "revision", "position")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._3)).toSeq
    // revisions are 0-based: current = -1 for a new stream, assigned
    // current + 1 + i (streams.go:150; Fixture's row_number() - 1)
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq(("a", "u1", 0L), ("a", "u2", 1L), ("a", "u4", 2L), ("b", "u3", 0L)),
      s"dense per-stream revisions across micro-batches, got $got")
    assert(got.map(_._4).sorted == Seq(1L, 2L, 3L, 4L), "dense global positions")
    // redelivery of an applied batch (restart semantics): uuid conflict -> skipped
    val replay = Seq(SinkRow("a", "u1", "t", "d1", 1), SinkRow("a", "u2", "t", "d2", 2),
      SinkRow("b", "u3", "t", "d3", 1)).toDF()
    LogSink.applyBatch(spark, logDir, replay, "ord")
    assert(graft.append.Appender.readLog(spark, logDir).count() == 4L,
      "replayed micro-batch must not double-append")
  }

  test("log sink: a batch mixing applied and new events, or repeating one, throws and writes nothing") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("sinklog-mixed").toString
    LogSink.applyBatch(spark, logDir,
      Seq(SinkRow("a", "u1", "t", "d1", 1), SinkRow("b", "u2", "t", "d2", 1)).toDF(), "ord")
    def count = graft.append.Appender.readLog(spark, logDir).count()
    assert(count == 2L)
    // one applied pair beside a new one: not a redelivery, the new event must not be lost silently
    val mixed = Seq(SinkRow("a", "u1", "t", "d1", 1), SinkRow("a", "u3", "t", "d3", 2)).toDF()
    val c = intercept[EventConflict](LogSink.applyBatch(spark, logDir, mixed, "ord"))
    assert(c.stream == "a" && c.uuid == "u1")
    assert(count == 2L, "a rejected micro-batch must write nothing")
    // every pair applied, but one repeated: no batch with a duplicate was ever applied
    val repeated = Seq(SinkRow("a", "u1", "t", "d1", 1), SinkRow("a", "u1", "t", "d1", 2),
      SinkRow("b", "u2", "t", "d2", 1)).toDF()
    intercept[EventConflict](LogSink.applyBatch(spark, logDir, repeated, "ord"))
    assert(count == 2L)
  }

  test("ingest dedup by content: identical payloads under fresh uuids dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val mem = MemoryStream[InRow]
    // uuid doubles as the payload here: a re-submission carries a fresh
    // "stream" id but the same content
    val q = IngestDedup.dedupByContent(mem.toDF(), col("uuid"), col("ts"), "10 seconds")
      .writeStream.format("memory").queryName("ingest_dedup_content")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(InRow("a", "same doc", ts(10)), InRow("b", "same doc", ts(11)),
        InRow("c", "other doc", ts(12)))
      q.processAllAvailable()
      mem.addData(InRow("d", "same doc", ts(13)), InRow("e", "third doc", ts(14)))
      q.processAllAvailable()
      val got = spark.sql("select stream from ingest_dedup_content").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(got == Seq("a", "c", "e"), "only first copy of each content survives")
    } finally q.stop()
  }

  test("stream-stream interval join: matches within the horizon on the same stream, state bounded") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.functions.col
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val clicks = MemoryStream[InRow]
    val views = MemoryStream[ViewRow]
    val joined = StreamJoin.within(
      clicks.toDF(), col("ts"), "stream",
      views.toDF(), col("v_ts"), "v_stream",
      horizon = "10 seconds", lateness = "1 minute")
    val q = joined.select("uuid", "view_id").writeStream
      .format("memory").queryName("sj_test").outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(InRow("s", "c1", ts(10)), InRow("s", "c2", ts(100)), InRow("s2", "c3", ts(10)))
      views.addData(
        ViewRow("s", "v1", ts(15)),   // within 10s of c1 → match
        ViewRow("s", "v2", ts(60)),   // no click within horizon
        ViewRow("s2", "v3", ts(19)),  // within 10s of c3 (other stream key)
        ViewRow("s", "v4", ts(105)))  // within 10s of c2
      q.processAllAvailable()
      val got = spark.sql("select uuid, view_id from sj_test").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(got == Seq(("c1", "v1"), ("c2", "v4"), ("c3", "v3")))
    } finally q.stop()
  }

  test("live-only subscription from end: history skipped, new events flow (streams.go:244-252)") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-log-end").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-end").toString
    // history that must NOT be delivered
    (1L to 10L).map(p => ev(s"s-${p % 2}", "t", p / 2, p)).toDF()
      .write.mode("append").parquet(logDir)
    // FromEnd resolves the first yet-unwritten position at subscribe time
    assert(Subscriptions.endOffset(spark, logDir, AllStreams) == 11L)
    val sub = Subscriptions.subscribe(spark, logDir, ReadOptions(AllStreams, from = FromEnd))
    val q = sub.writeStream
      .format("memory").queryName("sub_end").outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select * from sub_end").count() == 0) // no history
      (11L to 14L).map(p => ev(s"s-${p % 2}", "t", p / 2, p)).toDF()
        .write.mode("append").parquet(logDir)
      q.processAllAvailable()
      val got = spark.sql("select position from sub_end order by position").collect().map(_.getLong(0))
      assert(got.toSeq == (11L to 14L)) // only post-subscribe events
    } finally q.stop()
    // per-stream variant tracks revision: end of s-0 is max revision + 1
    assert(Subscriptions.endOffset(spark, logDir, OneStream("s-0")) == 8L)
    assert(Subscriptions.endOffset(spark, logDir, OneStream("missing")) == 0L)
  }

  test("projection pump: state persists across micro-batches; emissions are filterBy-gated") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[EvRow]
    val p = Projection
      .named("pump")
      .fromAll()
      .foreachStream()
      .when[SCount](SCount(0), Map("$any" -> ((s: SCount, _: ProjEvent) => s.copy(count = s.count + 1))))
      .filterBy(_.count >= 3)
      .build
    val out = ProjectionPump.emissions(p, mem.toDF()).toDF("partition", "count_state")
    val q = out.writeStream.format("memory").queryName("pump_test").outputMode(OutputMode.Update()).start()
    try {
      // batch 1: 2 events per stream -> below threshold, no emissions
      mem.addData((1L to 4L).map(i => ev(s"s-${i % 2}", "t", i / 2, i)): _*)
      q.processAllAvailable()
      assert(spark.sql("select * from pump_test").count() == 0)
      // batch 2: 2 more per stream -> states cross threshold (3 then 4)
      mem.addData((5L to 8L).map(i => ev(s"s-${i % 2}", "t", i / 2, i)): _*)
      q.processAllAvailable()
      val rows = spark.sql("select partition, count_state.count as c from pump_test order by partition, c").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("s-0", 3L), ("s-0", 4L), ("s-1", 3L), ("s-1", 4L)))
    } finally q.stop()
  }

  test("funnel projection: incremental pump state == batch fold, mid-funnel across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val order = IndexedSeq("signup", "view", "click", "purchase")
    def funnel = Projection.named("funnel-stream").fromAll().foreachStream()
      .when[graft.queries.FunnelState](graft.queries.FunnelState(0),
        Map("$any" -> ((st: graft.queries.FunnelState, e: ProjEvent) =>
          if (st.stage < 4 && e.eventType == order(st.stage.toInt))
            graft.queries.FunnelState(st.stage + 1)
          else st)))
      .build
    // s-a converts fully but SPLIT ACROSS BATCHES (signup+view, then
    // click+purchase); s-b stalls mid-funnel; s-c's view precedes its
    // signup (order matters — stage must stay 1)
    val b1 = Seq(ev("s-a", "signup", 0, 1), ev("s-b", "signup", 0, 2),
      ev("s-a", "view", 1, 3), ev("s-c", "view", 0, 4))
    val b2 = Seq(ev("s-a", "click", 2, 5), ev("s-c", "signup", 1, 6),
      ev("s-a", "purchase", 3, 7), ev("s-b", "error", 1, 8))
    val mem = MemoryStream[EvRow]
    val out = ProjectionPump.emissions(funnel, mem.toDF()).toDF("partition", "st")
    val q = out.writeStream.format("memory").queryName("funnel_pump")
      .outputMode(OutputMode.Update()).start()
    val got =
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        mem.addData(b2: _*); q.processAllAvailable()
        // last emission per stream == final state
        spark.sql(
          """select partition, st.stage from (
            |  select partition, st, row_number() over (partition by partition order by rn desc) as rk
            |  from (select partition, st, monotonically_increasing_id() as rn from funnel_pump)
            |) where rk = 1""".stripMargin)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      } finally q.stop()
    val batch = ProjectionBatch.finalStates(funnel, (b1 ++ b2).toDF())
      .collect().map { case (k, s) => (k, s.stage) }.toMap
    assert(batch == Map("s-a" -> 4L, "s-b" -> 1L, "s-c" -> 1L))
    assert(got == batch, s"pump $got != batch $batch")
  }

  test("multiplexed pump: N projections in one streaming query, states independent across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def count(name: String) = Projection.named(name).fromAll().foreachStream()
      .when[SCount](SCount(0), Map("$any" -> ((s: SCount, _: ProjEvent) => s.copy(count = s.count + 1))))
      .build
    def clicks(name: String) = Projection.named(name).fromAll().foreachStream()
      .when[SCount](SCount(0), Map("click" -> ((s: SCount, _: ProjEvent) => s.copy(count = s.count + 1))))
      .build
    val ps = Seq("all" -> count("all"), "clicks" -> clicks("clicks"))
    val mem = MemoryStream[EvRow]
    val out = ProjectionPump.emissionsAll(ps, mem.toDF()).toDF("proj", "partition", "st")
    val q = out.writeStream.format("memory").queryName("multi_pump")
      .outputMode(OutputMode.Update()).start()
    val got =
      try {
        mem.addData(ev("s-0", "click", 0, 1), ev("s-0", "view", 1, 2))
        q.processAllAvailable()
        mem.addData(ev("s-0", "click", 2, 3), ev("s-1", "view", 0, 4))
        q.processAllAvailable()
        spark.sql(
          """select proj, partition, max(st.count) as c
            |from multi_pump group by 1, 2""".stripMargin)
          .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      } finally q.stop()
    // "all" counted every event per stream; "clicks" only the clicks —
    // state persisted across the two micro-batches, per (proj, key)
    assert(got == Map(
      ("all", "s-0") -> 3L, ("all", "s-1") -> 1L,
      ("clicks", "s-0") -> 2L, ("clicks", "s-1") -> 0L))
  }

  test("projection pump: a position below a key's high water fails the query, single and multiplexed") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val p = Projection.named("guard").fromAll().foreachStream()
      .when[SCount](SCount(0), Map("$any" -> ((s: SCount, e: ProjEvent) => s.copy(count = s.count * 31 + e.position))))
      .build
    def emitted(name: String): Seq[(String, Long)] =
      spark.sql(s"select partition, st.count from $name").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def check(name: String, rows: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val mem = MemoryStream[EvRow]
      val q = rows(mem.toDF()).writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        mem.addData(ev("s-0", "t", 0, 5)); q.processAllAvailable()
        assert(emitted(name) == Seq(("s-0", 5L)))
        mem.addData(ev("s-0", "t", 1, 3))
        val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.processAllAvailable())
        val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
        assert(messages.contains("out-of-order delivery"), messages)
        // the state emitted before the failure is batch 1's, untouched
        assert(emitted(name) == Seq(("s-0", 5L)))
      } finally q.stop()
    }
    check("guard_single", df => ProjectionPump.emissions(p, df).toDF("partition", "st"))
    check("guard_multi", df => ProjectionPump.emissionsAll(Seq("guard" -> p), df).toDF("proj", "partition", "st"))
  }

  test("event-time windows with watermark: counts by window, late rows dropped") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[TsRow]
    val agg = EventTimeStats.eventsPerWindow(
      mem.toDF(), org.apache.spark.sql.functions.col("event_time"), "1 minute", "1 minute")
      .selectExpr("cast(window.start as string) as w", "stream", "n")
    val q = agg.writeStream.format("memory").queryName("etw")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        TsRow("a", t("2026-01-01 10:00:10")),
        TsRow("a", t("2026-01-01 10:00:20")),
        TsRow("b", t("2026-01-01 10:05:00"))) // advances watermark to 10:04
      q.processAllAvailable()
      val counts1 = spark.sql("select w, stream, n from etw").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(counts1(("2026-01-01 10:00:00", "a")) == 2L)
      assert(counts1(("2026-01-01 10:05:00", "b")) == 1L)
      // batch 2: one row far behind the watermark (dropped), one current
      mem.addData(
        TsRow("a", t("2026-01-01 10:00:30")), // late beyond 1-minute lateness
        TsRow("b", t("2026-01-01 10:05:30")))
      q.processAllAvailable()
      val rows2 = spark.sql("select w, stream, n from etw").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      // the 10:00 window never saw the late row: no update with n=3
      assert(!rows2.contains(("2026-01-01 10:00:00", "a", 3L)))
      assert(rows2.contains(("2026-01-01 10:05:00", "b", 2L)))
    } finally q.stop()
  }

  test("pump end-to-end: catch-up writes result stream parquet") {
    import spark.implicits._
    val logDir = Files.createTempDirectory("graft-log3").toString
    val outDir = Files.createTempDirectory("graft-out").toString
    val ckpt = Files.createTempDirectory("graft-ckpt3").toString
    (1L to 20L).map(p => ev(s"s-${p % 2}", "t", p / 2, p)).toDF()
      .write.mode("append").parquet(logDir)
    val p = Projection
      .named("e2e")
      .fromAll()
      .foreachStream()
      .when[SCount](SCount(0), Map("$any" -> ((s: SCount, _: ProjEvent) => s.copy(count = s.count + 1))))
      .outputState()
      .build
    val q = ProjectionPump.start(spark, p, logDir, outDir, ckpt, availableNow = true)
    q.awaitTermination()
    val res = spark.read.parquet(s"$outDir/${p.resultStream}")
    // 10 emissions per stream (every fold step forwards), final count 10
    assert(res.count() == 20)
    val finals = res.groupBy("partition").agg(org.apache.spark.sql.functions.max("state.count").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(finals == Map("s-0" -> 10L, "s-1" -> 10L))
  }

  test("hybrid catch-up: batch fold seeds the streaming tail; order-sensitive state crosses the handoff") {
    import spark.implicits._
    import graft.queries.PumpPathState
    // the 100 TB catch-up path: the backlog folds as ONE batch job and
    // seeds the streaming fold as flatMapGroupsWithState initial state;
    // the state is ORDER-BEARING (path + last event type), so any
    // handoff misordering — seed built out of order, tail folded before
    // the seed, boundary event double-counted or dropped — breaks the
    // equality with the full batch fold
    val logDir = Files.createTempDirectory("graft-hyblog").toString
    val outDir = Files.createTempDirectory("graft-hybout").toString
    val ckpt = Files.createTempDirectory("graft-hybckpt").toString
    val types = IndexedSeq("signup", "view", "click", "purchase", "error")
    def row(p: Long) = ev(s"s-${p % 3}", types((p % 5).toInt), p / 3, p)
    // backlog: positions 1..18, two sequential segment files
    (1L to 9L).map(row).toDF().coalesce(1).write.mode("append").parquet(logDir)
    (10L to 18L).map(row).toDF().coalesce(1).write.mode("append").parquet(logDir)
    val p = Projection.named("hybrid").fromAll().foreachStream()
      .when[PumpPathState](PumpPathState(0L, "", ""), Map(
        "$any" -> ((st: PumpPathState, e: ProjEvent) => PumpPathState(
          st.n + 1L,
          if (st.n >= 10L) st.path
          else if (st.n == 0L) e.eventType
          else st.path + "->" + e.eventType,
          e.eventType))))
      .outputState().build
    implicit val enc = org.apache.spark.sql.Encoders.product[PumpPathState]
    val q = ProjectionPump.startHybrid(spark, p, logDir, outDir, ckpt)
    try {
      // live tail: positions 19..27 appended AFTER the hybrid started
      (19L to 27L).map(row).toDF().coalesce(1).write.mode("append").parquet(logDir)
      q.processAllAvailable()
      val res = spark.read.parquet(s"$outDir/${p.resultStream}")
        .select(col("partition"), col("state.n"), col("state.path"), col("state.last_event_type"))
      // final state per key (max n — n strictly increments) must equal
      // the batch fold over the WHOLE log
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("partition")).orderBy(col("n").desc)
      val got = res.withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
      val want = graft.proj.ProjectionBatch
        .finalStates(p, (1L to 27L).map(row).toDF())
        .collect().map { case (k, st) => (k, st.n, st.path, st.last_event_type) }.toSet
      assert(got == want, s"hybrid final states must equal the full batch fold: $got vs $want")
      // the catch-up phase contributed exactly one seed emission per key
      // (the batch snapshot), not per-event backlog emissions
      val seedN = res.filter(col("n") === 6L).count() // 18 backlog events / 3 keys
      assert(seedN == 3L, s"catch-up must emit one snapshot per key, saw $seedN rows at the boundary n")
    } finally q.stop()
  }

  test("stream-static enrichment: static dimension broadcast-joined in flight") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val input = MemoryStream[EvRow](spark)
    val dim = Seq(("a", "gold"), ("b", "basic")).toDF("stream", "tier")
    // the classic enrich-in-flight shape: per micro-batch map-side hash
    // join against the broadcast dimension — no stream-side shuffle, no
    // state (the dimension is not a stream; nothing to watermark)
    val joined = input.toDF().join(broadcast(dim), Seq("stream"), "left")
    val q = joined.writeStream.format("memory").queryName("enrich")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev("a", "t", 0, 1), ev("b", "t", 0, 2), ev("c", "t", 0, 3))
      q.processAllAvailable()
      val rows = spark.sql("select stream, tier from enrich").collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSet
      assert(rows == Set(("a", Some("gold")), ("b", Some("basic")), ("c", None)))
    } finally q.stop()
  }

  test("materialized snapshot: latest-per-stream upserts across batches, stale replays no-op") {
    import spark.implicits._
    val input = MemoryStream[EvRow](spark)
    val q = Materialize.latestByStream(input.toDF())
      .writeStream.format("memory").queryName("mat_snap")
      .outputMode(OutputMode.Update())
      .start()
    try {
      input.addData(ev("a", "t1", 0, 1), ev("b", "t1", 0, 2), ev("a", "t2", 1, 3))
      q.processAllAvailable()
      def latest(): Map[String, (Long, String)] = spark.sql(
        "select stream, position, event_type from mat_snap").collect()
        .groupBy(_.getString(0))
        .map { case (s, rs) =>
          val m = rs.maxBy(_.getLong(1)); s -> (m.getLong(1), m.getString(2)) }
      // batch 1: a advanced twice in one batch -> single emission at pos 3
      assert(latest() == Map("a" -> (3L, "t2"), "b" -> (2L, "t1")))
      val afterBatch1 = spark.sql("select * from mat_snap").count()
      assert(afterBatch1 == 2) // one changelog row per stream, not per event
      // batch 2: b advances; a gets a STALE replay (position 1 again) -> no emission
      input.addData(ev("b", "t3", 1, 4), ev("a", "t1", 0, 1))
      q.processAllAvailable()
      assert(latest() == Map("a" -> (3L, "t2"), "b" -> (4L, "t3")))
      assert(spark.sql("select * from mat_snap").count() == afterBatch1 + 1)
    } finally q.stop()
  }

  test("CUSUM fold runs incrementally on the pump: emissions across batches == batch fold") {
    import spark.implicits._
    import graft.queries.CusumState
    // one-sided CUSUM on the payload k (target+slack 5), alarm while s > 8
    val kRe = """"k"\s*:\s*(-?\d+)""".r.unanchored
    val p = Projection.named("cusum").fromAll().foreachStream()
      .when[CusumState](CusumState(0L, 0L),
        Map("$any" -> ((st: CusumState, e: ProjEvent) =>
          CusumState(e.position, math.max(0L,
            st.cusum + (e.bodyRaw match { case kRe(k) => k.toLong; case _ => 0L }) - 5L)))))
      .filterBy(_.cusum > 8L)
      .build
    val input = MemoryStream[EvRow](spark)
    implicit val enc = org.apache.spark.sql.Encoders.product[CusumState]
    val q = ProjectionPump.emissions(p, input.toDF())
      .toDF("partition", "state")
      .writeStream.format("memory").queryName("cusum_pump")
      .outputMode(OutputMode.Update()).start()
    def row(stream: String, pos: Long, k: Long): EvRow =
      EvRow(stream, s"u-$pos", "t", s"""{"k":$k}""", Map.empty, pos, pos)
    // batch 1 climbs toward the threshold; batch 2 crosses it mid-stream —
    // the state must carry across the micro-batch boundary
    val b1 = Seq(row("a", 1, 9), row("a", 2, 9), row("b", 3, 1))
    val b2 = Seq(row("a", 4, 9), row("a", 5, 1), row("b", 6, 9))
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.sql("select partition, state.position, state.cusum from cusum_pump")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = ProjectionBatch.emittedStates(p, (b1 ++ b2).toDF())
        .collect().map { case (k, st) => (k, st.position, st.cusum) }.toSet
      assert(streamed == batch, s"pump must equal the batch fold: $streamed vs $batch")
      // stream a crossed only in batch 2 (4+4+4=12 > 8 at pos 4): carried state
      assert(streamed.contains(("a", 4L, 12L)))
    } finally q.stop()
  }

  test("rolling WAU sketches: incremental micro-batches == batch fold, within 10% of exact") {
    import spark.implicits._
    val DayUs = 86400000000L
    val input = MemoryStream[ActRow](spark)
    val q = RollingWau.estimatesStreaming(
      RollingWau.updates(input.toDF()))
      .writeStream.format("memory").queryName("wau_stream")
      .outputMode(OutputMode.Update())
      .start()
    // 3 micro-batches, overlapping users and days (days 0..10, 25 users)
    def rows(b: Int): Seq[ActRow] =
      (0 until 40).map(i => ActRow(s"u-${(i * 7 + b * 13) % 25}",
        (b * 3L + i % 5) * DayUs + i))
    try {
      (0 until 3).foreach { b => input.addData(rows(b): _*); q.processAllAvailable() }
      // estimates only grow, so the final value per day is the max emission
      val streamed = spark.sql("select day, max(wau) from wau_stream group by day")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val all = (0 until 3).flatMap(rows).toDF()
      val batch = RollingWau.estimatesBatch(RollingWau.updates(all))
        .collect().map(e => e.day -> e.wau).toMap
      assert(streamed == batch, "incremental sketches must equal the one-pass batch fold")
      // ... and every day within 10% of the exact rolling distinct
      val exact = all
        .select(col("stream"), expr("tus div 86400000000").as("d")).distinct()
        .select(col("stream"), explode(sequence(col("d"), col("d") + 6)).as("day"))
        .groupBy("day").agg(countDistinct("stream").as("x"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(exact.keySet == streamed.keySet)
      exact.foreach { case (d, x) =>
        assert(math.abs(streamed(d) - x) * 10 <= x, s"day $d: est ${streamed(d)} vs exact $x")
      }
    } finally q.stop()
  }
  test("near-dup ingest filter: band collisions flag suspects, stateless, == batch candidates") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.dedup.Dedup
    val mkText = (seed: String) => (1 to 30).map(i => s"$seed$i").mkString(" ")
    val corpus = Seq((100L, mkText("alpha")), (101L, mkText("beta")), (102L, mkText("gamma")))
      .toDF("doc_id", "text")
    val corpusBands = Dedup.bandedSignatures(Dedup.shingleSets(corpus)).cache()

    val arriving = Seq(
      DocRow(1L, mkText("alpha")),   // exact copy of corpus 100 -> all bands collide
      DocRow(2L, mkText("delta")),   // fresh vocabulary
      DocRow(3L, "too short"))       // below shingle width -> never flagged
    // batch-side expectation: the LSH candidate set of the same band join
    val expectSuspects = Dedup.bandedSignatures(Dedup.shingleSets(arriving.toDF()))
      .join(corpusBands.select("band", "r0", "r1"), Seq("band", "r0", "r1"))
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(expectSuspects.contains(1L), "the exact copy must be a batch candidate")

    val mem = MemoryStream[DocRow]
    val q = IngestDedup.nearDupSuspects(mem.toDF(), corpusBands)
      .writeStream.format("memory").queryName("neardup_ingest")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arriving.take(2): _*)
      q.processAllAvailable()
      mem.addData(arriving.drop(2): _*)   // across micro-batches, no state carried
      q.processAllAvailable()
      val got = spark.sql("select doc_id, near_dup_suspect from neardup_ingest").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
      assert(got.keySet == Set(1L, 2L, 3L), "stateless filter must emit every row exactly once")
      assert(got.filter(_._2).keySet == expectSuspects,
        s"streaming suspects must equal the batch candidate set $expectSuspects, got $got")
      assert(!got(3L), "un-shingleable rows pass un-flagged")
    } finally q.stop()
  }

  test("streaming decontam filter: bench-span bloom flags hits, no false negatives, stateless") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.dedup.Dedup
    val passage = "the quick brown fox jumps over the lazy" // exactly 8 tokens
    val bench = Seq((9000L, s"benchmark question text $passage answer follows here now"))
      .toDF("doc_id", "text")
    val bloom = IngestDedup.benchSpanBloom(Dedup.spanPostings(bench, spanTokens = 8))

    val arriving = Seq(
      DocRow(1L, s"scraped page containing $passage verbatim and more"), // contaminated
      DocRow(2L, (1 to 20).map(i => s"fresh$i").mkString(" ")),          // clean
      DocRow(3L, "short"))                                               // < 8 tokens
    // batch-side expectation: exact span intersection with the bench set
    val benchSpans = Dedup.spanPostings(bench).select("span_h").distinct()
    val expectHits = Dedup.spanPostings(arriving.toDF())
      .join(benchSpans, "span_h").select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(expectHits == Set(1L))

    val mem = MemoryStream[DocRow]
    val q = IngestDedup.decontamSuspects(mem.toDF(), bloom)
      .writeStream.format("memory").queryName("decontam_ingest")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(arriving.take(1): _*)
      q.processAllAvailable()
      mem.addData(arriving.drop(1): _*) // across micro-batches, no state carried
      q.processAllAvailable()
      val got = spark.sql("select doc_id, contam_suspect from decontam_ingest").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).toMap
      assert(got.keySet == Set(1L, 2L, 3L), "stateless filter must emit every row exactly once")
      // no false negatives: every true contamination is flagged
      assert(expectHits.forall(got(_)), s"bloom must flag every exact hit, got $got")
      assert(!got(3L), "sub-span-width rows pass un-flagged")
      // the clean doc has disjoint vocabulary — flagging it would mean a
      // bloom false positive over 13 probes at default sizing (~1M-item
      // filter for 3 spans): astronomically unlikely, treat as a bug
      assert(!got(2L), "fresh-vocabulary doc must not be flagged")
    } finally q.stop()
  }

  test("streaming as-of enrichment == batch native as-of join, state carried across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val log = graft.log.Fixture.events(spark, dir)
      .select(col("stream"), col("position"), col("event_type"), col("value"))
    val rows = log.as[(String, Long, String, Double)].collect().sortBy(_._2)
    // split mid-log so click→purchase matches must cross the batch boundary
    val cut = rows(rows.length / 2)._2
    val mem = MemoryStream[(String, Long, String, Double)]
    val q = graft.streaming.AsOfEnrich.latestPriorMatch(
        mem.toDF().toDF("stream", "position", "event_type", "value"),
        matchType = "click", emitType = "purchase")
      .writeStream.format("memory").queryName("asof_enrich")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(rows.filter(_._2 <= cut).toSeq)
      q.processAllAvailable()
      mem.addData(rows.filter(_._2 > cut).toSeq)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select position, stream, last_match_pos, match_value_x1000 from asof_enrich")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.queries.RelationalQueries.queries("join_asof_native")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("incremental top-k types per stream: streaming final state == batch heap aggregate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val all = graft.log.Fixture.events(spark, dir)
      .select(col("stream"), col("event_type")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val mem = MemoryStream[(String, String)]
    val q = StreamingTopK.topTypes(
        mem.toDF().toDF("stream", "event_type"), k = 3)
      .writeStream.format("memory").queryName("topk_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // 3 micro-batches split arbitrarily; ver (events absorbed per
      // stream) is monotone, so the final panel is the max-ver emission
      val cut1 = all.length / 3
      val cut2 = 2 * all.length / 3
      Seq(all.slice(0, cut1), all.slice(cut1, cut2), all.slice(cut2, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.sql(
          """select stream, event_type, n, rk from topk_stream t
            |where ver = (select max(ver) from topk_stream x where x.stream = t.stream)
            |""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val batch = graft.queries.LogQueries.queries("top_types_per_stream_heap")(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("incremental Misra-Gries: streaming summary keeps the heavy/bound guarantees across batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val k = 16
    // the fixture's real token stream, one scope — the same distribution
    // the batch text_heavy_hitters gate oracles
    val all = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.dedup.Hashing.toks(col("text"))).as("tag"))
      .collect().map(r => ("corpus", r.getString(0)))
    val exact = all.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val n = all.length.toLong
    val mem = MemoryStream[(String, String)]
    val q = StreamingHeavyHitters.summaries(mem.toDF().toDF("scope", "tag"), k)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      val third = all.length / 3
      Seq(all.slice(0, third), all.slice(third, 2 * third), all.slice(2 * third, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val fin = spark.sql(
          "select tags, lower_bounds from hh_stream where ver = (select max(ver) from hh_stream)")
        .collect().head
      val summary = fin.getSeq[String](0).zip(fin.getSeq[Long](1)).toMap
      assert(summary.size <= k)
      val bound = n / (k + 1)
      // (a) every true heavy is present; (b) every reported count is a
      // lower bound within n/(k+1) — the MG theorem, batching-invariant
      exact.filter(_._2 > bound).keys.foreach { t =>
        assert(summary.contains(t), s"heavy tag '$t' missing from the streaming summary")
      }
      summary.foreach { case (t, lb) =>
        val ex = exact.getOrElse(t, 0L)
        assert(lb <= ex && ex - lb <= bound, s"bound violated for '$t': lb=$lb exact=$ex n=$n")
      }
    } finally q.stop()
  }

  test("incremental KMV set-ops: streaming sketches through the batch panel == batch query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // same (pop, uniformized hash) rows the batch gate feeds graft_kmv
    val all = graft.log.Fixture.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"),
        (call_function("graft_polyhash", col("stream"))
          * lit(2654435761L) % lit(2147483647L)).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val mem = MemoryStream[(String, Long)]
    val q = StreamingKmv.sketches(mem.toDF().toDF("pop", "h"), k = 64)
      .writeStream.format("memory").queryName("kmv_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      val third = all.length / 3
      Seq(all.slice(0, third), all.slice(third, 2 * third), all.slice(2 * third, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val fin = spark.sql(
          """select pop, kmv from kmv_stream t
            |where ver = (select max(ver) from kmv_stream x where x.pop = t.pop)
            |""".stripMargin)
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      assert(fin.keySet == Set("click", "purchase"))
      val ab = Seq((fin("click"), fin("purchase"))).toDF("ka", "kb")
      val streamed = graft.queries.AnalyticsQueries.kmvSetopsPanel(ab)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = graft.queries.AnalyticsQueries.queries("agg_kmv_setops")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("incremental HLL registers: streaming-final estimate == batch gate exactly") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // same (event_type, uniformized hash) rows the batch gate feeds
    // Hll.registers
    val all = graft.log.Fixture.events(spark, dir)
      .select(col("event_type"),
        (call_function("graft_polyhash", col("stream"))
          * lit(2654435761L) % lit(2147483647L)).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val mem = MemoryStream[(String, Long)]
    val q = StreamingHll.registers(mem.toDF().toDF("pop", "h"), p = 9)
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      val third = all.length / 3
      Seq(all.slice(0, third), all.slice(third, 2 * third), all.slice(2 * third, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      // final register vector per pop → (pop, bucket, r) rows → the
      // SAME declarative estimator the batch gate runs
      val fin = spark.sql(
          """select pop, regs from hll_stream t
            |where ver = (select max(ver) from hll_stream x where x.pop = t.pop)
            |""".stripMargin)
        .collect().flatMap { r =>
          r.getSeq[Long](1).zipWithIndex.collect {
            case (rho, bucket) if rho > 0 => (r.getString(0), bucket.toLong, rho)
          }
        }.toSeq
      val streamed = graft.plans.Hll
        .estimate(fin.toDF("event_type", "bucket", "r"), Seq("event_type"), 9)
        .orderBy("event_type")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val batch = graft.queries.AnalyticsQueries.queries("agg_hll_distinct")(spark, dir)
        .select("event_type", "n_registers", "zeros", "est_hll")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("incremental HLL keyed by day: streaming registers through the window fanout == batch rolling gate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // live WAU: per-DAY register state (pop = day), final vectors fed
    // through the same ≤7-day fanout + estimate the batch gate runs
    val all = graft.log.Fixture.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").cast("string").as("day"),
        (call_function("graft_polyhash", col("stream"))
          * lit(2654435761L) % lit(2147483647L)).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val mem = MemoryStream[(String, Long)]
    val q = StreamingHll.registers(mem.toDF().toDF("pop", "h"), p = 9)
      .writeStream.format("memory").queryName("hll_day_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      val third = all.length / 3
      Seq(all.slice(0, third), all.slice(third, 2 * third), all.slice(2 * third, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val daily = spark.sql(
          """select pop, regs from hll_day_stream t
            |where ver = (select max(ver) from hll_day_stream x where x.pop = t.pop)
            |""".stripMargin)
        .collect().flatMap { r =>
          r.getSeq[Long](1).zipWithIndex.collect {
            case (rho, bucket) if rho > 0 => (r.getString(0).toLong, bucket.toLong, rho)
          }
        }.toSeq.toDF("day", "bucket", "r")
      val maxDay = daily.agg(max(col("day"))).collect().head.getLong(0)
      val windowRegs = daily
        .select(explode(sequence(col("day"), col("day") + 6)).as("day"),
          col("bucket"), col("r"))
        .groupBy("day", "bucket").agg(max(col("r")).as("r"))
        .filter(col("day") <= maxDay)
      val streamed = graft.plans.Hll.estimate(windowRegs, Seq("day"), 9)
        .select(col("day"), col("est_hll"))
        .orderBy("day")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val batch = graft.queries.AnalyticsQueries.queries("agg_hll_rolling")(spark, dir)
        .select("day", "wau_hll")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(streamed.toSeq == batch.toSeq)
    } finally q.stop()
  }

  test("incremental sampled quantiles: streaming final panel == batch sketch query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // same (group, hash, value) rows the batch gate feeds graft_bottomk
    val all = graft.log.Fixture.events(spark, dir)
      .select(col("event_type"),
        (call_function("graft_polyhash", col("position").cast("string"))
          * lit(2654435761L) % lit(2147483647L)).as("h"),
        col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val mem = MemoryStream[(String, Long, Double)]
    val q = StreamingQuantiles.panels(mem.toDF().toDF("g", "h", "v"), k = 128)
      .writeStream.format("memory").queryName("quant_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      val third = all.length / 3
      Seq(all.slice(0, third), all.slice(third, 2 * third), all.slice(2 * third, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.sql(
          """select g, n_sample, p25, p50, p90 from quant_stream t
            |where ver = (select max(ver) from quant_stream x where x.g = t.g)
            |""".stripMargin)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      val batch = graft.queries.AnalyticsQueries.queries("agg_sampled_quantiles")(spark, dir)
        .select(col("event_type"), col("n_sample"), col("p25"), col("p50"), col("p90"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
        .toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming cluster maintenance: label table across micro-batches == full batch recompute") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.dedup.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val all = docs.as[DocRow].collect().sortBy(_.doc_id)
    // full-recompute expectation over the complete pair set
    val expect = Dedup.duplicateClustersAltStar(
        Dedup.minhashLshPairsFromSets(Dedup.shingleSets(docs), thresholdX1000 = 300))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted

    val maintainer = new StreamingClusters(thresholdX1000 = 300)
    val mem = MemoryStream[DocRow]
    val q = maintainer.sink(mem.toDF())
      .outputMode(OutputMode.Update()).start()
    try {
      val third = all.length / 3
      Seq(all.slice(0, third), all.slice(third, 2 * third), all.slice(2 * third, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val got = maintainer.labels(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.nonEmpty, "the sf0.001 corpus has near-dup pairs; labels must be non-empty")
    assert(got.toSeq == expect.toSeq,
      s"streaming-maintained labels must equal the full batch recompute")
  }

  // ---- streaming end-to-end curation ----

  private def reportRows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long, Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8))).toSeq

  private def runCuration(rows: Seq[CurRow], nBatches: Int,
                          store: TwinStore = new InMemoryTwinStore): StreamingCuration = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val cur = new StreamingCuration(thresholdX1000 = 300, store)
    val mem = MemoryStream[CurRow]
    val q = cur.sink(mem.toDF()).outputMode(OutputMode.Update()).start()
    try {
      val per = (rows.length + nBatches - 1) / nBatches
      rows.grouped(per).foreach { b => mem.addData(b); q.processAllAvailable() }
    } finally q.stop()
    cur
  }

  test("streaming e2e curation: report and labels across micro-batches == batch pipeline") {
    import spark.implicits._
    import graft.dedup.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val all = docs.as[CurRow].collect().toSeq

    // expectation: the ORACLE-VALIDATED gate query itself
    val expectReport = reportRows(
      graft.queries.CorpusQueries.queries("corpus_e2e_curate")(spark, dir))
    // batch labels among the final exact survivors (sf0.001 has zero
    // normalized-exact dup groups, so E = all docs here)
    val expectLabels = Dedup.duplicateClustersAltStar(
        Dedup.minhashLshPairsFromSets(Dedup.shingleSets(docs), thresholdX1000 = 300))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val shuffled = new scala.util.Random(7).shuffle(all)
    val cur = runCuration(shuffled, nBatches = 4)
    val gotLabels = cur.labels(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotLabels.nonEmpty && gotLabels == expectLabels)
    assert(reportRows(cur.report(spark)) == expectReport)
  }

  test("streaming e2e curation: keeper dethronement (node removal) still lands on the batch labeling") {
    import spark.implicits._
    import graft.dedup.{Dedup, Winnow}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val orig = docs.as[CurRow].collect().toSeq
    // uppercase twins: SAME normalized md5 (lower() folds the case) and
    // IDENTICAL shingle sets (tokenization lowercases), so while a twin
    // is the keeper it joins the near-dup graph exactly where its
    // original will — then the original's arrival dethrones it and the
    // component must be repaired
    val twins = orig.filter(_.doc_id % 12 == 0)
      .map(r => CurRow(r.doc_id + 1000000L, r.source, r.text.toUpperCase))
    val aug = orig ++ twins
    val augDf = aug.toDF()

    // batch expectation: the SAME composition the gate runs, over the
    // augmented corpus (twins are all dethroned in the final state, so
    // labels equal the originals-only clustering; the report still
    // counts twins in n_raw)
    val expectReport = reportRows(graft.queries.CorpusQueries.e2eCurate(
      augDf, Dedup.shingleSets(augDf), Winnow.postings(augDf)))
    val expectLabels = Dedup.duplicateClustersAltStar(
        Dedup.minhashLshPairsFromSets(Dedup.shingleSets(docs), thresholdX1000 = 300))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    // descending doc_id: every twin arrives BEFORE its original and is
    // dethroned by it (maximal removal pressure); then a seeded shuffle
    // for same-batch and out-of-order interleavings
    for (order <- Seq(aug.sortBy(-_.doc_id), new scala.util.Random(13).shuffle(aug))) {
      val cur = runCuration(order, nBatches = 4)
      val gotLabels = cur.labels(spark)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(gotLabels == expectLabels,
        "labels after dethronement repair must equal the batch among-survivors clustering")
      assert(reportRows(cur.report(spark)) == expectReport)
    }
  }

  test("streaming e2e curation through the PARQUET state store == batch (incl. dethronement)") {
    import spark.implicits._
    import graft.dedup.{Dedup, Winnow}
    // the disk-backed twin runs the IDENTICAL maintenance logic through
    // TwinStore verbs — this pins the store swap itself: appends
    // accumulate correctly across triggers, replaces version correctly,
    // and the final report/labels still equal the batch recompute under
    // the adversarial (dethronement-heavy, descending-id) arrival order
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val orig = docs.as[CurRow].collect().toSeq
    val twins = orig.filter(_.doc_id % 12 == 0)
      .map(r => CurRow(r.doc_id + 1000000L, r.source, r.text.toUpperCase))
    val aug = orig ++ twins
    val augDf = aug.toDF()
    val expectReport = reportRows(graft.queries.CorpusQueries.e2eCurate(
      augDf, Dedup.shingleSets(augDf), Winnow.postings(augDf)))
    val expectLabels = Dedup.duplicateClustersAltStar(
        Dedup.minhashLshPairsFromSets(Dedup.shingleSets(docs), thresholdX1000 = 300))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val root = java.nio.file.Files.createTempDirectory("graft-twinstore").toString
    val cur = runCuration(aug.sortBy(-_.doc_id), nBatches = 4, new ParquetTwinStore(root))
    val gotLabels = cur.labels(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotLabels == expectLabels)
    assert(reportRows(cur.report(spark)) == expectReport)
    // the state genuinely lives on disk: append-only tables are plain
    // directories, merged tables are merge-on-read dirs whose per-trigger
    // writes are sequence-numbered deltas, replace tables are versioned
    // with old versions GC'd
    val files = new java.io.File(root).listFiles().map(_.getName).toSet
    // meta/posts stay append-only (id-guarded for replay); the
    // write-ahead/commit framing is the pair of one-row batch-id
    // watermarks (replace-verb versioned dirs), NOT a doc-id intent
    // table — partial-trigger detection is O(1), never a history scan
    assert(files.contains("meta") && files.contains("posts"))
    assert(files.exists(_.startsWith("intent_bid-v")) &&
      files.exists(_.startsWith("commit_bid-v")),
      s"the batch-id watermark pair must live in the store, saw $files")
    assert(!files.contains("absorbing"),
      "no unbounded doc-id intent table may exist")
    assert(files.contains("labels.m") && files.contains("exactKeep.m"),
      s"merged tables must live in merge-on-read dirs, saw $files")
    // merged tables are hash-bucketed MoR: per-trigger deltas live as
    // sequence-numbered files — per-bucket (`b<k>/d<seq>`) for bulk
    // updates, or in the shared overflow dir (`ovf/d<seq>` + `_buckets`
    // manifest) for spraying micro-batches (the r15 fixed-term
    // amortization); compaction bases land per-bucket either way
    val labelDir = new java.io.File(s"$root/labels.m")
    val labelParts = labelDir.listFiles()
      .filter(f => f.isDirectory && (f.getName.startsWith("b") || f.getName == "ovf"))
      .flatMap(b => Option(b.list()).getOrElse(Array.empty[String]))
    assert(labelParts.exists(n =>
      (n.startsWith("d") && n.drop(1).forall(_.isDigit)) ||
        (n.startsWith("base-v") && n.drop(6).forall(_.isDigit))),
      s"merged tables must accumulate per-trigger deltas/bases inside the MoR layout, saw ${labelParts.toSeq}")
    assert(files.count(_.startsWith("counters-v")) <= 2,
      s"old replace versions must be GC'd, saw $files")
  }

  test("delta-maintained serving counters == fully recomputed report after EVERY trigger") {
    import spark.implicits._
    // the strongest pin the delta machinery can get: after each
    // micro-batch of the adversarial (descending-id, twin-heavy) order,
    // reportServed — the O(sources) counter read — must equal the full
    // recomputation from the state tables, so every flag-flip class
    // (arrival, dethronement, keep-best change inside a touched
    // cluster, monotone contamination) is folded exactly once
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val orig = docs.as[CurRow].collect().toSeq
    val twins = orig.filter(_.doc_id % 12 == 0)
      .map(r => CurRow(r.doc_id + 1000000L, r.source, r.text.toUpperCase))
    val order = (orig ++ twins).sortBy(-_.doc_id)
    val cur = new StreamingCuration(thresholdX1000 = 300)
    val per = (order.length + 3) / 4
    order.grouped(per).zipWithIndex.foreach { case (b, i) =>
      cur.processBatch(b.toDF(), batchId = i.toLong)
      assert(reportRows(cur.reportServed(spark)) == reportRows(cur.report(spark)),
        s"served counters diverged from the recomputed report after trigger $i")
    }
  }

  test("RESTARTED parquet-store curation resumes from disk: final state == batch, dethronement across the restart") {
    import spark.implicits._
    import graft.dedup.{Dedup, Winnow}
    // crash-recovery pin: twin A processes the first half of an
    // adversarial (descending-id, twin-heavy) arrival order, is dropped,
    // and a NEW instance over the SAME store root processes the rest —
    // every dethronement whose twin arrived before the restart must
    // still be repaired by the original arriving after it
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val orig = docs.as[CurRow].collect().toSeq
    val twins = orig.filter(_.doc_id % 12 == 0)
      .map(r => CurRow(r.doc_id + 1000000L, r.source, r.text.toUpperCase))
    val aug = (orig ++ twins).sortBy(-_.doc_id) // twins first, originals dethrone later
    val augDf = aug.toDF()
    val expectReport = reportRows(graft.queries.CorpusQueries.e2eCurate(
      augDf, Dedup.shingleSets(augDf), Winnow.postings(augDf)))
    val expectLabels = Dedup.duplicateClustersAltStar(
        Dedup.minhashLshPairsFromSets(Dedup.shingleSets(docs), thresholdX1000 = 300))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val root = java.nio.file.Files.createTempDirectory("graft-twinrestart").toString
    val (firstHalf, secondHalf) = aug.splitAt(aug.length / 2)
    runCuration(firstHalf, nBatches = 2, new ParquetTwinStore(root))
    // new incarnation, same root: resumes every state table (incl. the
    // replace-verb version sequence) from disk
    val cur2 = runCuration(secondHalf, nBatches = 2, new ParquetTwinStore(root))
    val gotLabels = cur2.labels(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotLabels == expectLabels,
      "restarted twin must land on the batch among-survivors clustering")
    assert(reportRows(cur2.report(spark)) == expectReport)
    // the delta-maintained counters also survive the restart (loaded
    // from the store) and serve the same report
    assert(reportRows(cur2.reportServed(spark)) == expectReport)

    // crash-REDELIVERY pin: Structured Streaming re-runs the last
    // uncommitted micro-batch after a restart, so a THIRD incarnation
    // over the same root that replays the already-absorbed second half
    // must absorb it as a no-op (processBatch anti-joins arrivals
    // against the stored metadata by doc id) — n_raw and every
    // downstream counter stay exactly once
    val cur3 = new StreamingCuration(thresholdX1000 = 300, new ParquetTwinStore(root))
    cur3.processBatch(secondHalf.toDF(), batchId = 1L)
    assert(reportRows(cur3.report(spark)) == expectReport,
      "a redelivered micro-batch must not double-count the report")
    assert(reportRows(cur3.reportServed(spark)) == expectReport,
      "a redelivered micro-batch must not double-fold the serving counters")
    val gotLabels3 = cur3.labels(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotLabels3 == expectLabels,
      "a redelivered micro-batch must not perturb the clustering")
  }

  test("curation trigger is crash-atomic: a crash after EVERY store-write boundary, then redelivery, lands on the batch state") {
    import spark.implicits._
    import graft.dedup.{Dedup, Winnow}
    // a trigger makes 11 store writes (intent_bid watermark, posts,
    // exactKeep, the persisted exited set, labels, eSets, eBands,
    // flags, counters, meta, commit_bid watermark); kill the trigger
    // after each prefix,
    // redeliver the batch through a fresh incarnation UNDER THE SAME
    // BATCH ID (exactly Structured Streaming's crash contract), and
    // the final state must equal the batch recompute — the write-ahead/
    // commit watermark pair plus replay-stable derivations make the
    // partial trigger re-processable instead of silently dropped or
    // doubled
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
      .filter(col("doc_id") % 3 === 0)
    val orig = docs.as[CurRow].collect().toSeq
    val twins = orig.filter(_.doc_id % 12 == 0)
      .map(r => CurRow(r.doc_id + 1000000L, r.source, r.text.toUpperCase))
    val aug = (orig ++ twins).sortBy(-_.doc_id) // twins first; later batches dethrone
    val augDf = aug.toDF()
    val expectReport = reportRows(graft.queries.CorpusQueries.e2eCurate(
      augDf, Dedup.shingleSets(augDf), Winnow.postings(augDf)))
    // ONE continuous trajectory, 12 batches, EVERY batch delivered
    // through a trigger that crashes after a DIFFERENT write boundary
    // (0 = before any write .. 11 = fully committed) and is then
    // redelivered through a fresh incarnation under the same batch id —
    // so each boundary is hit against genuinely accumulated state,
    // dethronements included. After every redelivery the serving
    // counters must agree with the full state recompute (the exact
    // invariant a lost/doubled delta breaks); the batch oracle pins the
    // final state.
    val per = (aug.length + 11) / 12
    val batches = aug.grouped(per).toSeq
    val root = java.nio.file.Files.createTempDirectory("graft-crash").toString
    // fanout 4 keeps the per-merge file/job fanout test-sized
    for ((b, boundary) <- batches.zipWithIndex) {
      val doomed = new StreamingCuration(300,
        new CrashAfter(new ParquetTwinStore(root, 4), boundary))
      val crashed =
        try { doomed.processBatch(b.toDF(), batchId = boundary.toLong); false }
        catch { case e: RuntimeException if e.getMessage == "injected crash" => true }
      assert(crashed == (boundary < 11), s"boundary $boundary: expected 11 writes/trigger")
      // redelivery through a fresh incarnation over the same root,
      // SAME batch id (the Structured Streaming redelivery contract)
      val cur = new StreamingCuration(300, new ParquetTwinStore(root, 4))
      cur.processBatch(b.toDF(), batchId = boundary.toLong)
      assert(reportRows(cur.reportServed(spark)) == reportRows(cur.report(spark)),
        s"crash after write $boundary: serving counters diverged from the state recompute")
    }
    val fin = new StreamingCuration(300, new ParquetTwinStore(root, 4))
    assert(reportRows(fin.report(spark)) == expectReport,
      "final state after ten crash-redelivery cycles diverged from the batch pipeline")
    assert(reportRows(fin.reportServed(spark)) == expectReport,
      "final serving counters after ten crash-redelivery cycles diverged from the batch pipeline")
  }

  test("streaming cluster maintenance through the PARQUET state store == batch recompute") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.dedup.Dedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val all = docs.as[DocRow].collect().sortBy(_.doc_id)
    val expect = Dedup.duplicateClustersAltStar(
        Dedup.minhashLshPairsFromSets(Dedup.shingleSets(docs), thresholdX1000 = 300))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val root = java.nio.file.Files.createTempDirectory("graft-twinstore-cl").toString
    val maintainer = new StreamingClusters(thresholdX1000 = 300, new ParquetTwinStore(root))
    val mem = MemoryStream[DocRow]
    val q = maintainer.sink(mem.toDF()).outputMode(OutputMode.Update()).start()
    try {
      val third = all.length / 3
      Seq(all.slice(0, third), all.slice(third, 2 * third), all.slice(2 * third, all.length))
        .foreach { b => mem.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    val got = maintainer.labels(spark)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq == expect.toSeq)
    val files = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(files.contains("corpusSets") && files.contains("corpusBands"))
  }

  test("streaming vocabulary twin: merged word-type state + retrain == batch tokenizer training (restart mid-stream)") {
    import spark.implicits._
    import graft.corpus.{Unigram, Wordpiece}
    // both tokenizer trainers are deterministic functions of the ONE
    // corpus collapse (the word-type frequency table), so the twin that
    // merges per-batch type counts and retrains from the maintained
    // table must land EXACTLY on the batch training output — including
    // across a restart through the parquet store
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    def vrows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq
    val expectUni = vrows(Unigram.train(docs))
    val expectWp = vrows(Wordpiece.vocabReport(docs))

    val all = docs.as[CurRow].collect().toSeq
    val third = all.length / 3
    val root = java.nio.file.Files.createTempDirectory("graft-svocab").toString
    val sv1 = new StreamingVocab(new ParquetTwinStore(root))
    sv1.processBatch(all.slice(0, third).toDF(), batchId = 0L)
    sv1.processBatch(all.slice(third, 2 * third).toDF(), batchId = 1L)
    // new incarnation over the same root: resumes the type table
    val sv2 = new StreamingVocab(new ParquetTwinStore(root))
    sv2.processBatch(all.slice(2 * third, all.length).toDF(), batchId = 2L)
    // crash-redelivery no-op: the SAME batch id re-offered must not
    // double-add the type counts (per-row last_bid idempotency)
    sv2.processBatch(all.slice(2 * third, all.length).toDF(), batchId = 2L)
    assert(vrows(sv2.unigramVocab(spark)) == expectUni,
      "streaming unigram vocab must equal the batch training output")
    assert(vrows(sv2.wordpieceVocab(spark)) == expectWp,
      "streaming wordpiece vocab must equal the batch training output")
    // the maintained state is the type table, merged on disk
    assert(new java.io.File(s"$root/wordTypes.m").isDirectory)
  }

  test("streaming ANN index: a batch-id REGRESSION is rejected loudly (replay beyond the redelivery horizon)") {
    import graft.sim.Similarity
    // the horizon-bounded annDeleted ledger is safe exactly under the
    // Structured Streaming contract (at most the LAST uncommitted
    // trigger replays); a rewound checkpoint replaying further back
    // could silently resurrect dethroned ids — the index must refuse it
    // instead of merging, both within an incarnation and across a
    // restart (re-seeded from the resumed ledger's max bid)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(12).localCheckpoint()
    val ids = emb.select(col("vec_id").as("id")).limit(2)
    val root = java.nio.file.Files.createTempDirectory("graft-annbid").toString
    val ix1 = new StreamingAnnIndex(new ParquetTwinStore(root))
    ix1.processBatch(emb, None, batchId = 2L)
    ix1.processBatch(emb.limit(0), Some(ids), batchId = 3L)
    // same-id redelivery stays legal…
    ix1.processBatch(emb.limit(0), Some(ids), batchId = 3L)
    // …a regression does not
    intercept[IllegalStateException] {
      ix1.processBatch(emb, None, batchId = 1L)
    }
    // across a restart the guard re-seeds from the ledger (bid 3)
    val ix2 = new StreamingAnnIndex(new ParquetTwinStore(root))
    intercept[IllegalStateException] {
      ix2.processBatch(emb, None, batchId = 2L)
    }
    // and the forward path still works
    ix2.processBatch(emb, None, batchId = 4L)
    assert(ix2.indexed(spark).count() > 0L)
    // the guard must survive INSERT-ONLY advances too: trigger 4 above
    // dethroned nothing, so the dethronement ledger's max bid is still
    // 3 — before the per-trigger annLastBid watermark a checkpoint
    // rewound to bid 3 was silently accepted by a fresh incarnation,
    // re-inserting ids whose pruned ledger entries could no longer
    // block them
    val ix3 = new StreamingAnnIndex(new ParquetTwinStore(root))
    intercept[IllegalStateException] {
      ix3.processBatch(emb, None, batchId = 3L)
    }
    // same-id redelivery of the last trigger stays legal across restart
    ix3.processBatch(emb, None, batchId = 4L)
    assert(ix3.indexed(spark).count() > 0L)
  }

  test("streaming ANN index: topK/LSH/range over the maintained index == batch, restart mid-stream") {
    import graft.sim.Similarity
    // the index rows (norm + LSH bucket signature) are computed at
    // ingest and appended through the store; every serving path is the
    // batch operator over the same rows, so streaming must equal batch
    // exactly — including when a new incarnation resumes the index from
    // disk mid-stream
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = emb.head().getSeq[Float](1).length
    val query = emb.orderBy(col("vec_id").asc).limit(1).select(col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expectBrute = rows(Similarity.topKBruteForce(emb, query, 10))
    val expectLsh = rows(Similarity.topKLsh(emb, query, 10, dim))
    val expectRange = rows(
      Similarity.rangeSearchFromNormed(Similarity.normed(emb), query, 0.4)
        .orderBy(col("vec_id"))).toSet

    val all = emb.collect()
    val third = all.length / 3
    val root = java.nio.file.Files.createTempDirectory("graft-sann").toString
    val ix1 = new StreamingAnnIndex(new ParquetTwinStore(root))
    import scala.jdk.CollectionConverters._
    def batchDf(rs: Array[org.apache.spark.sql.Row]) =
      spark.createDataFrame(rs.toSeq.asJava, emb.schema)
    ix1.processBatch(batchDf(all.slice(0, third)))
    ix1.processBatch(batchDf(all.slice(third, 2 * third)))
    // restart: a fresh incarnation over the same root resumes the index
    val ix2 = new StreamingAnnIndex(new ParquetTwinStore(root))
    ix2.processBatch(batchDf(all.slice(2 * third, all.length)))
    // crash-redelivery no-op: already-landed ids anti-join out instead
    // of double-appending index rows
    ix2.processBatch(batchDf(all.slice(2 * third, all.length)))
    assert(rows(ix2.topK(spark, query, 10)) == expectBrute,
      "streaming exact top-k must equal the batch result")
    assert(rows(ix2.topKLsh(spark, query, 10, dim)) == expectLsh,
      "streaming LSH top-k over stored buckets must equal the batch result")
    assert(rows(ix2.rangeSearch(spark, query, 0.4).orderBy(col("vec_id"))).toSet
        == expectRange,
      "streaming range search must equal the batch result")
    // the index genuinely lives on disk as a keyed merged table (the
    // Delta-MERGE shape: update-mass writes, tombstone-capable)
    assert(new java.io.File(s"$root/annIndex.m").isDirectory)
  }

  test("streaming DoReMi twin: merged domain sums + reweight == batch mixture (restart + redelivery)") {
    import spark.implicits._
    import graft.corpus.Doremi
    // DoReMi's hardness signal is the corpus-TRAINED bigram LM, so the
    // mergeable state is the model + per-doc profiles (plain sums), not
    // the score sums; the twin maintains those and re-scores from the
    // stored tables on serve, so the served weights must equal the
    // batch query exactly — across a restart, and with a
    // crash-redelivered trigger as a no-op (model rows are last_bid
    // idempotent, profile/source appends are id-guarded)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    def wrows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    val expect = wrows(Doremi.domainWeights(docs))

    val all = docs.as[CurRow].collect().toSeq
    val third = all.length / 3
    val root = java.nio.file.Files.createTempDirectory("graft-sdoremi").toString
    val sd1 = new StreamingDoremi(new ParquetTwinStore(root))
    sd1.processBatch(all.slice(0, third).toDF(), batchId = 0L)
    sd1.processBatch(all.slice(third, 2 * third).toDF(), batchId = 1L)
    // restart: a fresh incarnation over the same root resumes the table
    val sd2 = new StreamingDoremi(new ParquetTwinStore(root))
    sd2.processBatch(all.slice(2 * third, all.length).toDF(), batchId = 2L)
    // crash-redelivery no-op: the SAME batch id must not double-add
    sd2.processBatch(all.slice(2 * third, all.length).toDF(), batchId = 2L)
    assert(wrows(sd2.weights(spark)) == expect,
      "streaming-final DoReMi weights must equal the batch mixture")
    // the model is a merged table; the profiles/sources are appends
    assert(new java.io.File(s"$root/lmModel.m").isDirectory)
    assert(new java.io.File(s"$root/docProfiles").isDirectory)
  }

  test("live ingest -> index -> retrieval: streamed gate + ANN index serve the batch sim_e2e_retrieval panel (restart included)") {
    import spark.implicits._
    import graft.sim.Similarity
    import graft.functions.TextFunctions
    // the full serving pipeline as one streaming test: documents arrive,
    // the quality gate keeps some, their embeddings land in the
    // streaming ANN index, and the shared retrievalPanel over the
    // maintained index must equal the BATCH sim_e2e_retrieval query on
    // the same corpus (same gate, same index rows, same panel)
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val expect = graft.queries.SimQueries.queries("sim_e2e_retrieval")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    val all = docs.as[CurRow].collect().toSeq.sortBy(_.doc_id)
    val third = all.length / 3
    val root = java.nio.file.Files.createTempDirectory("graft-livepipe").toString
    def ingest(ix: StreamingAnnIndex, batch: Seq[CurRow]): Unit = {
      // the live gate: keep arriving docs passing the quality bar, then
      // hand their embeddings to the index twin (a keyed lookup of the
      // batch's ids into the embedding source)
      val keptIds = batch.toDF()
        .filter(TextFunctions.qualityScoreX1000(col("text")) >= 550)
        .select(col("doc_id"))
      ix.processBatch(emb.join(keptIds, emb("vec_id") === keptIds("doc_id"), "left_semi"))
    }
    val ix1 = new StreamingAnnIndex(new ParquetTwinStore(root))
    ingest(ix1, all.slice(0, third))
    ingest(ix1, all.slice(third, 2 * third))
    // restart mid-pipeline, then the final batch + its crash redelivery
    val ix2 = new StreamingAnnIndex(new ParquetTwinStore(root))
    ingest(ix2, all.slice(2 * third, all.length))
    ingest(ix2, all.slice(2 * third, all.length))
    val got = Similarity.retrievalPanel(ix2.indexed(spark))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == expect,
      "the live pipeline's served panel must equal the batch e2e retrieval query")
  }

  test("live index eviction: a doc indexed at trigger T and dethroned at T+k leaves the served panel") {
    import spark.implicits._
    import graft.sim.Similarity
    import graft.functions.TextFunctions
    // the insert-only failure mode the eviction path exists for: exact
    // twins of the final panel's OWN query docs arrive first and are
    // indexed (they are their md5 groups' keepers while the originals
    // are absent); the originals arrive a trigger later and dethrone
    // them. An index that only ever inserts would keep serving each
    // twin as its original's top hit (cos = 1) forever — the curation
    // pipeline's dethroned ids must tombstone them out, across a
    // restart AND a crash-redelivery of the dethroning trigger.
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val all = docs.as[CurRow].collect().toSeq.sortBy(_.doc_id)
    val embIds = emb.select(col("vec_id")).as[Long].collect().toSet
    val qualityIds = docs
      .filter(TextFunctions.qualityScoreX1000(col("text")) >= 550)
      .select(col("doc_id")).as[Long].collect().toSet
    // twin the 3 smallest kept+embedded ids — exactly the docs that head
    // the final serving panel's query list, so an unevicted twin is
    // GUARANTEED panel-visible (exact-duplicate vector of a panel query)
    val twinBase = all.map(_.doc_id)
      .filter(id => embIds(id) && qualityIds(id)).take(3).toSet
    assert(twinBase.size == 3, "fixture must have 3 kept embedded docs")
    val twins = all.filter(r => twinBase(r.doc_id))
      .map(r => CurRow(r.doc_id + 1000000L, r.source, r.text))
    val embAug = emb.unionByName(
      emb.filter(col("vec_id").isin(twinBase.toSeq.map(Long.box): _*))
        .withColumn("vec_id", col("vec_id") + lit(1000000L)))
      .localCheckpoint()

    // the batch oracle over the FINAL corpus state: every original is
    // its group's keeper, so the final kept set is exactly the batch
    // sim_e2e_retrieval gate — the pinned target is the gate query itself
    val expect = graft.queries.SimQueries.queries("sim_e2e_retrieval")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq

    val root = java.nio.file.Files.createTempDirectory("graft-evict").toString
    // one foreachBatch body: curation absorbs the docs, the quality gate
    // picks the inserts (every arriving doc here is its group's current
    // keeper by construction), curation's dethroned ids ride along as
    // the index eviction set
    def ingest(cur: StreamingCuration, ix: StreamingAnnIndex,
               batch: Seq[CurRow], bid: Long): Unit = {
      cur.processBatch(batch.toDF(), batchId = bid)
      val keptIds = batch.toDF()
        .filter(TextFunctions.qualityScoreX1000(col("text")) >= 550)
        .select(col("doc_id"))
      ix.processBatch(
        embAug.join(keptIds, embAug("vec_id") === keptIds("doc_id"), "left_semi"),
        Some(cur.dethronedLastTrigger(spark)), batchId = bid)
    }
    // trigger 0: all originals EXCEPT the twin bases, plus the twins
    val cur1 = new StreamingCuration(300, new ParquetTwinStore(s"$root/cur"))
    val ix1 = new StreamingAnnIndex(new ParquetTwinStore(s"$root/ix"))
    ingest(cur1, ix1, all.filterNot(r => twinBase(r.doc_id)) ++ twins, bid = 0L)
    val preEvict = ix1.indexed(spark)
    assert(preEvict.filter(col("id") >= 1000000L).count() == 3L,
      "the twins must be indexed while their originals are absent")

    // trigger 1 through a RESTART: fresh incarnations resume from disk,
    // the twin-base originals arrive and dethrone their twins
    val cur2 = new StreamingCuration(300, new ParquetTwinStore(s"$root/cur"))
    val ix2 = new StreamingAnnIndex(new ParquetTwinStore(s"$root/ix"))
    ingest(cur2, ix2, all.filter(r => twinBase(r.doc_id)), bid = 1L)

    // negative control — what an insert-only index would serve now: the
    // twins back in, each the top hit of its original's panel query
    val noEvict = Similarity.retrievalPanel(
      ix2.indexed(spark).unionByName(preEvict.filter(col("id") >= 1000000L)))
    assert(noEvict.filter(col("hit_id") >= 1000000L).count() > 0,
      "control: without eviction the dethroned twins WOULD be served")

    // the real served panel: no twins, equal to the batch gate query
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val served = rows(Similarity.retrievalPanel(ix2.indexed(spark)))
    assert(!served.exists(_._3 >= 1000000L),
      "a dethroned doc must leave the served panel")
    assert(served == expect,
      "post-eviction served panel must equal the batch retrieval query")

    // crash-redelivery of the dethroning trigger: same batch id, same
    // rows — inserts anti-join out, re-evictions are no-op tombstones
    ingest(cur2, ix2, all.filter(r => twinBase(r.doc_id)), bid = 1L)
    assert(rows(Similarity.retrievalPanel(ix2.indexed(spark))) == expect,
      "redelivering the dethroning trigger must not perturb the index")
    // a dethroned id re-offered at the NEXT trigger (the redelivery
    // horizon the bounded annDeleted ledger protects) must NOT
    // resurrect; beyond the horizon the ingest contract itself blocks
    // re-offers (dethronement is monotone — curation never re-emits a
    // dethroned id as an insert)
    ix2.processBatch(
      embAug.filter(col("vec_id") >= 1000000L), None, batchId = 2L)
    assert(rows(Similarity.retrievalPanel(ix2.indexed(spark))) == expect,
      "a re-offered dethroned id must not re-enter the index")
    // the ledger is horizon-BOUNDED: it holds exactly the dethroning
    // trigger's ids (tagged with its bid), not an ever-growing
    // dethronement history
    val ledger = new ParquetTwinStore(s"$root/ix").load(spark, "annDeleted")
    assert(ledger.exists(_.count() == 3L),
      "the annDeleted ledger must hold only the recent trigger's dethronement mass")

    // CROSS-JVM redelivery of a COMMITTED dethroning trigger (the crash
    // window between curation's commit and the ANN merge in the same
    // foreachBatch): fresh incarnations, same batch id — the per-doc
    // guard absorbs the docs, and dethronedLastTrigger must re-serve the
    // PERSISTED eviction set, not resume as empty. Replay against an
    // index twin that never absorbed the eviction (restored from the
    // pre-eviction state) must evict now.
    val cur3 = new StreamingCuration(300, new ParquetTwinStore(s"$root/cur"))
    cur3.processBatch(all.filter(r => twinBase(r.doc_id)).toDF(), batchId = 1L)
    val reserved = cur3.dethronedLastTrigger(spark)
      .as[Long].collect().toSet
    assert(twinBase.map(_ + 1000000L).subsetOf(reserved),
      "a committed trigger's redelivery must re-serve its persisted dethronements")

    // crash BETWEEN the index twin's two writes (ledger replace lands,
    // the keyed merge does not), then redelivery through a FRESH
    // incarnation: the resumed ledger must not block the re-run and the
    // dethronement must complete — the ordering claim in the class doc,
    // pinned at the exact boundary it protects
    val root2 = java.nio.file.Files.createTempDirectory("graft-evict2").toString
    val curB = new StreamingCuration(300, new ParquetTwinStore(s"$root2/cur"))
    val ixB = new StreamingAnnIndex(new ParquetTwinStore(s"$root2/ix"))
    ingest(curB, ixB, all.filterNot(r => twinBase(r.doc_id)) ++ twins, bid = 0L)
    // trigger 1 with the ANN store crashing after its FIRST write (the
    // ledger replace) — curation commits, the index merge never runs
    val curB2 = new StreamingCuration(300, new ParquetTwinStore(s"$root2/cur"))
    curB2.processBatch(all.filter(r => twinBase(r.doc_id)).toDF(), batchId = 1L)
    val doomedIx = new StreamingAnnIndex(
      new CrashAfter(new ParquetTwinStore(s"$root2/ix"), 1))
    val keptB = all.filter(r => twinBase(r.doc_id)).toDF()
      .filter(TextFunctions.qualityScoreX1000(col("text")) >= 550)
      .select(col("doc_id"))
    val crashed =
      try {
        doomedIx.processBatch(
          embAug.join(keptB, embAug("vec_id") === keptB("doc_id"), "left_semi"),
          Some(curB2.dethronedLastTrigger(spark)), batchId = 1L)
        false
      } catch { case e: RuntimeException if e.getMessage == "injected crash" => true }
    assert(crashed, "the fault injection must fire between ledger and merge")
    // redelivery: fresh incarnations, same batch id — curation
    // early-returns and re-serves the persisted exited set, the index
    // twin resumes the (already-written) ledger and completes the merge
    val curB3 = new StreamingCuration(300, new ParquetTwinStore(s"$root2/cur"))
    val ixB3 = new StreamingAnnIndex(new ParquetTwinStore(s"$root2/ix"))
    ingest(curB3, ixB3, all.filter(r => twinBase(r.doc_id)), bid = 1L)
    assert(rows(Similarity.retrievalPanel(ixB3.indexed(spark))) == expect,
      "redelivery after a ledger-merge crash must complete the eviction")
  }
}

/** Fault-injection wrapper for the crash-atomicity pin: forwards the
  * first `n` state writes, then throws — modeling a foreachBatch
  * trigger dying between two store writes (reads are unaffected, as a
  * crash loses no committed files). */
final class CrashAfter(inner: TwinStore, n: Int) extends TwinStore {
  private var writes = 0
  private def tick(): Unit = {
    writes += 1
    if (writes > n) throw new RuntimeException("injected crash")
  }
  override def append(name: String, delta: org.apache.spark.sql.DataFrame) = {
    tick(); inner.append(name, delta)
  }
  override def merge(name: String, keyCols: Seq[String],
                     upserts: org.apache.spark.sql.DataFrame,
                     deleteKeys: Option[org.apache.spark.sql.DataFrame]) = {
    tick(); inner.merge(name, keyCols, upserts, deleteKeys)
  }
  override def replace(name: String, df: org.apache.spark.sql.DataFrame) = {
    tick(); inner.replace(name, df)
  }
  override def load(spark: org.apache.spark.sql.SparkSession, name: String) =
    inner.load(spark, name)
}
