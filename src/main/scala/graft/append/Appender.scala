package graft.append

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._
import graft.streaming.Subscriptions

/** A proposed event (client-supplied part; server assigns the rest).
  * Mirrors the append-side of `model.Event`
  * (`/root/reference/internal/model/model.go:26-34`). */
final case class ProposedEvent(
    uuid: String,
    eventType: String,
    data: String,
    metadata: Map[String, String] = Map.empty,
    customMetadata: Option[String] = None // opaque caller payload (ref backend.go:43)
)

/** Result of an append: committed revision range + global positions
  * (ref `streams/streams.go:125-189` returns first/last). */
final case class AppendResult(firstRevision: Long, lastRevision: Long,
                              firstPosition: Long, lastPosition: Long)

/**
 * Append path with the reference's transactional semantics
 * (`/root/reference/internal/streams/streams.go:93-203`, SURVEY.md §2.6 T7):
 *
 *  - every event must carry `type` and `content-type` metadata
 *    (streams.go:191-203) → [[MissingMetadata]];
 *  - expected-revision precondition: Any / NoStream / StreamExists /
 *    Exact(r) against the stream's current revision (-1 if absent,
 *    streams.go:61-91) → [[WrongExpectedRevision]];
 *  - server assigns dense per-stream `revision = current + 1 + i`
 *    (streams.go:150) and dense global `position = max + 1 + i` (the
 *    BIGSERIAL, backend.go:46) — deterministic, no
 *    `monotonically_increasing_id`;
 *  - `created` system metadata stamped in 100-ns ticks
 *    (streams.go:151, EventStoreDB convention).
 *
 * Concurrency: the reference serializes appends via the Postgres
 * transaction + UNIQUE(stream, revision) constraint. A parquet log has no
 * compare-and-swap, so this appender assumes a single writer per log (the
 * normal Spark deployment: one ingest job per table; use a
 * transactional table format for multi-writer).
 *
 * Cost: an [[append]] (and [[delete]] / [[tombstone]]) reads every
 * precondition — the stream's revision, the global high-water position,
 * the tombstone flag and the (stream, uuid) conflicts — in ONE global
 * aggregate over the log (one scan, 2 Spark jobs under AQE), replays the
 * checks on the driver, and writes the rows as one parquet file (1 job).
 * At scale the state would come from the writer's own watermark and key
 * state (SURVEY.md §7.3), not a log scan.
 */
object Appender {

  private val requiredMeta = Seq("type", "content-type") // streams.go:205-209

  private def checkRevision(stream: String, current: Long, expected: ExpectedRevision): Unit = {
    val ok = expected match {
      case AnyRevision      => true
      case NoStream         => current == -1L
      case StreamExists     => current != -1L
      case ExactRevision(r) => current == r
    }
    if (!ok) throw WrongExpectedRevision(stream, expected, if (current == -1L) None else Some(current))
  }

  private def validate(events: Seq[ProposedEvent]): Unit =
    for (e <- events; k <- requiredMeta if !e.metadata.contains(k)) throw MissingMetadata(k)

  /**
   * Append a batch of proposed events to `stream` in the parquet log at
   * `logDir`, enforcing the expected-revision precondition. `nowNanos`
   * is injected for deterministic `created` stamps.
   */
  def append(spark: SparkSession, logDir: String, stream: String,
             events: Seq[ProposedEvent], expected: ExpectedRevision = AnyRevision,
             nowNanos: Long = System.nanoTime()): AppendResult = {
    validate(events)
    appendInternal(spark, logDir, stream, events, expected, nowNanos)
  }

  /** Shared append path (markers skip user-metadata validation). Every
    * precondition comes from one aggregate; the checks then replay in the
    * reference's order — tombstone, expected revision, then the (stream,
    * uuid) PK at insert time (streams.go, backend.go:316-329): a uuid
    * twice in the call, then one already in the stream. The smallest such
    * uuid is reported, so the error is deterministic. */
  private def appendInternal(spark: SparkSession, logDir: String, stream: String,
                             events: Seq[ProposedEvent], expected: ExpectedRevision,
                             nowNanos: Long): AppendResult = {
    require(events.nonEmpty, "empty append")
    val inStream = col("stream") === stream
    val state = readLog(spark, logDir)
      .agg(
        max(when(inStream, col("revision"))),
        max(col("position")),
        max(when(inStream && col("event_type") === TombstoneMarker, true)),
        min(when(inStream && col("uuid").isin(events.map(_.uuid).distinct: _*), col("uuid"))))
      .head()
    if (!state.isNullAt(2)) throw StreamDeleted(stream)
    val currentRev = if (state.isNullAt(0)) -1L else state.getLong(0)
    val maxPos = if (state.isNullAt(1)) 0L else state.getLong(1)
    checkRevision(stream, currentRev, expected)
    events.groupBy(_.uuid).collect { case (u, es) if es.size > 1 => u }.minOption
      .foreach(u => throw EventConflict(stream, u))
    if (!state.isNullAt(3)) throw EventConflict(stream, state.getString(3))
    write(spark, logDir, logRows(stream, events, currentRev, maxPos, nowNanos))
    AppendResult(currentRev + 1L, currentRev + events.size,
      maxPos + 1L, maxPos + events.size)
  }

  private type LogRow = (String, String, String, String, Map[String, String], Option[String], Long, Long)

  /** Server-assigned rows: dense revisions after `currentRev`, dense
    * positions after `maxPos`, `created` in 100-ns ticks (streams.go:150-151). */
  private def logRows(stream: String, events: Seq[ProposedEvent], currentRev: Long,
                      maxPos: Long, nowNanos: Long): Seq[LogRow] = {
    val created = (nowNanos / 100L).toString
    events.zipWithIndex.map { case (e, i) =>
      (stream, e.uuid, e.eventType, e.data, e.metadata + ("created" -> created),
        e.customMetadata, currentRev + 1L + i, maxPos + 1L + i)
    }
  }

  /** The one log writer. parallelize, NOT a local Seq toDF: a LocalRelation
    * embeds every row in the serialized plan and encodes+writes them in ONE
    * task, which at throughput-tier sink triggers (100k+ rows) makes the
    * parquet encode the bottleneck; an RDD ships rows as blocks and spreads
    * the encode across up to 8 tasks. A call under 20k rows is one slice,
    * so it writes exactly one parquet file. */
  private def write(spark: SparkSession, logDir: String, rows: Seq[LogRow]): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(rows, math.max(1, math.min(8, rows.size / 10000)))
      .toDF("stream", "uuid", "event_type", "data", "metadata", "custom_metadata",
        "revision", "position")
      .write.mode("append").parquet(logDir)
  }

  // system event types for the stream-lifecycle markers (the reference
  // declares Delete/Tombstone/BatchAppend but stubs them,
  // transport/grpc/streams/grpc_server.go:271-281 — completed here with
  // EventStoreDB's semantics: soft delete truncates, tombstone is final)
  val DeletedMarker = "$deleted"
  val TombstoneMarker = "$tombstoned"

  private def marker(uuid: String, tpe: String): ProposedEvent =
    ProposedEvent(uuid, tpe, "",
      Map("type" -> tpe, "content-type" -> "application/json"))

  /**
   * Soft delete: appends a `$deleted` marker; events at or before the
   * marker become invisible to [[visible]] reads. The stream can be
   * recreated by appending again (EventStoreDB soft-delete semantics).
   */
  def delete(spark: SparkSession, logDir: String, stream: String,
             expected: ExpectedRevision = AnyRevision, nowNanos: Long = System.nanoTime()): AppendResult =
    appendInternal(spark, logDir, stream, Seq(marker(s"del-$nowNanos", DeletedMarker)), expected, nowNanos)

  /**
   * Hard delete: appends a `$tombstoned` marker; any later append to the
   * stream fails with [[StreamDeleted]] (irreversible).
   */
  def tombstone(spark: SparkSession, logDir: String, stream: String,
                expected: ExpectedRevision = AnyRevision, nowNanos: Long = System.nanoTime()): AppendResult =
    appendInternal(spark, logDir, stream, Seq(marker(s"tomb-$nowNanos", TombstoneMarker)), expected, nowNanos)

  /**
   * Batch append: one call, many streams, one global position sequence
   * (each stream's expected-revision precondition checked up front; all
   * rows written together — single-writer contract as [[append]]).
   */
  def batchAppend(spark: SparkSession, logDir: String,
                  batches: Seq[(String, Seq[ProposedEvent], ExpectedRevision)],
                  nowNanos: Long = System.nanoTime()): Seq[(String, AppendResult)] = {
    require(batches.nonEmpty, "empty batch")
    batches.foreach { case (_, events, _) => validate(events) }
    // (stream, uuid) must be unique across the whole call, like one tx
    batches.flatMap { case (s, es, _) => es.map(e => (s, e.uuid)) }
      .groupBy(identity).collectFirst { case ((s, u), xs) if xs.size > 1 =>
        throw EventConflict(s, u)
      }
    val log = readLog(spark, logDir)
    import spark.implicits._
    // Precondition state for ALL touched streams in TWO jobs (not three
    // per stream): one grouped aggregation for global max position +
    // per-touched-stream current revision + tombstone flag (untouched
    // streams collapse into one null group that still feeds the position
    // max), and one broadcast join for (stream, uuid) conflicts. The
    // checks themselves then replay driver-side in batch order, so which
    // precondition throws first is exactly the sequential semantics —
    // but a 1,500-stream micro-batch costs 2 Spark jobs, not 4,500 (the
    // ingest probe's single-sink numbers were unusable before this).
    val touched = batches.map(_._1).distinct
    val aggRows = log
      .groupBy(when(col("stream").isin(touched: _*), col("stream")).as("s"))
      .agg(max(col("revision")).as("rev"), max(col("position")).as("pos"),
        max(when(col("event_type") === TombstoneMarker, 1L).otherwise(0L)).as("tomb"))
      .collect()
    var maxPos = if (aggRows.isEmpty) 0L else aggRows.map(_.getLong(2)).max
    val streamInfo: Map[String, (Long, Boolean)] = aggRows
      .filter(!_.isNullAt(0))
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3) == 1L)).toMap
    val proposedPairs = batches
      .flatMap { case (s, es, _) => es.map(e => (s, e.uuid)) }.distinct
    val conflictPairs: Set[(String, String)] = log
      .join(broadcast(proposedPairs.toDF("stream", "uuid")), Seq("stream", "uuid"))
      .select("stream", "uuid").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val results = Seq.newBuilder[(String, AppendResult)]
    val rows = Seq.newBuilder[LogRow]
    // running per-stream revision across the call: a stream appearing in
    // two batches of one call continues its dense sequence (one tx)
    val revs = scala.collection.mutable.Map.empty[String, Long]
    batches.foreach { case (stream, events, expected) =>
      if (streamInfo.get(stream).exists(_._2)) throw StreamDeleted(stream)
      val currentRev = revs.getOrElse(stream, streamInfo.get(stream).fold(-1L)(_._1))
      checkRevision(stream, currentRev, expected)
      events.collectFirst {
        case e if conflictPairs((stream, e.uuid)) => throw EventConflict(stream, e.uuid)
      }
      rows ++= logRows(stream, events, currentRev, maxPos, nowNanos)
      results += stream -> AppendResult(currentRev + 1L, currentRev + events.size,
        maxPos + 1L, maxPos + events.size)
      revs(stream) = currentRev + events.size
      maxPos += events.size
    }
    write(spark, logDir, rows.result())
    results.result()
  }

  /**
   * Visibility view over the raw log: strips system markers and applies
   * soft-delete truncation (events at or before a stream's last `$deleted`
   * marker are hidden). One window over the marker rows only — the
   * truncation points are a tiny broadcast-joined dimension at scale.
   */
  def visible(log: DataFrame): DataFrame = {
    val cutoffs = log
      .filter(col("event_type") === DeletedMarker || col("event_type") === TombstoneMarker)
      .groupBy(col("stream").as("del_stream"))
      .agg(max(col("position")).as("del_pos"))
    log
      .filter(col("event_type") =!= DeletedMarker && col("event_type") =!= TombstoneMarker)
      .join(broadcast(cutoffs), col("stream") === col("del_stream"), "left")
      .filter(col("del_pos").isNull || col("position") > col("del_pos"))
      .drop("del_stream", "del_pos")
  }

  /** Read the canonical log (empty DataFrame with the canonical schema if
    * the directory has no files yet). */
  def readLog(spark: SparkSession, logDir: String): DataFrame =
    graft.util.ParquetDirs.readOrEmpty(spark, logDir, Subscriptions.eventSchema)
}
