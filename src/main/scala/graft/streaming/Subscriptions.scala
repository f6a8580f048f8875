package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.log.EventLog
import graft.model._

/**
 * Subscriptions — unbounded reads over the event log as Structured
 * Streaming (the reference's catch-up + live tail,
 * `/root/reference/internal/streams/streams.go:224-309`, SURVEY.md §2.6).
 *
 * Mapping:
 *  - catch-up (historical replay from the requested start) + live tail is
 *    exactly a file/Delta streaming source: existing files are replayed
 *    first, newly-appended files tail forever. `Trigger.AvailableNow`
 *    reproduces a bounded catch-up; the default micro-batch trigger
 *    reproduces the reference's signal-and-reread loop (T2) with the
 *    checkpoint dir playing `lastPositionOrRevision` (T5);
 *  - server-side filters (stream equality, regex/prefix on stream or event
 *    type, position/revision lower bound) compose as pushable predicates on
 *    the streaming DataFrame — same compilation as the batch path (F1-F7);
 *  - the reference's per-subscriber buffer/backpressure (T6) maps to
 *    `maxFilesPerTrigger`-style source options.
 *
 * The canonical event-log schema for streamed sources (position assigned
 * at ingest — see graft.append).
 */
object Subscriptions {

  /** Canonical on-disk event-log schema for streaming sources
    * (mirrors the reference storage row, `backend/backend.go:38-53`,
    * including `custom_metadata` — opaque caller payload, nullable). */
  val eventSchema: StructType = StructType(Seq(
    StructField("stream", StringType),
    StructField("uuid", StringType),
    StructField("event_type", StringType),
    StructField("data", StringType),
    StructField("metadata", MapType(StringType, StringType)),
    StructField("custom_metadata", StringType),
    StructField("revision", LongType),
    StructField("position", LongType)
  ))

  /**
   * Open a subscription on a parquet event-log directory: an unbounded
   * filtered DataFrame positioned at `opts.from`. The caller attaches a
   * sink (`writeStream`); `Trigger.AvailableNow` = catch-up only, default
   * trigger = catch-up then live.
   *
   * `sourceOptions` are the backpressure knobs (T6): the reference's
   * per-subscriber buffer maps to bounded micro-batches —
   * `maxFilesPerTrigger` (and `maxBytesPerTrigger` on sources that
   * support it) caps how much catch-up backlog one trigger ingests, so a
   * subscriber that falls behind processes the backlog in buffer-sized
   * batches instead of one unbounded replay.
   *
   * Subscription reads are forward-only (the reference rejects nothing
   * else: `Count < 0` always reads Forwards, streams.go:264-285); the
   * direction/limit fields of [[ReadOptions]] are ignored here.
   */
  def subscribe(spark: SparkSession, logDir: String, opts: ReadOptions,
                sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    val src = spark.readStream.schema(eventSchema).options(sourceOptions).parquet(logDir)
    val from = opts.from match {
      case FromEnd => From(endOffset(spark, logDir, opts.selector))
      case f       => f
    }
    EventLog.predicates(opts.copy(direction = Forwards, from = from))
      .foldLeft(src)((df, p) => df.filter(p))
  }

  /**
   * Live-only start point: the first yet-unwritten offset of the log
   * (`max + 1`), resolved at subscribe time from the log's writer state
   * with no Spark job (the first use of the state folds the log on the
   * driver; a missing log is empty) — the reference's
   * subscribe-from-current-end (`streams/streams.go:244-252`).
   * Events appended after this call flow; history does not. Stream
   * subscriptions track revision, `$all` subscriptions track position.
   */
  def endOffset(spark: SparkSession, logDir: String, selector: StreamSelector): Long =
    graft.append.Appender.endOffset(spark, logDir, selector)
}
