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
 * Cost: every write — [[append]], [[delete]], [[tombstone]] and
 * [[batchAppend]] — is one call of the same commit path. It reads every
 * precondition of every touched stream (revision, tombstone flag, "some
 * proposed uuid is already here") and the global high-water position in
 * ONE grouped aggregate over the log (one scan, 2 Spark jobs under AQE),
 * replays the checks on the driver in call order, and writes the rows as
 * one parquet file (1 job): 3 jobs per call, however many streams.
 * Only a call that proposes a uuid already in a touched stream pays one
 * more query, to name the conflicting pairs. At scale the state would
 * come from the writer's own watermark and key state (SURVEY.md §7.3),
 * not a log scan.
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

  /**
   * Append a batch of proposed events to `stream` in the parquet log at
   * `logDir`, enforcing the expected-revision precondition. `nowNanos`
   * is injected for deterministic `created` stamps.
   */
  def append(spark: SparkSession, logDir: String, stream: String,
             events: Seq[ProposedEvent], expected: ExpectedRevision = AnyRevision,
             nowNanos: Long = System.nanoTime()): AppendResult =
    batchAppend(spark, logDir, Seq((stream, events, expected)), nowNanos).head._2

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
    append(spark, logDir, stream, Seq(marker(s"del-$nowNanos", DeletedMarker)), expected, nowNanos)

  /**
   * Hard delete: appends a `$tombstoned` marker; any later append to the
   * stream fails with [[StreamDeleted]] (irreversible).
   */
  def tombstone(spark: SparkSession, logDir: String, stream: String,
                expected: ExpectedRevision = AnyRevision, nowNanos: Long = System.nanoTime()): AppendResult =
    append(spark, logDir, stream, Seq(marker(s"tomb-$nowNanos", TombstoneMarker)), expected, nowNanos)

  /**
   * Batch append, the one commit path: one call, many streams, one global
   * position sequence, all rows written together as one parquet file
   * (single-writer contract as [[append]]).
   *
   * One grouped aggregate reads the preconditions of all touched streams
   * (untouched streams collapse into one null group that still feeds the
   * position max), so a many-stream micro-batch costs the same 3 Spark
   * jobs as one append. Its uuid flag tests each log row against the
   * proposed (stream, uuid) pairs, broadcast once as a set (a broadcast
   * variable runs no job). Its buffers must stay fixed-width: a
   * `collect_set` of the conflicting uuids turns the plan into a
   * non-codegen ObjectHashAggregate, so the pairs already in the log are
   * read by a second query, and only when a stream's flag says one is there.
   *
   * The checks replay on the driver batch by batch, in call order, in the
   * reference's order (streams.go, backend.go:316-329): tombstone;
   * expected revision against the stream's running revision (a stream in
   * two batches of one call continues its dense sequence); then the
   * (stream, uuid) PK — a uuid repeated within the call so far, then one
   * already in the log. The smallest offending uuid is reported, so the
   * error is deterministic.
   */
  def batchAppend(spark: SparkSession, logDir: String,
                  batches: Seq[(String, Seq[ProposedEvent], ExpectedRevision)],
                  nowNanos: Long = System.nanoTime()): Seq[(String, AppendResult)] = {
    require(batches.nonEmpty && batches.forall(_._2.nonEmpty), "empty append")
    for ((_, events, _) <- batches; e <- events; k <- requiredMeta if !e.metadata.contains(k))
      throw MissingMetadata(k)
    val log = readLog(spark, logDir)
    // A broadcast set, not an `isin` literal list: a throughput-tier
    // trigger proposes ~500k pairs, and as plan literals they made such a
    // trigger several times slower.
    val proposed = spark.sparkContext.broadcast(
      batches.flatMap { case (s, es, _) => es.map(e => (s, e.uuid)) }.toSet)
    val isProposed = udf((s: String, u: String) => proposed.value((s, u)))
    try {
      val touched = col("stream").isin(batches.map(_._1).distinct: _*)
      val state = log
        .groupBy(when(touched, col("stream")))
        .agg(max(col("revision")), max(col("position")), max(col("event_type") === TombstoneMarker),
          max(when(touched, isProposed(col("stream"), col("uuid")))))
        .collect()
      val byStream = state.filterNot(_.isNullAt(0)).map(r => r.getString(0) -> r).toMap
      val flagged = byStream.collect { case (s, r) if r.get(4) == true => s }.toSet
      lazy val inLog: Set[(String, String)] = log
        .filter(col("stream").isin(flagged.toSeq: _*) && isProposed(col("stream"), col("uuid")))
        .select("stream", "uuid").collect().map(r => (r.getString(0), r.getString(1))).toSet
      var maxPos = state.map(_.getLong(2)).maxOption.getOrElse(0L)
      val results = Seq.newBuilder[(String, AppendResult)]
      val rows = Seq.newBuilder[LogRow]
      val revs = scala.collection.mutable.Map.empty[String, Long]
      val seen = scala.collection.mutable.Set.empty[(String, String)]
      for ((stream, events, expected) <- batches) {
        if (byStream.get(stream).exists(_.get(3) == true)) throw StreamDeleted(stream)
        val currentRev = revs.getOrElse(stream, byStream.get(stream).fold(-1L)(_.getLong(1)))
        checkRevision(stream, currentRev, expected)
        val uuids = events.map(_.uuid)
        (uuids.diff(uuids.distinct) ++ uuids.filter(u => seen((stream, u)))).minOption
          .orElse(uuids.filter(u => flagged(stream) && inLog((stream, u))).minOption)
          .foreach(u => throw EventConflict(stream, u))
        seen ++= uuids.map(stream -> _)
        rows ++= logRows(stream, events, currentRev, maxPos, nowNanos)
        results += stream -> AppendResult(currentRev + 1L, currentRev + events.size,
          maxPos + 1L, maxPos + events.size)
        revs(stream) = currentRev + events.size
        maxPos += events.size
      }
      write(spark, logDir, rows.result())
      results.result()
    } finally proposed.destroy()
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
