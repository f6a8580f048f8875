package graft.append

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.model._
import graft.streaming.Subscriptions
import graft.util.ParquetDirs

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
 * transactional table format for multi-writer). Within one JVM, calls
 * on one log serialize on that log's writer state.
 *
 * Cost: every write — [[append]], [[delete]], [[tombstone]] and
 * [[batchAppend]] — is one call of the same commit path, and in the
 * steady state it runs NO Spark job. The preconditions come from the
 * log's writer state (the reference's stream→revision metadata cache,
 * streams.go:61-91): each stream's revision and tombstone flag, the
 * global high-water position, and a 64-bit fingerprint of every
 * (stream, uuid) in the log. The first write or bounded read of a log in
 * this JVM builds its state with one fold on the driver: Spark's parquet
 * reader reads each file, the files in parallel on Scala's global
 * execution context, and no Spark job runs. Every later call lists the
 * directory. A listing that only adds files to the one the state covers
 * (another writer's `df.write`, a copied file) costs a fold of the added
 * files alone; one in which a covered file changed or vanished costs a
 * fold of the whole log; a directory that is gone releases the state. A
 * proposed uuid whose fingerprint is in the state is confirmed by one
 * exact (stream, uuid) query (1 job), so only a call that repeats a
 * pair, or a 64-bit collision, pays one. The rows are written by
 * [[write]] on the driver, as one parquet file. The same state answers
 * bounded reads of the log ([[LogIndex]], used by `EventLog.read` and
 * `Subscriptions.endOffset`) with no Spark job; the folds and every
 * commit keep each stream's positions, one event-type id per position
 * and each file's position span for them. The state costs 20 bytes of
 * driver memory per event (8 for the sorted fingerprints, 8 for the
 * position in its stream's array, which grows by doubling, 4 for the
 * type id), plus one entry per stream, type and file. A file whose row i
 * holds its first position + i (every file [[write]] writes, and any
 * file written in position order) needs no more to find a position's
 * row; a file that is not in position order costs 12 more bytes per
 * event, a sorted position -> row lookup.
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

  /** The (stream, uuid) fingerprint: Spark's `xxhash64` kernel, the same
    * for a proposed event as for a row folded from the log. */
  private val fingerprintExpr = new XxHash64(Seq(
    BoundReference(0, StringType, nullable = true), BoundReference(1, StringType, nullable = true)))

  private def fingerprint(stream: String, uuid: String): Long =
    fingerprintOf(InternalRow(UTF8String.fromString(stream), UTF8String.fromString(uuid)))

  /** The fingerprint of a row whose first two fields are the stream and the uuid. */
  private[append] def fingerprintOf(row: InternalRow): Long = fingerprintExpr.eval(row).asInstanceOf[Long]

  private def mergeSorted(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](a.length + b.length)
    var i = 0
    var j = 0
    while (i + j < out.length) {
      if (j == b.length || (i < a.length && a(i) <= b(j))) { out(i + j) = a(i); i += 1 }
      else { out(i + j) = b(j); j += 1 }
    }
    out
  }

  /** The sorted union of sorted arrays, merged pairwise in a balanced tree. */
  private def mergeAll(as: Seq[Array[Long]]): Array[Long] =
    if (as.size == 1) as.head
    else mergeAll(as.grouped(2).map(g => if (g.size == 2) mergeSorted(g(0), g(1)) else g(0)).toSeq)

  /** A visible file as the state records it: name, size and mtime. */
  private[append] def entry(s: FileStatus): (String, Long, Long) = (s.getPath.getName, s.getLen, s.getModificationTime)

  /** What the single writer knows of one log. `files` is the visible
    * listing the state covers (null: fold before use); `index` answers
    * bounded reads (null: the log breaks one of its invariants). */
  private[append] final class WriterState {
    var files: Set[(String, Long, Long)] = null
    val revisions = mutable.HashMap.empty[String, Long]
    val tombstoned = mutable.HashSet.empty[String]
    var maxPos = 0L
    var fingerprints: Array[Long] = Array.emptyLongArray // sorted
    var index: LogIndex = null
    /** The last exact probe (pairs asked, pairs found); void after any
      * commit or fold, since either can add the pairs it missed. */
    var probed: Option[(Set[(String, String)], Set[(String, String)])] = None
    /** Rows read by the state's folds, over its life. */
    private[graft] var rowsFolded = 0L
    /** Indexed reads answered from the state over its life, the files they
      * opened, the rows they materialized, and the other rows of those
      * files, which they skipped. */
    private[graft] var indexedReads = 0L
    private[graft] var filesOpened = 0L
    private[graft] var rowsMaterialized = 0L
    private[graft] var rowsSkipped = 0L

    def mayContain(fp: Long): Boolean = java.util.Arrays.binarySearch(fingerprints, fp) >= 0

    /** Bring the state to `listing`, the directory's visible files: when
      * it keeps every covered file unchanged, fold only the files it adds;
      * else fold the whole listing into an empty state. One driver-side
      * fold per file ([[SeedPart.read]]); no Spark job. */
    def refresh(spark: SparkSession, listing: Seq[FileStatus]): Unit = {
      val now = listing.map(entry).toSet
      if (now != files) {
        val extend = files != null && files.subsetOf(now)
        val parts = SeedPart.read(spark, if (extend) listing.filterNot(s => files(entry(s))) else listing)
        if (!extend) {
          revisions.clear(); tombstoned.clear(); maxPos = 0L
          fingerprints = Array.emptyLongArray
          index = new LogIndex
        }
        for (pt <- parts; (s, k) <- pt.streams.zipWithIndex) {
          revisions(s) = math.max(pt.maxRevision(k), revisions.getOrElse(s, -1L))
          if (pt.tombstoned(k)) tombstoned += s
        }
        maxPos = parts.map(_.hi).foldLeft(maxPos)(_ max _)
        fingerprints = mergeAll(fingerprints +: parts.map(_.fingerprints))
        if (index != null && !index.extend(parts)) index = null
        rowsFolded += parts.map(_.position.length).sum
        probed = None
        files = now
      }
    }

    /** The pairs of `pairs` that are in the log, by one exact query; the
      * same question twice in a row is answered once. */
    def probe(spark: SparkSession, logDir: String, pairs: Set[(String, String)]): Set[(String, String)] =
      probed.collect { case (asked, found) if asked == pairs => found }.getOrElse {
        // A broadcast set, not an `isin` literal list: a replayed
        // throughput-tier trigger asks about ~500k pairs, and as plan
        // literals they made such a query several times slower.
        val asked = spark.sparkContext.broadcast(pairs)
        val isAsked = udf((s: String, u: String) => asked.value((s, u)))
        val found = try readLog(spark, logDir)
          .filter(col("stream").isin(pairs.map(_._1).toSeq: _*) && isAsked(col("stream"), col("uuid")))
          .select("stream", "uuid").collect().map(r => (r.getString(0), r.getString(1))).toSet
        finally asked.destroy()
        probed = Some(pairs -> found)
        found
      }
  }

  /** One state per log, keyed by the log's qualified path. */
  private val states = new java.util.concurrent.ConcurrentHashMap[String, WriterState]()

  private def keyOf(spark: SparkSession, logDir: String): String = {
    val path = new Path(logDir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(path).toString
  }

  /** The directory's visible parquet files; None when it does not exist. */
  private def listingOf(spark: SparkSession, logDir: String): Option[Seq[FileStatus]] = {
    val files = ParquetDirs.visibleParquet(spark, logDir)
    val path = new Path(logDir)
    if (files.nonEmpty || path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)) Some(files)
    else None
  }

  /** Run `f` on the state of the log at `logDir`, holding its lock, after
    * its refresh to the directory's listing (empty when the directory is
    * missing: the write creates it). */
  private def withState[T](spark: SparkSession, logDir: String)(f: WriterState => T): T = {
    val st = states.computeIfAbsent(keyOf(spark, logDir), _ => new WriterState)
    st.synchronized {
      st.refresh(spark, listingOf(spark, logDir).getOrElse(Nil))
      f(st)
    }
  }

  /** Run `f`, holding the lock, on the state of the log at `logDir` after
    * its refresh to the directory's listing. None when the directory is
    * gone, and then its state is released. */
  private[append] def refreshed[T](spark: SparkSession, logDir: String)(f: WriterState => T): Option[T] = {
    val key = keyOf(spark, logDir)
    val st = states.computeIfAbsent(key, _ => new WriterState)
    st.synchronized {
      listingOf(spark, logDir) match {
        case Some(listing) => st.refresh(spark, listing); Some(f(st))
        case None          => states.remove(key, st); None
      }
    }
  }

  /** The state of the log at `logDir`, if this JVM holds one. */
  private[append] def stateOf(spark: SparkSession, logDir: String): Option[WriterState] =
    Option(states.get(keyOf(spark, logDir)))

  /** [[graft.streaming.Subscriptions.endOffset]] from the log's writer
    * state: the stream's revision + 1 or the log's position + 1, with no
    * Spark job; a missing log is empty. */
  private[graft] def endOffset(spark: SparkSession, logDir: String, selector: StreamSelector): Long = {
    def end(st: WriterState) = selector match {
      case OneStream(s) => st.revisions.getOrElse(s, -1L) + 1L
      case AllStreams   => st.maxPos + 1L
    }
    refreshed(spark, logDir)(end).getOrElse(end(new WriterState))
  }

  private val toUtf8: Any => Any = v => UTF8String.fromString(v.asInstanceOf[String])

  /** A server-assigned row in `Subscriptions.eventSchema` order:
    * `created` stamped in 100-ns ticks (streams.go:150-151). */
  private def logRow(stream: String, e: ProposedEvent, revision: Long, position: Long,
                     created: String): InternalRow =
    InternalRow(toUtf8(stream), toUtf8(e.uuid), toUtf8(e.eventType), toUtf8(e.data),
      ArrayBasedMapData(e.metadata + ("created" -> created), toUtf8, toUtf8),
      e.customMetadata.map(toUtf8).orNull, revision, position)

  /** The one log writer, on the driver, for every call size: Spark's own
    * parquet writer (the session's codec, schema = `Subscriptions.eventSchema`)
    * writes the rows as one file under a hidden name (leading `.`, which
    * Spark's batch and file-stream listings skip), then renames it to its
    * `part-*.parquet` name, so a reader sees the whole file or none of
    * it. Runs no Spark job; returns the new file's status. */
  private def write(spark: SparkSession, logDir: String, rows: Seq[InternalRow]): FileStatus = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, Subscriptions.eventSchema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val dir = new Path(logDir)
    val fs = dir.getFileSystem(job.getConfiguration)
    val (tmp, dst) = (new Path(dir, s".$name.tmp"), new Path(dir, name))
    try {
      val out = factory.newInstance(tmp.toString, Subscriptions.eventSchema, ctx)
      try rows.foreach(out.write) finally out.close()
      if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"cannot rename $tmp to $dst")
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
    fs.getFileStatus(dst)
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
   * The preconditions of every touched stream come from the log's writer
   * state (see Cost above), so in the steady state a call of any size
   * runs no Spark job: a many-stream micro-batch costs what one append
   * costs, plus the rows. Only a proposed pair whose fingerprint is
   * already in the state sends the call's fingerprint hits to one exact
   * query; a call whose checks fail earlier never asks.
   *
   * The checks replay on the driver batch by batch, in call order, in the
   * reference's order (streams.go, backend.go:316-329): tombstone;
   * expected revision against the stream's running revision (a stream in
   * two batches of one call continues its dense sequence); then the
   * (stream, uuid) PK — a uuid repeated within the call so far, then one
   * already in the log. The smallest offending uuid is reported, so the
   * error is deterministic. A call that fails writes nothing and leaves
   * the state as it was.
   */
  def batchAppend(spark: SparkSession, logDir: String,
                  batches: Seq[(String, Seq[ProposedEvent], ExpectedRevision)],
                  nowNanos: Long = System.nanoTime()): Seq[(String, AppendResult)] = {
    require(batches.nonEmpty && batches.forall(_._2.nonEmpty), "empty append")
    for ((_, events, _) <- batches; e <- events; k <- requiredMeta if !e.metadata.contains(k))
      throw MissingMetadata(k)
    withState(spark, logDir) { st =>
      val fps = batches.map { case (s, es, _) => es.map(e => fingerprint(s, e.uuid)) }
      val hits = batches.zip(fps).flatMap { case ((s, es, _), f) =>
        es.zip(f).collect { case (e, fp) if st.mayContain(fp) => (s, e.uuid) }
      }.toSet
      lazy val inLog = st.probe(spark, logDir, hits)
      val created = (nowNanos / 100L).toString
      var maxPos = st.maxPos
      val results = Seq.newBuilder[(String, AppendResult)]
      val rows = Seq.newBuilder[InternalRow]
      val added = Seq.newBuilder[(String, String, Long, Long)] // for the index
      val revs = mutable.Map.empty[String, Long]
      val seen = mutable.Set.empty[(String, String)]
      for ((stream, events, expected) <- batches) {
        if (st.tombstoned(stream)) throw StreamDeleted(stream)
        val currentRev = revs.getOrElse(stream, st.revisions.getOrElse(stream, -1L))
        checkRevision(stream, currentRev, expected)
        val uuids = events.map(_.uuid)
        (uuids.diff(uuids.distinct) ++ uuids.filter(u => seen((stream, u)))).minOption
          .orElse(uuids.filter(u => hits((stream, u)) && inLog((stream, u))).minOption)
          .foreach(u => throw EventConflict(stream, u))
        seen ++= uuids.map(stream -> _)
        rows ++= events.zipWithIndex.map { case (e, i) =>
          added += ((stream, e.eventType, currentRev + 1L + i, maxPos + 1L + i))
          logRow(stream, e, currentRev + 1L + i, maxPos + 1L + i, created)
        }
        results += stream -> AppendResult(currentRev + 1L, currentRev + events.size,
          maxPos + 1L, maxPos + events.size)
        revs(stream) = currentRev + events.size
        maxPos += events.size
      }
      val file = try write(spark, logDir, rows.result())
      catch { case e: Throwable => st.files = null; throw e }
      st.files += entry(file)
      if (st.index != null) {
        if (added.result().forall { case (s, t, r, p) => st.index.add(s, t, r, p) })
          st.index.spans(file.getPath.getName) = Span.ordered(st.maxPos + 1L, maxPos)
        else st.index = null
      }
      st.revisions ++= revs
      st.tombstoned ++= batches.collect { case (s, es, _) if es.exists(_.eventType == TombstoneMarker) => s }
      st.maxPos = maxPos
      st.fingerprints = mergeSorted(st.fingerprints, fps.flatten.toArray.sorted)
      st.probed = None
      results.result()
    }
  }

  /** True when EVERY (stream, uuid) of `pairs` is already in the log and
    * no pair repeats: the test for a redelivered, fully applied batch
    * after [[batchAppend]] rejected it with an [[EventConflict]].
    * Answered from the writer state: a fingerprint miss means "no" with
    * no query, and the exact check is the probe the rejected call just
    * ran, so a redelivery pays that one query. */
  def alreadyApplied(spark: SparkSession, logDir: String, pairs: Seq[(String, String)]): Boolean =
    pairs.distinct.size == pairs.size && withState(spark, logDir) { st =>
      val asked = pairs.toSet
      asked.forall { case (s, u) => st.mayContain(fingerprint(s, u)) } &&
        st.probe(spark, logDir, asked) == asked
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
    ParquetDirs.readOrEmpty(spark, logDir, Subscriptions.eventSchema)
}
