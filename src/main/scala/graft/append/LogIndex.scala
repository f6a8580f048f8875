package graft.append

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.log.EventLog
import graft.model._
import graft.streaming.Subscriptions

/** A growable array of longs. */
private final class Longs {
  private var a = new Array[Long](4)
  var size = 0
  def apply(i: Int): Long = a(i)
  def +=(v: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v
    size += 1
  }
  /** The number of elements below `v` (the array is sorted). */
  def below(v: Long): Int = {
    val i = java.util.Arrays.binarySearch(a, 0, size, v)
    if (i >= 0) i else -i - 1
  }
}

/** A growable array of ints. */
private final class Ints {
  private var a = new Array[Int](4)
  var size = 0
  def apply(i: Int): Int = a(i)
  def +=(v: Int): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v
    size += 1
  }
}

/** One partition of the writer state's seed scan, dictionary-coded: row i
  * is (`streams(stream(i))`, `types(tpe(i))`, `revision(i)`,
  * `position(i)`, `fingerprint(i)`); stream k's max revision is
  * `maxRevision(k)` and `tombstoned(k)` says whether it has a tombstone;
  * `files` holds each file's name and its min and max position. */
private[append] final case class SeedPart(
    streams: Array[String], maxRevision: Array[Long], tombstoned: Array[Boolean],
    types: Array[String], files: Array[(String, Long, Long)],
    stream: Array[Int], tpe: Array[Int], revision: Array[Long], position: Array[Long],
    fingerprint: Array[Long])

private[append] object SeedPart {
  /** Rows of (stream, event type, revision, position, fingerprint, input
    * file), read as Spark's internal rows: a file's name is decoded once
    * per run of its rows, not per row. */
  def fold(rows: Iterator[InternalRow]): SeedPart = {
    val streams, types = mutable.LinkedHashMap.empty[String, Int]
    val (maxRev, tomb) = (mutable.ArrayBuffer.empty[Long], mutable.ArrayBuffer.empty[Boolean])
    val files = mutable.HashMap.empty[String, (Long, Long)]
    val (s, t) = (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int])
    val (rev, pos, fps) = (mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Long])
    var (file, name) = (UTF8String.EMPTY_UTF8, "")
    def str(row: InternalRow, i: Int) = if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    rows.foreach { row =>
      if (row.isNullAt(2) || row.isNullAt(3)) throw new IllegalStateException("a log row has a null revision or position")
      val (st, et, r, p) = (str(row, 0), str(row, 1), row.getLong(2), row.getLong(3))
      val k = streams.getOrElseUpdate(st, { maxRev += -1L; tomb += false; streams.size })
      maxRev(k) = maxRev(k) max r
      tomb(k) ||= et == Appender.TombstoneMarker
      s += k
      t += types.getOrElseUpdate(et, types.size)
      rev += r; pos += p; fps += row.getLong(4)
      if (row.getUTF8String(5) != file) {
        file = row.getUTF8String(5).clone()
        name = SparkPath.fromUrlString(file.toString).toPath.getName
      }
      files(name) = files.get(name).fold((p, p)) { case (lo, hi) => (lo min p, hi max p) }
    }
    SeedPart(streams.keys.toArray, maxRev.toArray, tomb.toArray, types.keys.toArray,
      files.map { case (f, (lo, hi)) => (f, lo, hi) }.toArray,
      s.result(), t.result(), rev.result(), pos.result(), fps.result())
  }
}

/**
 * The read side of a writer state (the reference's `stream_index` and
 * `position_index`, backend.go:52-53), kept for a log whose per-stream
 * revisions are dense from 0 in position order and whose global
 * positions are dense from 1:
 *  - each stream's positions, in revision order;
 *  - one dictionary-coded event-type id per position;
 *  - each visible file's min and max position.
 * Costs 8 bytes per event (its position in its stream's array) plus 4
 * (its type id) on the driver, plus per-stream and per-file entries.
 */
private[append] final class LogIndex {
  private val streams = mutable.HashMap.empty[String, Longs]
  private val typeNames = mutable.ArrayBuffer.empty[String]
  private val typeIds = mutable.HashMap.empty[String, Int]
  private val types = new Ints
  /** File name -> (min, max) position. */
  val spans = mutable.HashMap.empty[String, (Long, Long)]

  private def maxPos: Long = types.size.toLong

  /** Add the row at the next position; false (and the index is void)
    * when it breaks an invariant. */
  def add(stream: String, eventType: String, revision: Long, position: Long): Boolean =
    stream != null && eventType != null && position == maxPos + 1 && {
      val ps = streams.getOrElseUpdate(stream, new Longs)
      revision == ps.size && {
        ps += position
        types += typeIds.getOrElseUpdate(eventType, { typeNames += eventType; typeNames.size - 1 })
        true
      }
    }

  /**
   * The positions a read of at most `n` rows returns, in read order.
   * `keep(target, value)` is the read's server-side filter on a stream id
   * or event type; it is evaluated once per distinct value.
   */
  def pick(opts: ReadOptions, n: Int, keep: (FilterTarget, String) => Boolean): Array[Long] = {
    val asc = (opts.direction, opts.from) match {
      case (Forwards, FromEnd)    => false
      case (Backwards, FromStart) => true
      case (d, _)                 => d == Forwards
    }
    val start = opts.from match {
      case From(v) => v
      case _       => if (asc) Long.MinValue else Long.MaxValue
    }
    val on = opts.filter.map(_.target)
    val typeOk = typeNames.map(t => !on.contains(OnEventType) || keep(OnEventType, t)).toArray
    def streamOk(s: String) = !on.contains(OnStreamId) || keep(OnStreamId, s)
    // keys lo..hi map to positions; walk from `start` in read order
    def walk(start: Long, lo: Long, hi: Long, pos: Long => Long): Array[Long] = {
      val out = mutable.ArrayBuilder.make[Long]
      var (key, got) = (if (asc) start max lo else start min hi, 0)
      while (got < n && key >= lo && key <= hi) {
        val p = pos(key)
        if (typeOk(types((p - 1).toInt))) { out += p; got += 1 }
        key += (if (asc) 1 else -1)
      }
      out.result()
    }
    opts.selector match {
      case OneStream(s) =>
        streams.get(s).filter(_ => streamOk(s))
          .fold(Array.emptyLongArray)(ps => walk(start, 0L, ps.size - 1L, r => ps(r.toInt)))
      case AllStreams if on.contains(OnStreamId) =>
        // each kept stream's first n from the bound, merged
        val each = streams.iterator.collect { case (s, ps) if streamOk(s) =>
          val i = ps.below(start) // the first index at or after the bound
          walk(if (asc || (i < ps.size && ps(i) == start)) i else i - 1L, 0L, ps.size - 1L, k => ps(k.toInt))
        }.flatten.toArray.sorted
        (if (asc) each else each.reverse).take(n)
      case AllStreams =>
        walk(start, 1L, maxPos, identity)
    }
  }
}

private[append] object LogIndex {
  /** The index of a seeded log, or null when the log breaks an invariant. */
  def build(parts: Seq[SeedPart]): LogIndex = {
    val n = parts.map(_.position.length).sum
    // the (part, row) at each position 1..n; a gap or repeat shows as a miss
    val (part, row) = (Array.fill(n)(-1), new Array[Int](n))
    val dense = parts.indices.forall { k =>
      parts(k).position.indices.forall { i =>
        val p = parts(k).position(i)
        p >= 1 && p <= n && part((p - 1).toInt) < 0 && { part((p - 1).toInt) = k; row((p - 1).toInt) = i; true }
      }
    }
    val idx = new LogIndex
    val ok = dense && (0 until n).forall { j =>
      val (pt, i) = (parts(part(j)), row(j))
      idx.add(pt.streams(pt.stream(i)), pt.types(pt.tpe(i)), pt.revision(i), j + 1L)
    }
    for (pt <- parts; (f, lo, hi) <- pt.files)
      idx.spans(f) = idx.spans.get(f).fold((lo, hi)) { case (a, b) => (a min lo, b max hi) }
    if (ok) idx else null
  }
}

/**
 * Bounded reads of a log this JVM writes, answered on the driver with no
 * Spark job: the writer state's [[LogIndex]] picks the rows, Spark's
 * parquet reader fetches them from the files that hold them.
 */
private[graft] object IndexedRead {

  /** The rows `EventLog.read(events, opts)` returns, or None when
    * `events` is not a bare parquet relation over one log directory whose
    * listing snapshot the writer state covers, or the read is unbounded. */
  def apply(events: DataFrame, opts: ReadOptions): Option[DataFrame] =
    for {
      n <- ((opts.direction, opts.from) match {
        case (Forwards, FromEnd) | (Backwards, FromStart) => Some(1)
        case _                                          => opts.count.map(_.toInt).filter(_ >= 0)
      })
      (r, files) <- logRelation(events)
      root = files.rootPaths.head
      statuses = files.allFiles()
      listing = statuses.map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSet
      if statuses.forall(_.getPath.getParent == root) &&
        Appender.current(root.toString, listing)(_.index != null).contains(true)
      spark = events.sparkSession
      (filter, all) = predicates(spark, r.dataSchema, opts)
      (wanted, spans) <- Appender.current(root.toString, listing) { st =>
        Option(st.index).map { idx =>
          val probe = new GenericInternalRow(r.dataSchema.length)
          val wanted = idx.pick(opts, n, (target, v) => {
            val field = target match { case OnStreamId => "stream"; case OnEventType => "event_type" }
            probe.update(r.dataSchema.fieldIndex(field), UTF8String.fromString(v))
            filter(probe)
          })
          (wanted, idx.spans.toMap)
        }
      }.flatten
      rows <- fetch(spark, r, statuses, spans, wanted)
      if rows.forall(all)
    } yield {
      val toRow = CatalystTypeConverters.createToScalaConverter(events.schema)
      spark.createDataFrame(rows.map(toRow(_).asInstanceOf[Row]).asJava, events.schema)
    }

  /** `events` as the bare relation `Appender.readLog` opens over a log
    * directory, with its listing snapshot. */
  private def logRelation(events: DataFrame): Option[(HadoopFsRelation, InMemoryFileIndex)] =
    events.queryExecution.analyzed match {
      case LogicalRelation(r: HadoopFsRelation, _, None, false, _) => r.location match {
        case files: InMemoryFileIndex if files.rootPaths.size == 1 && r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            r.partitionSchema.isEmpty && r.bucketSpec.isEmpty && r.dataSchema == Subscriptions.eventSchema =>
          Some((r, files))
        case _ => None
      }
      case _ => None
    }

  /** `opts`'s server-side filter and the conjunction of all of
    * `EventLog.predicates(opts)`, resolved by the session's analyzer over
    * rows of `schema` and run by Spark's expression interpreter. */
  private def predicates(spark: SparkSession, schema: StructType,
                         opts: ReadOptions): (InternalRow => Boolean, InternalRow => Boolean) = {
    def conj(cs: Seq[Column]) = cs.reduceOption(_ && _).getOrElse(lit(true))
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .select(conj(opts.filter.map(EventLog.compileFilter).toSeq), conj(EventLog.predicates(opts)))
      .queryExecution.analyzed match {
      case Project(Seq(Alias(f, _), Alias(a, _)), child) =>
        def interpreted(e: Expression): InternalRow => Boolean = {
          val p = Predicate.createInterpreted(BindReferences.bindReference(e, child.output))
          p.initialize(0)
          p.eval
        }
        (interpreted(f), interpreted(a))
    }
  }

  /** The rows at `wanted`, in its order, read on the driver from the files
    * whose position span holds one; None when one is missing. */
  private def fetch(spark: SparkSession, r: HadoopFsRelation, statuses: Seq[FileStatus],
                    spans: Map[String, (Long, Long)], wanted: Array[Long]): Option[Seq[InternalRow]] = {
    val sorted = wanted.sorted
    val files = statuses.filter { s =>
      spans.get(s.getPath.getName).exists { case (lo, hi) =>
        val i = java.util.Arrays.binarySearch(sorted, lo)
        val at = if (i >= 0) i else -i - 1
        at < sorted.length && sorted(at) <= hi
      }
    }
    val found = mutable.LongMap.empty[InternalRow]
    if (files.nonEmpty) {
      val posField = r.dataSchema.fieldIndex("position")
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, r.dataSchema, r.partitionSchema,
        r.dataSchema, Seq(sources.GreaterThanOrEqual("position", sorted.head), sources.LessThanOrEqual("position", sorted.last)),
        r.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConfWithOptions(r.options))
      for (s <- files) {
        val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(s), 0L, s.getLen,
          modificationTime = s.getModificationTime, fileSize = s.getLen))
        try rows.foreach { row =>
          val p = row.getLong(posField)
          if (java.util.Arrays.binarySearch(sorted, p) >= 0) found(p) = row.copy()
        } finally rows match { case c: java.io.Closeable => c.close(); case _ => }
      }
    }
    if (wanted.forall(found.contains)) Some(wanted.toSeq.map(found)) else None
  }
}
