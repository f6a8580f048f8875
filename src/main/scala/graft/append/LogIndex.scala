package graft.append

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
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

/** One file of the log, folded for the writer state, dictionary-coded: row
  * i is (`streams(stream(i))`, `types(tpe(i))`, `revision(i)`,
  * `position(i)`); stream k's max revision is `maxRevision(k)` and
  * `tombstoned(k)` says whether it has a tombstone; `fingerprints` are
  * the rows' (stream, uuid) fingerprints, sorted; `lo` and `hi` are the
  * file's min and max position (Long.MaxValue and Long.MinValue when it
  * has no rows). */
private[append] final case class SeedPart(
    file: String, streams: Array[String], maxRevision: Array[Long], tombstoned: Array[Boolean],
    types: Array[String], stream: Array[Int], tpe: Array[Int], revision: Array[Long], position: Array[Long],
    fingerprints: Array[Long], lo: Long, hi: Long)

private[append] object SeedPart {
  /** The columns a fold reads, in this order: the fingerprint hashes the first two. */
  private val columns = StructType(Seq("stream", "uuid", "event_type", "revision", "position")
    .map(Subscriptions.eventSchema(_)))

  private val tombstone = UTF8String.fromString(Appender.TombstoneMarker)

  /** The parts of `files`, one per file, folded in parallel on Scala's
    * global execution context from Spark's parquet reader, run on the
    * driver over each whole file. Runs no Spark job. */
  def read(spark: SparkSession, files: Seq[FileStatus]): Seq[SeedPart] =
    if (files.isEmpty) Nil
    else {
      import scala.concurrent.ExecutionContext.Implicits.global
      val open = new ParquetFileFormat().buildReaderWithPartitionValues(spark, Subscriptions.eventSchema,
        new StructType(), columns, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
      Await.result(Future.traverse(files) { s =>
        Future {
          val rows = open(PartitionedFile(InternalRow.empty, SparkPath.fromFileStatus(s), 0L, s.getLen,
            modificationTime = s.getModificationTime, fileSize = s.getLen))
          try fold(s.getPath.getName, rows) finally rows match { case c: java.io.Closeable => c.close(); case _ => }
        }
      }, Duration.Inf)
    }

  /** Rows of [[columns]] from the file `file`, read as Spark's internal
    * rows: a stream or type name is decoded once per part, not per row. */
  private def fold(file: String, rows: Iterator[InternalRow]): SeedPart = {
    val (streamIds, typeIds) = (mutable.HashMap.empty[UTF8String, Int], mutable.HashMap.empty[UTF8String, Int])
    val (streams, types) = (mutable.ArrayBuffer.empty[String], mutable.ArrayBuffer.empty[String])
    val (maxRev, tomb) = (mutable.ArrayBuffer.empty[Long], mutable.ArrayBuffer.empty[Boolean])
    val (s, t) = (mutable.ArrayBuilder.make[Int], mutable.ArrayBuilder.make[Int])
    val (rev, pos, fps) = (mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Long], mutable.ArrayBuilder.make[Long])
    var (lo, hi) = (Long.MaxValue, Long.MinValue)
    def id(ids: mutable.HashMap[UTF8String, Int], names: mutable.ArrayBuffer[String], v: UTF8String): Int =
      ids.getOrElse(v, {
        ids(if (v == null) null else v.clone()) = names.size
        names += (if (v == null) null else v.toString)
        names.size - 1
      })
    def utf8(row: InternalRow, i: Int) = if (row.isNullAt(i)) null else row.getUTF8String(i)
    rows.foreach { row =>
      if (row.isNullAt(3) || row.isNullAt(4)) throw new IllegalStateException("a log row has a null revision or position")
      val (et, r, p) = (utf8(row, 2), row.getLong(3), row.getLong(4))
      val k = id(streamIds, streams, utf8(row, 0))
      if (k == maxRev.size) { maxRev += -1L; tomb += false }
      maxRev(k) = maxRev(k) max r
      tomb(k) ||= et == tombstone
      s += k
      t += id(typeIds, types, et)
      rev += r; pos += p; fps += Appender.fingerprintOf(row)
      lo = lo min p; hi = hi max p
    }
    val fingerprints = fps.result()
    java.util.Arrays.sort(fingerprints)
    SeedPart(file, streams.toArray, maxRev.toArray, tomb.toArray, types.toArray,
      s.result(), t.result(), rev.result(), pos.result(), fingerprints, lo, hi)
  }
}

/** A file's min and max position, `lo` and `hi`, and the row that holds
  * each of its positions: row p - lo in an ordered file, one whose row i
  * holds position lo + i (`sorted` null); else `rows(i)` holds position
  * `sorted(i)`. */
private[append] final class Span private (val lo: Long, val hi: Long, sorted: Array[Long], rows: Array[Int]) {
  /** The row that holds position `p`, or -1 when the file has none. */
  def rowOf(p: Long): Int =
    if (p < lo || p > hi) -1
    else if (sorted == null) (p - lo).toInt
    else {
      val i = java.util.Arrays.binarySearch(sorted, p)
      if (i >= 0) rows(i) else -1
    }
}

private[append] object Span {
  def ordered(lo: Long, hi: Long): Span = new Span(lo, hi, null, null)

  /** The span of a part: free when the part is ordered, else a sorted
    * position -> row lookup (12 bytes per row). */
  def of(pt: SeedPart): Span = {
    val pos = pt.position
    if (pos.indices.forall(i => pos(i) == pt.lo + i)) ordered(pt.lo, pt.hi)
    else {
      val rows = pos.indices.sortBy(pos(_)).toArray
      new Span(pt.lo, pt.hi, rows.map(pos(_)), rows)
    }
  }
}

/**
 * The read side of a writer state (the reference's `stream_index` and
 * `position_index`, backend.go:52-53), kept for a log whose per-stream
 * revisions are dense from 0 in position order and whose global
 * positions are dense from 1:
 *  - each stream's positions, in revision order;
 *  - one dictionary-coded event-type id per position;
 *  - each visible file's [[Span]]: its min and max position, and the row
 *    of each position in it.
 * Costs 8 bytes per event (its position in its stream's array) plus 4
 * (its type id) on the driver, plus per-stream and per-file entries, plus
 * 12 per event of a file that is not ordered.
 */
private[append] final class LogIndex {
  private val streams = mutable.HashMap.empty[String, Longs]
  private val typeNames = mutable.ArrayBuffer.empty[String]
  private val typeIds = mutable.HashMap.empty[String, Int]
  private val types = new Ints
  /** File name -> its span. */
  val spans = mutable.HashMap.empty[String, Span]

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

  /** Add the rows of `parts`, which must continue the positions densely;
    * false (and the index is void) when they do not, or a row breaks an
    * invariant. */
  def extend(parts: Seq[SeedPart]): Boolean = {
    val (base, n) = (maxPos, parts.map(_.position.length).sum)
    // the (part, row) at each position base+1..base+n; a gap or repeat shows as a miss
    val (part, row) = (Array.fill(n)(-1), new Array[Int](n))
    val dense = parts.indices.forall { k =>
      parts(k).position.indices.forall { i =>
        val j = parts(k).position(i) - base - 1L
        j >= 0L && j < n && part(j.toInt) < 0 && { part(j.toInt) = k; row(j.toInt) = i; true }
      }
    }
    for (pt <- parts if pt.position.nonEmpty) spans(pt.file) = Span.of(pt)
    dense && (0 until n).forall { j =>
      val (pt, i) = (parts(part(j)), row(j))
      add(pt.streams(pt.stream(i)), pt.types(pt.tpe(i)), pt.revision(i), base + j + 1L)
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

/**
 * Bounded reads of a log, answered on the driver with no Spark job: the
 * log's writer state, refreshed to the directory's listing, picks the rows
 * from its [[LogIndex]], whose file spans give each answer's row in its
 * file, and parquet's row-range read ([[EventRows]]) materializes just
 * those rows: one row per returned row. It skips the other rows of those
 * files, and does not read a page that holds no answer row.
 */
private[graft] object IndexedRead {

  /** The rows `EventLog.read(events, opts)` returns, or None when
    * `events` is not a bare parquet relation over one log directory whose
    * listing snapshot is the writer state's after its refresh, the read is
    * unbounded, or a file that holds an answer row cannot be read by rows. */
  def apply(events: DataFrame, opts: ReadOptions): Option[DataFrame] =
    for {
      n <- ((opts.direction, opts.from) match {
        case (Forwards, FromEnd) | (Backwards, FromStart) => Some(1)
        case _                                          => opts.count.map(_.toInt).filter(_ >= 0)
      })
      (r, files) <- logRelation(events)
      root = files.rootPaths.head
      statuses = files.allFiles()
      if statuses.forall(_.getPath.getParent == root)
      snapshot = statuses.map(Appender.entry).toSet
      spark = events.sparkSession
      (filter, all) = predicates(spark, r.dataSchema, opts)
      (st, wanted, spans) <- Appender.refreshed(spark, root.toString) { st =>
        Option(st.index).filter(_ => st.files == snapshot).map { idx =>
          val probe = new GenericInternalRow(r.dataSchema.length)
          val wanted = idx.pick(opts, n, (target, v) => {
            val field = target match { case OnStreamId => "stream"; case OnEventType => "event_type" }
            probe.update(r.dataSchema.fieldIndex(field), UTF8String.fromString(v))
            filter(probe)
          })
          (st, wanted, idx.spans.toMap)
        }
      }.flatten
      rows <- fetch(spark, st, statuses, spans, wanted)
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

  /** The rows at `wanted`, in its order, read on the driver: each file
    * whose span holds some reads just those rows ([[EventRows]]). None
    * when such a file cannot be read by rows, or a row holds another
    * position. The read's counts are added to `st`'s. */
  private def fetch(spark: SparkSession, st: Appender.WriterState, statuses: Seq[FileStatus],
                    spans: Map[String, Span], wanted: Array[Long]): Option[Seq[InternalRow]] = {
    val posField = Subscriptions.eventSchema.fieldIndex("position")
    val conf = spark.sessionState.newHadoopConf()
    val found = mutable.LongMap.empty[InternalRow]
    var (files, materialized, skipped) = (0L, 0L, 0L)
    val read = statuses.forall { s =>
      // (row, position) of each wanted position in the file, in row order
      val at = spans.get(s.getPath.getName).fold(Array.empty[(Long, Long)]) { span =>
        wanted.flatMap(p => Some(span.rowOf(p)).filter(_ >= 0).map(r => (r.toLong, p))).sortBy(_._1)
      }
      at.isEmpty || {
        files += 1
        EventRows.read(conf, s, at.map(_._1)).exists { case (rows, n) =>
          materialized += rows.length
          skipped += n - rows.length
          rows.indices.forall { i =>
            val p = at(i)._2
            !rows(i).isNullAt(posField) && rows(i).getLong(posField) == p && { found(p) = rows(i); true }
          }
        }
      }
    }
    st.synchronized {
      st.indexedReads += 1
      st.filesOpened += files
      st.rowsMaterialized += materialized
      st.rowsSkipped += skipped
    }
    if (read && wanted.forall(found.contains)) Some(wanted.toSeq.map(found)) else None
  }
}
