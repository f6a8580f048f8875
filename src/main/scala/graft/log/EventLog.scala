package graft.log

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model._

/**
 * Batch read path over an event-log DataFrame — the engine's main "query".
 *
 * Re-expresses the reference's SQL assembly
 * (`/root/reference/internal/backend/backend.go:97-226`: WHERE ∧-join,
 * ORDER BY revision|position, LIMIT) as a declarative DataFrame plan so
 * Catalyst does predicate/limit pushdown and `TakeOrderedAndProject` top-k
 * for free (SURVEY.md §4).
 *
 * Required input columns: `stream` (STRING), `event_type` (STRING),
 * `revision` (LONG, 0-based dense per stream), `position` (LONG, 1-based
 * dense global). All other columns pass through.
 *
 * A bounded read (a count, or a one-row boundary read) of the bare
 * relation `Appender.readLog` opens over a log directory runs no Spark
 * job (see [[graft.append.IndexedRead]]). It refreshes the log's writer
 * state to the directory's listing, which the first read or write in
 * this JVM builds and a new file extends, both by a fold on the driver.
 * When the state then covers the relation's listing snapshot, its index
 * picks the answer positions, evaluating [[predicates]]' server-side
 * filter once per distinct stream or event type. The state also knows
 * each answer's row in its file, so the driver materializes just the
 * rows it returns: parquet's row-range read skips the other rows of those
 * files and does not read their pages that hold no answer. Every other
 * read (another relation, a DataFrame opened before the log changed, an
 * unbounded read, a file without a parquet offset index or of another
 * column layout), and a log that breaks the dense-revision or
 * dense-position invariant, runs the plan below.
 *
 * Scale notes (100 TB):
 *  - every predicate here is a plain comparison / StartsWith on a scan
 *    column — pushed into the parquet reader (row-group pruning on
 *    `position` works because the log is written in position order);
 *  - `orderBy + limit` compiles to `TakeOrderedAndProject` — a per-partition
 *    top-k plus a single driver merge, no global sort;
 *  - prefix filters are a `startsWith` disjunction, NOT the reference's
 *    anchored alternation regex (`backend.go:228-238`), so they remain
 *    sargable/pushable.
 */
object EventLog {

  /** Execute a bounded read. Result rows are sorted in read order. */
  def read(events: DataFrame, opts: ReadOptions): DataFrame =
    graft.append.IndexedRead(events, opts).getOrElse(plan(events, opts))

  /** The read as a Spark plan. */
  private def plan(events: DataFrame, opts: ReadOptions): DataFrame = {
    val field = orderField(opts.selector)
    // Direction × origin semantics, incl. the degenerate boundary reads the
    // reference pins in tests (`streams_test.go:235-303`):
    //   Forwards  from End   -> the single LAST event   (backend.go:135-143)
    //   Backwards from Start -> the single FIRST event  (backend.go:164-171)
    val (sortCol, limit1) = (opts.direction, opts.from) match {
      case (Forwards, FromEnd)    => (field.desc, true)
      case (Backwards, FromStart) => (field.asc, true)
      case (Forwards, _)          => (field.asc, false)
      case (Backwards, _)         => (field.desc, false)
    }
    val sorted = predicates(opts).foldLeft(events)((df, p) => df.filter(p)).orderBy(sortCol)
    if (limit1) sorted.limit(1)
    else opts.count.fold(sorted)(n => sorted.limit(n.toInt))
  }

  /** Field a read orders and ranges over: `revision` for single-stream
    * reads, `position` for $all (ref backend.go:118-152 vs 154-194). */
  private def orderField(selector: StreamSelector): Column = selector match {
    case OneStream(_) => col("revision")
    case AllStreams   => col("position")
  }

  /** The read's pushable predicates, in plan order: the stream, the
    * range bound from `opts.from` in `opts.direction`, the server-side
    * filter. Shared by batch reads and subscriptions. */
  def predicates(opts: ReadOptions): Seq[Column] = {
    val streamPred = opts.selector match {
      case OneStream(s) => Some(col("stream") === lit(s))
      case AllStreams   => None
    }
    val field = orderField(opts.selector)
    val rangePred = (opts.direction, opts.from) match {
      case (Forwards, From(v))  => Some(field >= v)
      case (Backwards, From(v)) => Some(field <= v)
      case _                    => None
    }
    streamPred.toSeq ++ rangePred ++ opts.filter.map(compileFilter)
  }

  /**
   * Compile a server-side filter to a pushable Column predicate
   * (ref `backend/backend.go:180-186,228-246`).
   */
  def compileFilter(f: EventFilter): Column = {
    val target = f.target match {
      case OnStreamId  => col("stream")
      case OnEventType => col("event_type")
    }
    f match {
      case PrefixFilter(_, prefixes) =>
        // startsWith disjunction — sargable, unlike the reference's
        // `^(p1|p2|…)` regex compilation (backend.go:228-238).
        prefixes.map(p => target.startsWith(lit(p))).reduce(_ || _)
      case RegexFilter(_, re) =>
        target.rlike(re)
    }
  }

  /** Latest revision of a stream (ref `backend/backend.go:82-95`). */
  def maxRevision(events: DataFrame, stream: String): DataFrame =
    events.filter(col("stream") === stream).agg(max("revision").as("max_revision"))
}
