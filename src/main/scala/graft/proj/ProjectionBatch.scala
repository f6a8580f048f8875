package graft.proj

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** A projection event tagged with its routing key (the shuffle unit). */
final case class KeyedEvent(key: String, event: ProjEvent)

/** An event routed to one projection's fold (the multiplexed shuffle unit). */
final case class TaggedEvent(proj: String, key: String, event: ProjEvent)

/**
 * Distributed batch execution of a [[Projection]] fold.
 *
 * The reference folds events strictly in `position` order against in-memory
 * per-partition state (`/root/reference/internal/projections/projection.go:375-414`,
 * pump design `streams/streams.go:264-309`). Spark's `groupByKey` guarantees
 * no intra-group order, so the scalable plan here is the secondary-sort
 * pattern:
 *
 *   selector filter (pushed to scan) → map to (key, event) →
 *   `repartition($"key")` (ONE shuffle) →
 *   `sortWithinPartitions(key, position)` (external, spill-friendly sort —
 *   no per-group in-memory materialization) →
 *   `mapPartitions` streaming fold, emitting on key change.
 *
 * At 100 TB this holds: each task streams its sorted run once, state is one
 * value per key, and no operator collects a whole group into memory. A
 * heavily-skewed key degrades to a sequential fold of that key's events —
 * inherent to the fold's semantics (order-dependent state), not the plan.
 * The unpartitioned (global-state) fold is a single sequential pass by
 * construction (`repartition(1)`) — same caveat, same semantics.
 */
object ProjectionBatch {

  /**
   * Adapt a canonical event-log DataFrame (`stream`, `event_type`,
   * `position`, optional `data`/`props` JSON payload, optional `metadata`
   * map) to the projection event shape (ref `projection.go:55-80`).
   */
  def toProjEvents(events: DataFrame): Dataset[ProjEvent] = {
    val cols = events.columns.toSet
    val body: Column =
      if (cols("data")) col("data").cast("string")
      else if (cols("props")) col("props").cast("string")
      else lit("")
    val meta: Column =
      if (cols("metadata")) col("metadata")
      else typedLit(Map.empty[String, String])
    implicit val enc: Encoder[ProjEvent] = Encoders.product[ProjEvent]
    events
      .select(
        col("stream").as("streamId"),
        col("event_type").as("eventType"),
        lit(true).as("isJson"),
        coalesce(body, lit("")).as("bodyRaw"),
        meta.as("metadataRaw"),
        lit("").as("partition"),
        lit(-1L).as("sequenceNumber"),
        col("position").cast("long").as("position")
      )
      .as[ProjEvent]
  }

  /** Selector filter as a pushable Column predicate on `streamCol`
    * (ref `projection.go:96-119`) — the one selector filter of the batch
    * fold, the pump and the service's statistics. */
  private[graft] def selected[T](sel: Selector, rows: Dataset[T], streamCol: String): Dataset[T] =
    sel match {
      case SelectAll         => rows
      case SelectStreams(ss) => rows.filter(col(streamCol).isin(ss: _*))
    }

  /** Selected events tagged with the projection's fold key. */
  private[graft] def keyed[S](p: Projection[S], events: DataFrame): Dataset[KeyedEvent] = {
    implicit val enc: Encoder[KeyedEvent] = Encoders.product[KeyedEvent]
    selected(p.selector, toProjEvents(events), "streamId").map(e => KeyedEvent(p.partitionOf(e), e))
  }

  /** Each event fanned out to every projection whose selector matches,
    * tagged with that projection's own fold key. */
  private[graft] def tagged[S](ps: Seq[(String, Projection[S])], events: DataFrame): Dataset[TaggedEvent] = {
    implicit val enc: Encoder[TaggedEvent] = Encoders.product[TaggedEvent]
    val local = ps.toVector
    toProjEvents(events).flatMap { e =>
      local.iterator.collect { case (n, p) if p.selector.matches(e.streamId) => TaggedEvent(n, p.partitionOf(e), e) }
    }
  }

  /** One fold step of a sorted run: the key's state after the event, the
    * event's position (the key's high water), whether this step forwarded,
    * the last state forwarded so far, and whether the key's run ends here. */
  private final case class Folded[K, S](key: K, state: S, pos: Long, forwarded: Boolean,
                                        lastEmitted: Option[S], closes: Boolean)

  /**
   * THE batch fold: steps a run already sorted by (key, position), the
   * key carrying its projection, holding one state at a time — a key's
   * run ends where the next element's key differs (one-element
   * lookahead), so no group is ever buffered.
   */
  private def foldRun[K, S](run: Iterator[(K, Projection[S], ProjEvent)]): Iterator[Folded[K, S]] = {
    val in = run.buffered
    var state: Option[S] = None
    var emitted: Option[S] = None
    in.map { case (k, p, e) =>
      val (s, fwd) = p.step(state, e)
      if (fwd) emitted = Some(s)
      val f = Folded(k, s, e.position, fwd, emitted, closes = !in.hasNext || in.head._1 != k)
      if (f.closes) { state = None; emitted = None } else state = Some(s)
      f
    }
  }

  /** Shuffle by fold key, externally sort by (key, position), fold each
    * sorted run and keep what `out` picks from its steps. */
  private def foldSorted[S, O](p: Projection[S], events: DataFrame)(enc: Encoder[O])(
      out: PartialFunction[Folded[String, S], O]): Dataset[O] = {
    val k = keyed(p, events)
    val shuffled = if (p.isPartitioned) k.repartition(col("key")) else k.repartition(1)
    shuffled.sortWithinPartitions(col("key"), col("event.position"))
      .mapPartitions(it => foldRun(it.map(ke => (ke.key, p, ke.event))).collect(out))(enc)
  }

  /**
   * Final state per partition key after folding all selected events in
   * position order. The batch analogue of reading the projection's state
   * (`Projections.State` in the reference wire surface).
   */
  def finalStates[S](p: Projection[S], events: DataFrame)(implicit enc: Encoder[S]): Dataset[(String, S)] =
    foldSorted(p, events)(Encoders.tuple(Encoders.STRING, enc)) { case f if f.closes => (f.key, f.state) }

  /**
   * [[finalStates]] plus each key's HIGH-WATER position (the last folded
   * event's) — the handoff shape for [[graft.streaming.ProjectionPump]]'s
   * hybrid catch-up: the streaming fold is seeded with (state, maxPos)
   * per key, so its cross-trigger order guard spans the batch/stream
   * boundary (a tail event at or below the catch-up's high water is
   * rejected exactly like an out-of-order file).
   */
  def finalStatesWithPos[S](p: Projection[S], events: DataFrame)(
      implicit enc: Encoder[S]): Dataset[(String, S, Long)] =
    foldSorted(p, events)(Encoders.tuple(Encoders.STRING, enc, Encoders.scalaLong)) {
      case f if f.closes => (f.key, f.state, f.pos)
    }

  /**
   * Run MANY projections in ONE pass of the log — scan sharing the
   * reference cannot do (it folds each projection in its own
   * subscription, re-reading the log per projection;
   * `projections/service.go` starts one runner each). Here each event
   * fans out map-side to the projections whose selector matches, tagged
   * with that projection's OWN fold key, and a single shuffle on
   * (projection, key) delivers every fold's sorted run: at 100 TB, N
   * catalog projections cost one log read + one shuffle of the matched
   * events instead of N of each. Global-state projections ride the same
   * shuffle (constant key → one reducer group — exactly their
   * sequential-fold contract). Equivalence with the per-projection
   * runner is spec-pinned.
   */
  def finalStatesAll[S](ps: Seq[(String, Projection[S])], events: DataFrame)(
      implicit enc: Encoder[S]): Dataset[(String, String, S)] = {
    val byName = ps.toMap
    tagged(ps, events)
      .repartition(col("proj"), col("key"))
      .sortWithinPartitions(col("proj"), col("key"), col("event.position"))
      .mapPartitions { it =>
        foldRun(it.map(t => ((t.proj, t.key), byName(t.proj), t.event)))
          .collect { case f if f.closes => (f.key._1, f.key._2, f.state) }
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING, enc))
  }

  /**
   * Every state emission in fold order — the content of the projection's
   * result stream (`$projections-{name}-result`, ref `projection.go:135-141`)
   * honoring `filterBy` emit-gating (ref `projection_test.go:145-181`).
   */
  def emittedStates[S](p: Projection[S], events: DataFrame)(implicit enc: Encoder[S]): Dataset[(String, S)] =
    foldSorted(p, events)(Encoders.tuple(Encoders.STRING, enc)) { case f if f.forwarded => (f.key, f.state) }

  /**
   * Last emitted state per partition — the "current value" of the result
   * stream per partition (what a consumer of
   * `$projections-{name}-result` observes as the latest state).
   */
  def lastEmitted[S](p: Projection[S], events: DataFrame)(implicit enc: Encoder[S]): Dataset[(String, S)] =
    foldSorted(p, events)(Encoders.tuple(Encoders.STRING, enc)) {
      case Folded(k, _, _, _, Some(s), true) => (k, s)
    }
}
