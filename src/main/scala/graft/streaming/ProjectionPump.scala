package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.model.{AllStreams, From, FromStart, ReadFrom, ReadOptions}
import graft.proj._

/**
 * The projection pump — the piece the reference declares but never wires
 * (`/root/reference/internal/projections/projection.go:15-27` holds a
 * subscribe func; `projections/service.go:20-28` persists queries; nothing
 * ever feeds a compiled projection from the event feed — SURVEY.md §2.10).
 *
 * Here it is the natural Structured Streaming job: subscription source →
 * `groupByKey(partition)` → `flatMapGroupsWithState` running the same
 * [[Projection.step]] fold as batch, with per-key state in the state store
 * and emissions (filterBy-gated, transformBy-applied) flowing to the
 * result sink (`$projections-{name}-result`, A6).
 *
 * Ordering: the reference folds strictly by global `position`
 * (streams.go:264-309). Within a micro-batch each group is sorted by
 * position before folding (group-per-batch materialization — bounded by
 * the trigger's batch size). ACROSS micro-batches the order is the
 * source's delivery order, and for a file source that is arrival
 * (mtime) order — the event log's append path writes segments
 * sequentially, so arrival order IS position order in any log the
 * appender produced. That contract is ENFORCED, not assumed: each
 * key's state carries the high-water position already folded, and an
 * event arriving below it fails the query loudly (r16: the
 * order-sensitive pump gate caught a backlog staged as one parallel
 * write — mtime ties delivered range files out of position order, and
 * the commutative counting gate could not see it; silently folding
 * out of order corrupts every order-bearing state, so it is an error,
 * exactly like the ANN index's batch-id regression).
 */
object ProjectionPump {

  /**
   * THE live fold of one group's trigger delivery: sort it by position,
   * apply the high-water order guard, step from the stored state and
   * store (state, high water) back. Returns the forwarded states.
   */
  private def foldTrigger[S](p: Projection[S], group: String, events: Iterator[ProjEvent],
                             state: GroupState[(S, Long)]): Iterator[S] = {
    val ordered = events.toArray.sortBy(_.position)
    // the state rides with the high-water position already folded: a
    // later trigger delivering an EARLIER position means the source broke
    // the log's arrival-order contract — fail loudly (class doc), never
    // fold it (order-bearing states corrupt silently otherwise)
    val seen = state.getOption.fold(Long.MinValue)(_._2)
    if (ordered.nonEmpty && ordered.head.position <= seen)
      throw new IllegalStateException(
        s"ProjectionPump: out-of-order delivery for $group — position " +
          s"${ordered.head.position} arrived after position $seen was " +
          "folded; the log's arrival order must be position order (re-stage " +
          "the backlog sequentially or rebuild the projection)")
    var cur = state.getOption.map(_._1)
    val out = ordered.iterator.flatMap { e =>
      val (s, fwd) = p.step(cur, e)
      cur = Some(s)
      Option.when(fwd)(s)
    }.toVector
    cur.foreach(s => state.update((s, ordered.lastOption.fold(seen)(_.position))))
    out.iterator
  }

  /**
   * Streaming emissions of a projection over an unbounded canonical event
   * source: one `(partition, state)` row per forwarded fold step.
   * OutputMode must be Update (or use [[start]] / `foreachBatch`).
   */
  def emissions[S](p: Projection[S], src: DataFrame,
                   initialState: Option[Dataset[(String, S, Long)]] = None)(
      implicit enc: Encoder[S]): Dataset[(String, S)] = {
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val outEnc: Encoder[(String, S)] = Encoders.tuple(Encoders.STRING, enc)
    implicit val stEnc: Encoder[(S, Long)] = Encoders.tuple(enc, Encoders.scalaLong)
    val grouped = ProjectionBatch.keyed(p, src).groupByKey(_.key)
    val fold = (key: String, events: Iterator[KeyedEvent], state: GroupState[(S, Long)]) =>
      foldTrigger(p, s"key '$key'", events.map(_.event), state).map((key, _))
    initialState match {
      case None => grouped.flatMapGroupsWithState[(S, Long), (String, S)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(fold)
      case Some(init) =>
        // hybrid catch-up handoff: per-key (state, high-water position)
        // from the batch fold seeds the state store before the first
        // trigger — the order guard spans the batch/stream boundary
        val initKV = init.groupByKey(_._1)
          .mapValues(t => (t._2, t._3))
        grouped.flatMapGroupsWithState[(S, Long), (String, S)](
          OutputMode.Update(), GroupStateTimeout.NoTimeout, initKV)(fold)
    }
  }

  /**
   * MULTIPLEXED pump: every projection's fold in ONE streaming query —
   * the live counterpart of [[ProjectionBatch.finalStatesAll]]. Each
   * event fans out map-side to the matching projections tagged with
   * that projection's own fold key; one `groupByKey((proj, key))` keeps
   * one state-store entry per (projection, partition) and dispatches
   * [[Projection.step]] by tag. N stored read models cost one
   * subscription + one stateful shuffle instead of N streaming queries
   * over N re-reads of the log (the reference runs one subscription per
   * projection). Emissions carry the projection name for sink routing.
   */
  def emissionsAll[S](ps: Seq[(String, Projection[S])], src: DataFrame)(
      implicit enc: Encoder[S]): Dataset[(String, String, S)] = {
    implicit val keyEnc: Encoder[(String, String)] = Encoders.tuple(Encoders.STRING, Encoders.STRING)
    implicit val outEnc: Encoder[(String, String, S)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING, enc)
    implicit val stEnc: Encoder[(S, Long)] = Encoders.tuple(enc, Encoders.scalaLong)
    val byName = ps.toMap
    ProjectionBatch.tagged(ps, src)
      .groupByKey(t => (t.proj, t.key))
      .flatMapGroupsWithState[(S, Long), (String, String, S)](OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (pk: (String, String), events: Iterator[TaggedEvent], state: GroupState[(S, Long)]) =>
          foldTrigger(byName(pk._1), s"${pk._1}/${pk._2}", events.map(_.event), state)
            .map(s => (pk._1, pk._2, s))
      }
  }

  /** Subscribe to every stream of `logDir` from `from`. */
  private def subscribe(spark: SparkSession, logDir: String, from: ReadFrom,
                        sourceOptions: Map[String, String]): DataFrame =
    Subscriptions.subscribe(spark, logDir, ReadOptions(AllStreams, from = from), sourceOptions)

  /** Append each trigger's rows to the `sink` parquet dir; `availableNow`
    * drains what is present and stops, otherwise the query tails. */
  private def sinkTo(rows: DataFrame, sink: String, checkpointDir: String,
                     availableNow: Boolean): StreamingQuery = {
    val writer = rows.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(sink)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /**
   * Start the pump end-to-end: subscription source on `logDir` → fold →
   * result-stream parquet sink at `outDir/$projections-{name}-result`.
   * `availableNow = true` processes the backlog and stops (catch-up);
   * otherwise the query tails the log until stopped. `sourceOptions`
   * are the subscription's backpressure knobs (T6 — e.g.
   * `maxFilesPerTrigger` bounds how much backlog one trigger ingests).
   */
  def start[S](spark: SparkSession, p: Projection[S], logDir: String, outDir: String,
               checkpointDir: String, availableNow: Boolean = false,
               sourceOptions: Map[String, String] = Map.empty)(implicit enc: Encoder[S]): StreamingQuery =
    sinkTo(emissions(p, subscribe(spark, logDir, FromStart, sourceOptions)).toDF("partition", "state"),
      s"$outDir/${p.resultStream}", checkpointDir, availableNow)

  /**
   * Hybrid catch-up + live tail — the at-scale catch-up path. [[start]]
   * replays the backlog through bounded micro-batches: correct, but a
   * large backlog costs (files / maxFilesPerTrigger) SEQUENTIAL
   * triggers, each paying the trigger's fixed cost, and its per-event
   * emissions are backlog-mass. Here the backlog present at call time
   * folds as ONE batch job ([[ProjectionBatch.finalStatesWithPos]] — a
   * single sorted shuffle over exactly the same rows in exactly the
   * same per-key order, so the fold result is identical by
   * construction; spec-pinned), its final states land in the result
   * sink as the catch-up's emissions (filterBy-gated via
   * [[graft.proj.Projection.emits]] — the state snapshot a huge
   * catch-up hands to consumers), and the STREAMING fold starts from
   * the backlog's end offset SEEDED with those states as
   * `flatMapGroupsWithState` initial state, each key carrying its
   * high-water position so the cross-trigger order guard spans the
   * batch/stream handoff. Events appended after the call flow through
   * the live tail exactly as in [[start]].
   */
  def startHybrid[S](spark: SparkSession, p: Projection[S], logDir: String, outDir: String,
                     checkpointDir: String, availableNow: Boolean = false,
                     sourceOptions: Map[String, String] = Map.empty)(
      implicit enc: Encoder[S]): StreamingQuery = {
    implicit val outEnc: Encoder[(String, S)] = Encoders.tuple(Encoders.STRING, enc)
    val backlog = graft.append.Appender.readLog(spark, logDir)
    val from = Subscriptions.endOffset(spark, logDir, AllStreams)
    // one batch job folds the whole backlog; localCheckpoint pins the
    // boundary (the seed must not re-scan the dir after tail files land)
    val finals = ProjectionBatch.finalStatesWithPos(p, backlog).localCheckpoint()
    val sink = s"$outDir/${p.resultStream}"
    finals.filter(t => p.emits(t._2)).map(t => (t._1, t._2))
      .toDF("partition", "state").write.mode("append").parquet(sink)
    sinkTo(emissions(p, subscribe(spark, logDir, From(from), sourceOptions), Some(finals)).toDF("partition", "state"),
      sink, checkpointDir, availableNow)
  }

  /**
   * [[start]] with the emitted state passed through `render` into a plain
   * string column — the sink shape for folds whose state has no parquet-
   * friendly product encoding (a JS-source projection's state is an
   * arbitrary object; the service renders it as canonical JSON).
   */
  def startRendered[S](spark: SparkSession, p: Projection[S], logDir: String, outDir: String,
                       checkpointDir: String, availableNow: Boolean = false)(render: S => String)(
      implicit enc: Encoder[S]): StreamingQuery = {
    implicit val outEnc: Encoder[(String, String)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING)
    val rendered = emissions(p, subscribe(spark, logDir, FromStart, Map.empty)).map { case (k, s) => (k, render(s)) }
    sinkTo(rendered.toDF("partition", "state_json"), s"$outDir/${p.resultStream}", checkpointDir, availableNow)
  }
}
