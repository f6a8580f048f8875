package graft.proj

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/**
 * Distributed fold (ProjectionBatch) must agree with the reference-semantics
 * sequential fold (LocalRunner) on the same inputs — the secondary-sort plan
 * is an implementation detail, not a semantics change.
 */
// top-level: Spark product encoders can't instantiate spec-inner classes
case class Count(count: Long)
case class CountExtra(count: Long, extraField: String)

class ProjectionBatchSpec extends SparkSpec {

  private def eventsDf(rows: Seq[(String, String, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("stream", "event_type", "position")
  }

  // interleaved events across 5 streams, 3 event types, shuffled positions
  private val rows: Seq[(String, String, Long)] =
    (1L to 200L).map(p => (s"s-${p % 5}", s"t-${p % 3}", p))

  private def projEvents: Seq[ProjEvent] =
    rows.sortBy(_._3).map { case (s, t, p) => ProjEvent(streamId = s, eventType = t, position = p) }

  test("foreachStream counting fold: distributed == local") {
    val p = Projection
      .named("c")
      .fromAll()
      .foreachStream()
      .when[Count](Count(0), Map("$any" -> ((s: Count, _: ProjEvent) => s.copy(count = s.count + 1))))
      .build
    import spark.implicits._
    val got = ProjectionBatch.finalStates(p, eventsDf(rows)).collect().toMap
    val local = new LocalRunner(p)
    local.run(projEvents)
    assert(got == local.states)
    assert(got.values.map(_.count).sum == 200L)
  }

  test("partitionBy(eventType) with specific+any handlers: distributed == local") {
    val p = Projection
      .named("c2")
      .fromAll()
      .partitionBy(_.eventType)
      .when[Count](
        Count(0),
        Map(
          "t-0" -> ((s: Count, _: ProjEvent) => s.copy(count = s.count + 10)),
          "$any" -> ((s: Count, _: ProjEvent) => s.copy(count = s.count + 1))
        )
      )
      .build
    import spark.implicits._
    val got = ProjectionBatch.finalStates(p, eventsDf(rows)).collect().toMap
    val local = new LocalRunner(p)
    local.run(projEvents)
    assert(got == local.states)
  }

  test("global (unpartitioned) fold is order-deterministic") {
    // state depends on event order: records the position sequence hash
    val p = Projection
      .named("g")
      .fromAll()
      .when[Count](Count(0), Map("$any" -> ((s: Count, e: ProjEvent) => s.copy(count = s.count * 31 + e.position))))
      .build
    import spark.implicits._
    val got = ProjectionBatch.finalStates(p, eventsDf(rows)).collect()
    val local = new LocalRunner(p)
    local.run(projEvents)
    assert(got.length == 1)
    assert(got.head._2 == local.state.get)
  }

  test("property: distributed fold == sequential fold on random interleavings") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 50 + rnd.nextInt(150)
      val trialRows = (1L to n.toLong).map(p =>
        (s"s-${rnd.nextInt(6)}", s"t-${rnd.nextInt(4)}", p))
      // order-SENSITIVE state (non-commutative fold) — any ordering bug in
      // the distributed plan diverges from the sequential reference
      val p = Projection
        .named(s"prop-$trial")
        .fromAll()
        .foreachStream()
        .when[Count](Count(0), Map(
          "t-0" -> ((s: Count, e: ProjEvent) => s.copy(count = s.count * 31 + e.position)),
          "$any" -> ((s: Count, e: ProjEvent) => s.copy(count = s.count + e.position))
        ))
        .filterBy(_.count % 2 == 0)
        .build
      val got = ProjectionBatch.finalStates(p, eventsDf(trialRows)).collect().toMap
      val ordered = trialRows.sortBy(_._3).map { case (s, t, pos) =>
        ProjEvent(streamId = s, eventType = t, position = pos)
      }
      val local = new LocalRunner(p)
      local.run(ordered)
      assert(got == local.states, s"trial $trial (n=$n) diverged")

      // high water = each key's max folded position
      val withPos = ProjectionBatch.finalStatesWithPos(p, eventsDf(trialRows)).collect()
        .map { case (k, st, pos) => k -> (st, pos) }.toMap
      val maxPos = ordered.groupBy(_.streamId).map { case (k, es) => k -> es.map(_.position).max }
      assert(withPos == local.states.map { case (k, st) => k -> (st, maxPos(k)) }, s"trial $trial withPos")
      // last emission per key under the filterBy gate (toMap keeps the last)
      val emitter = new LocalRunner(p)
      val lastLocal = ordered.flatMap(e => emitter.update(e).map(e.streamId -> _)).toMap
      assert(ProjectionBatch.lastEmitted(p, eventsDf(trialRows)).collect().toMap == lastLocal,
        s"trial $trial lastEmitted")
      // the unpartitioned fold, alone and multiplexed beside p
      val g = Projection.named(s"glob-$trial").fromStreams("s-0", "s-1", "s-2")
        .when[Count](Count(0), Map("$any" -> ((s: Count, e: ProjEvent) => s.copy(count = s.count * 31 + e.position))))
        .build
      val globalLocal = new LocalRunner(g)
      globalLocal.run(ordered)
      assert(ProjectionBatch.finalStates(g, eventsDf(trialRows)).collect().toSeq ==
        globalLocal.state.map("" -> _).toSeq, s"trial $trial global")
      val all = ProjectionBatch.finalStatesAll(Seq("p" -> p, "g" -> g), eventsDf(trialRows)).collect()
        .map { case (n, k, st) => (n, k) -> st }.toMap
      assert(all == local.states.map { case (k, st) => ("p", k) -> st } ++
        globalLocal.state.map(("g", "") -> _), s"trial $trial finalStatesAll")
    }
  }

  test("every single-projection batch fold plans exactly one Exchange") {
    import spark.implicits._
    val p = Projection.named("x").fromAll().foreachStream()
      .when[Count](Count(0), Map("$any" -> ((s: Count, _: ProjEvent) => s.copy(count = s.count + 1))))
      .build
    val plans = Seq(
      "finalStates" -> ProjectionBatch.finalStates(p, eventsDf(rows)).queryExecution,
      "finalStatesWithPos" -> ProjectionBatch.finalStatesWithPos(p, eventsDf(rows)).queryExecution,
      "emittedStates" -> ProjectionBatch.emittedStates(p, eventsDf(rows)).queryExecution,
      "lastEmitted" -> ProjectionBatch.lastEmitted(p, eventsDf(rows)).queryExecution)
    plans.foreach { case (name, qe) =>
      val own = qe.executedPlan.toString().split("InMemoryTableScan")(0)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(own).length
      assert(exchanges == 1, s"$name must shuffle once, found $exchanges")
    }
  }

  test("selector filter restricts the fold input") {
    val p = Projection
      .named("sel")
      .fromStreams("s-1", "s-2")
      .foreachStream()
      .when[Count](Count(0), Map("$any" -> ((s: Count, _: ProjEvent) => s.copy(count = s.count + 1))))
      .build
    import spark.implicits._
    val got = ProjectionBatch.finalStates(p, eventsDf(rows)).collect().toMap
    assert(got.keySet == Set("s-1", "s-2"))
    assert(got("s-1").count == 40L)
  }

  test("emittedStates honors filterBy gating; lastEmitted is the final emission") {
    val p = Projection
      .named("f")
      .fromAll()
      .foreachStream()
      .when[CountExtra](
        CountExtra(0, ""),
        Map("$any" -> ((s: CountExtra, _: ProjEvent) => s.copy(count = s.count + 1)))
      )
      .filterBy(_.count > 30)
      .transformBy(s => s.copy(extraField = "x"))
      .build
    import spark.implicits._
    // each of 5 streams gets 40 events -> emissions at counts 31..40 (10 each)
    val emitted = ProjectionBatch.emittedStates(p, eventsDf(rows)).collect()
    assert(emitted.length == 50)
    assert(emitted.forall(_._2.extraField == "x"))
    val last = ProjectionBatch.lastEmitted(p, eventsDf(rows)).collect().toMap
    assert(last.size == 5)
    assert(last.values.forall(_.count == 40L))
  }
}
