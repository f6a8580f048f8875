package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.log.Fixture
import graft.proj._

// State types must be top-level for Spark product encoders.
final case class FunnelState(stage: Long)
final case class CountState(count: Long)
final case class DispatchState(clicks: Long, views: Long, others: Long)
final case class SumKState(sum_k: Long)
final case class CusumState(position: Long, cusum: Long)
final case class PumpState(n: Long, clicks: Long)
final case class PumpPathState(n: Long, path: String, last_event_type: String)

/**
 * Verify-gate queries exercising the projection fold engine (SURVEY.md §2.4
 * A1-A6) end-to-end on the fixture event log, each with a DuckDB oracle
 * expressing the equivalent *final state* as SQL aggregation (SURVEY.md §7.4
 * risk 6 — counting folds are GROUP BY-expressible; the order-dependent
 * semantics themselves are pinned by ProjectionSpec/ProjectionBatchSpec).
 */
object ProjectionQueries {

  private val EV = LogQueries.evCte

  /** {"k": 42}-style payload → 42 (schema-on-read in a handler, like the
    * reference's `e.Json()` body access, model.go:47-58). */
  private val kRe = """"k"\s*:\s*(-?\d+)""".r.unanchored
  private def parseK(bodyRaw: String): Long = bodyRaw match {
    case kRe(k) => k.toLong
    case _      => 0L
  }

  private def flat[S](ds: org.apache.spark.sql.Dataset[(String, S)]): DataFrame =
    ds.toDF("partition", "state").select(col("partition"), col("state.*")).orderBy("partition")

  /** A stored-projection service dir with three enabled projections of
    * DIFFERENT keying (per-stream, per-stream clicks, global), created
    * once per (session, fixture dir) — the catalog is a stored artifact
    * in a real deployment. */
  private def svcDir(s: SparkSession, dir: String): String =
    graft.util.Memo(s, dir, "ProjectionQueries.svc") {
      val d = graft.util.TempRoots.create("graft-svc-gate")
      ProjectionService.create(s, d, "per_stream",
        """{"name":"per_stream","from":["$all"],"partitionBy":"stream",
          |"state":["n"],"when":{"$any":[{"op":"inc","field":"n"}]},
          |"outputState":true}""".stripMargin, nowNanos = 1L)
      ProjectionService.create(s, d, "clicks",
        """{"name":"clicks","from":["$all"],"partitionBy":"stream",
          |"state":["n"],"when":{"click":[{"op":"inc","field":"n"}]},
          |"outputState":true}""".stripMargin, nowNanos = 2L)
      ProjectionService.create(s, d, "total",
        """{"name":"total","from":["$all"],
          |"state":["n"],"when":{"$any":[{"op":"inc","field":"n"}]},
          |"outputState":true}""".stripMargin, nowNanos = 3L)
      d
    }

  /** A service dir holding one stored RAW-JS projection, created once per
    * (session, fixture dir) — the stored-source artifact, like svcDir. */
  private def jsSvcDir(s: SparkSession, dir: String): String =
    graft.util.Memo(s, dir, "ProjectionQueries.jsSvc") {
      val d = graft.util.TempRoots.create("graft-js-svc")
      ProjectionService.create(s, d, "clicks-js",
        """
        fromAll()
          .foreachStream()
          .when({
            $init: function() { return { n: 0, sum_k: 0 } },
            click: function(state, event) {
              state.n += 1
              state.sum_k += event.body.k
            }
          })
          .outputState()
        """, nowNanos = 1L)
      d
    }

  /** Stage the fixture log the way the APPEND path produces it: 8
    * position-range segments written SEQUENTIALLY with strictly
    * increasing mtimes — so arrival order == position order, the
    * contract the pump's catch-up replay rides on (and, since r16,
    * enforces). The previous one-job repartitionByRange staging wrote
    * all ranges in parallel: task-finish skew handed the file source
    * range files out of arrival order, and the order-sensitive gate
    * caught the replay folding them as delivered.
    *
    * The staged log is memoized per (session, sf-dir) and SHARED by both
    * pump gates — the replays read it, never mutate it, so one staging
    * serves both memos (the second pump run's cold cost is the replay
    * itself, not a duplicate 8-job staging). */
  private def stagedLogDir(s: SparkSession, dir: String): String =
    graft.util.Memo(s, dir, "ProjectionQueries.stagedLog") {
      val root = graft.util.TempRoots.create("graft-pump-log")
      val logDir = s"$root/log"
      stageLogSequential(s, dir, logDir)
      logDir
    }

  private def stageLogSequential(s: SparkSession, dir: String, logDir: String,
                                 segs: Int = 8): Unit = {
    val evs = Fixture.events(s, dir)
      .select(col("stream"), col("event_type"), col("revision"), col("position"))
    val mm = evs.agg(min(col("position")), max(col("position"))).head()
    new java.io.File(logDir).mkdirs(): Unit
    def placeSeg(df: DataFrame, i: Int, mtime: Long): Unit = {
      val tmp = s"$logDir.seg$i"
      df.coalesce(1).sortWithinPartitions(col("position"))
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.isFile && f.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file staged for log segment $i"))
      val dst = new java.io.File(logDir, f"seg-$i%04d.parquet")
      require(part.renameTo(dst), s"failed to place log segment $i")
      dst.setLastModified(mtime): Unit
      graft.util.TempRoots.rm(tmp)
    }
    val t0 = System.currentTimeMillis() - segs * 2000L
    if (mm.isNullAt(0)) {
      // EMPTY corpus: one empty segment carries the schema, so the
      // subscription still gets a file (one empty trigger) and the
      // result sink still materializes
      placeSeg(evs.limit(0), 0, t0)
    } else {
      val (lo0, hi0) = (mm.getLong(0), mm.getLong(1))
      val step = (hi0 - lo0) / segs + 1
      for (i <- 0 until segs)
        placeSeg(evs.filter(col("position") >= lo0 + i * step &&
          col("position") < lo0 + (i + 1) * step), i, t0 + i * 1000L)
    }
  }

  /** The catch-up replay's result sink, built ONCE per (session, sf-dir)
    * by running the REAL pump end-to-end: the canonical log staged as a
    * multi-file parquet dir ([[stageLogSequential]] — sequential
    * segments, the append path's shape), a
    * [[graft.streaming.Subscriptions]] catch-up subscription bounded to
    * 2 files per trigger (T6), the `flatMapGroupsWithState` fold, and
    * the result-stream parquet sink — the full T1/T2/A6 mechanism, not
    * a batch stand-in. The COUNTING state here is commutative; the
    * order of the replay itself is pinned by the ordered twin
    * (`proj_pump_replay_ordered`). */
  private def pumpSinkDir(s: SparkSession, dir: String): String =
    graft.util.Memo(s, dir, "ProjectionQueries.pumpReplay") {
      implicit val enc: org.apache.spark.sql.Encoder[PumpState] =
        org.apache.spark.sql.Encoders.product[PumpState]
      val root = graft.util.TempRoots.create("graft-pump-gate")
      val logDir = stagedLogDir(s, dir)
      val p = Projection.named("pump-replay").fromAll().foreachStream()
        .when[PumpState](PumpState(0L, 0L), Map(
          "click" -> ((st: PumpState, _: ProjEvent) => PumpState(st.n + 1L, st.clicks + 1L)),
          "$any" -> ((st: PumpState, _: ProjEvent) => PumpState(st.n + 1L, st.clicks))))
        .outputState().build
      val q = graft.streaming.ProjectionPump.start(
        s, p, logDir, root, s"$root/ckpt", availableNow = true,
        sourceOptions = Map("maxFilesPerTrigger" -> "2"))
      q.awaitTermination()
      s"$root/${p.resultStream}"
    }

  /** The ORDER-SENSITIVE twin of [[pumpSinkDir]] (r15 verdict item 3:
    * `proj_pump_replay`'s counting state is commutative, so that gate
    * alone could not distinguish a position-ordered replay from any
    * permutation). This pump run folds a state where order is load-
    * bearing twice over — the first-10-events path signature (the
    * `agg_path_signature` arithmetic: any transposition changes the
    * string) and the last-seen event type (any reordering of the tail
    * changes it) — through the SAME 2-files-per-trigger catch-up
    * subscription, so the strict per-stream position order of the
    * reference's fold (`streams/streams.go:264-309`) is pinned under
    * the driver's hash, not just by specs. */
  private def pumpOrderedSinkDir(s: SparkSession, dir: String): String =
    graft.util.Memo(s, dir, "ProjectionQueries.pumpReplayOrdered") {
      implicit val enc: org.apache.spark.sql.Encoder[PumpPathState] =
        org.apache.spark.sql.Encoders.product[PumpPathState]
      val root = graft.util.TempRoots.create("graft-pump-gate-ord")
      val logDir = stagedLogDir(s, dir)
      val p = Projection.named("pump-replay-ordered").fromAll().foreachStream()
        .when[PumpPathState](PumpPathState(0L, "", ""), Map(
          "$any" -> ((st: PumpPathState, e: ProjEvent) => PumpPathState(
            st.n + 1L,
            if (st.n >= 10L) st.path
            else if (st.n == 0L) e.eventType
            else st.path + "->" + e.eventType,
            e.eventType))))
        .outputState().build
      val q = graft.streaming.ProjectionPump.start(
        s, p, logDir, root, s"$root/ckpt", availableNow = true,
        sourceOptions = Map("maxFilesPerTrigger" -> "2"))
      q.awaitTermination()
      s"$root/${p.resultStream}"
    }

  /** The HYBRID catch-up's result sink ([[graft.streaming.ProjectionPump
    * .startHybrid]] — the at-scale path: the backlog folds as ONE batch
    * job whose final states seed the streaming fold as initial state,
    * and only the live tail runs through triggers). Staged fresh (not
    * the shared log — the hold-back dance mutates the dir): 3 segments
    * are the backlog at start time, the 4th re-enters as the LIVE TAIL
    * with a fresh mtime after the query starts, so the batch→stream
    * handoff crosses the same order-bearing state the ordered gate
    * pins. */
  private def pumpHybridSinkDir(s: SparkSession, dir: String): String =
    graft.util.Memo(s, dir, "ProjectionQueries.pumpHybrid") {
      implicit val enc: org.apache.spark.sql.Encoder[PumpPathState] =
        org.apache.spark.sql.Encoders.product[PumpPathState]
      val root = graft.util.TempRoots.create("graft-pump-hybrid")
      val logDir = s"$root/log"
      // 4 segments are enough here: 3 are the batch-folded backlog, 1
      // re-enters as the live tail — the per-trigger file-bounding
      // property is already pinned by the two replay gates, and the
      // subscription still lists (and footer-prunes) the backlog
      // files, so fewer segments keep the memo's cost on the
      // mechanism, not on empty catch-up triggers
      stageLogSequential(s, dir, logDir, segs = 4)
      val hold = new java.io.File(s"$root/hold")
      hold.mkdirs(): Unit
      val tailSegs = Seq("seg-0003.parquet")
      for (n <- tailSegs) {
        val f = new java.io.File(logDir, n)
        if (f.isFile) require(f.renameTo(new java.io.File(hold, n)),
          s"failed to hold back tail segment $n")
      }
      val p = Projection.named("pump-hybrid").fromAll().foreachStream()
        .when[PumpPathState](PumpPathState(0L, "", ""), Map(
          "$any" -> ((st: PumpPathState, e: ProjEvent) => PumpPathState(
            st.n + 1L,
            if (st.n >= 10L) st.path
            else if (st.n == 0L) e.eventType
            else st.path + "->" + e.eventType,
            e.eventType))))
        .outputState().build
      val q = graft.streaming.ProjectionPump.startHybrid(
        s, p, logDir, root, s"$root/ckpt")
      try {
        val t0 = System.currentTimeMillis()
        for ((n, i) <- tailSegs.zipWithIndex) {
          val src = new java.io.File(hold, n)
          if (src.isFile) {
            val dst = new java.io.File(logDir, n)
            require(src.renameTo(dst), s"failed to release tail segment $n")
            dst.setLastModified(t0 + i * 1000L): Unit
          }
        }
        q.processAllAvailable()
      } finally q.stop()
      s"$root/${p.resultStream}"
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T1+T2+A6+§2.10 UNDER THE ORACLE: a catch-up subscription replay
    // through the real projection pump — final emitted state per stream
    // (the max-n emission: n increments every step, so the final state
    // is the unique maximum) must equal the batch fold, oracled as
    // plain GROUP BY SQL
    "proj_pump_replay" -> { (s: SparkSession, dir: String) =>
      import org.apache.spark.sql.expressions.Window
      val sink = pumpSinkDir(s, dir)
      val w = Window.partitionBy(col("partition")).orderBy(col("n").desc)
      s.read.parquet(sink)
        .select(col("partition"), col("state.n").as("n"),
          col("state.clicks").as("clicks"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
        .orderBy(col("partition"))
    },
    // The ORDER-SENSITIVE pump gate (r15 verdict item 3): same real
    // pump + catch-up subscription as proj_pump_replay, but the state
    // is order-bearing — the first-10 path signature and the last-seen
    // event type both change under ANY reordering, so a hash match
    // against the window-SQL oracle pins the strict per-stream position
    // order of the replay itself, across trigger boundaries (2 files
    // per trigger splits every stream's history mid-fold).
    "proj_pump_replay_ordered" -> { (s: SparkSession, dir: String) =>
      import org.apache.spark.sql.expressions.Window
      val sink = pumpOrderedSinkDir(s, dir)
      val w = Window.partitionBy(col("partition")).orderBy(col("n").desc)
      s.read.parquet(sink)
        .select(col("partition"), col("state.n").as("n"),
          col("state.path").as("path"),
          col("state.last_event_type").as("last_event_type"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
        .orderBy(col("partition"))
    },
    // The HYBRID catch-up under the oracle: batch-fold seed + seeded
    // streaming tail (ProjectionPump.startHybrid) must land the same
    // final order-bearing state as the pure-replay ordered gate — the
    // oracle is the identical window SQL
    "proj_pump_hybrid" -> { (s: SparkSession, dir: String) =>
      import org.apache.spark.sql.expressions.Window
      val sink = pumpHybridSinkDir(s, dir)
      val w = Window.partitionBy(col("partition")).orderBy(col("n").desc)
      s.read.parquet(sink)
        .select(col("partition"), col("state.n").as("n"),
          col("state.path").as("path"),
          col("state.last_event_type").as("last_event_type"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
        .orderBy(col("partition"))
    },
    // A1+A3 ($any handler, foreachStream): events per stream
    "proj_count_by_stream" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val p = Projection.named("count-by-stream").fromAll().foreachStream()
        .when[CountState](CountState(0),
          Map("$any" -> ((st: CountState, _: ProjEvent) => st.copy(count = st.count + 1))))
        .outputState().build
      flat(ProjectionBatch.finalStates(p, Fixture.events(s, dir)))
    },
    // The funnel AS a projection fold: the same sequential automaton the
    // analytics pack computes with chained windows (funnel_steps) runs
    // here as per-stream stateful fold — greedy first-match stage
    // advance, so the two formulations are provably the same function
    // and the oracle is funnel_steps' own CTE chain. The fold form is
    // what the STREAMING pump executes incrementally (StreamingSpec pins
    // batch == pump for this projection); the window form is the batch
    // backfill plan.
    "proj_funnel_stage" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val order = IndexedSeq("signup", "view", "click", "purchase")
      val p = Projection.named("funnel-stage").fromAll().foreachStream()
        .when[FunnelState](FunnelState(0),
          Map("$any" -> ((st: FunnelState, e: ProjEvent) =>
            if (st.stage < 4 && e.eventType == order(st.stage.toInt))
              FunnelState(st.stage + 1)
            else st)))
        .build
      flat(ProjectionBatch.finalStates(p, Fixture.events(s, dir)))
    },
    // EVERY stored catalog projection folded in ONE log pass
    // (ProjectionBatch.finalStatesAll): the reference runs one
    // subscription per projection and re-reads the log N times; here N
    // folds share one scan + one (projection, key) shuffle. Three
    // differently-keyed stored projections, one integer state field →
    // fully oracled as a UNION of the equivalent SQL aggregations.
    "proj_state_all" -> { (s: SparkSession, dir: String) =>
      ProjectionService.stateAll(s, svcDir(s, dir), Fixture.events(s, dir))
        .select(col("projection"), col("partition"),
          element_at(col("state"), "n").as("n"))
        .orderBy("projection", "partition")
    },
    // A1 handler dispatch: specific handlers win over $any
    "proj_dispatch" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val p = Projection.named("dispatch").fromAll().foreachStream()
        .when[DispatchState](DispatchState(0, 0, 0),
          Map(
            "click" -> ((st: DispatchState, _: ProjEvent) => st.copy(clicks = st.clicks + 1)),
            "view"  -> ((st: DispatchState, _: ProjEvent) => st.copy(views = st.views + 1)),
            "$any"  -> ((st: DispatchState, _: ProjEvent) => st.copy(others = st.others + 1))
          ))
        .build
      flat(ProjectionBatch.finalStates(p, Fixture.events(s, dir)))
    },
    // A2 partitionBy(user fn) + schema-on-read payload access in the handler
    "proj_sumk_by_type" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val p = Projection.named("sumk").fromAll().partitionBy(_.eventType)
        .when[SumKState](SumKState(0),
          Map("$any" -> ((st: SumKState, e: ProjEvent) => st.copy(sum_k = st.sum_k + parseK(e.bodyRaw)))))
        .build
      flat(ProjectionBatch.finalStates(p, Fixture.events(s, dir)))
    },
    // F8 filterBy emit-gating + P3 transformBy: last emission per partition
    "proj_filterby_threshold" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val p = Projection.named("thresh").fromAll().foreachStream()
        .when[CountState](CountState(0),
          Map("$any" -> ((st: CountState, _: ProjEvent) => st.copy(count = st.count + 1))))
        .filterBy(_.count > 60)
        .build
      flat(ProjectionBatch.lastEmitted(p, Fixture.events(s, dir)))
    },
    // A5 fromStreams selector + A4 global (unpartitioned) state
    "proj_from_streams_global" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val p = Projection.named("sel").fromStreams("user-3", "user-7")
        .when[CountState](CountState(0),
          Map("$any" -> ((st: CountState, _: ProjEvent) => st.copy(count = st.count + 1))))
        .build
      flat(ProjectionBatch.finalStates(p, Fixture.events(s, dir)))
    },
    // Time-travel replay: the projection's state AS OF global position
    // 5000 — rebuild-at-a-point, the defining event-sourcing read
    // (replay events [1..P] through the fold). The position bound is a
    // pushable range predicate: the scan prunes to row groups below P,
    // so replay cost scales with P, not the log size.
    "proj_replay_at_position" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val p = Projection.named("replay").fromAll().foreachStream()
        .when[CountState](CountState(0),
          Map("$any" -> ((st: CountState, _: ProjEvent) => st.copy(count = st.count + 1))))
        .build
      flat(ProjectionBatch.finalStates(p,
        Fixture.events(s, dir).filter(col("position") <= 5000)))
    },
    // CUSUM change-point detection AS a per-stream fold: one-sided upper
    // CUSUM on the payload's k (target+slack = 55), s = max(0, s + (k-55)),
    // drift alarm while s > h = 150. Sequential-fold semantics ride the
    // same secondary-sort engine as every projection (and hence run
    // incrementally on the streaming pump); the oracle uses the exact
    // prefix-sum identity s_i = P_i - min(0, min_{j<=i} P_j), which a
    // window engine can evaluate without recursion — the fold and the
    // window form are provably the same function (pinned by spec too).
    "anomaly_cusum" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val p = Projection.named("cusum").fromAll().foreachStream()
        .when[CusumState](CusumState(0L, 0L),
          Map("$any" -> ((st: CusumState, e: ProjEvent) =>
            CusumState(e.position, math.max(0L, st.cusum + parseK(e.bodyRaw) - 55L)))))
        .filterBy(_.cusum > 150L)
        .build
      ProjectionBatch.emittedStates(p, Fixture.events(s, dir))
        .toDF("stream", "state")
        .select(col("stream"), col("state.position").as("position"),
          col("state.cusum").as("cusum"))
        .orderBy("stream", "position")
    },
    // §2.8 JS-source compatibility: a projection stored as the reference's
    // JavaScript source string (the goja DSL, projection.go:363-373) is
    // ingested AS-IS by JsProjection.compile and executed as a distributed
    // fold — partitionBy fn, $any handler with a JSON body read, filterBy
    // emit-gate, transformBy state rewrite, all from the source text.
    "proj_js_source" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val src =
        """
        fromAll()
          .partitionBy(function(e) {
            return e.eventType
          })
          .when({
            $init: function() {
              return { count: 0, sum_k: 0 }
            },
            $any: function(state, event) {
              state.count += 1
              state.sum_k += event.body.k
            }
          })
          .filterBy(function(state) {
            return state.count > 10
          })
          .transformBy(function(state) {
            return {...state, kind: 'js'}
          })
          .outputState()
        """
      val p = JsProjection.compile(src, "js-gate").projection
      implicit val enc: org.apache.spark.sql.Encoder[JsProjection.JsVal] =
        org.apache.spark.sql.Encoders.javaSerialization[JsProjection.JsVal]
      ProjectionBatch.lastEmitted(p, Fixture.events(s, dir))
        .map { case (k, st) =>
          (k, JsProjection.JsVal.long(st, "count"),
            JsProjection.JsVal.long(st, "sum_k"), JsProjection.JsVal.str(st, "kind"))
        }
        .toDF("partition", "count", "sum_k", "kind")
        .orderBy("partition")
    },
    // ... and the same through the SERVICE: a raw reference JS source is
    // stored by ProjectionService.create (validated by compile, like the
    // reference's goja run on Create), fetched back and executed
    // distributed, with the arbitrary-object state served as canonical
    // JSON (stateJson — the dialect-agnostic serving surface)
    "proj_js_service" -> { (s: SparkSession, dir: String) =>
      val svc = jsSvcDir(s, dir)
      ProjectionService.stateJson(s, svc, "clicks-js", Fixture.events(s, dir))
        .select(col("partition"),
          get_json_object(col("state_json"), "$.n").cast("long").as("n"),
          get_json_object(col("state_json"), "$.sum_k").cast("long").as("sum_k"))
        .orderBy("partition")
    },
    // S7 + §2.10: the stored-projection lifecycle — a JSON descriptor is
    // saved to the Catalog, fetched back, compiled by ProjectionScript and
    // executed distributed (the reference's create→store→run round-trip,
    // projections/service.go:20-28 + projection.go:363-373)
    "proj_catalog_roundtrip" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val catalogDir = java.nio.file.Files.createTempDirectory("graft-catalog").toString
      try {
      val script =
        """{"name":"catalog-rt","from":["$all"],"partitionBy":"stream",
          |"state":["clicks","others"],
          |"when":{"click":[{"op":"inc","field":"clicks"}],
          |        "$any":[{"op":"inc","field":"others"}]},
          |"outputState":true}""".stripMargin
      Catalog.save(s, catalogDir, "catalog-rt", ProjectionScript.validated(script))
      val stored = Catalog.get(s, catalogDir, "catalog-rt")
        .getOrElse(sys.error("catalog round-trip: projection not found"))
      val p = ProjectionScript.compile(stored)
      ProjectionBatch.finalStates(p, Fixture.events(s, dir))
        .toDF("partition", "state")
        .select(col("partition"),
          element_at(col("state"), "clicks").as("clicks"),
          element_at(col("state"), "others").as("others"))
        .orderBy("partition")
      // Catalog.get collected the stored descriptor eagerly above, so
      // nothing downstream reads catalogDir — delete it here rather than
      // stranding one tree per execution (bench reruns each gate query
      // a dozen-plus times per sweep)
      } finally graft.util.TempRoots.rm(catalogDir)
    }
  )

  val oracles: Map[String, String] = Map(
    "proj_pump_replay" ->
      s"""$EV SELECT stream AS partition, count(*) AS n,
         |CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks
         |FROM ev GROUP BY stream ORDER BY stream""".stripMargin,
    // order-sensitive final state as window SQL: the path is the
    // position-ordered first-10 aggregation, the last type is the
    // arg-max over position — any fold-order deviation hash-mismatches
    "proj_pump_replay_ordered" ->
      s"""$EV, r AS (
         |  SELECT stream, event_type, position,
         |    row_number() OVER (PARTITION BY stream ORDER BY position) AS rn
         |  FROM ev
         |)
         |SELECT stream AS partition, count(*) AS n,
         |  string_agg(event_type, '->' ORDER BY position)
         |    FILTER (WHERE rn <= 10) AS path,
         |  arg_max(event_type, position) AS last_event_type
         |FROM r GROUP BY stream ORDER BY stream""".stripMargin,
    "proj_pump_hybrid" ->
      s"""$EV, r AS (
         |  SELECT stream, event_type, position,
         |    row_number() OVER (PARTITION BY stream ORDER BY position) AS rn
         |  FROM ev
         |)
         |SELECT stream AS partition, count(*) AS n,
         |  string_agg(event_type, '->' ORDER BY position)
         |    FILTER (WHERE rn <= 10) AS path,
         |  arg_max(event_type, position) AS last_event_type
         |FROM r GROUP BY stream ORDER BY stream""".stripMargin,
    "proj_count_by_stream" ->
      s"""$EV SELECT stream AS partition, count(*) AS count FROM ev
         |GROUP BY stream ORDER BY stream""".stripMargin,
    "proj_state_all" ->
      s"""$EV SELECT * FROM (
         |  SELECT 'clicks' AS projection, stream AS partition,
         |         CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n
         |  FROM ev GROUP BY 2
         |  UNION ALL
         |  SELECT 'per_stream', stream, count(*) FROM ev GROUP BY 2
         |  UNION ALL
         |  SELECT 'total', '', count(*) FROM ev
         |) ORDER BY projection, partition""".stripMargin,
    // funnel_steps' own CTE chain, collapsed to the automaton stage
    "proj_funnel_stage" ->
      s"""$EV, s0 AS (SELECT DISTINCT stream FROM ev),
         |s1 AS (SELECT stream, min(position) AS p1 FROM ev WHERE event_type = 'signup' GROUP BY 1),
         |s2 AS (SELECT e.stream, min(e.position) AS p2 FROM ev e JOIN s1 ON e.stream = s1.stream
         |       WHERE e.event_type = 'view' AND e.position > s1.p1 GROUP BY 1),
         |s3 AS (SELECT e.stream, min(e.position) AS p3 FROM ev e JOIN s2 ON e.stream = s2.stream
         |       WHERE e.event_type = 'click' AND e.position > s2.p2 GROUP BY 1),
         |s4 AS (SELECT e.stream, min(e.position) AS p4 FROM ev e JOIN s3 ON e.stream = s3.stream
         |       WHERE e.event_type = 'purchase' AND e.position > s3.p3 GROUP BY 1)
         |SELECT s0.stream AS partition,
         |  CAST(CASE WHEN p4 IS NOT NULL THEN 4 WHEN p3 IS NOT NULL THEN 3
         |       WHEN p2 IS NOT NULL THEN 2 WHEN p1 IS NOT NULL THEN 1
         |       ELSE 0 END AS BIGINT) AS stage
         |FROM s0 LEFT JOIN s1 USING (stream) LEFT JOIN s2 USING (stream)
         |  LEFT JOIN s3 USING (stream) LEFT JOIN s4 USING (stream)
         |ORDER BY s0.stream""".stripMargin,
    "proj_dispatch" ->
      s"""$EV SELECT stream AS partition,
         |  count(*) FILTER (WHERE event_type = 'click') AS clicks,
         |  count(*) FILTER (WHERE event_type = 'view') AS views,
         |  count(*) FILTER (WHERE event_type NOT IN ('click','view')) AS others
         |FROM ev GROUP BY stream ORDER BY stream""".stripMargin,
    "proj_sumk_by_type" ->
      s"""$EV SELECT event_type AS partition,
         |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "proj_filterby_threshold" ->
      s"""$EV SELECT stream AS partition, count(*) AS count FROM ev
         |GROUP BY stream HAVING count(*) > 60 ORDER BY stream""".stripMargin,
    "proj_from_streams_global" ->
      s"""$EV SELECT '' AS partition, count(*) AS count FROM ev
         |WHERE stream IN ('user-3', 'user-7')""".stripMargin,
    "proj_replay_at_position" ->
      s"""$EV SELECT stream AS partition, count(*) AS count FROM ev
         |WHERE position <= 5000 GROUP BY stream ORDER BY stream""".stripMargin,
    // fold == window: s_i = max(0, s_{i-1}+d_i) equals
    // P_i - min(0, min_{j<=i} P_j) over prefix sums P (running-max identity)
    "anomaly_cusum" ->
      s"""$EV, dd AS (
         |  SELECT stream, position,
         |    CAST(json_extract_string(props, '$$.k') AS BIGINT) - 55 AS d
         |  FROM ev
         |), pf AS (
         |  SELECT stream, position,
         |    sum(d) OVER (PARTITION BY stream ORDER BY position ROWS UNBOUNDED PRECEDING) AS p
         |  FROM dd
         |), c AS (
         |  SELECT stream, position,
         |    p - least(CAST(0 AS BIGINT),
         |          min(p) OVER (PARTITION BY stream ORDER BY position ROWS UNBOUNDED PRECEDING)) AS cusum
         |  FROM pf
         |)
         |SELECT stream, position, CAST(cusum AS BIGINT) AS cusum
         |FROM c WHERE cusum > 150
         |ORDER BY stream, position""".stripMargin,
    // $init runs on the first event of ANY type, so every stream appears;
    // the typed handler counts/sums only clicks
    "proj_js_service" ->
      s"""$EV SELECT stream AS partition,
         |  count(*) FILTER (WHERE event_type = 'click') AS n,
         |  CAST(coalesce(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT))
         |       FILTER (WHERE event_type = 'click'), 0) AS BIGINT) AS sum_k
         |FROM ev GROUP BY stream ORDER BY stream""".stripMargin,
    // the JS fold is count + sum(k) per event type, emitted only past the
    // count>10 gate, with the transform's constant field
    "proj_js_source" ->
      s"""$EV SELECT event_type AS partition, count(*) AS count,
         |  CAST(sum(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         |  'js' AS kind
         |FROM ev GROUP BY event_type HAVING count(*) > 10
         |ORDER BY event_type""".stripMargin,
    // specific handler WINS over $any (dispatch precedence), so 'others'
    // counts only non-click events
    "proj_catalog_roundtrip" ->
      s"""$EV SELECT stream AS partition,
         |  count(*) FILTER (WHERE event_type = 'click') AS clicks,
         |  count(*) FILTER (WHERE event_type != 'click') AS others
         |FROM ev GROUP BY stream ORDER BY stream""".stripMargin
  )
}
