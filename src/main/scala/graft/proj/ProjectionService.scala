package graft.proj

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Projection service — the verbs of the reference's (never-registered)
 * Projections wire surface (`/root/reference/transport/grpc/projections
 * .proto:8-19`: Create/Update/Delete/Disable/Enable/Reset/State/Result/
 * Statistics, SURVEY §2.9), implemented over the [[Catalog]] descriptor
 * store + [[ProjectionScript]] compiler + [[ProjectionBatch]] executor.
 * Note the reference's `UpdateProjection` is a no-op stub
 * (`projections/service.go:30-32`) — implemented for real here.
 *
 * Layout under one service dir: `catalog/` (descriptor versions, [[Catalog]]
 * merge-on-read) and `status/` (enabled flag + reset epoch, same pattern).
 * State/Result recompute the fold from the event log (batch semantics —
 * the fold IS the state); `reset` bumps an epoch that namespaces the
 * live pump's checkpoint/result dirs, so a restarted pump refolds from
 * scratch (the reference's Reset restarts the subscription from 0).
 */
object ProjectionService {

  private def catalogDir(dir: String) = s"$dir/catalog"
  private def statusDir(dir: String) = s"$dir/status"

  private val statusSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("enabled", BooleanType, nullable = false),
    StructField("epoch", LongType, nullable = false),
    StructField("deleted", BooleanType, nullable = false),
    StructField("updated_at", LongType, nullable = false)
  ))

  private def readStatus(spark: SparkSession, dir: String): DataFrame =
    graft.util.ParquetDirs.readOrEmpty(spark, statusDir(dir), statusSchema)

  private def writeStatus(spark: SparkSession, dir: String, name: String, enabled: Boolean,
                          epoch: Long, deleted: Boolean, nowNanos: Long): Unit = {
    import spark.implicits._
    Seq((name, enabled, epoch, deleted, nowNanos))
      .toDF("name", "enabled", "epoch", "deleted", "updated_at")
      .write.mode("append").parquet(statusDir(dir))
  }

  /** The latest status row of every name, deleted tombstones included. */
  private def latestStatus(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("name").orderBy(col("updated_at").desc)
    readStatus(spark, dir).withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  /** Latest status row incl. deleted tombstones: (enabled, epoch, deleted).
    * One name's rows are few, so they are collected and the newest is
    * picked on the driver — no window, no exchange. */
  private def rawStatus(spark: SparkSession, dir: String,
                        name: String): Option[(Boolean, Long, Boolean)] =
    readStatus(spark, dir).filter(col("name") === name)
      .collect().maxByOption(_.getLong(4))
      .map(r => (r.getBoolean(1), r.getLong(2), r.getBoolean(3)))

  /** (enabled, epoch), None if absent or deleted. */
  def status(spark: SparkSession, dir: String, name: String): Option[(Boolean, Long)] =
    rawStatus(spark, dir, name).collect { case (en, ep, false) => (en, ep) }

  private def liveStatus(spark: SparkSession, dir: String, name: String): (Boolean, Long) =
    status(spark, dir, name).getOrElse(throw new NoSuchElementException(s"no such projection '$name'"))

  /** A stored source is either the JSON descriptor dialect or a raw
    * reference-style JavaScript projection source (the reference stores
    * only JS source strings, `projections/service.go:20-28`). */
  private def isJsSource(script: String): Boolean = !script.trim.startsWith("{")

  /** Kind-dispatched validation: both dialects must compile to be stored
    * (the reference's Create runs goja over the source for the same
    * reason, `projection.go:363-373`). Returns the script unchanged. */
  private def validatedSource(name: String, script: String): String =
    if (isJsSource(script)) { JsProjection.compile(script, name); script }
    else ProjectionScript.validated(script)

  /** proto `Create`: validate + store the descriptor, enabled. Accepts
    * BOTH source dialects: the JSON descriptor and a raw reference JS
    * projection source — an eventstorm user's stored sources ingest
    * as-is. A name recreated after delete starts at the NEXT epoch — the
    * pump's checkpoint/result dirs are epoch-namespaced, so the new
    * incarnation never resumes the deleted one's streaming state or
    * mixes into its result parquet. Fails if the name exists undeleted. */
  def create(spark: SparkSession, dir: String, name: String, script: String,
             nowNanos: Long = System.nanoTime()): Unit = {
    val raw = rawStatus(spark, dir, name)
    require(raw.forall(_._3), s"projection '$name' already exists")
    val epoch = raw.map(_._2 + 1L).getOrElse(0L)
    Catalog.save(spark, catalogDir(dir), name, validatedSource(name, script), nowNanos)
    writeStatus(spark, dir, name, enabled = true, epoch = epoch, deleted = false, nowNanos)
  }

  /** proto `Update`: store a new descriptor version (no-op in the
    * reference, service.go:30-32 — real here). Either dialect. */
  def update(spark: SparkSession, dir: String, name: String, script: String,
             nowNanos: Long = System.nanoTime()): Unit = {
    require(status(spark, dir, name).nonEmpty, s"no such projection '$name'")
    Catalog.save(spark, catalogDir(dir), name, validatedSource(name, script), nowNanos)
  }

  /** proto `Delete`. The tombstone carries the deleted incarnation's
    * epoch so a later recreate advances past every namespace it used. */
  def delete(spark: SparkSession, dir: String, name: String,
             nowNanos: Long = System.nanoTime()): Unit = {
    val epoch = rawStatus(spark, dir, name).map(_._2).getOrElse(0L)
    writeStatus(spark, dir, name, enabled = false, epoch = epoch, deleted = true, nowNanos)
  }

  /** proto `Disable` / `Enable`: gate live processing (a disabled
    * projection keeps its stored state; [[pumpDirs]] refuses to start). */
  def disable(spark: SparkSession, dir: String, name: String,
              nowNanos: Long = System.nanoTime()): Unit = setEnabled(spark, dir, name, false, nowNanos)
  def enable(spark: SparkSession, dir: String, name: String,
             nowNanos: Long = System.nanoTime()): Unit = setEnabled(spark, dir, name, true, nowNanos)

  private def setEnabled(spark: SparkSession, dir: String, name: String, on: Boolean,
                         nowNanos: Long): Unit = {
    val (_, epoch) = liveStatus(spark, dir, name)
    writeStatus(spark, dir, name, enabled = on, epoch = epoch, deleted = false, nowNanos)
  }

  /** proto `Reset`: discard accumulated state — the epoch bump namespaces
    * the pump's checkpoint + result dirs, so the next start refolds from
    * position 0 (the reference restarts the subscription). */
  def reset(spark: SparkSession, dir: String, name: String,
            nowNanos: Long = System.nanoTime()): Unit = {
    val (enabled, epoch) = liveStatus(spark, dir, name)
    writeStatus(spark, dir, name, enabled = enabled, epoch = epoch + 1L, deleted = false, nowNanos)
  }

  /** A stored projection as one verb sees it: its live status and its
    * latest source, each read ONCE per verb (every read is a Spark job). */
  private final case class Stored(name: String, enabled: Boolean, epoch: Long, src: String) {
    def isJs: Boolean = isJsSource(src)
    def bag: Projection[ProjectionScript.Bag] = {
      require(!isJs, s"'$name' is a JS-source projection — use stateJson/compiledJs")
      ProjectionScript.compile(src)
    }
    def js: JsProjection.Compiled = {
      require(isJs, s"'$name' is a JSON-descriptor projection — use compiled")
      JsProjection.compile(src, name)
    }
  }

  private def load(spark: SparkSession, dir: String, name: String): Stored = {
    val (enabled, epoch) = liveStatus(spark, dir, name)
    Stored(name, enabled, epoch, Catalog.get(spark, catalogDir(dir), name)
      .getOrElse(throw new NoSuchElementException(s"no descriptor for '$name'")))
  }

  private implicit val jsEnc: org.apache.spark.sql.Encoder[JsProjection.JsVal] =
    org.apache.spark.sql.Encoders.javaSerialization[JsProjection.JsVal]

  /** Compile the stored descriptor (latest version). JSON dialect only —
    * JS-source projections run via [[compiledJs]] / [[stateJson]]. */
  def compiled(spark: SparkSession, dir: String, name: String): Projection[ProjectionScript.Bag] =
    load(spark, dir, name).bag

  /** Compile a stored JS-source projection (latest version). */
  def compiledJs(spark: SparkSession, dir: String, name: String): Projection[JsProjection.JsVal] =
    load(spark, dir, name).js.projection

  /** `State` for EITHER dialect, state rendered as canonical JSON —
    * the dialect-agnostic serving surface (a JS projection's state is an
    * arbitrary object, not a counter bag). */
  def stateJson(spark: SparkSession, dir: String, name: String, events: DataFrame): DataFrame = {
    import spark.implicits._
    val st = load(spark, dir, name)
    if (st.isJs)
      ProjectionBatch.finalStates(st.js.projection, events)
        .map { case (k, s) => (k, JsProjection.JsVal.toJson(s)) }
        .toDF("partition", "state_json")
    else
      ProjectionBatch.finalStates(st.bag, events)
        .map { case (k, bag) =>
          (k, bag.toSeq.sortBy(_._1)
            .map { case (f, v) => "\"" + f + "\":" + v }.mkString("{", ",", "}"))
        }
        .toDF("partition", "state_json")
  }

  /** Epoch-namespaced (checkpoint, result) dirs for the live pump; refuses
    * when the projection is disabled. */
  def pumpDirs(spark: SparkSession, dir: String, name: String): (String, String) = {
    val (enabled, epoch) = liveStatus(spark, dir, name)
    pumpDirs(dir, name, enabled, epoch)
  }

  private def pumpDirs(dir: String, name: String, enabled: Boolean, epoch: Long): (String, String) = {
    require(enabled, s"projection '$name' is disabled")
    (s"$dir/pump/$name/epoch-$epoch/checkpoint", s"$dir/pump/$name/epoch-$epoch/result")
  }

  /** Run the stored projection LIVE: compile the latest source (either
    * dialect) and start the [[graft.streaming.ProjectionPump]] against
    * `logDir`, with checkpoint/result dirs namespaced by the current
    * epoch (so `reset` + restart refolds from scratch). JS-source
    * projections emit their state JSON-rendered (arbitrary object state).
    * Refuses when disabled. */
  def startPump(spark: SparkSession, dir: String, name: String, logDir: String,
                availableNow: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val st = load(spark, dir, name)
    val (ckpt, out) = pumpDirs(dir, name, st.enabled, st.epoch)
    if (st.isJs)
      graft.streaming.ProjectionPump.startRendered(
        spark, st.js.projection, logDir, out, ckpt, availableNow)(JsProjection.JsVal.toJson)
    else
      graft.streaming.ProjectionPump.start(spark, st.bag, logDir, out, ckpt, availableNow)
  }

  /** proto `State`: the current fold state per partition (batch recompute
    * over the given event log — the fold IS the state). */
  def state(spark: SparkSession, dir: String, name: String, events: DataFrame): DataFrame = {
    import spark.implicits._
    val p = compiled(spark, dir, name)
    ProjectionBatch.finalStates(p, events).toDF("partition", "state")
  }

  /** Names of all live (not deleted) projections, latest status row wins. */
  def listNames(spark: SparkSession, dir: String): Seq[String] = {
    latestStatus(spark, dir)
      .filter(!col("deleted"))
      .select("name").collect().map(_.getString(0)).toSeq.sorted
  }

  /** (name, latest source) of every ENABLED, undeleted projection — the
    * status table and the catalog each read ONCE (r16: the previous
    * per-name `status`/`source` control plane cost 2N+1 driver jobs /
    * ~26 scheduled stages before `stateAll`'s fold even started). */
  private def enabledSources(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val live = latestStatus(spark, dir)
      .filter(col("enabled") && !col("deleted"))
      .select("name").collect().map(_.getString(0)).toSet
    val sources = Catalog.list(spark, catalogDir(dir))
    live.toSeq.sorted.map { n =>
      // an enabled projection MUST have a catalog descriptor — the old
      // per-name path threw here, and silently dropping the name from
      // stateAll would hide a status/catalog inconsistency
      n -> sources.getOrElse(n,
        throw new NoSuchElementException(
          s"projection '$n' is enabled but has no catalog descriptor"))
    }
  }

  /** `State` for EVERY enabled projection in ONE pass of the log
    * ([[ProjectionBatch.finalStatesAll]] — scan sharing the reference
    * cannot do: it re-reads the log per projection runner). Returns
    * (projection, partition, state). */
  def stateAll(spark: SparkSession, dir: String, events: DataFrame): DataFrame = {
    import spark.implicits._
    val ps = enabledSources(spark, dir)
      .filter { case (_, src) => !isJsSource(src) } // bag-typed multiplexed fold
      .map { case (n, src) => n -> ProjectionScript.compile(src) }
    ProjectionBatch.finalStatesAll(ps, events).toDF("projection", "partition", "state")
  }

  /** proto `Result`: the emitted result-stream content (filterBy-gated).
    * JSON dialect; JS-source projections use [[resultJson]]. */
  def result(spark: SparkSession, dir: String, name: String, events: DataFrame): DataFrame = {
    import spark.implicits._
    val p = compiled(spark, dir, name)
    ProjectionBatch.emittedStates(p, events).toDF("partition", "state")
      .withColumn("result_stream", lit(p.resultStream))
  }

  /** `Result` for a stored JS-source projection, states JSON-rendered. */
  def resultJson(spark: SparkSession, dir: String, name: String, events: DataFrame): DataFrame = {
    import spark.implicits._
    val p = compiledJs(spark, dir, name)
    ProjectionBatch.emittedStates(p, events)
      .map { case (k, st) => (k, JsProjection.JsVal.toJson(st)) }
      .toDF("partition", "state_json")
      .withColumn("result_stream", lit(p.resultStream))
  }

  /** proto `Statistics`: per-projection processing counters (either
    * dialect — only the selector and result-stream name are needed). */
  def statistics(spark: SparkSession, dir: String, name: String, events: DataFrame): DataFrame = {
    val st = load(spark, dir, name)
    val (selector, resultStream) =
      if (st.isJs) { val c = st.js; (c.selector, c.resultStream) }
      else { val p = st.bag; (p.selector, p.resultStream) }
    ProjectionBatch.selected(selector, events, "stream")
      .agg(count(lit(1)).as("events_processed"))
      .withColumn("name", lit(name))
      .withColumn("enabled", lit(st.enabled))
      .withColumn("epoch", lit(st.epoch))
      .withColumn("result_stream", lit(resultStream))
      .select("name", "enabled", "epoch", "events_processed", "result_stream")
  }
}
