package graft.log

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Adapter from the driver's `events.parquet` fixture
 * (event_id, ts, user_id, event_type, value, props — FIXTURES.md §B) to the
 * engine's canonical event-log schema (stream, revision, position + payload
 * pass-through).
 *
 * Mapping (FIXTURES.md): `user_id` plays the stream key, `event_id` the
 * ingest order. The fixture's `event_id` is a 0-based dense global sequence
 * (ts is strictly monotone in it), so the reference's BIGSERIAL `position`
 * (`backend/backend.go:46`) is simply `event_id + 1` — an O(1) column,
 * no global window. Per-stream `revision` (`streams/streams.go:150`) is
 * derived with a window partitioned BY STREAM — one shuffle, parallel across
 * streams, no global sort; this is the plan that survives 100 TB (a global
 * `row_number()` would not — see graft.append for ingest-time assignment).
 */
object Fixture {

  /** Raw fixture table, with `ts` normalized to TimestampType (µs).
    *
    * The driver has shipped the fixture with two physical encodings of
    * `ts`: parquet `timestamp[us]` (loads as TimestampType) and int64
    * epoch-nanos (loads as LongType under
    * `spark.sql.legacy.parquet.nanosAsLong`). Everything downstream —
    * sessionization, time-bucket aggregations, the DuckDB oracles (which
    * see TIMESTAMP either way and use `epoch_us(ts)`) — works in exact
    * integer µs, so both encodings normalize here, once, to µs-precision
    * TimestampType. The legacy branch uses decimal division: `long/long`
    * is DOUBLE division in Spark and a half-ULP at ~1.7e18 ns is ~1µs,
    * enough to flip a session/window boundary. */
  def raw(spark: SparkSession, sfDir: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts",
          timestamp_micros(graft.streaming.Sessionize.microsFromNanos(col("ts"))))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // parquet timestamp[us] with isAdjustedToUTC=false loads as NTZ;
        // sessions run with spark.sql.session.timeZone=UTC so this cast is
        // a pure retag (no instant shift), matching DuckDB's naive view
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }

  /** Canonical event log WITHOUT per-stream revision (cheapest form —
    * sufficient for $all reads; nothing to shuffle). */
  def eventsNoRevision(spark: SparkSession, sfDir: String): DataFrame =
    raw(spark, sfDir)
      .withColumn("stream", concat(lit("user-"), col("user_id")))
      .withColumn("position", col("event_id") + 1L)

  // In a real deployment `revision` is a stored column assigned at ingest
  // (graft.append) — derive-once-and-persist stands in for that here, so a
  // query batch doesn't pay the per-stream window shuffle per query.
  /** Canonical event log with `revision` (one shuffle by stream, memoized
    * per session+dir and persisted). */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    graft.util.Memo(spark, sfDir, "Fixture.events") {
      val w = Window.partitionBy("stream").orderBy("position")
      val df = eventsNoRevision(spark, sfDir)
        .withColumn("revision", row_number().over(w).cast("long") - 1L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // materialize eagerly so the build cost lands HERE (in the memo
      // ledger), not inside whichever query's first action touches the
      // lazy persist
      df.count()
      df
    }

  /** Projection of the canonical columns used by read-path query outputs —
    * a stable column list keeps the DuckDB oracle schema-aligned. */
  val outCols: Seq[String] =
    Seq("position", "event_id", "stream", "event_type", "value", "revision")
}
