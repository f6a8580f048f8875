package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.append.{Appender, ProposedEvent}
import graft.model.{AnyRevision, EventConflict}

/**
 * Streaming sink INTO the event log: lands a stream of proposed events as
 * transactional appends with dense revisions/positions — the write half
 * of the subscription loop ([[Subscriptions]] reads the log out;
 * `LogSink` closes the cycle for stream-processing topologies that emit
 * new events).
 *
 * Exactly-once without a ledger: Structured Streaming redelivers the
 * last uncommitted micro-batch on restart, and the appender's
 * `(stream, uuid)` conflict check (the reference's PK,
 * `backend.go:48,316-329`) rejects the replay. The micro-batch is
 * written as ONE `batchAppend` call (a single parquet append), so a batch
 * is either fully applied or not at all — there is no partial-replay
 * state. An [[EventConflict]] is therefore success only when every
 * (stream, uuid) of the batch is already in the log; any other conflict
 * (an in-batch duplicate, applied pairs mixed with new ones) fails the
 * trigger loudly, with nothing written. That test reads the appender's
 * writer state, so a redelivery pays the one exact (stream, uuid) query
 * its rejected `batchAppend` ran, not a second scan.
 *
 * Scale: revision assignment is inherently a per-stream sequential fold
 * (the single-writer contract, SURVEY §2.1), so the sink drains each
 * micro-batch through the driver — bounded by the trigger size, which
 * backpressure options cap. Throughput scales by partitioning the log
 * (one sink per [[graft.log.PartitionedLog]] bucket), not by
 * parallelizing one dense sequence.
 */
object LogSink {

  /** Apply one micro-batch: group by stream (event order within a stream
    * = ascending `orderCol`), one transactional batchAppend; a replayed
    * batch surfaces as an event conflict and is skipped, any other
    * conflict is rethrown. */
  def applyBatch(spark: SparkSession, logDir: String, batch: DataFrame,
                 orderCol: String): Unit = {
    val rows = batch
      .select(col("stream").cast("string"), col("uuid").cast("string"),
        col("event_type").cast("string"), col("data").cast("string"),
        col(orderCol).cast("long").as("ord"))
      .collect() // bounded by the micro-batch trigger (see scale note)
      // driver-side sort, not a cluster orderBy: the batch is already
      // driver-bounded, and skipping the range shuffle saves a whole
      // Spark stage per trigger (the fixed cost the ingest probe showed
      // dominating small triggers). A null ord sorts first (the
      // cluster-side orderBy's nulls-first), not NPEs the trigger.
      .sortBy(r => (r.getString(0), if (r.isNullAt(4)) Long.MinValue else r.getLong(4)))
    if (rows.nonEmpty) {
      val batches = rows
        .groupBy(_.getString(0)).toSeq.sortBy(_._1)
        .map { case (stream, rs) =>
          (stream,
            // stamp the required system metadata from the proposal fields,
            // exactly as the reference's ingress does (streams.go:191-203)
            rs.toSeq.map(r => ProposedEvent(r.getString(1), r.getString(2), r.getString(3),
              Map("type" -> r.getString(2), "content-type" -> "application/json"))),
            AnyRevision: graft.model.ExpectedRevision)
        }
      try Appender.batchAppend(spark, logDir, batches)
      catch { // redelivered micro-batch: already applied; any other conflict propagates
        case _: EventConflict if Appender.alreadyApplied(spark, logDir,
          rows.toSeq.map(r => (r.getString(0), r.getString(1)))) => ()
      }
    }
  }

  /** Start the sink: `src` must provide (stream, uuid, event_type, data)
    * plus `orderCol` for deterministic within-stream ordering. */
  def start(spark: SparkSession, src: DataFrame, logDir: String,
            checkpointDir: String, orderCol: String,
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, _: Long) =>
        applyBatch(spark, logDir, df, orderCol)
      }
      .start()
}
