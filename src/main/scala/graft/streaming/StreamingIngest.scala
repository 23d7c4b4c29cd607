package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.ingest.IngestPipeline

/** A1/A11/A12/A16 — the streaming shape of the ingest pipeline
  * (SURVEY §3.1): readStream → the same fused column-expression chain the
  * batch path uses → foreachBatch idempotent sink.
  *
  * Delivery semantics: the reference's per-message HTTP status codes
  * (handler.js:114-129) are replaced by checkpointing + watermark-bounded
  * state dedup — exactly-once into the sink instead of BigQuery's
  * best-effort insertId window (bq.js:49).
  */
object StreamingIngest {

  /** Micro-batch trigger from the reference's batching knobs
    * (batchProcessor.js:8-9): wait==0 → process-as-available. */
  def trigger(maxBatchWaitMs: Long): Trigger =
    if (maxBatchWaitMs <= 0) Trigger.ProcessingTime(0L)
    else Trigger.ProcessingTime(maxBatchWaitMs)

  /** Transform a streaming (message_id, data) frame into warehouse rows
    * with watermarked streaming dedup on the idempotency key (A12).
    * The rows are the batch pipeline's ([[IngestPipeline.eventRows]]);
    * only the dedup operator differs.
    *
    * Dedup state is BOUNDED: `dropDuplicatesWithinWatermark` evicts a
    * key's state once the watermark passes it, matching the reference
    * sink's best-effort insertId window (bq.js:49) rather than keeping
    * every key ever seen — plain `dropDuplicates` on a key subset never
    * evicts, which is unbounded state on an infinite stream. */
  def eventsStream(raw: DataFrame, cfg: IngestPipeline.Config,
      watermark: String = "10 minutes"): DataFrame =
    IngestPipeline.eventRows(IngestPipeline.prepare(raw, cfg), cfg)
      .withWatermark("received_at", watermark)
      .dropDuplicatesWithinWatermark("idempotency_key")

  /** DLQ side output of the same stream: the batch router's DLQ
    * ([[IngestPipeline.split]]), so a streamed DLQ row carries the same
    * transport attributes and `replay_attempts` that `DlqReplay.route`
    * reads. */
  def dlqStream(raw: DataFrame): DataFrame =
    IngestPipeline.split(IngestPipeline.prepare(raw)).dlq

  /** Start the stream into a foreachBatch sink. `sink` receives each
    * micro-batch of warehouse rows (A11's flush) — per-batch dedup against
    * the target lives in the sink (merge/append-if-absent), mirroring
    * writeBatchToBigQuery (bq.js:42-109). */
  def start(events: DataFrame, checkpoint: String,
      maxBatchWaitMs: Long = 0L)(
      sink: (DataFrame, Long) => Unit): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger(maxBatchWaitMs))
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        sink(batch.toDF(), id)
      }
      .start()

  /** A16 — graceful drain: process everything available, then stop
    * (SIGTERM flush, app.js:19-29). */
  def drainAndStop(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }
}
