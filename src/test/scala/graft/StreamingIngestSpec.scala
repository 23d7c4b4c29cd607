package graft

import java.nio.file.Files
import java.util.Base64
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{DlqReplay, IngestPipeline}
import graft.streaming.StreamingIngest

class StreamingIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private val fixedTs = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  // a non-default region: national numbers normalize by its rules
  private val cfg = IngestPipeline.Config(defaultRegion = "GB",
    receivedAt = Some(fixedTs))

  private def envelope(callId: String, caller: String = "(415) 555-0001") =
    s"""{"envelope_version":"1","event_type":"call.completed","schema_version":"2","tenant_id":"t1","occurred_at":"2024-05-01T10:00:00Z","trace_id":"tr","source":"stream","payload":{"call_id":"$callId","caller":"$caller"}}"""

  test("streaming ingest: micro-batches flow through the same pipeline with cross-batch dedup (A1/A11/A12)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String)]
    val raw = input.toDF().toDF("message_id", "data")
    val events = StreamingIngest.eventsStream(raw, cfg)
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString
    val sink = new scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    val q = StreamingIngest.start(events, checkpoint) { (batch, id) =>
      sink.synchronized {
        sink ++= batch.select("idempotency_key", "payload")
          .as[(String, String)].collect().map { case (k, p) => (k, p, id) }
      }
    }
    // batch 1: two distinct + one duplicate-within-batch
    input.addData(("m1", b64(envelope("c1"))), ("m2", b64(envelope("c2"))),
      ("m3", b64(envelope("c1"))))
    q.processAllAvailable()
    // batch 2: replay of c1 (cross-batch duplicate) + new keys, one with
    // a GB national number
    val gbCall = ("m6", b64(envelope("c4", caller = "020 7946 0958")))
    input.addData(("m4", b64(envelope("c1"))), ("m5", b64(envelope("c3"))),
      gbCall)
    StreamingIngest.drainAndStop(q)
    val keys = sink.map(_._1).sorted
    assert(keys === Seq("c1", "c2", "c3", "c4"),
      s"watermarked dropDuplicates must collapse within AND across batches: $sink")
    // the stream normalizes with cfg.defaultRegion, exactly as batch does
    val streamed = sink.collect { case ("c4", p, _) => p }.head
    val batch = IngestPipeline.run(Seq(gbCall).toDF("message_id", "data"), cfg)
      .events.select("payload").as[String].head()
    assert(streamed.contains("\"caller\":\"+442079460958\""), streamed)
    assert(streamed === batch)
  }

  test("streaming DLQ side output routes terminal errors (A13/A14)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, Int)]
    val raw = input.toDF().toDF("message_id", "data", "replay_attempts")
    val dlq = StreamingIngest.dlqStream(raw)
    val checkpoint = Files.createTempDirectory("graft-ckpt-dlq").toString
    val q = dlq.writeStream.outputMode("append")
      .format("memory").queryName("dlq_out")
      .option("checkpointLocation", checkpoint).start()
    input.addData(("m1", b64("garbage"), 3),
      ("m2", b64(envelope("ok-1")), 0),
      ("m3", b64("""{"envelope_version":"1","event_type":"call.completed"}"""), 0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dlq_out")
    val rows = out.select("message_id", "error_type", "http_status",
      "replay_attempts").as[(String, String, Int, Int)].collect()
    assert(rows.sortBy(_._1).toSeq === Seq(("m1", "invalid_json", 422, 3),
      ("m3", "missing_fields", 400, 0)))
    // the streamed DLQ feeds the batch replay router: 3 attempts park,
    // 0 attempts replay with the counter incremented
    val routed = DlqReplay.route(out)
    assert(routed.parked.select("x_original_message_id").as[String]
      .collect().toSeq === Seq("m1"))
    assert(routed.replay.select("x_original_message_id", "replay_attempts")
      .as[(String, Int)].collect().toSeq === Seq(("m3", 1)))
  }

  test("trigger mapping honors the reference batching defaults (batchProcessor.js:8-9)") {
    import org.apache.spark.sql.streaming.Trigger
    assert(StreamingIngest.trigger(0) === Trigger.ProcessingTime(0L))
    assert(StreamingIngest.trigger(100) === Trigger.ProcessingTime(100L))
  }
}
