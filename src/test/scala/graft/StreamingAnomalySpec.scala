package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingAnomaly
import graft.streaming.StreamingAnomaly.{Anomaly, ValueEvent}

class StreamingAnomalySpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Int) = new Timestamp(1704067200000L + s * 1000L)

  test("running z-score flags spikes against state so far, across micro-batches (q93 streaming twin)") {
    val got = StreamDriver.run(Seq(
      // batch 1: a stable baseline around 10 ± 1 (alternating 9/11)
      (0 until 20).map(i =>
        ValueEvent(i.toLong, "click", ts(i), if (i % 2 == 0) 9.0 else 11.0)),
      // batch 2: one spike plus two normal values; the spike scores
      // against the 20-event baseline carried in state from batch 1
      Seq(ValueEvent(100L, "click", ts(100), 10.0),
        ValueEvent(101L, "click", ts(101), 50.0),
        ValueEvent(102L, "click", ts(102), 9.0))))(
      StreamingAnomaly.anomalies(_, threshold = 3.0, minSamples = 10L))
      .sortBy(_.event_id)
    assert(got.map(_.event_id).toSeq === Seq(101L),
      s"only the spike may be flagged, got: ${got.mkString("; ")}")
    val spike = got.head
    // baseline so far: 21 events (20 + the 10.0), mean 10, sd 1 → z = 40
    assert(spike.n_so_far === 21L)
    assert(spike.z > 30.0, s"z=${spike.z}")
    // the spike then joins the moments: a later identical value scores
    // against a baseline that includes it (prefix semantics)
  }

  test("no scoring below minSamples; sd=0 histories never divide by zero") {
    // constant history (sd = 0): even a wild value must not crash, and
    // the first 4 events are below minSamples
    val got = StreamDriver.run(Seq(
      (0 until 8).map(i => ValueEvent(i.toLong, "error", ts(i), 5.0)),
      Seq(ValueEvent(9L, "error", ts(9), 500.0))))(
      StreamingAnomaly.anomalies(_, threshold = 1.0, minSamples = 5L))
    // sd stays 0 through the constant prefix → nothing scored
    assert(got.length === 0)
  }
}
