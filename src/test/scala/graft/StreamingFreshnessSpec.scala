package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingFreshness
import graft.streaming.StreamingFreshness.{FreshReading, TimedEvent}

/** Freshness SLO monitor: exact integer lag accounting across batches
  * and a staleness alarm when the source's event-time watermark falls
  * behind the arrival clock. */
class StreamingFreshnessSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lag sums carry across batches; a stalled source goes stale") {
    val got = StreamDriver.run(Seq(
      // batch 1: healthy source — events arrive 1s after they happen
      Seq(TimedEvent(1L, "pos", eventMs = 10000L, arrivalMs = 11000L),
        TimedEvent(2L, "pos", eventMs = 12000L, arrivalMs = 13000L)),
      // batch 2: the feed stalls — new arrivals carry OLD event times,
      // so the watermark is now 20s behind the arrival clock
      Seq(TimedEvent(3L, "pos", eventMs = 13000L, arrivalMs = 33000L))))(
      StreamingFreshness.monitor(_, maxAllowedLagMs = 5000L))
      .sortBy(_.n_so_far)
    assert(got.length == 2)
    assert(got(0).n_so_far == 2L)
    assert(got(0).mean_lag_ms == 1000.0)
    assert(got(0).worst_lag_ms == 1000L)
    assert(got(0).watermark_behind_ms == 1000L && !got(0).stale)
    assert(got(1).n_so_far == 3L)
    // lags: 1000, 1000, 20000 → mean 22000/3
    assert(got(1).mean_lag_ms == 22000.0 / 3.0)
    assert(got(1).worst_lag_ms == 20000L)
    assert(got(1).watermark_behind_ms == 33000L - 13000L)
    assert(got(1).stale, "20s behind on a 5s SLO must alarm")
  }

  test("out-of-order event times never move the watermark backwards") {
    val got = StreamDriver.run(Seq(
      Seq(TimedEvent(1L, "s", 50000L, 50500L)),
      Seq(TimedEvent(2L, "s", 20000L, 51000L))))( // late straggler
      StreamingFreshness.monitor(_, maxAllowedLagMs = 60000L))
      .sortBy(_.n_so_far)
    assert(got.map(_.max_event_ms).toSeq == Seq(50000L, 50000L))
    assert(got(1).worst_lag_ms == 31000L)
  }
}
