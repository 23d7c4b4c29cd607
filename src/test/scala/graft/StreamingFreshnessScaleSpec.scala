package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingFreshness
import graft.streaming.StreamingFreshness.{FreshReading, TimedEvent}

/** Bench-scale streaming freshness (the round-12 SLO leg of the
  * scale-evidence tier): the FULL sf0.1 events table — arrival times
  * synthesized deterministically as event time plus an id-keyed lag,
  * so the fixture is replayable — streamed through
  * [[StreamingFreshness.monitor]] keyed by event_type must end
  * INTEGER-EXACT vs the batch group-by on the same lag algebra: per
  * source, n, max event time, exact lag sum, worst lag, and the mean
  * computed by the identical lagSum/n double chain. The state is all
  * integer milliseconds, so equality at corpus scale proves the O(1)
  * fold neither lost nor double-counted an arrival across 20
  * micro-batch boundaries.
  */
class StreamingFreshnessScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Deterministic synthetic arrival: event time + (id mod 97) s of
    * ingest lag — every replay builds the identical fixture. */
  private def timed = {
    spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id").as("id"),
        col("event_type").cast("string").as("source"),
        (unix_timestamp(col("ts").cast("timestamp")) * 1000L)
          .as("eventMs"))
      .withColumn("arrivalMs",
        col("eventMs") + pmod(col("id"), lit(97L)) * 1000L)
  }

  /** Batch twin: one exact integer group-by. */
  private def batchFresh(): Map[String, (Long, Long, Long, Long)] =
    timed
      .withColumn("lag", greatest(lit(0L), col("arrivalMs") - col("eventMs")))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), max("eventMs").as("maxEvent"),
        sum("lag").as("lagSum"), max("lag").as("maxLag"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("sf0.1 events streamed in micro-batches end integer-exact vs the batch lag algebra") {
    val ev = timed.as[TimedEvent].collect()
      .sortBy(e => (e.arrivalMs, e.id))
    val want = batchFresh()

    val t0 = System.nanoTime()
    val rows = StreamDriver.run(ev.grouped(5000).map(_.toSeq).toSeq)(
      StreamingFreshness.monitor(_))
    val secs = (System.nanoTime() - t0) / 1e9

    val finals = rows
      .groupBy(_.source).map { case (k, rs) => k -> rs.maxBy(_.n_so_far) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      val (n, maxEvent, lagSum, maxLag) = want(k)
      assert(reading.n_so_far === n,
        s"source $k: every arrival must be folded exactly once")
      assert(reading.max_event_ms === maxEvent)
      assert(reading.worst_lag_ms === maxLag)
      assert(reading.mean_lag_ms === lagSum.toDouble / n.toDouble,
        s"source $k: mean lag diverges — the integer lag sum drifted")
    }

    val rate = ev.length / secs
    println(f"[stream-fresh] ${ev.length}%d events / " +
      f"${ev.grouped(5000).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; sources=${finals.size}%d")
    PerfGate.check(rate, 100.0, "streaming freshness")
  }
}
