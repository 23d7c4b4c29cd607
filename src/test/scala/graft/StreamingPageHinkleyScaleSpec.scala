package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingPageHinkley
import graft.streaming.StreamingPageHinkley.{CentsEvent, PhReading}

/** Bench-scale streaming Page–Hinkley (the round-12 change-detector leg
  * of the scale-evidence tier): the FULL sf0.1 events table — every
  * event's cents value, not q304's daily pre-aggregates — streamed
  * through [[StreamingPageHinkley.monitor]] keyed by event_type must
  * end BIT-IDENTICAL to the same quantized-BIGINT recurrence computed
  * by Spark SQL window functions (row_number + cumulative sums +
  * IntegralDivide — q304's algebra on a different code path): per key,
  * final t, PH statistic and alarm flag all integer-exact after 20
  * micro-batch folds of ~20k events each. The algebra is all-BIGINT,
  * so equality at corpus scale proves the O(1) state recurrence IS the
  * unbounded-window batch computation, independent of batching.
  */
class StreamingPageHinkleyScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Batch twin: q304's window algebra over the per-event sequence
    * ordered by (ts, event_id) — final (t, ph_q) per key. */
  private def batchPh(): Map[String, (Long, Long)] = {
    val w = Window.partitionBy("k").orderBy("tsl", "event_id")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("tsl"),
        (col("value").cast("decimal(18,2)") * 100)
          .cast("bigint").as("x"))
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("s_t", sum(col("x")).over(wCum))
      .withColumn("dev_q", expr("((x * t - s_t) * 1048576) div t"))
      .withColumn("m_t", sum(col("dev_q")).over(wCum))
      .withColumn("run_min", min(col("m_t")).over(wCum))
      .withColumn("ph_q", col("m_t") - col("run_min"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("k").orderBy(col("t").desc)))
      .filter(col("rk") === 1)
      .select("k", "t", "ph_q")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("sf0.1 per-event cents streamed in micro-batches end bit-exact vs the window algebra") {
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("tsl"),
        col("event_type").cast("string").as("k"),
        (col("value").cast("decimal(18,2)") * 100)
          .cast("bigint").as("cents"))
      .as[(Long, Long, String, Long)].collect()
      .sortBy(e => (e._2, e._1))
      .map { case (id, tsl, k, c) => CentsEvent(id, tsl, k, c) }
    val want = batchPh()

    val threshold = 50000L
    val t0 = System.nanoTime()
    val rows = StreamDriver.run(ev.grouped(5000).map(_.toSeq).toSeq)(
      StreamingPageHinkley.monitor(_, threshold))
    val secs = (System.nanoTime() - t0) / 1e9

    val finals = rows
      .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.t) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      val (t, phQ) = want(k)
      assert(reading.t === t, s"key $k: event count diverges")
      assert(reading.ph_q === phQ,
        s"key $k: streaming PH diverges from the batch window algebra")
      assert(reading.alarm === (phQ > threshold * 1048576L))
    }
    assert(finals.values.map(_.t).sum === ev.length.toLong)

    val rate = ev.length / secs
    println(f"[stream-ph] ${ev.length}%d events / " +
      f"${ev.grouped(5000).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; keys=${finals.size}%d")
    PerfGate.check(rate, 100.0, "streaming Page-Hinkley")
  }
}
