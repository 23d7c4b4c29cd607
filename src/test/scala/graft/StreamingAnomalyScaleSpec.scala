package graft

import java.sql.Timestamp
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingAnomaly
import graft.streaming.StreamingAnomaly.{Anomaly, ValueEvent}

/** Bench-scale streaming z-score anomalies (the round-12 outlier leg of
  * the scale-evidence tier): the FULL sf0.1 events table streamed
  * through [[StreamingAnomaly.anomalies]] keyed by event_type must emit
  * EXACTLY the anomaly set of the same prefix-moment computation done
  * by Spark SQL running-window sums (cumulative Σv / Σv² over
  * (ts, id) order, rows UNBOUNDED PRECEDING → 1 PRECEDING — each event
  * scored against strictly its past, the monitor's contract) — every
  * (event_id, z) pair double-exact. WindowExec accumulates running
  * sums in row order, the same left-to-right association as the
  * monitor's fold, so the moments are bit-identical and with them the
  * z chain (mean = Σv/n, var = max(0, Σv²/n − mean²), z = (v−mean)/σ).
  * Equality of the full anomaly set after 20 micro-batch folds proves
  * the carried moments are the whole-history prefix at corpus scale.
  */
class StreamingAnomalyScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  private val Threshold = 3.0
  private val MinSamples = 30L

  /** Batch twin: prefix moments via running window sums, the z chain
    * written in the monitor's exact operation order. */
  private def batchAnomalies(): Set[(Long, Double)] = {
    val w = Window.partitionBy("k").orderBy("tsl", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        unix_timestamp(col("ts").cast("timestamp")).as("tsl"),
        col("event_id"), col("value").cast("double").as("v"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("v")).over(w))
      .withColumn("ss", sum(col("v") * col("v")).over(w))
      .filter(col("n") >= MinSamples)
      .withColumn("mean", col("s") / col("n"))
      .withColumn("variance", greatest(lit(0.0),
        col("ss") / col("n") - col("mean") * col("mean")))
      .withColumn("sd", sqrt(col("variance")))
      .filter(col("sd") > 0.0)
      .withColumn("z", (col("v") - col("mean")) / col("sd"))
      .filter(abs(col("z")) > Threshold)
      .select("event_id", "z")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
  }

  test("sf0.1 events streamed in micro-batches emit the exact prefix-z anomaly set") {
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"), col("event_type").cast("string").as("k"),
        unix_timestamp(col("ts").cast("timestamp")).as("tsl"),
        col("value").cast("double").as("v"))
      .as[(Long, String, Long, Double)].collect()
      .sortBy(e => (e._3, e._1))
      .map { case (id, k, tsl, v) =>
        ValueEvent(id, k, new Timestamp(tsl * 1000L), v) }
    val want = batchAnomalies()

    val t0 = System.nanoTime()
    val rows = StreamDriver.run(ev.grouped(5000).map(_.toSeq).toSeq)(
      StreamingAnomaly.anomalies(_,
        threshold = Threshold, minSamples = MinSamples))
    val secs = (System.nanoTime() - t0) / 1e9

    val got = rows.map(a => (a.event_id, a.z)).toSet
    assert(got.size === rows.length,
      "anomaly ids must be unique")
    assert(got === want,
      s"streamed anomaly set (${got.size}) diverges from the batch " +
        s"prefix-window set (${want.size})")

    val rate = ev.length / secs
    println(f"[stream-anom] ${ev.length}%d events / " +
      f"${ev.grouped(5000).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; anomalies=${got.size}%d")
    PerfGate.check(rate, 100.0, "streaming anomaly")
  }
}
