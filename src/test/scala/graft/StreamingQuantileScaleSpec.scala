package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingQuantile
import graft.streaming.StreamingQuantile.{QuantileReading, ValueEvent}

/** Bench-scale streaming P² quantile (the round-12 closing leg of the
  * scale-evidence tier — with it, every monitor carries corpus-scale
  * evidence): the FULL sf0.1 events table keyed by event_type, p=0.9.
  * The P² estimator is a 5-marker recurrence with no cheaper second
  * formulation, so the batching-invariance gate replaces a twin: the
  * 20-micro-batch stream must end BIT-IDENTICAL to the same monitor
  * fed the identical (ts, id)-ordered sequence as ONE batch — any
  * cross-batch state loss, double-fold or reorder breaks double
  * equality. Accuracy rides along as data: each key's estimate lands
  * within 5% (relative, on the cent grid) of the exact p90 computed
  * by percentile(), and n is integer-exact.
  */
class StreamingQuantileScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  private def run(ev: Array[ValueEvent], batchSize: Int, name: String)
      : Map[String, QuantileReading] = {
    val t0 = System.nanoTime()
    val rows = StreamDriver.run(ev.grouped(batchSize).map(_.toSeq).toSeq)(
      StreamingQuantile.monitor(_, p = 0.9))
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[stream-p2] ${ev.length}%d events / " +
      f"${ev.grouped(batchSize).size}%d batches in $secs%.1f s ($name)")
    rows
      .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_so_far) }
  }

  test("sf0.1 events in 20 micro-batches end bit-identical to the one-batch fold") {
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("tsl"),
        col("event_type").cast("string").as("k"),
        col("value").cast("double").as("v"))
      .as[(Long, Long, String, Double)].collect()
      .sortBy(e => (e._2, e._1))
      .map { case (id, tsl, k, v) => ValueEvent(id, tsl, k, v) }
    val exact = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .groupBy(col("event_type").cast("string").as("k"))
      .agg(expr("percentile(value, 0.9)").as("p90"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap

    val streamed = run(ev, batchSize = 5000, name = "p2_scale_multi")
    val oneShot = run(ev, batchSize = ev.length, name = "p2_scale_single")
    assert(streamed.keySet === exact.keySet)
    streamed.foreach { case (k, reading) =>
      val single = oneShot(k)
      assert(reading.n_so_far === exact(k)._2,
        s"key $k: every event must be folded exactly once")
      assert(reading.p_estimate === single.p_estimate,
        s"key $k: 20-batch estimate ${reading.p_estimate} != one-batch " +
          s"${single.p_estimate} — cross-batch marker state diverged")
      assert(reading.exact_regime === single.exact_regime)
      val p90 = exact(k)._1
      assert(math.abs(reading.p_estimate - p90) <= 0.05 * math.abs(p90),
        s"key $k: P2 estimate ${reading.p_estimate} vs exact p90 $p90")
    }
  }
}
