package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CoreFunctions.sha256PrefixLong15
import graft.streaming.StreamingKmv
import graft.streaming.StreamingKmv.{IdEvent, KmvReading}

/** Bench-scale streaming KMV (the second round-12 sketch-monitor scale
  * leg): the FULL sf0.1 events table streamed through
  * [[StreamingKmv.monitor]] as micro-batches, keyed by event_type over
  * user ids, must end INTEGER-EXACT vs the batch bottom-k sketch built
  * by q321's own Spark SQL construction (Catalyst sha256PrefixLong15 +
  * window bottom-256 — a different code path from the monitor's
  * digest-byte hash): per key, n_kept equals min(k, distinct hashes),
  * the saturation flag matches, and the running estimate equals the
  * batch integer estimator computed over the batch-side kth hash,
  * floor-for-floor. Because the state is the bottom-k SET of a hash
  * image, equality at corpus scale proves arrival order, replays and
  * partitioning cannot move the estimate — bottom-k of a union is the
  * bottom-k of merged partials, which is how a 100 TB stream ships it.
  */
class StreamingKmvScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Batch twin: q321's per-key bottom-k via window rank over the
    * Catalyst 60-bit hash; returns (n_kept, kth hash) per key. */
  private def batchBottomK(): Map[String, (Long, Long)] = {
    val hashed = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        sha256PrefixLong15(
          concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
      .distinct()
    val bottom = hashed
      .withColumn("rk", row_number().over(
        Window.partitionBy("k").orderBy("h")))
      .filter(col("rk") <= StreamingKmv.K)
    bottom.groupBy("k")
      .agg(count(lit(1)).as("n_kept"), max("h").as("h_k"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  test("sf0.1 events streamed in micro-batches end integer-exact vs the batch bottom-k") {
    val kv = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        col("user_id").as("v"))
      .as[(String, Long)].collect()
    val want = batchBottomK()
    val exactByKey = kv.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).distinct.length }

    val batchSize = 5000
    var id = 0L
    val batches = kv.grouped(batchSize).map(_.map { case (k, v) =>
      id += 1; IdEvent(id, id, k, v) }.toSeq).toSeq
    val t0 = System.nanoTime()
    val rows = StreamDriver.run(batches)(StreamingKmv.monitor(_))
    val secs = (System.nanoTime() - t0) / 1e9

    // final reading per key: n_kept grows monotonically to k, then the
    // kth min only shrinks → est only grows, so (n_kept, est) is the
    // lexicographic maximum exactly at the last reading
    val finals = rows
      .groupBy(_.key)
      .map { case (k, rs) => k -> rs.maxBy(r => (r.n_kept, r.est)) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      val (nKept, hK) = want(k)
      assert(reading.n_kept === nKept,
        s"key $k: streaming kept-set size diverges from batch bottom-k")
      assert(reading.saturated === (nKept == StreamingKmv.K.toLong))
      val batchEst =
        if (nKept < StreamingKmv.K) nKept
        else (StreamingKmv.K - 1).toLong * 1000000000000L /
          (hK / (1152921504606846976L / 1000000000000L))
      assert(reading.est === batchEst,
        s"key $k: streaming estimate diverges from the batch integer estimator")
      val exact = exactByKey(k)
      assert(math.abs(reading.est - exact).toDouble / exact <= 0.20,
        s"key $k: estimate ${reading.est} vs exact $exact")
    }

    val rate = kv.length / secs
    println(f"[stream-kmv] ${kv.length}%d events / " +
      f"${kv.grouped(batchSize).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; keys=${finals.size}%d")
    PerfGate.check(rate, 100.0, "streaming KMV")
  }
}
