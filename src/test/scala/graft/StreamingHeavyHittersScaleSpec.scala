package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingHeavyHitters
import graft.streaming.StreamingHeavyHitters.{Item, TopHits}

/** Bench-scale streaming Misra–Gries (the round-12 heavy-hitter leg of
  * the scale-evidence tier), two regimes over the FULL sf0.1 events
  * table:
  *
  *   - EXACT regime: distinct items ≤ counter budget (event types
  *     globally, 5 ≤ k=16) — MG never decrements, so the final counts
  *     must EQUAL the batch group-by, integer-exact, across all 20
  *     micro-batch folds.
  *   - SATURATED regime: items >> budget (user ids per event type,
  *     ~1.5k >> k=16) — decrements fire constantly, and every emitted
  *     count must satisfy the MG sandwich true−n/(k+1) ≤ c ≤ true,
  *     checked against exact batch counts for every (key, item) the
  *     final readings surface.
  *
  * Together they prove the guarantee the scaladoc advertises at corpus
  * scale: the sketch is exact under budget and bound-correct over it,
  * independent of how the stream batches.
  */
class StreamingHeavyHittersScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  private val K = 16

  private def stream(items: Array[Item], topN: Int): Map[String, TopHits] = {
    val t0 = System.nanoTime()
    val rows = StreamDriver.run(items.grouped(5000).map(_.toSeq).toSeq)(
      StreamingHeavyHitters.monitor(_, k = K, topN = topN))
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[stream-mg] ${items.length}%d items in $secs%.1f s " +
      f"= ${items.length / secs}%.0f items/s (topN=$topN)")
    rows
      .groupBy(_.key).map { case (k2, rs) => k2 -> rs.maxBy(_.n_items) }
  }

  test("exact regime: event types under the counter budget end count-exact") {
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"), col("event_type").cast("string").as("item"))
      .as[(Long, String)].collect()
      .sortBy(_._1)
      .map { case (id, it) => Item(id, "", it) }
    val want = ev.groupBy(_.item).map { case (it, xs) => it -> xs.length.toLong }
    val got = stream(ev, topN = K)("")
    assert(got.n_items === ev.length.toLong)
    assert(got.top.toSet === want.keySet)
    got.top.zip(got.min_counts).foreach { case (it, c) =>
      assert(c === want(it), s"item $it: MG under budget must be exact")
    }
  }

  test("saturated regime: user ids per event type satisfy the MG sandwich") {
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"), col("event_type").cast("string").as("k"),
        col("user_id").cast("string").as("item"))
      .as[(Long, String, String)].collect()
      .sortBy(_._1)
      .map { case (id, k2, it) => Item(id, k2, it) }
    val trueCounts = ev.groupBy(e => (e.key, e.item))
      .map { case (ki, xs) => ki -> xs.length.toLong }
    val nByKey = ev.groupBy(_.key).map { case (k2, xs) => k2 -> xs.length.toLong }
    val finals = stream(ev, topN = 5)
    assert(finals.keySet === nByKey.keySet)
    finals.foreach { case (key, hits) =>
      val n = nByKey(key)
      assert(hits.n_items === n, s"key $key: every item folded exactly once")
      val slack = n / (K + 1)
      hits.top.zip(hits.min_counts).foreach { case (it, c) =>
        val truth = trueCounts((key, it))
        assert(c <= truth,
          s"key $key item $it: MG count $c exceeds true $truth")
        assert(c >= truth - slack,
          s"key $key item $it: MG count $c below true $truth - n/(k+1) $slack")
      }
      // every guaranteed-heavy item (freq > n/(k+1)) survives in state;
      // when they fit in the emitted topN they must all be visible
      val heavy = trueCounts.collect {
        case ((k2, it), c) if k2 == key && c > slack => it }
      if (heavy.size <= hits.top.size)
        heavy.foreach(it => assert(hits.top.contains(it),
          s"key $key: guaranteed heavy hitter $it missing from the top list"))
    }
  }
}
