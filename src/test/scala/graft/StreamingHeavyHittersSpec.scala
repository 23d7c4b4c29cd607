package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingHeavyHitters
import graft.streaming.StreamingHeavyHitters.{Item, TopHits}

class StreamingHeavyHittersSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  test("frequent items survive across micro-batches within the MG bound") {
    // batch 1: "hot" appears 10×, noise a/b once each
    val b1 = (0 until 10).map(i => Item(i, "t1", "hot")) ++
      Seq(Item(10, "t1", "a"), Item(11, "t1", "b"))
    // batch 2: "warm" appears 6×, more noise — state carries "hot"
    val b2 = (20 until 26).map(i => Item(i, "t1", "warm")) ++
      Seq(Item(26, "t1", "c"), Item(27, "t1", "d"))
    val got = StreamDriver.run(Seq(b1, b2))(
      StreamingHeavyHitters.monitor(_, k = 3, topN = 2))
      .sortBy(_.n_items)
    assert(got.length === 2)
    // after batch 1: hot dominates with a count within the MG bound
    assert(got(0).top.head === "hot")
    assert(got(0).min_counts.head >= 10L - 12L / 4) // n/(k+1) slack
    // after batch 2 (n=20): both heavy items present, hot still first
    assert(got(1).n_items === 20L)
    assert(got(1).top.toSet === Set("hot", "warm"))
    // every emitted count is a LOWER bound on the true count
    assert(got(1).min_counts.head <= 10L && got(1).min_counts(1) <= 6L)
  }

  test("streamed single-batch top matches the batch aggregator's top item") {
    val items = Seq.tabulate(30)(i =>
      Item(i, "g", if (i % 3 == 0) "x" else s"noise$i"))
    val batchTop = items.map(_.item).toDS()
      .select(graft.operators.HeavyHitters.sketch(8).toColumn)
      .head().head.item
    val streamedTop = StreamDriver.run(Seq(items))(
      StreamingHeavyHitters.monitor(_, k = 8, topN = 1)).head.top.head
    assert(streamedTop === batchTop && streamedTop === "x")
  }
}
