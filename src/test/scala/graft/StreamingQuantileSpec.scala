package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingQuantile
import graft.streaming.StreamingQuantile.{QuantileReading, ValueEvent}

/** P² online quantile: O(1) state per key, cross-batch carry, and the
  * estimate must track the true quantile of a known stream within the
  * algorithm's published accuracy envelope. */
class StreamingQuantileSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  private def streamOf(p: Double, batches: Seq[Seq[Double]])
      : Array[QuantileReading] = {
    var id = 0L
    StreamDriver.run(batches.map(_.map { v =>
      id += 1; ValueEvent(id, id, "lat", v)
    }))(StreamingQuantile.monitor(_, p)).sortBy(_.n_so_far)
  }

  test("exact regime below 5 samples; p90 tracks a uniform ramp across batches") {
    // deterministic pseudo-uniform values on [0, 1000)
    val vals = (1 to 400).map(i => ((i * 377) % 1000).toDouble)
    val got = streamOf(0.9,
      Seq(vals.take(3), vals.slice(3, 120), vals.drop(120)))
    assert(got.length == 3)
    // batch 1: exact regime — ceil(0.9*3)=3rd of the sorted 3
    assert(got(0).exact_regime)
    assert(got(0).p_estimate == vals.take(3).sorted.apply(2))
    // final estimate: true p90 of the multiset is ~900; P² on uniform
    // data converges well within 5% of the range
    assert(!got(2).exact_regime && got(2).n_so_far == 400L)
    assert(math.abs(got(2).p_estimate - 900.0) < 50.0,
      s"p90 estimate ${got(2).p_estimate} too far from 900")
  }

  test("estimator is deterministic for a replayed stream") {
    val vals = (1 to 200).map(i => ((i * 131) % 500).toDouble)
    val a = streamOf(0.5, Seq(vals))
    val b = streamOf(0.5, Seq(vals))
    assert(a.last.p_estimate == b.last.p_estimate)
  }
}
