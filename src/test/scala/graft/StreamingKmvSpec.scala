package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingKmv
import graft.streaming.StreamingKmv.{IdEvent, KmvReading}

/** The q321 batch KMV sketch's streaming twin: hash parity against the
  * Catalyst sha256PrefixLong15 expression, set-state idempotence
  * (duplicates and replays change nothing), exact counts below k, and
  * the saturated estimator agreeing with the batch integer formula. */
class StreamingKmvSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(batches: Seq[Seq[Long]]): Seq[KmvReading] = {
    var id = 0L
    StreamDriver.run(batches.map(_.map { it =>
      id += 1; IdEvent(id, id, "feed", it) }))(StreamingKmv.monitor(_)).toSeq
  }

  test("hash60 matches the Catalyst sha256PrefixLong15 value") {
    val items = Seq(0L, 1L, 7L, 42L, 999983L)
    val rows = items.toDF("item")
      .select(graft.functions.CoreFunctions.sha256PrefixLong15(
        concat(lit("kmv:"), col("item").cast("string"))).as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(rows === items.map(StreamingKmv.hash60))
  }

  test("exact below k; duplicates and replays are no-ops") {
    val got = run(Seq(Seq(1L, 2L, 3L, 2L, 1L), Seq(3L, 1L, 2L),
      Seq(4L)))
    // last reading: 4 distinct ids, exact
    val last = got.maxBy(_.n_kept)
    assert(last.n_kept === 4L)
    assert(last.est === 4L)
    assert(!last.saturated)
    // the replay batch (all dupes) emitted the same count
    assert(got.count(_.n_kept == 3L) >= 1)
  }

  test("saturated estimator matches the batch integer formula") {
    val items = (1L to 600L).toSeq
    val got = run(Seq(items))
    val last = got.head
    assert(last.saturated)
    val mins = items.map(StreamingKmv.hash60).distinct.sorted.take(256)
    val expected = 255L * 1000000000000L /
      (mins.max / (1152921504606846976L / 1000000000000L))
    assert(last.est === expected)
    // 600 distinct with k = 256: estimate within 20%
    assert(math.abs(last.est - 600L) <= 120L,
      s"estimate ${last.est} too far from 600")
  }
}
