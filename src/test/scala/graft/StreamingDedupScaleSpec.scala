package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextDedup
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.{DocEvent, ExactVerdict}

/** Bench-scale streaming dedup (r10 VERDICT ask #7): the FULL sf0.1
  * document corpus streamed through [[StreamingDedup]] as micro-batches
  * must reach exactly the batch operators' end state —
  *
  *   - candidate pairs: set-equal (doc_a, doc_b, n_shared_bands) with
  *     batch `TextDedup.candidatePairs` (q26's operator). Valid
  *     because no sf0.1 bucket overflows the 4096 cap (asserted first:
  *     arrival-order capping and the batch's smallest-id capping only
  *     diverge on overflow) and a pair meets at most once per band in
  *     both (the batch invariant).
  *   - exact verdicts: every document's keeper is the min doc_id of
  *     its content group (the batch min() rule), checked against a
  *     direct batch aggregation over the same corpus.
  *
  * Feeding in ascending doc_id order makes the streaming run
  * bit-deterministic and matches the batch tie rule. The measured
  * docs/sec throughput prints as the PLANS.md evidence line — this is
  * the operator a 100 TB corpus runs CONTINUOUSLY, so its scale story
  * needs a corpus-sized number, not a fixture-sized one.
  */
class StreamingDedupScaleSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sf0.1 corpus streamed in micro-batches matches batch LSH + exact dedup end state") {
    val docsDF = spark.read
      .parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val sigs = TextDedup.minhashSignatures(TextDedup.shingles(docsDF))
      .persist()
    // parity precondition: arrival-order vs smallest-id capping only
    // diverges past the cap
    val overflow = sigs.groupBy("band", "minhash").count()
      .filter(col("count") > TextDedup.DefaultMaxBucketSize).count()
    assert(overflow === 0L,
      "sf0.1 overflows an LSH bucket; cap semantics diverge by design")
    val batchPairs = TextDedup.candidatePairs(sigs)
      .as[(Long, Long, Long)].collect().toSet
    sigs.unpersist(blocking = false)
    val batchKeepers = docsDF.groupBy("text")
      .agg(min("doc_id").as("keeper"))
      .join(docsDF, "text")
      .select(col("doc_id"), col("keeper"))
      .as[(Long, Long)].collect().toMap

    val events = docsDF.as[DocEvent].collect().sortBy(_.doc_id)
    val batchSize = 500
    val batches = events.grouped(batchSize).map(_.toSeq).toSeq
    val t0 = System.nanoTime()
    val pairs = StreamDriver.run(batches)(StreamingDedup.candidatePairs(_))
    val verdicts = StreamDriver.run(batches)(StreamingDedup.exactVerdicts(_))
    val secs = (System.nanoTime() - t0) / 1e9

    val streamPairs = pairs.toSeq.toDS()
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))
      .as[(Long, Long, Long)].collect().toSet
    assert(streamPairs === batchPairs,
      s"streaming candidates diverge: ${streamPairs.size} vs batch ${batchPairs.size}")

    val streamKeepers = verdicts.map(v => v.doc_id -> v.keeper_id).toMap
    assert(streamKeepers.size === events.length,
      "every document must get exactly one exact-dedup verdict")
    assert(streamKeepers === batchKeepers)

    val rate = events.length / secs
    // surfaced to the build log for the PLANS.md throughput record
    println(f"[stream-dedup] ${events.length}%d docs / ${events.grouped(batchSize).size}%d micro-batches " +
      f"in $secs%.1f s = $rate%.0f docs/s; pairs=${streamPairs.size}%d")
    PerfGate.check(rate, 10.0, "streaming dedup")
  }
}
