package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextDedup
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.{CandidatePair, DocEvent, ExactVerdict}

/** Streaming incremental dedup: verdicts against state carried across
  * micro-batches, plus bit-parity of the row-local signature with the
  * batch MinHash operator. */
class StreamingDedupSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8
  private val other = "completely different content about spark engines " * 6

  test("row-local signature is bit-identical to batch minhashSignatures") {
    val docs = Seq((0L, base), (1L, other),
      (2L, base.replace("lazy", "sleepy"))).toDF("doc_id", "text")
    val batch = TextDedup.minhashSignatures(TextDedup.shingles(docs))
      .as[(Long, Int, Long)].collect()
      .map { case (id, band, mh) => (id, band) -> mh }.toMap
    for ((id, text) <- Seq((0L, base), (1L, other),
        (2L, base.replace("lazy", "sleepy")))) {
      val sig = StreamingDedup.signature(text)
      assert(sig.length === 8)
      sig.zipWithIndex.foreach { case (mh, band) =>
        assert(batch((id, band)) === mh,
          s"doc $id band $band: streaming $mh != batch ${batch((id, band))}")
      }
    }
    // short doc: no shingles either way
    assert(StreamingDedup.signature("short").isEmpty)
  }

  test("exact verdicts: first arrival keeps, later duplicates flag across batches") {
    val got = StreamDriver.run(Seq(
      // batch 1: two distinct docs plus an in-batch duplicate (5 beats 7
      // by the min-id rule)
      Seq(DocEvent(5L, base), DocEvent(7L, base), DocEvent(6L, other)),
      // batch 2: a late duplicate of batch-1 content + a new doc
      Seq(DocEvent(9L, base), DocEvent(10L, "fresh content entirely " * 8))))(
      StreamingDedup.exactVerdicts(_))
      .map(v => v.doc_id -> ((v.keeper_id, v.is_duplicate))).toMap
    assert(got === Map(
      5L -> ((5L, false)), 7L -> ((5L, true)), 6L -> ((6L, false)),
      9L -> ((5L, true)), 10L -> ((10L, false))))
  }

  test("near-dup candidates: an arriving duplicate pairs against buckets from earlier batches") {
    val pairs = StreamDriver.run(Seq(
      // batch 1: the corpus so far — base doc + an unrelated doc
      Seq(DocEvent(0L, base), DocEvent(3L, other)),
      // batch 2: an exact duplicate of doc 0 arrives later
      Seq(DocEvent(1L, base))))(StreamingDedup.candidatePairs(_))
    val byPair = pairs.groupBy(p => (p.doc_a, p.doc_b))
    // the exact duplicate collides with doc 0 in ALL 8 band buckets —
    // the batch operator's n_shared_bands invariant, incrementally
    assert(byPair.get((0L, 1L)).map(_.length) === Some(8))
    assert(byPair((0L, 1L)).map(_.band).sorted.toSeq === (0 until 8))
    // unrelated docs never pair
    assert(!byPair.contains((0L, 3L)) && !byPair.contains((1L, 3L)))
  }

  test("state beans survive the RocksDB state store (production provider)") {
    // the cluster-deployment state path: RocksDB serializes state rows
    // through the same encoders but persists them off-heap/on-disk —
    // a bean that only works in the default in-memory provider would
    // fail here, at the provider swap a real deployment makes
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = StreamDriver.run(Seq(
        Seq(DocEvent(1L, base), DocEvent(2L, other)),
        Seq(DocEvent(3L, base))))( // duplicate vs RocksDB state
        StreamingDedup.exactVerdicts(_))
        .map(v => v.doc_id -> ((v.keeper_id, v.is_duplicate))).toMap
      assert(got === Map(1L -> ((1L, false)), 2L -> ((2L, false)),
        3L -> ((1L, true))))
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
