package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Sha256Prefix

/** Streaming incremental deduplication — the streaming-native twin of
  * the batch incremental dedup (q80): each arriving document is checked
  * against everything seen SO FAR without ever rescanning the corpus.
  *
  * Two stateful operators:
  *   - [[exactVerdicts]]: first-arrival-wins exact dedup. State per
  *     content hash is ONE long (the keeper id), so the operator is safe
  *     at any corpus size; every arrival gets an immediate verdict.
  *   - [[candidatePairs]]: MinHash-LSH near-dup candidates. Each doc is
  *     signatured row-locally ([[signature]] — the EXACT algebra of the
  *     batch `TextDedup.minhashSignatures`, parity unit-tested) and
  *     fanned out to its `bands` bucket keys; per-bucket state is the
  *     member list, capped at `maxBucketSize` like the batch operator
  *     (arrival order replaces the batch's sorted-smallest determinism —
  *     the streaming-natural rule, deterministic for a fixed input
  *     sequence). A new doc pairs against the stored members of each of
  *     its buckets — |bands| state lookups per doc, never a corpus scan.
  *
  * Scale design: state is keyed by (band, minhash) and partitioned by
  * Spark's state store — bucket skew is bounded by the member cap
  * exactly as in the batch operator, and per-doc work is O(bands ·
  * bucket members). Downstream, pairs aggregate to n_shared_bands with
  * a normal streaming count (a pair meets at most once per band, the
  * batch invariant).
  */
object StreamingDedup {

  final case class DocEvent(doc_id: Long, text: String)

  /** keeper_id = the id this content dedups to (itself for the first
    * arrival; the original for every later duplicate). */
  final case class ExactVerdict(doc_id: Long, keeper_id: Long,
      is_duplicate: Boolean)

  final case class BucketEvent(band: Int, minhash: Long, doc_id: Long)

  final case class CandidatePair(doc_a: Long, doc_b: Long, band: Int)

  // Public, primitive-array state: the encoder's GENERATED Java calls
  // the bean accessors from outside this object, so a `private` state
  // class fails janino compilation ("no applicable method"), and
  // nested immutable collections hit the same wall — long[] encodes
  // cleanly. Internal state, not API.
  final case class BucketState(members: Array[Long])

  /** 8-band MinHash signature of one document, row-local: one sha256
    * prefix per 8-char shingle, the per-band arithmetic remix, min per
    * band — bit-identical to `TextDedup.minhashSignatures` (same
    * thread-local digest helper, same remix constants; asserted in
    * StreamingDedupSpec). Docs shorter than `k` have no shingles and
    * return an empty signature (the batch groupBy drops them the same
    * way). */
  def signature(text: String, bands: Int = 8, k: Int = 8): Array[Long] = {
    if (text == null || text.length < k) return Array.emptyLongArray
    val mins = Array.fill(bands)(Long.MaxValue)
    var i = 0
    val n = text.length - (k - 1)
    while (i < n) {
      val h = Sha256Prefix.prefixLong(
        UTF8String.fromString(text.substring(i, i + k)), 8)
      var b = 0
      while (b < bands) {
        val r = (h * (b * 2 + 1) + b.toLong * 2654435761L) % 4294967296L
        if (r < mins(b)) mins(b) = r
        b += 1
      }
      i += 1
    }
    mins
  }

  /** SHA-256 hex of the text — the batch exact-dedup grouping key. */
  private def contentHash(text: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8"))
    d.map(b => f"$b%02x").mkString
  }

  // deterministic intra-batch order: min doc_id of a batch becomes the
  // keeper when the content is new (the batch operator's min() rule)
  private[graft] def exactFold: KeyedFold[DocEvent, String, Long, ExactVerdict] =
    KeyedFold(d => contentHash(d.text), Ordering.by(_.doc_id), Long.MaxValue,
      (_, pre, sorted) => {
        val fresh = pre == Long.MaxValue
        val keeper = if (fresh) sorted.head.doc_id else pre
        (keeper, sorted.iterator.zipWithIndex.map { case (e, i) =>
          ExactVerdict(e.doc_id, keeper, is_duplicate = !fresh || i > 0) })
      })

  /** Exact-duplicate verdict per arriving document, against all content
    * seen so far. Works on a streaming or batch Dataset; state never
    * expires (one long per distinct content — forgetting it would
    * re-admit duplicates). */
  def exactVerdicts(docs: Dataset[DocEvent])(
      implicit spark: SparkSession): Dataset[ExactVerdict] = {
    import spark.implicits._
    exactFold.run(docs)
  }

  private[graft] def bucketFold(maxBucketSize: Int)
      : KeyedFold[BucketEvent, (Int, Long), BucketState, CandidatePair] =
    KeyedFold(e => (e.band, e.minhash), Ordering.by(_.doc_id),
      BucketState(Array.emptyLongArray), (key, pre, sorted) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[CandidatePair]
        val members = sorted.foldLeft(pre.members) { (members, e) =>
          members.foreach { m =>
            if (m != e.doc_id)
              out += CandidatePair(math.min(m, e.doc_id),
                math.max(m, e.doc_id), key._1)
          }
          // cap mirrors the batch operator's bounded bucket: an
          // overflowing doc still gets checked against the stored members
          // (delivery keeps working) but is not stored (state stays bounded)
          if (members.length < maxBucketSize && !members.contains(e.doc_id))
            members :+ e.doc_id
          else members
        }
        (BucketState(members), out.iterator)
      })

  /** Near-dup candidate pairs of each arriving document against the
    * corpus so far: (doc_a, doc_b, band), doc_a < doc_b, one row per
    * shared band (aggregate downstream for n_shared_bands). */
  def candidatePairs(docs: Dataset[DocEvent], bands: Int = 8,
      maxBucketSize: Int = graft.operators.TextDedup.DefaultMaxBucketSize)(
      implicit spark: SparkSession): Dataset[CandidatePair] = {
    import spark.implicits._
    bucketFold(maxBucketSize).run(docs.flatMap { d =>
      val sig = signature(d.text, bands)
      sig.iterator.zipWithIndex.map { case (mh, b) =>
        BucketEvent(b, mh, d.doc_id)
      }
    })
  }
}
