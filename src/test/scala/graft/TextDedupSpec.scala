package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Similarity, TextDedup}

/** Semantic tests of the dedup/similarity operators on planted inputs —
  * the oracle gate proves cross-engine equality; these prove the
  * operators find what they claim to find. */
class TextDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8
  private val docs = Seq(
    (0L, base),                                  // original
    (1L, base),                                  // exact duplicate
    (2L, base.replace("lazy", "sleepy")),        // near duplicate
    (3L, "completely different content about spark engines and parquet " * 6),
    (4L, "another unrelated document discussing window functions " * 7))
    .toDF("doc_id", "text")

  test("exact duplicates collapse to one keeper") {
    val groups = TextDedup.exactDuplicates(docs)
    assert(groups.count() === 4) // 5 docs, one exact-dup pair
    val dupGroup = groups.filter(col("n_copies") === 2).collect()
    assert(dupGroup.length === 1)
    assert(dupGroup.head.getAs[Long]("keep_doc_id") === 0L)
  }

  test("MinHash banding surfaces exact and near duplicates, not unrelated docs") {
    val sigs = TextDedup.minhashSignatures(TextDedup.shingles(docs))
    val pairs = TextDedup.candidatePairs(sigs)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    // exact dup: all 8 bands agree
    assert(pairs((0L, 1L)) === 8L)
    // near dup: most bands agree
    assert(pairs.getOrElse((0L, 2L), 0L) >= 4L)
    // unrelated docs never become candidates
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((3L, 4L)))
  }

  test("fast (xxhash64) MinHash keeps the LSH guarantees without the digest") {
    val sigs = TextDedup.minhashSignaturesFast(TextDedup.shingles(docs))
    // minhashes stay in the uint32 range the band remix expects
    assert(sigs.filter(col("minhash") < 0 ||
      col("minhash") >= 4294967296L).count() === 0)
    val pairs = TextDedup.candidatePairs(sigs)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    // the guarantees are hash-agnostic: exact duplicates agree on ALL
    // bands under ANY per-gram hash, and unrelated docs stay apart
    assert(pairs((0L, 1L)) === 8L)
    assert(pairs.getOrElse((0L, 2L), 0L) >= 4L)
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((3L, 4L)))
  }

  test("Jaccard is 1.0 for exact duplicates and high for near duplicates") {
    val grams = TextDedup.shingles(docs)
    val sigs = TextDedup.minhashSignatures(grams)
    val jac = TextDedup.jaccard(grams, TextDedup.candidatePairs(sigs))
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(jac((0L, 1L)) === 1.0)
    assert(jac((0L, 2L)) > 0.6 && jac((0L, 2L)) < 1.0)
  }

  test("SimHash: identical docs have hamming 0; near dups are close") {
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val fp = TextDedup.simhashFingerprints(tokens)
    val pairs = TextDedup.simhashNearDups(fp, maxHamming = 59)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(pairs((0L, 1L)) === 0)
    assert(pairs.get((0L, 2L)).exists(_ <= 10))
  }

  test("fast (xxhash64) SimHash keeps the fingerprint guarantees without the digest") {
    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val fp = TextDedup.simhashFingerprintsFast(tokens)
    // fingerprints stay in the 60-bit range the chunk banding expects
    assert(fp.filter(col("simhash") < 0 ||
      col("simhash") >= (1L << 60)).count() === 0)
    // hash-agnostic guarantees, asserted on the fingerprints themselves
    // (which chunk a near-dup pair collides in is hash-dependent luck;
    // the SimHash property is the hamming distances): exact duplicates
    // agree on EVERY bit — same token multiset → same per-bit scores
    // under any hash — and a near dup sits far closer than unrelated
    // docs
    val h = fp.as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(h(a) ^ h(b))
    assert(hamming(0L, 1L) === 0)
    assert(hamming(0L, 2L) <= 15)
    assert(hamming(0L, 2L) < hamming(0L, 3L))
    assert(hamming(0L, 2L) < hamming(0L, 4L))
    // the pair generator still finds the exact duplicate (chunk 0 of an
    // identical fingerprint always collides)
    val pairs = TextDedup.simhashNearDups(fp, maxHamming = 12)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, hd) => (a, b) -> hd }.toMap
    assert(pairs((0L, 1L)) === 0)
  }

  test("LSH bucket cap bounds a degenerate mega-bucket deterministically") {
    // 6 identical docs → every (band, minhash) bucket holds all 6 ids.
    // With maxBucketSize=3 only the 3 smallest ids survive per bucket, so
    // pairs come from {0,1,2} only — the task-side member list is bounded
    // no matter how degenerate the corpus is.
    val clones = (0L to 5L).map((_, base)).toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(TextDedup.shingles(clones))
    val pairs = TextDedup.candidatePairs(sigs, maxBucketSize = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // same guard on the simhash path
    val tokens = clones.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val fp = TextDedup.simhashFingerprints(tokens)
    val sPairs = TextDedup.simhashNearDups(fp, maxHamming = 59, maxBucketSize = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(sPairs === Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("LSH bucket overflow is observable via Dataset metrics") {
    // The operator reports overflow through observe(); a production
    // QueryExecutionListener is how ops watch it. Register one, run an
    // action, and read the metrics row it captured.
    val clones = (0L to 5L).map((_, base)).toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(TextDedup.shingles(clones))
    @volatile var metrics: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit =
        qe.observedMetrics.get("minhash_lsh_buckets").foreach(r => metrics = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      TextDedup.candidatePairs(sigs, maxBucketSize = 3).count()
      // listener delivery is async; bounded spin-wait
      val deadline = System.currentTimeMillis() + 30000
      while (metrics.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(metrics.isDefined, "observed metrics never fired")
      val m = metrics.get
      assert(m.getAs[Long]("n_overflow_buckets") > 0L)
      assert(m.getAs[Int]("max_bucket_size") === 6)
    } finally spark.listenerManager.unregister(listener)
  }

  test("healthy no-overflow corpus reports (0, n) bucket metrics — never null") {
    // two identical docs collide in every band (candidates exist, so AQE
    // keeps the metrics stage — see the observe comment in TextDedup);
    // no bucket exceeds the cap, so the healthy reading is exactly
    // (n_overflow = 0, max = 2) with NO null fields (the coalesce)
    val docs = Seq((0L, "a" * 60), (1L, "a" * 60), (2L, "b" * 60))
      .toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(TextDedup.shingles(docs))
    @volatile var metrics: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit =
        qe.observedMetrics.get("minhash_lsh_buckets").foreach(r => metrics = Some(r))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = TextDedup.candidatePairs(sigs)
      assert(pairs.count() === 1L)
      val deadline = System.currentTimeMillis() + 30000
      while (metrics.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(metrics.isDefined, "observed metrics never fired")
      assert(metrics.get.getAs[Long]("n_overflow_buckets") === 0L)
      assert(metrics.get.getAs[Int]("max_bucket_size") === 2)
    } finally spark.listenerManager.unregister(listener)
  }

  test("zero-candidate corpus: AQE drops observed metrics; bucketStats always delivers") {
    // disjoint gram sets → every bucket has one member → zero pairs.
    // Verified behavior, pinned here: AQE's empty-relation propagation
    // replaces the downstream plan INCLUDING the executed CollectMetrics
    // stage, so the listener never sees the metrics — which is itself
    // conclusive (zero pairs ⇒ no bucket ≥ 2 ⇒ no overflow). The
    // guaranteed-delivery path is TextDedup.bucketStats: its own
    // aggregate, one row per band, regardless of candidate emptiness.
    val unique = (0L to 3L).map(i =>
      (i, ("" + ('a' + i.toInt).toChar) * 60)).toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(TextDedup.shingles(unique))
    assert(TextDedup.candidatePairs(sigs).count() === 0L)
    val stats = TextDedup.bucketStats(sigs).collect()
    assert(stats.length === 8) // one row per band
    stats.foreach { r =>
      assert(r.getAs[Long]("n_overflow_buckets") === 0L)
      assert(r.getAs[Long]("n_multi_buckets") === 0L)
      assert(r.getAs[Long]("max_bucket_size") === 1L)
      assert(r.getAs[Long]("n_buckets") === 4L) // 4 docs, all unique
    }
    // with AQE off the same zero-candidate query DOES deliver metrics:
    // the pre-filter observe sees every size-1 bucket, reading (0, 1)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pairs = TextDedup.candidatePairs(sigs)
      pairs.collect()
      val m = pairs.queryExecution.observedMetrics("minhash_lsh_buckets")
      assert(m.getAs[Long]("n_overflow_buckets") === 0L)
      assert(m.getAs[Int]("max_bucket_size") === 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  test("scalar quantization: codes in [0,255], reconstruction error within half a step") {
    val emb = Seq(
      (0L, Array(-1.0f, 0.0f, 0.5f, 1.0f)),
      (1L, Array(0.25f, 0.25f, 0.25f, 0.25f)), // constant vector edge case
      (2L, Array(3.0f, -2.0f, 0.125f, 7.5f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.scalarQuantize(emb).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    // constant vector: zero codes, zero error
    assert(rows(1L).getAs[String]("codes_str") === "0,0,0,0")
    assert(rows(1L).getAs[Long]("sq_err_fp") === 0L)
    // endpoints land exactly on codes 0 and 255
    assert(rows(0L).getAs[String]("codes_str").split(",").head === "0")
    assert(rows(0L).getAs[String]("codes_str").split(",").last === "255")
    // every code fits int8-unsigned and error is within half a step
    rows.values.foreach { r =>
      val codes = r.getAs[String]("codes_str").split(",").map(_.toInt)
      assert(codes.forall(c => c >= 0 && c <= 255))
      val step = (r.getAs[Double]("mx") - r.getAs[Double]("mn")) / 255.0
      assert(r.getAs[Double]("max_abs_err") <= step / 2.0 + 1e-9)
    }
  }

  test("IVF probe search recalls most of the exact top-k (q48 vs q27 shape)") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val exact = Similarity.topKCosine(emb, col("q_id") < 10, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5)
      .select("q_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
  }

  test("k-means refinement: assignments improve (or hold) mean cosine and recall") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val prep = Similarity.prepared(emb)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def meanCos(cents: org.apache.spark.sql.DataFrame): Double =
        Similarity.assignToLists(prep, cents)
          .agg(avg(col("cent_cos"))).as[Double].head()
      val seeded = Similarity.seedCentroids(prep, 16)
      val refined = Similarity.kmeansCentroids(prep, nCentroids = 16, nIter = 2)
      // Lloyd never worsens the within-cluster objective; mean cosine to
      // the assigned centroid must not drop
      val (mSeed, mRef) = (meanCos(seeded), meanCos(refined))
      assert(mRef >= mSeed - 1e-9,
        s"refinement worsened cohesion: seeded=$mSeed refined=$mRef")
      // recall at FIXED probes is a cost/quality tradeoff, not a pure
      // win: seeded Voronoi cells are imbalanced, so 4 probes of them
      // scan a larger fraction of the corpus than 4 balanced k-means
      // cells (more brute-force coverage ⇒ recall that isn't earned by
      // the index). Assert the refined search stays near the seeded
      // recall while its probes cover NO MORE of the corpus — at the
      // sf0.01 oracle gate the two recalls are exactly equal (q84).
      val exact = Similarity.topKCosine(emb, col("q_id") < 10, k = 5,
        prep = Some(prep)).select("q_id", "vec_id")
        .as[(Long, Long)].collect().toSet
      def recall(cents: Option[org.apache.spark.sql.DataFrame]): Double = {
        val hits = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5,
          prep = Some(prep), cents = cents).select("q_id", "vec_id")
          .as[(Long, Long)].collect().toSet
        (exact & hits).size.toDouble / exact.size
      }
      // max list size bounds the per-probe scan cost; Lloyd must not
      // grow the worst cell
      def maxList(cents: org.apache.spark.sql.DataFrame): Long =
        Similarity.assignToLists(prep, cents)
          .groupBy("list_id").count()
          .agg(max(col("count"))).as[Long].head()
      assert(maxList(refined) <= maxList(seeded),
        "refinement grew the worst-case inverted list")
      assert(recall(Some(refined)) >= recall(None) - 0.1,
        "refined IVF recall fell more than 0.1 below the seeded baseline")
      // determinism: a second build yields identical centroids
      val again = Similarity.kmeansCentroids(prep, nCentroids = 16, nIter = 2)
      val a = refined.orderBy("cent_id").collect().map(_.toString).mkString
      val b = again.orderBy("cent_id").collect().map(_.toString).mkString
      assert(a === b, "kmeansCentroids is not deterministic")
    } finally prep.unpersist(blocking = false)
  }

  test("semanticDedup prunes within-list near-duplicates, keep-lowest-id (q111)") {
    // planted geometry: 3/4 duplicate 0/1 exactly; 2 is close to 0 but
    // under the threshold; 5 is orthogonal to everything
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.7f, 0.3f, 0.0f)), // cos(2,0) = 0.919 < 0.99
      (3L, Array(1.0f, 0.0f, 0.0f)), // dup of 0
      (4L, Array(0.0f, 1.0f, 0.0f)), // dup of 1
      (5L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(Similarity.prepared(emb),
        threshold = 0.99, nCentroids = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out.size === 6, "one row per input vector")
    assert(Seq(3L, 4L).forall(v => !out(v).getAs[Boolean]("kept")),
      "exact duplicates of lower ids must be pruned")
    assert(Seq(0L, 1L, 2L, 5L).forall(v => out(v).getAs[Boolean]("kept")),
      "originals, sub-threshold neighbours and orthogonals stay")
    assert(out(3L).getAs[Double]("max_sim_lower") === 1.0)
    assert(out(5L).getAs[Long]("n_close_lower") === 0L)
  }

  test("semanticDedup invariants on real embeddings: partition, list-min kept, threshold-monotone") {
    val prep = Similarity.prepared(
      Tables.table(spark, "/root/testdata/sf0.001", "embeddings"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = prep.count()
      val lo = Similarity.semanticDedup(prep, threshold = 0.25).collect()
      val hi = Similarity.semanticDedup(prep, threshold = 0.40).collect()
      assert(lo.length.toLong === n && hi.length.toLong === n,
        "dedup report covers every vector exactly once")
      // the lowest id of every list can have no lower list-mate
      lo.groupBy(_.getAs[Long]("list_id")).foreach { case (_, rows) =>
        val minRow = rows.minBy(_.getAs[Long]("vec_id"))
        assert(minRow.getAs[Boolean]("kept"),
          s"list-minimum ${minRow} must always be kept")
      }
      // raising the threshold only ever prunes FEWER vectors
      def pruned(rows: Array[org.apache.spark.sql.Row]) =
        rows.filter(!_.getAs[Boolean]("kept")).map(_.getAs[Long]("vec_id")).toSet
      assert(pruned(hi).subsetOf(pruned(lo)),
        "pruned set must shrink monotonically with the threshold")
      assert(pruned(lo).nonEmpty,
        "low threshold must prune something on real data (else the test is vacuous)")
    } finally prep.unpersist(blocking = false)
  }
}
