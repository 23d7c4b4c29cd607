package graft

import org.apache.spark.sql.functions._

/** sf1 scale data.
  *
  * Synthesizes a 10×-amplified copy of the sf0.1 tables under /tmp —
  * the driver ships no sf1 data and its testdata is read-only. Each
  * copy shifts every key column by a disjoint offset (FKs stay
  * consistent within a copy; distinct-key counts scale 10×, matching
  * how the generator scales), dimension tables (region, nation) keep
  * their fixed cardinality, and each document copy gets a one-token
  * perturbation — 10 IDENTICAL copies of every text would
  * square the dedup pair counts (a worst-case stress, not "sf1";
  * near-dup clusters should replicate linearly like the generator's
  * do).
  *
  * Time queries on the copy with `Bench` (SPARK_GRAFT_SF_DIR at the
  * copy, SPARK_GRAFT_BENCH_FILTER for the entries): pass 1 is the cold
  * sample, the minimum the steady one, and `bench_out.json` carries
  * each entry's spill and shuffle bytes.
  */
object GenScaleProbe {
  private val K = 100000000L // key shift per copy; >> any sf0.1 key

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/sfprobe_sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // text modes: "stress" appends one token per copy — copies stay
    // near-identical, so every doc gains 9 near-dups and pair counts
    // grow ~quadratically (the worst-case duplication regime);
    // "disjoint" applies one bijective CHARACTER map per copy (letters
    // and digits rotated by the copy index — see the cipher() comment
    // below for why the former per-token suffix was not actually
    // disjoint) — within-copy similarity structure is preserved
    // exactly while cross-copy shingle overlap drops to ~zero, the
    // linear-scaling regime a real generator would produce;
    // "jitter" (round-13 VERDICT ask #1) = disjoint text PLUS
    // non-verbatim embeddings: verbatim-copied vectors made every
    // gated vector's top-5 neighbors its own copies (cos 1.0, ids
    // ≥ 1e8), so the r13 sf1 passes of the knn-gated family were
    // structurally empty. Each copy i > 0 gets (a) a per-(copy, dim)
    // deterministic ±1 sign flip — a diagonal ORTHOGONAL transform,
    // so every copy's intra-copy distances and cosines are preserved
    // exactly (its neighborhoods are the real sf0.1 neighborhoods)
    // while cross-copy cosines decorrelate to ~N(0, 1/64) — and (b) a
    // per-(vec, dim, copy) hash-seeded ±2% relative jitter so copies
    // are not bit-replicas of each other. Both engines read the same
    // generated parquet, so determinism is by construction.
    val mode = if (args.length > 3) args(3) else "stress"
    val spark = Session.local(32)
    val textMode = if (mode == "jitter") "disjoint" else mode
    def amplify(table: String, keyCols: Seq[String],
        perturbText: Boolean = false, nameCols: Seq[String] = Nil,
        jitterEmb: Boolean = false): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val shifted = (0 until copies).map { i =>
        val s00 = keyCols.foldLeft(base)((df, k) =>
          df.withColumn(k, col(k) + lit(i * K)))
        val s0 =
          if (jitterEmb && mode == "jitter" && i > 0)
            s00.withColumn("embedding",
              transform(col("embedding"), (x, j) => {
                // ±1 per (copy, dim): diagonal orthogonal — intra-copy
                // geometry exact, cross-copy cosines ~N(0, 1/dim)
                val sign = when(
                  pmod(xxhash64(lit("sgn"), lit(i), j), lit(2)) === 0,
                  lit(1.0)).otherwise(lit(-1.0))
                // ±2% per (vec, dim, copy): copies are not bit-replicas
                val eps = (xxhash64(col("vec_id"), j, lit(i)) % 1000)
                  .cast("double") / lit(50000.0)
                (x.cast("double") * sign * (lit(1.0) + eps)).cast("float")
              }))
          else s00
        // Disjoint-mode text/name transform (round 14): a per-copy
        // CHARACTER BIJECTION (letters and digits each rotated by the
        // copy index, space/punct fixed) instead of the former
        // per-token "x$i" suffix. The suffix regime measurably broke
        // both halves of the disjointness claim at sf1 (r14 scaling
        // study, q26): (a) lengthening every token made 8-char grams
        // more token-local, raising within-copy gram Jaccard between
        // UNRELATED docs — salted copies produced 2–3.4× copy-0's
        // candidate pairs (copy 0: exactly the sf0.1 count); (b) grams
        // interior to tokens ≥ 8 chars carried no salt at all — 5.4M
        // cross-copy candidate pairs that a disjoint regime should not
        // have. A char bijection fixes both: token lengths, whitespace
        // structure, gram statistics, and edit distances are preserved
        // EXACTLY within each copy (any per-char bijection preserves
        // substring equality and Levenshtein distance), while a gram
        // containing any letter/digit can never collide across copies
        // (residual: all-punctuation grams, negligible in this corpus).
        // The doubled-digit name suffix stays as the historical guard
        // for q107's deletion buckets; digits rotate too, so cross-copy
        // names now differ at EVERY digit position as well.
        def cipher(c: org.apache.spark.sql.Column,
            copy: Int): org.apache.spark.sql.Column =
          if (copy == 0) c
          else {
            val lower = "abcdefghijklmnopqrstuvwxyz"
            val upper = lower.toUpperCase
            val digits = "0123456789"
            def rot(s: String, k: Int) = {
              val n = k % s.length; s.drop(n) + s.take(n)
            }
            translate(c, lower + upper + digits,
              rot(lower, copy) + rot(upper, copy) + rot(digits, copy))
          }
        val s1 =
          if (textMode == "disjoint" && i > 0)
            nameCols.foldLeft(s0)((df, k) =>
              df.withColumn(k, concat(cipher(col(k), i), lit(s"$i$i"))))
          else s0
        if (perturbText && i > 0) {
          if (textMode == "disjoint")
            s1.withColumn("text", cipher(col("text"), i))
          else
            s1.withColumn("text", concat(col("text"), lit(s" probe$i")))
        } else s1
      }.reduce(_ unionAll _)
      shifted.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[gen] $table x$copies ($mode) -> $dst/$table.parquet")
    }
    amplify("documents", Seq("doc_id"), perturbText = true)
    amplify("embeddings", Seq("vec_id"), jitterEmb = true)
    amplify("events", Seq("event_id", "user_id"))
    amplify("orders", Seq("o_orderkey", "o_custkey"))
    amplify("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    amplify("customer", Seq("c_custkey"), nameCols = Seq("c_name"))
    amplify("supplier", Seq("s_suppkey"), nameCols = Seq("s_name"))
    amplify("part", Seq("p_partkey"), nameCols = Seq("p_name"))
    for (dim <- Seq("nation", "region"))
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$dst/$dim.parquet")
    println(s"[gen] done -> $dst")
    spark.stop()
  }
}
