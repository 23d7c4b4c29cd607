package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) tokenizer training — the
  * k-merge LOOP whose single pair-count iteration is q100's report.
  * Standard algorithm (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units" — public): start from
  * the character segmentation of a (token, freq) vocabulary, repeat k
  * times { count adjacent symbol pairs weighted by token frequency;
  * merge the most frequent pair everywhere }.
  *
  * Scale shape per merge: pair counting is one explode + groupBy over
  * the VOCABULARY frame (|distinct tokens| · avg-symbols rows — the
  * aggregate-first discipline: raw-corpus token occurrences never
  * explode), the winning pair is a 1-row driver pick (the unavoidable
  * sequential dependency of BPE — k rows total cross the driver), and
  * the merge itself is a higher-order `aggregate` lambda over each
  * token's symbol array — pure codegen'd column work, no UDF, no
  * shuffle. Each round cuts lineage with an eager localCheckpoint (the
  * ConnectedComponents iteration discipline — a persist alone leaves
  * the LOGICAL plan growing one lambda layer per merge, quadratic
  * analysis cost by merge 50), so plan size and cache stay O(1) across
  * merges.
  *
  * Greedy left-to-right non-overlapping application (the reference
  * semantics): merging (a,a) turns "aaa" into [aa, a] and "aaaa" into
  * [aa, aa]. Ties on pair count break on (left, right) string order —
  * deterministic on any cluster.
  */
object BpeTrainer {

  final case class Merge(rank: Int, left: String, right: String,
      pairCount: Long)

  final case class Trained(vocab: DataFrame, merges: Seq[Merge])

  /** Adjacent-pair frequency frame of a segmentation: (left, right,
    * pair_count) weighted by token freq. */
  def pairCounts(segmented: DataFrame): DataFrame =
    segmented
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(
        expr("transform(sequence(0, size(syms) - 2), " +
          "i -> struct(syms[i] AS left, syms[i + 1] AS right))"))
        .as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum(col("freq")).as("pair_count"))

  /** Apply ONE merge (left, right) → left||right greedily
    * left-to-right over a symbol-array column. */
  def applyMerge(syms: Column, left: String, right: String): Column = {
    val merged = lit(left + right)
    val step = (acc: Column, s: Column) =>
      when(element_at(acc, -1) === lit(left) && s === lit(right),
        concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
        .otherwise(concat(acc, array(s)))
    when(size(syms) <= 1, syms).otherwise(
      aggregate(slice(syms, lit(2), size(syms) - 1),
        array(element_at(syms, 1)), step))
  }

  /** Train `k` merges over a (token, freq) vocabulary. Returns the
    * merge table and the final segmentation frame (token, freq, syms).
    * Stops early when no adjacent pair remains. */
  def train(tokenFreq: DataFrame, k: Int): Trained = {
    require(k >= 0, "merge count must be nonnegative")
    var segmented = Frames.cut(tokenFreq
      .select(col("token"), col("freq"),
        expr("filter(split(token, ''), s -> s <> '')").as("syms"))
      ) // eager: O(1) plan per round (see scaladoc)
    val merges = Seq.newBuilder[Merge]
    var done = false
    var rank = 1
    while (rank <= k && !done) {
      val top = pairCounts(segmented)
        .orderBy(col("pair_count").desc, col("left"), col("right"))
        .limit(1)
        .collect() // exactly one row per merge crosses the driver
      if (top.isEmpty) done = true
      else {
        val (l, r, n) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        merges += Merge(rank, l, r, n)
        segmented = Frames.cut(segmented
          .withColumn("syms", applyMerge(col("syms"), l, r)))
        rank += 1
      }
    }
    Trained(segmented, merges.result())
  }
}
