package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{SkewJoin, WarehouseWriter}

class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("SQL entry point: full Catalyst path over registered views (SURVEY §3.3)") {
    Catalog.registerAll(spark, dir)
    val viaSql = spark.sql(
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F' GROUP BY 1 ORDER BY 1""".stripMargin)
      .as[(String, Long)].collect().toMap
    val viaDf = Tables.table(spark, dir, "lineitem")
      .join(Tables.table(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .groupBy("l_returnflag").count()
      .as[(String, Long)].collect().toMap
    assert(viaSql === viaDf)
    // events view carries the ns-timestamp fix through SQL too
    assert(Catalog.sql(spark, dir,
      "SELECT count(*) FROM events WHERE ts >= TIMESTAMP '2024-01-01 00:00:00'")
      .head().getLong(0) > 0)
  }

  test("bucketed tables join without a shuffle on either side") {
    val li = Tables.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val o = Tables.table(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    WarehouseWriter.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    WarehouseWriter.writeBucketed(o, "o_bucketed", "o_orderkey", 8)
    val joined = spark.table("li_bucketed")
      .join(spark.table("o_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() === li.count())
  }

  test("SF-scaled tables carry no broadcast hint, yet the planner still " +
      "picks BroadcastHashJoin at small SF (q10/q11/q14)") {
    // customer/part grow linearly with SF — a forced broadcast() hint
    // would OOM at the 100 TB design point. Only region/nation (fixed 5 /
    // 25 rows) may be hinted. At tiny SF the planner must still end up
    // broadcasting via size stats / AQE — proving the hint removal costs
    // nothing where broadcast is right.
    for (name <- Seq("q10_star_join", "q14_range_join")) {
      val df = queries.QueryRegistry.byName(name).run(spark, dir)
      val analyzed = df.queryExecution.analyzed.toString
      assert(!analyzed.contains("ResolvedHint"),
        s"$name must not force a broadcast hint:\n$analyzed")
      df.collect() // materialize so AQE finalizes the physical plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: planner should still broadcast at sf0.001:\n$plan")
    }
    val q11 = queries.QueryRegistry.byName("q11_snowflake_join").run(spark, dir)
    val hints = "ResolvedHint".r.findAllIn(q11.queryExecution.analyzed.toString).size
    assert(hints == 2, s"q11 may hint only region+nation, saw $hints hints")
    q11.collect()
    assert(q11.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("warehouse date partitions prune dynamically from a join-side filter (DPP)") {
    // The SURVEY §4.1 contract: BigQuery's partition pruning maps to
    // Spark partition pruning — including the DYNAMIC case, where the
    // date predicate lives on a joined dimension, not the fact scan. At
    // 100 TB this is the difference between scanning one date's directory
    // and scanning the table.
    val out = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    val dimOut = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString
    Tables.events(spark, dir)
      .withColumn("occurred_date", to_date(col("ts")))
      .write.partitionBy("occurred_date").mode("overwrite").parquet(out)
    val fact = spark.read.parquet(out)
    // a proper date dimension with an attribute to filter on — DPP plants
    // the runtime filter only when the dim side carries a LIKELY-SELECTIVE
    // predicate, and Catalyst's isLikelySelective pattern list wants an
    // attribute-vs-literal comparison: a bare boolean flag column does NOT
    // qualify (`=== true` boolean-simplifies away; asserted below)
    val firstDate = fact.select(min(col("occurred_date"))).head().getDate(0)
    fact.select(col("occurred_date").as("d")).distinct()
      .withColumn("label",
        when(col("d") === lit(firstDate), "first").otherwise("rest"))
      .withColumn("is_first", col("d") === lit(firstDate))
      .write.mode("overwrite").parquet(dimOut)
    val dim = spark.read.parquet(dimOut).filter(col("label") === "first")
    val joined = fact.join(dim, col("occurred_date") === col("d"))
    val planned = joined.queryExecution.executedPlan.toString
    assert(planned.contains("dynamicpruning"),
      s"fact scan must carry a dynamic partition-pruning filter:\n$planned")
    // the same date selected by the boolean flag gets no runtime filter:
    // express dimension filters as value comparisons, not flag columns
    val flagged = fact.join(
      spark.read.parquet(dimOut).filter(col("is_first") === true),
      col("occurred_date") === col("d"))
    assert(!flagged.queryExecution.optimizedPlan.toString
      .contains("dynamicpruning"),
      "a bare boolean flag on the dimension must not qualify for DPP")
    val n = joined.count()
    assert(n > 0)
    // pruned result equals the statically-filtered equivalent
    assert(n === fact.filter(col("occurred_date") === lit(firstDate)).count())
  }

  test("curation queries keep their scale shapes: semi-join prune, broadcast singletons") {
    // q69: corpus grams must prune against the benchmark set via a
    // LeftSemi join — a refactor to inner-join + distinct would multiply
    // rows before the count
    val q69 = queries.QueryRegistry.byName("q69_contamination").run(spark, dir)
    assert(q69.queryExecution.optimizedPlan.toString.contains("LeftSemi"),
      "q69 must semi-join the benchmark gram set")
    // q67: the 1-row corpus count joins every (doc, term) row as a
    // broadcast — never a shuffled cartesian
    val q67 = queries.QueryRegistry.byName("q67_tfidf").run(spark, dir)
    q67.collect()
    val p67 = q67.queryExecution.executedPlan.toString
    assert(p67.contains("BroadcastNestedLoopJoin"),
      s"q67 corpus count must broadcast:\n$p67")
    assert(!p67.contains("CartesianProduct"),
      "q67 must not plan a shuffled cartesian")
    // q71: the |labels|-row centroid table broadcasts to the vector side
    val q71 = queries.QueryRegistry.byName("q71_label_centroids").run(spark, dir)
    q71.collect()
    assert(q71.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "q71 centroids must broadcast-join the vectors")
  }

  test("round-7 batch queries keep their scale shapes: broadcast stats, single keyed window") {
    // q93: the |types|-row moments frame must broadcast back to the
    // event scan — a shuffle join here would re-shuffle the fact side
    val q93 = queries.QueryRegistry.byName("q93_value_outliers").run(spark, dir)
    q93.collect()
    assert(q93.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "q93 per-type stats must broadcast-join the events")
    // q96: lag + lead must share one exchange+sort — the change filter
    // between them preserves distribution and order, so exactly one
    // user_id exchange may exist below the final output sort
    val q96 = queries.QueryRegistry.byName("q96_scd2_intervals").run(spark, dir)
    val p96 = q96.queryExecution.executedPlan.toString
    val userExchanges = p96.split("\n")
      .count(l => l.contains("Exchange hashpartitioning") && l.contains("user_id"))
    assert(userExchanges === 1,
      s"q96's two windows must reuse ONE user_id exchange, found $userExchanges:\n$p96")
  }

  test("round-8 queries keep their scale shapes: broadcast total, aggregate-first explode") {
    // q102: the 1-row corpus total must arrive as a broadcast nested-
    // loop join — a shuffled cartesian here re-shuffles the whole
    // per-(source,lang) frame for one scalar
    val q102 = queries.QueryRegistry.byName("q102_domain_mix").run(spark, dir)
    q102.collect()
    val p102 = q102.queryExecution.executedPlan.toString
    assert(p102.contains("BroadcastNestedLoopJoin"),
      s"q102 corpus total must broadcast:\n$p102")
    // q100: the char-pair explode must sit ABOVE the token-frequency
    // aggregate (amplifying the vocabulary, not the corpus): the plan
    // must aggregate on tok before any Generate of the pair explode
    val q100 = queries.QueryRegistry.byName("q100_bpe_pair_stats").run(spark, dir)
    q100.collect()
    val lines100 = q100.queryExecution.executedPlan.toString.split("\n")
    val genIdx = lines100.indexWhere(l => l.contains("Generate") &&
      l.contains("sequence"))
    val aggIdx = lines100.lastIndexWhere(l => l.contains("HashAggregate") &&
      l.contains("tok"))
    assert(genIdx >= 0 && aggIdx >= 0 && aggIdx > genIdx,
      // executedPlan prints top-down: the explode (Generate) consumes the
      // aggregate when the aggregate appears BELOW it in the text
      s"q100's pair explode must consume the token-frequency aggregate:\n" +
        lines100.mkString("\n"))
    // q103: centroid assignment must broadcast (16 rows), and the
    // within-list self-join must not be a cartesian
    val q103 = queries.QueryRegistry.byName("q103_knn_graph").run(spark, dir)
    q103.collect()
    val p103 = q103.queryExecution.executedPlan.toString
    assert(p103.contains("BroadcastNestedLoopJoin") ||
      p103.contains("BroadcastHashJoin"),
      s"q103 centroids must broadcast:\n$p103")
    assert(!p103.contains("CartesianProduct"),
      s"q103's within-list join must key on list_id, not cartesian:\n$p103")
    // q111: same blocking contract as q103 — the semantic-dedup pair
    // join must key on list_id (never all-pairs) with broadcast
    // centroid assignment
    val q111 = queries.QueryRegistry.byName("q111_semantic_dedup").run(spark, dir)
    q111.collect()
    val p111 = q111.queryExecution.executedPlan.toString
    assert(!p111.contains("CartesianProduct"),
      s"q111's within-list pair join must key on list_id, not cartesian:\n$p111")
  }

  test("late round-8 queries keep their scale shapes: scan-local rules, keyed blocking") {
    // q113: the quality gate is pure per-document expressions — any
    // Exchange means a rule leaked into an aggregation it doesn't need
    val q113 = queries.QueryRegistry.byName("q113_quality_rules").run(spark, dir)
    val p113 = q113.queryExecution.executedPlan.toString
    val ex113 = p113.split("\n").filter(_.contains("Exchange"))
    assert(ex113.forall(_.contains("rangepartitioning")),
      "q113's rule evaluation must be scan-local — the only exchange " +
        s"allowed is the presentation sort's range partitioning:\n$p113")
    // q116: prefix blocking must join on the hash key, never all-pairs
    val q116 = queries.QueryRegistry.byName("q116_prefix_containment")
      .run(spark, dir)
    q116.collect()
    val p116 = q116.queryExecution.executedPlan.toString
    assert(!p116.contains("CartesianProduct") &&
      !p116.contains("BroadcastNestedLoopJoin"),
      s"q116's pair generation must key on the prefix hash:\n$p116")
    // q117: the source-pair overlap join must key on the gram; the
    // per-source totals (|sources| rows) must broadcast back
    val q117 = queries.QueryRegistry.byName("q117_source_overlap")
      .run(spark, dir)
    q117.collect()
    val p117 = q117.queryExecution.executedPlan.toString
    assert(!p117.contains("CartesianProduct"),
      s"q117's pair join must key on the gram, not cartesian:\n$p117")
    assert(p117.contains("BroadcastHashJoin"),
      s"q117's per-source totals must broadcast:\n$p117")
  }

  test("runtime Bloom-filter pruning injects on a selective shuffle join") {
    // the row-level analog of DPP: a selective dimension filter on a
    // SHUFFLE join (too big to broadcast at 100 TB) should build a
    // bloom filter from the dim keys and apply might_contain to the
    // fact side BEFORE its shuffle — pruning rows, not just partitions.
    // Size thresholds are scaled for test data; at warehouse scale the
    // defaults (10 MB creation side) trigger on real dims. Spark plants
    // the filter only when the dim side is filtered AND both sides
    // shuffle — the conditions asserted here pin that the engine's
    // fact⋈dim shapes stay inside them.
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fact = Tables.table(spark, dir, "lineitem")
      val dim = Tables.table(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter_agg"),
        s"dim side must build a bloom filter:\n$plan")
      assert(plan.contains("might_contain"),
        s"fact side must probe the bloom filter before its shuffle:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("topKCosine refuses an unbounded query side (100 TB guard)") {
    val emb = Tables.table(spark, dir, "embeddings")
    val ex = intercept[IllegalArgumentException] {
      operators.Similarity.topKCosine(emb, lit(true), k = 5, maxQueries = 10)
    }
    assert(ex.getMessage.contains("brute-force"))
    // a bounded query side still works
    assert(operators.Similarity
      .topKCosine(emb, col("q_id") < 3, k = 2, maxQueries = 10).count() === 6)
  }

  test("prepared() spreads narrow scans and never shrinks wide inputs") {
    val emb = Tables.table(spark, dir, "embeddings")
    val p = spark.sparkContext.defaultParallelism
    // single parquet split → spread to cluster parallelism
    val narrow = operators.Similarity.prepared(emb)
    assert(narrow.rdd.getNumPartitions === p,
      "a one-split scan must spread to defaultParallelism")
    // an input already wider than the cluster keeps its width (the keyed
    // exchange re-keys it for the downstream windows without coalescing)
    val wide = operators.Similarity.prepared(emb.repartition(p * 4))
    assert(wide.rdd.getNumPartitions === p * 4,
      "already-wide inputs must keep their width")
  }

  test("Spread.byKey probes width by PLANNING, never by running a job") {
    // an input whose execution is observable: every materialized row
    // trips the udf. The frame contains an aggregation exchange, the
    // case where an rdd-based width probe (the old implementation) would
    // materialize upstream stages as a job under AQE.
    val tripwire = udf((x: Long) =>
      if (x >= 0) throw new IllegalStateException(
        "Spread.byKey materialized its input during planning")
      else x)
    val derived = spark.range(64).select(tripwire(col("id")).as("k"))
      .groupBy("k").count()
    val spreadDf = operators.Spread.byKey(derived, col("k"))
    // planning must succeed without executing anything…
    assert(spreadDf.queryExecution.sparkPlan !== null)
    // …and an explicit width must skip even the plan probe
    assert(operators.Spread.byKey(derived, col("k"), width = 8)
      .queryExecution.sparkPlan !== null)
  }

  test("sequence packing shards its doc-level running sum (no one-partition window)") {
    val df = queries.QueryRegistry.byName("q86_sequence_packing").run(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    val docLevel = windows.filter(_.orderSpec.exists(
      _.child.references.exists(_.name == "doc_id")))
    assert(docLevel.nonEmpty, "expected a doc-ordered running-sum window")
    docLevel.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "the doc-level prefix sum must be partitioned (sharded) — a global " +
          "ORDER BY window executes on one partition at any scale")
    }
  }

  test("scalar quantization plans as a pure projection — zero exchanges") {
    val emb = Tables.table(spark, dir, "embeddings")
    val plan = operators.Similarity.scalarQuantize(emb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "per-vector quantization must not shuffle — it is scan-local work " +
        s"at any SF:\n$plan")
  }

  test("salted skew join equals the plain join, deterministic across runs") {
    // fact with an extreme hot key: 90% of rows share key 1
    val fact = spark.range(2000)
      .select(when(col("id") % 10 === 0, col("id") % 5 + 2).otherwise(1L)
        .as("k"), col("id").as("row_id"))
    val dim = Seq((1L, "hot"), (2L, "a"), (3L, "b"), (4L, "c"), (5L, "d"),
      (6L, "e")).toDF("k", "label")
    val plain = fact.join(dim, Seq("k")).groupBy("k", "label").count()
      .as[(Long, String, Long)].collect().toSet
    val salted = SkewJoin.saltedInnerJoin(fact, dim, "k",
        saltSource = col("row_id"), saltFactor = 8)
      .groupBy("k", "label").count()
      .as[(Long, String, Long)].collect().toSet
    assert(salted === plain)
    val again = SkewJoin.saltedInnerJoin(fact, dim, "k",
        saltSource = col("row_id"), saltFactor = 8)
      .groupBy("k", "label").count()
      .as[(Long, String, Long)].collect().toSet
    assert(again === salted)
  }

  test("writeZOrdered keeps zones tight on BOTH dimensions (vs linear sort)") {
    import org.apache.spark.sql.functions._
    val li = Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val zdir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val ldir = java.nio.file.Files.createTempDirectory("graft-linear").toString
    graft.operators.WarehouseWriter.writeZOrdered(
      li, zdir, "l_partkey", "l_suppkey", nFiles = 16)
    // linear-sort baseline: same file count, sorted on one dimension
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(ldir)
    def meanExtent(dir: String, c: String): Double = {
      val ext = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg((max(col(c)) - min(col(c))).cast("double").as("ext"))
        .agg(avg("ext")).collect().head.getDouble(0)
      val dom = spark.read.parquet(dir)
        .agg((max(col(c)) - min(col(c))).cast("double")).collect()
        .head.getDouble(0)
      ext / dom
    }
    // linear layout: partkey zones tight, suppkey zones span ~the whole
    // domain; z-order must keep BOTH well under the full domain
    val (zx, zy) = (meanExtent(zdir, "l_partkey"), meanExtent(zdir, "l_suppkey"))
    val ly = meanExtent(ldir, "l_suppkey")
    assert(ly > 0.8, s"baseline suppkey zones should span the domain: $ly")
    assert(zx < 0.5 && zy < 0.5,
      s"z-order zones must be tight on both dims: partkey=$zx suppkey=$zy")
    assert(zy < ly / 1.5, s"z-order suppkey zones ($zy) must beat linear ($ly)")
  }
}
