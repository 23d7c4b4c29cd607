package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.{Shared, Tables}
import graft.operators.Frames
import graft.functions.CoreFunctions._

/** Relational surface over the TPC-H-ish star schema (SURVEY §2C Q9–Q15,
  * Q18–Q21). Broadcast hints go ONLY on fixed-cardinality dimensions
  * (region=5, nation=25 rows at every SF); SF-scaled tables (customer,
  * part, orders, lineitem) carry no hint — AQE promotes them to broadcast
  * joins at small SF and degrades to shuffle joins at 100 TB instead of
  * OOMing on a forced hint. Money aggregates run in exact DECIMAL then
  * surface as DOUBLE.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** Exact decimal revenue term: ext * (1 - disc). */
  private def revenue =
    money(col("l_extendedprice")) * (lit(1) - money(col("l_discount")))

  /** One shared part-transition directed graph per (session, dir):
    * consecutive line numbers within an order, both endpoints in the
    * top-100 parts by lineitem count — the bounded hub domain the
    * direction-sensitive suite (q306 SCC, q307 layering) runs on.
    * ≤ 9,900 distinct edges at ANY scale factor (the cap is the
    * point); persisted, [[Shared.reset]] evicts. */
  private def partEdgesShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "partEdges") {
      val li = t(s, dir, "lineitem")
      val top = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_partkey"))
        .limit(100)
        .select(col("l_partkey").as("pk"))
      li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey").as("src"))
        .join(li.select(col("l_orderkey"),
            (col("l_linenumber") - 1).as("l_linenumber"),
            col("l_partkey").as("dst")),
          Seq("l_orderkey", "l_linenumber"))
        .filter(col("src") =!= col("dst"))
        .join(broadcast(top).withColumnRenamed("pk", "src"),
          Seq("src"), "left_semi")
        .join(broadcast(top).withColumnRenamed("pk", "dst"),
          Seq("dst"), "left_semi")
        .select(col("src"), col("dst")).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** One shared SCC map (scc_node, scc_id) over [[partEdgesShared]]
    * per (session, dir): q306's report and q307's condensation both
    * consume it, and the path-doubling closure behind it is the
    * expensive part. [[Shared.reset]] evicts. */
  private def sccShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "scc")(
      graft.operators.Closure.sccIds(partEdgesShared(s, dir))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared DISTINCT (order, brand) basket frame per (session,
    * dir): the pair-lift report (q292) and the Apriori triple cascade
    * (q310) both start from it, and it is consumed 5× inside q310
    * alone — persisted so the lineitem ⋈ part distinct runs once.
    * [[Shared.reset]] evicts. */
  private def orderBrandShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "orderBrand")(
      t(s, dir, "lineitem")
        .join(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared per-order sorted BRAND BASKET frame per (session,
    * dir): q292's pair lift and q310's Apriori cascade both explode
    * combinations off the same |orders|-row array frame — one basket
    * shuffle for the whole market-basket battery, no okey self-joins
    * anywhere. [[Shared.reset]] evicts. */
  private def basketsShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "baskets")(
      orderBrandShared(s, dir).groupBy("okey")
        .agg(sort_array(collect_set("brand")).as("bs"))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** Per-basket pair combinations (ba < bb), codegen'd array lambdas
    * — C(n,2) rows per basket, no join. */
  private def basketPairs(baskets: DataFrame): DataFrame =
    baskets.filter(size(col("bs")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(bs) - 2), i ->
          |  transform(sequence(i + 1, size(bs) - 1), j ->
          |    struct(bs[i] AS ba, bs[j] AS bb))))""".stripMargin))
        .as("p"))
      .select(col("p.ba").as("ba"), col("p.bb").as("bb"))

  /** The top-100 / edge CTEs shared verbatim by the q306 and q307
    * oracles so the twins cannot drift. */
  private val partEdgeCteSql =
    """top100 AS (
      |  SELECT l_partkey AS pk FROM lineitem GROUP BY 1
      |  ORDER BY COUNT(*) DESC, l_partkey LIMIT 100),
      |e AS (
      |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      |  FROM lineitem a
      |  JOIN lineitem b ON b.l_orderkey = a.l_orderkey
      |    AND b.l_linenumber = a.l_linenumber + 1
      |  JOIN top100 ta ON ta.pk = a.l_partkey
      |  JOIN top100 tb ON tb.pk = b.l_partkey
      |  WHERE a.l_partkey <> b.l_partkey),
      |reach AS (
      |  SELECT src, dst FROM e
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN e ON e.src = r.dst),
      |nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
      |mut AS (
      |  SELECT a.src AS u, a.dst AS v FROM reach a
      |  JOIN reach b ON b.src = a.dst AND b.dst = a.src),
      |scc AS (
      |  SELECT n.v AS node,
      |    CAST(LEAST(n.v, COALESCE(MIN(m.u), n.v)) AS BIGINT) AS scc_id
      |  FROM nodes n LEFT JOIN mut m ON m.v = n.v
      |  GROUP BY n.v)""".stripMargin

  private val revenueSql =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"

  /** SQL twin of [[graft.functions.CoreFunctions.decimalSumFp]]: the
    * deterministic DECIMAL→DOUBLE via an exact 2^30 hi/lo BIGINT split
    * (DuckDB's hugeint→double cast rounds sloppily past 2^53 — the q09
    * sf1-sweep class — while int64→double is hardware-exact). */
  private def fpSql(inner: String, scale: Long): String =
    s"(CAST(CAST(($inner) * $scale AS HUGEINT) // 1073741824 AS DOUBLE)" +
      s" * 1073741824.0 + CAST(CAST(($inner) * $scale AS HUGEINT)" +
      s" % 1073741824 AS DOUBLE)) / $scale.0"

  val all: Seq[EngineQuery] = Seq(

    // Q9 — pricing summary, TPC-H Q1 shape: multi-agg over filtered scan.
    // Every money aggregate goes through decimalSumFp — SUM(DECIMAL) is
    // exact in both engines, but once the sum's scaled integer crosses
    // 2^53 (the sf1 grand totals) DuckDB's hugeint-backed
    // DECIMAL→DOUBLE conversion rounds differently from Spark's
    // correctly-rounded cast. (Caught by the round-12 sf1 sweep:
    // sum_charge diverged by 1 ulp.)
    EngineQuery("q09_pricing_summary",
      (s, dir) => {
        def fp(c: Column, scale: Long): Column =
          decimalSumFp(sum(c), scale)
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp_ntz"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            fp(money(col("l_quantity")), 100L).as("sum_qty"),
            fp(money(col("l_extendedprice")), 100L).as("sum_base_price"),
            fp(revenue, 10000L).as("sum_disc_price"),
            fp(revenue * (lit(1) + money(col("l_tax"))), 1000000L)
              .as("sum_charge"),
            (fp(money(col("l_quantity")), 100L) /
              count(lit(1)).cast("double")).as("avg_qty"),
            (fp(money(col("l_discount")), 100L) /
              count(lit(1)).cast("double")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
              |  ${fpSql("SUM(CAST(l_quantity AS DECIMAL(18,2)))", 100L)} AS sum_qty,
              |  ${fpSql("SUM(CAST(l_extendedprice AS DECIMAL(18,2)))", 100L)} AS sum_base_price,
              |  ${fpSql(s"SUM($revenueSql)", 10000L)} AS sum_disc_price,
              |  ${fpSql(s"SUM($revenueSql * (1 + CAST(l_tax AS DECIMAL(18,2))))", 1000000L)} AS sum_charge,
              |  ${fpSql("SUM(CAST(l_quantity AS DECIMAL(18,2)))", 100L)} / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
              |  ${fpSql("SUM(CAST(l_discount AS DECIMAL(18,2)))", 100L)} / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
              |  COUNT(*) AS count_order
              |FROM lineitem
              |WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Q10 — 3-way star join (TPC-H Q3 shape): broadcast dims, shuffle fact.
    EngineQuery("q10_star_join",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        // customer scales with SF (terabytes at the 100 TB design point),
        // so no forced broadcast hint: AQE promotes the filtered side to a
        // broadcast join when it measures small, and falls back to a
        // shuffle join when it doesn't — a hint would OOM instead.
        l.join(o.join(c, o("o_custkey") === c("c_custkey")),
            l("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderkey", "c_custkey")
          .agg(sum(revenue).cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(100)
      },
      Some(s"""SELECT o_orderkey, c_custkey,
              |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
              |  COUNT(*) AS n_lines
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |WHERE c_mktsegment = 'BUILDING'
              |GROUP BY 1, 2
              |ORDER BY revenue DESC, o_orderkey
              |LIMIT 100""".stripMargin)),

    // Q11 — 5-way snowflake join (TPC-H Q5 shape): revenue per nation in ASIA.
    EngineQuery("q11_snowflake_join",
      (s, dir) => {
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val l = t(s, dir, "lineitem")
        // region/nation are fixed-cardinality (5 / 25 rows at every SF) —
        // broadcast hints are safe there. customer grows with SF, so the
        // customer⋈nation⋈region branch carries NO hint; AQE decides at
        // runtime whether the filtered dims side fits a broadcast.
        val dims = c.join(broadcast(n.join(broadcast(r),
            n("n_regionkey") === r("r_regionkey"))),
          c("c_nationkey") === n("n_nationkey"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(dims, o("o_custkey") === dims("c_custkey"))
          .groupBy("n_name")
          .agg(sum(revenue).cast("double").as("revenue"),
            count(lit(1)).as("n_lines"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some(s"""SELECT n_name,
              |  CAST(SUM($revenueSql) AS DOUBLE) AS revenue,
              |  COUNT(*) AS n_lines
              |FROM lineitem
              |JOIN orders ON l_orderkey = o_orderkey
              |JOIN customer ON o_custkey = c_custkey
              |JOIN nation ON c_nationkey = n_nationkey
              |JOIN region ON n_regionkey = r_regionkey
              |WHERE r_name = 'ASIA'
              |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin)),

    // Q12 — semi/anti join: customers with vs without orders.
    EngineQuery("q12_semi_anti_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey"), lit("with_orders").as("tag"))
        val noO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey"), lit("no_orders").as("tag"))
        withO.unionByName(noO).orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, 'with_orders' AS tag FROM customer
             |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |UNION ALL
             |SELECT c_custkey, 'no_orders' AS tag FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // Q13 — left outer join + null-safe aggregates.
    EngineQuery("q13_outer_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy("c_custkey", "c_name")
          .agg(count(col("o_orderkey")).as("n_orders"),
            coalesce(sum(money(col("o_totalprice"))), lit(0))
              .cast("double").as("total_spent"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name,
             |  COUNT(o_orderkey) AS n_orders,
             |  CAST(coalesce(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spent
             |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             |GROUP BY 1, 2 ORDER BY c_custkey""".stripMargin)),

    // Q14 — equi + range (theta) join: lineitem price within part's
    // retail-price band.
    EngineQuery("q14_range_join",
      (s, dir) => {
        val l = t(s, dir, "lineitem")
        val p = t(s, dir, "part")
        // part scales with SF — no forced broadcast; the equi-key keeps
        // this a hash join (range predicates are post-join filters), and
        // AQE broadcasts when part measures small.
        l.join(p,
            l("l_partkey") === p("p_partkey") &&
              l("l_extendedprice") >= p("p_retailprice") * 2.0 &&
              l("l_extendedprice") < p("p_retailprice") * 40.0)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_in_band"),
            sum(money(col("l_extendedprice"))).cast("double").as("band_value"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, COUNT(*) AS n_in_band,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS band_value
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |  AND l_extendedprice >= p_retailprice * 2.0
             |  AND l_extendedprice < p_retailprice * 40.0
             |GROUP BY 1 ORDER BY p_brand""".stripMargin)),

    // Q15 — top-k per group: 3 biggest orders per customer (rank window).
    EngineQuery("q15_topk_per_group",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
             |  FROM orders) t
             |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    // Q18 — rollup with grouping flags.
    EngineQuery("q18_rollup",
      (s, dir) => t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(money(col("o_totalprice"))).cast("double").as("total"),
          grouping(col("o_orderstatus")).cast("int").as("g_status"),
          grouping(col("o_orderpriority")).cast("int").as("g_priority"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority")),
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
             |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
             |FROM orders
             |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
             |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    // Q19 — set operations on customer vs supplier nation keys.
    EngineQuery("q19_set_ops",
      (s, dir) => {
        val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
        val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
        cn.intersect(sn).select(lit("both").as("tag"), col("nk"))
          .unionByName(cn.except(sn).select(lit("cust_only").as("tag"), col("nk")))
          .unionByName(sn.except(cn).select(lit("supp_only").as("tag"), col("nk")))
          .orderBy("tag", "nk")
      },
      Some("""SELECT 'both' AS tag, nk FROM (
             |  SELECT DISTINCT c_nationkey AS nk FROM customer
             |  INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier) t1
             |UNION ALL
             |SELECT 'cust_only' AS tag, nk FROM (
             |  SELECT DISTINCT c_nationkey AS nk FROM customer
             |  EXCEPT SELECT DISTINCT s_nationkey AS nk FROM supplier) t2
             |UNION ALL
             |SELECT 'supp_only' AS tag, nk FROM (
             |  SELECT DISTINCT s_nationkey AS nk FROM supplier
             |  EXCEPT SELECT DISTINCT c_nationkey AS nk FROM customer) t3
             |ORDER BY tag, nk""".stripMargin)),

    // Q20 — scalar-function battery: string / date / math on one pass.
    EngineQuery("q20_scalar_battery",
      (s, dir) => t(s, dir, "orders")
        .filter(col("o_orderkey") <= 500)
        .select(
          col("o_orderkey"),
          upper(col("o_orderpriority")).as("pri_upper"),
          substring(col("o_orderpriority"), 1, 3).as("pri_prefix"),
          concat_ws("-", col("o_orderstatus"), col("o_orderpriority"))
            .as("status_pri"),
          regexp_extract(col("o_orderpriority"), "([A-Z]+)", 1).as("pri_word"),
          size(split(col("o_orderpriority"), "-")).as("n_parts"),
          date_trunc("month", col("o_orderdate")).cast("timestamp_ntz")
            .as("order_month"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
            .as("days_since_epoch_start"),
          year(col("o_orderdate")).as("order_year"),
          // exact decimal product (double*0.1 rounding sits on half-cent
          // boundaries and differs across engines)
          (money(col("o_totalprice")) * expr("CAST(0.1 AS DECIMAL(2,1))"))
            .cast("double").as("fee"),
          abs(-col("o_totalprice")).as("abs_price"),
          pow(lit(2.0), (col("o_orderkey") % 10).cast("double")).as("pow2"),
          // transcendental fns differ by 1 ulp across libm implementations;
          // round to 8 decimals for a stable cross-engine comparison
          round(log(col("o_totalprice")), 8).as("ln_price"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
             |  upper(o_orderpriority) AS pri_upper,
             |  substr(o_orderpriority, 1, 3) AS pri_prefix,
             |  o_orderstatus || '-' || o_orderpriority AS status_pri,
             |  regexp_extract(o_orderpriority, '([A-Z]+)', 1) AS pri_word,
             |  CAST(len(string_split(o_orderpriority, '-')) AS INT) AS n_parts,
             |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
             |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since_epoch_start,
             |  CAST(year(o_orderdate) AS INT) AS order_year,
             |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(2,1)) AS DOUBLE) AS fee,
             |  abs(-o_totalprice) AS abs_price,
             |  pow(2.0, CAST(o_orderkey % 10 AS DOUBLE)) AS pow2,
             |  round(ln(o_totalprice), 8) AS ln_price
             |FROM orders WHERE o_orderkey <= 500
             |ORDER BY o_orderkey""".stripMargin)),

    // Q9b — advanced aggregate battery: exact variance/stddev from
    // decimal sums (order-independent, identical float expression in both
    // engines) + interpolated median.
    EngineQuery("q47_agg_battery",
      (s, dir) => {
        val p = money(col("o_totalprice"))
        t(s, dir, "orders")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(p).cast("double").as("s"),
            sum(p * p).cast("double").as("ss"),
            round(expr("percentile(o_totalprice, 0.5)"), 6).as("median_price"))
          // decimal→double conversion of the huge sum-of-squares differs
          // by 1 ulp across engines at larger SFs; round the derived stats
          .select(col("o_orderstatus"), col("n"),
            col("s").as("sum_price"),
            round((col("ss") - col("s") * col("s") / col("n").cast("double")) /
              (col("n").cast("double") - 1.0), 4).as("var_price"),
            round(sqrt((col("ss") - col("s") * col("s") / col("n").cast("double")) /
              (col("n").cast("double") - 1.0)), 6).as("stddev_price"),
            col("median_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, n, sum_price,
             |  round((ss - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 4) AS var_price,
             |  round(sqrt((ss - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)), 6) AS stddev_price,
             |  median_price
             |FROM (
             |  SELECT o_orderstatus, COUNT(*) AS n,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS ss,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
             |    round(quantile_cont(o_totalprice, 0.5), 6) AS median_price
             |  FROM orders GROUP BY 1) agg
             |ORDER BY o_orderstatus""".stripMargin)),

    // Q21 — global multi-key sort + limit.
    EngineQuery("q21_sort_limit",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(100),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             |FROM lineitem
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             |LIMIT 100""".stripMargin)),

    // Q62 — explicit salt-based skew-safe join (SkewJoin.saltedInnerJoin,
    // plan-asserted in ScaleOpsSpec): the fact side's key is salted on
    // the per-row event id, the dimension is replicated; row-identical to
    // the plain inner join, which is exactly what the oracle runs.
    EngineQuery("q62_salted_join",
      (s, dir) => graft.operators.SkewJoin.saltedInnerJoin(
          Tables.events(s, dir),
          t(s, dir, "customer")
            .select(col("c_custkey").as("user_id"), col("c_mktsegment")),
          key = "user_id",
          saltSource = col("event_id"), saltFactor = 8)
        .select(col("event_id"), col("user_id"), col("c_mktsegment"))
        .orderBy("event_id"),
      Some("""SELECT event_id, user_id, c_mktsegment
             |FROM events JOIN customer ON c_custkey = user_id
             |ORDER BY event_id""".stripMargin)),

    // EXT — hash-partition balance audit: the bucket histogram a
    // partitioner assignment (hash(key) % 32) would produce, with each
    // bucket's chi-square contribution against the uniform expectation —
    // the pre-flight check that a chosen partition key won't hot-spot a
    // 1000-executor shuffle. One keyed aggregation over the scan.
    EngineQuery("q127_partition_balance",
      (s, dir) => {
        val k = 32
        val b = Tables.table(s, dir, "documents")
          .select((sha256PrefixLong(
            concat(lit("pt:"), col("doc_id").cast("string"))) % k)
            .as("bucket"), col("n_chars"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        val tot = b.agg(sum("n_docs").as("total"))
        b.crossJoin(broadcast(tot))
          .select(col("bucket"), col("n_docs"), col("n_chars"),
            round(col("n_docs").cast("double") / col("total"), 6)
              .as("share"),
            round(pow(col("n_docs").cast("double") - col("total") / lit(k.toDouble), 2)
              / (col("total") / lit(k.toDouble)), 6).as("chisq_term"))
          .orderBy("bucket")
      },
      Some("""WITH b AS (
             |  SELECT CAST('0x' || substr(sha256('pt:' ||
             |      CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 32
             |      AS bucket,
             |    COUNT(*) AS n_docs,
             |    CAST(SUM(n_chars) AS BIGINT) AS n_chars
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM b)
             |SELECT bucket, n_docs, n_chars,
             |  round(CAST(n_docs AS DOUBLE) / total, 6) AS share,
             |  round(pow(CAST(n_docs AS DOUBLE) - total / 32.0, 2)
             |    / (total / 32.0), 6) AS chisq_term
             |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin)),

    // EXT — CUBE / grouping-sets battery: all four aggregation lattices
    // of (returnflag, linestatus) in one pass (Spark plans cube as a
    // single expand + aggregate — one shuffle, not four). Money stays
    // in exact DECIMAL; quantities are integral, summed as BIGINT.
    EngineQuery("q128_cube_battery",
      (s, dir) => t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"), col("sum_qty"), col("sum_price"))
        .orderBy("returnflag", "linestatus"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
             |    AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_price
             |FROM lineitem
             |GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)),

    // EXT — OLS trend fit: per order priority, the least-squares
    // slope/intercept of daily order volume and daily revenue against a
    // day index — the "is this segment growing?" report. Two keyed
    // aggregations (orders → |priority × day| rows → |priority| rows);
    // every sufficient statistic (n, Σx, Σx², Σy, Σxy) is exact
    // BIGINT/DECIMAL and only the final normal-equation arithmetic runs
    // in doubles, written in the SAME shape in both engines so the
    // rounding sequence is identical.
    EngineQuery("q152_ols_trend",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .select(col("o_orderpriority"),
            datediff(col("o_orderdate").cast("date"),
              lit("1990-01-01").cast("date")).cast("long").as("x"),
            money(col("o_totalprice")).as("p"))
          .groupBy("o_orderpriority", "x")
          .agg(count(lit(1)).as("cnt"),
            sum(col("p")).cast("decimal(18,2)").as("rev"))
        val stats = daily.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("cnt")).as("sy_cnt"),
            sum(col("x") * col("cnt")).as("sxy_cnt"),
            // decimalSumFp: past 2^53 cents DuckDB's hugeint-backed
            // DECIMAL→DOUBLE cast rounds differently from Spark's
            // (the q09 sf1-sweep class)
            decimalSumFp(sum(col("rev")), 100L).as("sy_rev"),
            decimalSumFp(sum(col("x").cast("decimal(10,0)") * col("rev")),
              100L).as("sxy_rev"))
        val (nd, sxd, sxxd) = (col("n").cast("double"),
          col("sx").cast("double"), col("sxx").cast("double"))
        val den = nd * sxxd - sxd * sxd
        val slopeCnt = (nd * col("sxy_cnt").cast("double") -
          sxd * col("sy_cnt").cast("double")) / den
        val slopeRev = (nd * col("sxy_rev") - sxd * col("sy_rev")) / den
        stats.select(col("o_orderpriority"), col("n").as("n_days"),
            slopeCnt.as("slope_orders_per_day"),
            slopeRev.as("slope_revenue_per_day"),
            ((col("sy_rev") - slopeRev * sxd) / nd).as("intercept_revenue"))
          .orderBy("o_orderpriority")
      },
      Some(s"""WITH daily AS (
             |  SELECT o_orderpriority,
             |    CAST(date_diff('day', DATE '1990-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             |    COUNT(*) AS cnt,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |      AS DECIMAL(18,2)) AS rev
             |  FROM orders GROUP BY 1, 2),
             |stats AS (
             |  SELECT o_orderpriority,
             |    COUNT(*) AS n,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(cnt) AS BIGINT) AS sy_cnt,
             |    CAST(SUM(x * cnt) AS BIGINT) AS sxy_cnt,
             |    ${fpSql("SUM(rev)", 100L)} AS sy_rev,
             |    ${fpSql("SUM(CAST(x AS DECIMAL(10,0)) * rev)", 100L)}
             |      AS sxy_rev
             |  FROM daily GROUP BY 1)
             |SELECT o_orderpriority, n AS n_days,
             |  (CAST(n AS DOUBLE) * CAST(sxy_cnt AS DOUBLE)
             |    - CAST(sx AS DOUBLE) * CAST(sy_cnt AS DOUBLE))
             |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    AS slope_orders_per_day,
             |  (CAST(n AS DOUBLE) * sxy_rev
             |    - CAST(sx AS DOUBLE) * sy_rev)
             |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    AS slope_revenue_per_day,
             |  (sy_rev
             |    - (CAST(n AS DOUBLE) * sxy_rev
             |        - CAST(sx AS DOUBLE) * sy_rev)
             |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * CAST(sx AS DOUBLE))
             |  / CAST(n AS DOUBLE) AS intercept_revenue
             |FROM stats ORDER BY o_orderpriority""".stripMargin)),

    // EXT — Benford first-digit audit: the classic fraud/quality screen
    // over o_totalprice. First digits come from exact integer cents via
    // string heads (never float log10 of a price), expected shares are
    // inlined double literals (no libm log10 divergence between
    // engines), and the χ² accumulates over a 9-row ordered frame — the
    // bounded-window discipline. One keyed aggregation over the scan.
    EngineQuery("q158_benford_audit",
      (s, dir) => {
        val benford = Seq(
          1 -> 0.3010299956639812, 2 -> 0.17609125905568124,
          3 -> 0.12493873660829992, 4 -> 0.09691001300805642,
          5 -> 0.07918124604762482, 6 -> 0.06694678963061322,
          7 -> 0.05799194697768673, 8 -> 0.05115252244738129,
          9 -> 0.04575749056067514)
        val expCol = benford.foldLeft(lit(0.0)) { case (acc, (d, p)) =>
          when(col("digit") === d, lit(p)).otherwise(acc)
        }
        val counts = t(s, dir, "orders")
          .select(substring((money(col("o_totalprice")) * 100)
            .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val wAll = Window.partitionBy()
        val wRun = Window.orderBy("digit")
          .rowsBetween(Window.unboundedPreceding, 0)
        counts
          .withColumn("n_total", sum(col("n_obs")).over(wAll))
          .withColumn("p_expected", expCol)
          .withColumn("p_observed",
            col("n_obs").cast("double") / col("n_total").cast("double"))
          .withColumn("chi2_term",
            (col("n_obs").cast("double") -
              col("p_expected") * col("n_total").cast("double")) *
              (col("n_obs").cast("double") -
                col("p_expected") * col("n_total").cast("double")) /
              (col("p_expected") * col("n_total").cast("double")))
          .withColumn("chi2_running", sum(col("chi2_term")).over(wRun))
          .select(col("digit"), col("n_obs"), col("p_observed"),
            col("p_expected"), col("chi2_term"), col("chi2_running"))
          .orderBy("digit")
      },
      Some("""WITH c AS (
             |  SELECT CAST(substr(CAST(CAST(
             |      CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS VARCHAR), 1, 1) AS INT) AS digit,
             |    COUNT(*) AS n_obs
             |  FROM orders GROUP BY 1),
             |e AS (
             |  SELECT digit, n_obs,
             |    CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total,
             |    CAST(CASE digit
             |      WHEN 1 THEN CAST(0.3010299956639812 AS DOUBLE)
             |      WHEN 2 THEN CAST(0.17609125905568124 AS DOUBLE)
             |      WHEN 3 THEN CAST(0.12493873660829992 AS DOUBLE)
             |      WHEN 4 THEN CAST(0.09691001300805642 AS DOUBLE)
             |      WHEN 5 THEN CAST(0.07918124604762482 AS DOUBLE)
             |      WHEN 6 THEN CAST(0.06694678963061322 AS DOUBLE)
             |      WHEN 7 THEN CAST(0.05799194697768673 AS DOUBLE)
             |      WHEN 8 THEN CAST(0.05115252244738129 AS DOUBLE)
             |      WHEN 9 THEN CAST(0.04575749056067514 AS DOUBLE)
             |      ELSE CAST(0.0 AS DOUBLE) END AS DOUBLE) AS p_expected
             |  FROM c),
             |terms AS (
             |  SELECT digit, n_obs,
             |    CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE)
             |      AS p_observed,
             |    p_expected,
             |    (CAST(n_obs AS DOUBLE)
             |       - p_expected * CAST(n_total AS DOUBLE))
             |    * (CAST(n_obs AS DOUBLE)
             |       - p_expected * CAST(n_total AS DOUBLE))
             |    / (p_expected * CAST(n_total AS DOUBLE)) AS chi2_term
             |  FROM e)
             |SELECT digit, n_obs, p_observed, p_expected, chi2_term,
             |  SUM(chi2_term) OVER (ORDER BY digit
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS chi2_running
             |FROM terms ORDER BY digit""".stripMargin)),

    // EXT — Pearson correlation battery: per return flag, the
    // quantity↔price and discount↔tax correlations from exact sufficient
    // statistics (quantity/counts as BIGINT, money columns as DECIMAL
    // products — scale-4 exact), combined in ONE fixed-shape double
    // expression per coefficient. A single map-side-partial aggregation
    // over the scan; nothing but |flags| rows ever leave the executors.
    EngineQuery("q156_corr_battery",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select(col("l_returnflag"),
          round(col("l_quantity")).cast("long").as("q"),
          money(col("l_extendedprice")).as("p"),
          money(col("l_discount")).as("d"),
          money(col("l_tax")).as("x"))
        // decimalSumFp on every decimal sum: Σp² scaled hits ~6e21 at
        // sf1 — past both 2^53 (DuckDB's sloppy hugeint→double cast,
        // the q09 sweep class) and int64 (the simple cents chain)
        val stats = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(col("q")).as("sq"),
          sum(col("q") * col("q")).as("sqq"),
          decimalSumFp(sum(col("p")), 100L).as("sp"),
          decimalSumFp(sum(col("p") * col("p")), 10000L).as("spp"),
          decimalSumFp(sum(col("q").cast("decimal(10,0)") * col("p")),
            100L).as("sqp"),
          decimalSumFp(sum(col("d")), 100L).as("sd"),
          decimalSumFp(sum(col("d") * col("d")), 10000L).as("sdd"),
          decimalSumFp(sum(col("x")), 100L).as("sx"),
          decimalSumFp(sum(col("x") * col("x")), 10000L).as("sxx"),
          decimalSumFp(sum(col("d") * col("x")), 10000L).as("sdx"))
        val nd = col("n").cast("double")
        def corr2(sxy: Column, sa: Column, sb: Column,
            saa: Column, sbb: Column): Column =
          (nd * sxy - sa * sb) /
            (sqrt(nd * saa - sa * sa) * sqrt(nd * sbb - sb * sb))
        stats.select(col("l_returnflag"), col("n"),
            corr2(col("sqp"), col("sq").cast("double"), col("sp"),
              col("sqq").cast("double"), col("spp")).as("corr_qty_price"),
            corr2(col("sdx"), col("sd"), col("sx"), col("sdd"), col("sxx"))
              .as("corr_disc_tax"))
          .orderBy("l_returnflag")
      },
      Some(s"""WITH li AS (
             |  SELECT l_returnflag,
             |    CAST(round(l_quantity) AS BIGINT) AS q,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS p,
             |    CAST(l_discount AS DECIMAL(18,2)) AS d,
             |    CAST(l_tax AS DECIMAL(18,2)) AS x
             |  FROM lineitem),
             |stats AS (
             |  SELECT l_returnflag, COUNT(*) AS n,
             |    CAST(SUM(q) AS BIGINT) AS sq,
             |    CAST(SUM(q * q) AS BIGINT) AS sqq,
             |    ${fpSql("SUM(p)", 100L)} AS sp,
             |    ${fpSql("SUM(p * p)", 10000L)} AS spp,
             |    ${fpSql("SUM(CAST(q AS DECIMAL(10,0)) * p)", 100L)} AS sqp,
             |    ${fpSql("SUM(d)", 100L)} AS sd,
             |    ${fpSql("SUM(d * d)", 10000L)} AS sdd,
             |    ${fpSql("SUM(x)", 100L)} AS sx,
             |    ${fpSql("SUM(x * x)", 10000L)} AS sxx,
             |    ${fpSql("SUM(d * x)", 10000L)} AS sdx
             |  FROM li GROUP BY 1)
             |SELECT l_returnflag, n,
             |  (CAST(n AS DOUBLE) * sqp - CAST(sq AS DOUBLE) * sp)
             |  / (sqrt(CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
             |      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
             |    * sqrt(CAST(n AS DOUBLE) * spp - sp * sp))
             |    AS corr_qty_price,
             |  (CAST(n AS DOUBLE) * sdx - sd * sx)
             |  / (sqrt(CAST(n AS DOUBLE) * sdd - sd * sd)
             |    * sqrt(CAST(n AS DOUBLE) * sxx - sx * sx))
             |    AS corr_disc_tax
             |FROM stats ORDER BY l_returnflag""".stripMargin)),

    // EXT — lag-1 autocorrelation of daily order volume per priority:
    // the serial-dependence diagnostic behind q152's trend fit (is the
    // residual noise white?). Consecutive-calendar-day pairs come from
    // a per-priority lag window over the |priority × day| aggregate
    // frame (bounded by the corpus time span — never raw orders); all
    // sufficient statistics are exact BIGINTs and the coefficient is
    // one fixed-shape double expression.
    EngineQuery("q164_autocorr_daily",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .select(col("o_orderpriority"),
            datediff(col("o_orderdate").cast("date"),
              lit("1990-01-01").cast("date")).cast("long").as("x"))
          .groupBy("o_orderpriority", "x")
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("o_orderpriority").orderBy("x")
        val pairs = daily
          .withColumn("prev_x", lag(col("x"), 1).over(w))
          .withColumn("prev_cnt", lag(col("cnt"), 1).over(w))
          .filter(col("x") - col("prev_x") === 1)
        val stats = pairs.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("prev_cnt")).as("sa"),
            sum(col("cnt")).as("sb"),
            sum(col("prev_cnt") * col("prev_cnt")).as("saa"),
            sum(col("cnt") * col("cnt")).as("sbb"),
            sum(col("prev_cnt") * col("cnt")).as("sab"))
        val nd = col("n_pairs").cast("double")
        val (sa, sb) = (col("sa").cast("double"), col("sb").cast("double"))
        stats.select(col("o_orderpriority"), col("n_pairs"),
            ((nd * col("sab").cast("double") - sa * sb) /
              nullif(sqrt(nd * col("saa").cast("double") - sa * sa) *
                sqrt(nd * col("sbb").cast("double") - sb * sb), lit(0.0)))
              .as("autocorr_lag1"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH daily AS (
             |  SELECT o_orderpriority,
             |    CAST(date_diff('day', DATE '1990-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             |    COUNT(*) AS cnt
             |  FROM orders GROUP BY 1, 2),
             |pairs AS (
             |  SELECT o_orderpriority,
             |    lag(x, 1) OVER w AS prev_x,
             |    lag(cnt, 1) OVER w AS prev_cnt, x, cnt
             |  FROM daily
             |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY x)),
             |stats AS (
             |  SELECT o_orderpriority, COUNT(*) AS n_pairs,
             |    CAST(SUM(prev_cnt) AS BIGINT) AS sa,
             |    CAST(SUM(cnt) AS BIGINT) AS sb,
             |    CAST(SUM(prev_cnt * prev_cnt) AS BIGINT) AS saa,
             |    CAST(SUM(cnt * cnt) AS BIGINT) AS sbb,
             |    CAST(SUM(prev_cnt * cnt) AS BIGINT) AS sab
             |  FROM pairs WHERE x - prev_x = 1 GROUP BY 1)
             |SELECT o_orderpriority, n_pairs,
             |  (CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
             |    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             |  / NULLIF(sqrt(CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
             |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             |    * sqrt(CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
             |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)), 0)
             |    AS autocorr_lag1
             |FROM stats ORDER BY o_orderpriority""".stripMargin)),

    // EXT — open-order aging report: per status × age bucket, order
    // counts and exact-decimal value at risk — the operational "what's
    // been stuck how long" view. Ages are exact integer days from the
    // corpus max date (one broadcast 1-row frame); buckets are BIGINT
    // floor-division (the `div`/`//` parity rule). One keyed
    // aggregation over the scan.
    EngineQuery("q174_order_aging",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderstatus"), col("o_totalprice"),
            datediff(col("o_orderdate").cast("date"),
              lit("1990-01-01").cast("date")).cast("long").as("d"))
        val mx = o.agg(max("d").as("max_d"))
        o.crossJoin(broadcast(mx))
          .select(col("o_orderstatus"),
            expr("(max_d - d) div 90").as("age_bucket"),
            col("o_totalprice"))
          .groupBy("o_orderstatus", "age_bucket")
          .agg(count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("total_value"))
          .orderBy("o_orderstatus", "age_bucket")
      },
      Some("""WITH o AS (
             |  SELECT o_orderstatus, o_totalprice,
             |    CAST(date_diff('day', DATE '1990-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS d
             |  FROM orders),
             |mx AS (SELECT MAX(d) AS max_d FROM o)
             |SELECT o_orderstatus, (max_d - d) // 90 AS age_bucket,
             |  COUNT(*) AS n_orders,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS total_value
             |FROM o CROSS JOIN mx
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // EXT — revenue concentration (whale analysis): the top-100
    // customers by lifetime revenue and the cumulative share curve —
    // "what fraction of revenue do our biggest accounts hold". Revenue
    // is exact integer cents; the top-100 ride orderBy+limit
    // (TakeOrdered — map-side partial top-k, never a global sort or
    // rank), the cumulative window runs over the bounded 100-row frame,
    // and the corpus total joins back as a broadcast 1-row frame.
    EngineQuery("q178_revenue_concentration",
      (s, dir) => {
        val perCust = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(money(col("o_totalprice"))) * 100).cast("long")
            .as("rev_cents"))
        val total = perCust.agg(sum(col("rev_cents")).as("total_cents"))
        val top = perCust
          .orderBy(col("rev_cents").desc, col("o_custkey"))
          .limit(100)
        val wRun = Window.orderBy(col("rev_cents").desc, col("o_custkey"))
          .rowsBetween(Window.unboundedPreceding, 0)
        top.crossJoin(broadcast(total))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("rev_cents").desc, col("o_custkey"))))
          .withColumn("cum_cents", sum(col("rev_cents")).over(wRun))
          .select(col("rnk"), col("o_custkey"),
            (col("rev_cents").cast("double") / 100).as("revenue"),
            (col("cum_cents").cast("double") /
              col("total_cents").cast("double")).as("cum_share"))
          .orderBy("rnk")
      },
      Some("""WITH pc AS (
             |  SELECT o_custkey,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
             |      AS BIGINT) AS rev_cents
             |  FROM orders GROUP BY 1),
             |tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT)
             |  AS total_cents FROM pc),
             |top AS (
             |  SELECT o_custkey, rev_cents FROM pc
             |  ORDER BY rev_cents DESC, o_custkey LIMIT 100),
             |curve AS (
             |  SELECT o_custkey, rev_cents,
             |    row_number() OVER (ORDER BY rev_cents DESC, o_custkey)
             |      AS rnk,
             |    CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC,
             |      o_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND
             |      CURRENT ROW) AS BIGINT) AS cum_cents
             |  FROM top)
             |SELECT rnk, o_custkey,
             |  CAST(rev_cents AS DOUBLE) / 100 AS revenue,
             |  CAST(cum_cents AS DOUBLE) / CAST(tot.total_cents AS DOUBLE)
             |    AS cum_share
             |FROM curve CROSS JOIN tot
             |ORDER BY rnk""".stripMargin)),

    // EXT — explicit GROUPING SETS battery with GROUPING() flags: the
    // third member of the grouping trio next to ROLLUP (q18) and CUBE
    // (q128) — arbitrary set lists are what reporting layers actually
    // emit. Runs through the full SQL path (Catalog views → Catalyst),
    // one Expand + one aggregation; grouping flags are exact INTs in
    // both engines.
    EngineQuery("q187_grouping_sets",
      (s, dir) => graft.Catalog.sql(s, dir,
        """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
          |  coalesce(l_linestatus, 'ALL') AS linestatus,
          |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
          |  CAST(grouping(l_linestatus) AS INT) AS g_status,
          |  count(*) AS n,
          |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
          |    AS DOUBLE) AS sum_price
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), (l_linestatus), ())
          |ORDER BY returnflag, linestatus, g_flag, g_status""".stripMargin),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
             |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
             |    AS DOUBLE) AS sum_price
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
             |  (l_returnflag), (l_linestatus), ())
             |ORDER BY returnflag, linestatus, g_flag, g_status""".stripMargin)),

    // EXT — day-of-week seasonal index: mean daily revenue per weekday
    // divided by the overall mean daily revenue — the multiplicative
    // seasonal profile a forecaster divides out. Daily revenue is exact
    // DECIMAL; both means are exact-sum/count divisions and the index
    // is one more division of those two doubles. Weekday numbering is
    // pinned to DuckDB's dayofweek (0 = Sunday).
    EngineQuery("q193_seasonal_index",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .select(dayofweek(col("o_orderdate").cast("date")).cast("long")
            .as("dow_1based"),
            col("o_orderdate").cast("date").as("d"),
            money(col("o_totalprice")).as("p"))
          .groupBy("dow_1based", "d")
          .agg(sum(col("p")).cast("decimal(18,2)").as("rev"))
        val byDow = daily.groupBy("dow_1based")
          .agg(count(lit(1)).as("n_days"),
            sum(col("rev")).cast("double").as("srev"))
        val overall = daily.agg(count(lit(1)).as("nt"),
          sum(col("rev")).cast("double").as("st"))
        byDow.crossJoin(broadcast(overall))
          .select((col("dow_1based") - 1).as("dow"), col("n_days"),
            (col("srev") / col("n_days").cast("double"))
              .as("mean_daily_rev"),
            ((col("srev") / col("n_days").cast("double")) /
              (col("st") / col("nt").cast("double")))
              .as("seasonal_index"))
          .orderBy("dow")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(dayofweek(CAST(o_orderdate AS DATE))
             |      AS BIGINT) AS dow,
             |    CAST(o_orderdate AS DATE) AS d,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |      AS DECIMAL(18,2)) AS rev
             |  FROM orders GROUP BY 1, 2),
             |bydow AS (
             |  SELECT dow, COUNT(*) AS n_days,
             |    CAST(SUM(rev) AS DOUBLE) AS srev
             |  FROM daily GROUP BY 1),
             |overall AS (
             |  SELECT COUNT(*) AS nt, CAST(SUM(rev) AS DOUBLE) AS st
             |  FROM daily)
             |SELECT dow, n_days,
             |  srev / CAST(n_days AS DOUBLE) AS mean_daily_rev,
             |  (srev / CAST(n_days AS DOUBLE))
             |    / (st / CAST(nt AS DOUBLE)) AS seasonal_index
             |FROM bydow CROSS JOIN overall
             |ORDER BY dow""".stripMargin)),

    // EXT — χ² test of independence: is order priority independent of
    // order year? Contingency counts are exact; expected cells are
    // row·col/N in one fixed-shape double chain; the χ² statistic
    // accumulates over the bounded |years|×|priorities| frame in
    // (year, priority) order. The classic mix-shift detector.
    EngineQuery("q194_chi2_independence",
      (s, dir) => {
        val cells = t(s, dir, "orders")
          .select(year(col("o_orderdate")).cast("long").as("yr"),
            col("o_orderpriority").as("prio"))
          .groupBy("yr", "prio").agg(count(lit(1)).as("n_obs"))
        val rowT = cells.groupBy("yr").agg(sum("n_obs").as("row_tot"))
        val colT = cells.groupBy("prio").agg(sum("n_obs").as("col_tot"))
        val grand = cells.agg(sum("n_obs").as("n_tot"))
        val exp = (col("row_tot").cast("double") *
          col("col_tot").cast("double")) / col("n_tot").cast("double")
        val term = (col("n_obs").cast("double") - exp) *
          (col("n_obs").cast("double") - exp) / exp
        val wRun = Window.orderBy("yr", "prio")
          .rowsBetween(Window.unboundedPreceding, 0)
        cells.join(broadcast(rowT), "yr")
          .join(broadcast(colT), "prio")
          .crossJoin(broadcast(grand))
          .withColumn("expected", exp)
          .withColumn("chi2_term", term)
          // the running sum is quantized to exact 1e-6 fixed point:
          // DuckDB's windowed double SUM uses a segment tree and
          // reassociates, so past sf0.1 magnitudes the two engines'
          // running doubles drift an ulp apart (round-12 sf1 sweep);
          // floor of an identical double is bit-identical, and the
          // BIGINT window sum is association-free.
          // DETERMINISM TRADE-OFF (documented, not a bug): chi2_running
          // is the running sum of the FLOOR-QUANTIZED terms, so it is
          // NOT exactly the cumulative sum of the emitted chi2_term
          // column — each term contributes a downward bias < 1e-6
          // (worst case n_rows·1e-6 ≈ 2.5e-5 over this bounded
          // |years|×|priorities| frame). Floor (not half-even) is
          // deliberate: it is the one rounding mode whose SQL twin
          // (FLOOR) is guaranteed bit-identical cross-engine.
          .withColumn("chi2_running",
            sum(floor(col("chi2_term") * lit(1000000.0)).cast("long"))
              .over(wRun).cast("double") / lit(1000000.0))
          .select(col("yr"), col("prio"), col("n_obs"), col("expected"),
            col("chi2_term"), col("chi2_running"))
          .orderBy("yr", "prio")
      },
      Some("""WITH cells AS (
             |  SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT)
             |      AS yr,
             |    o_orderpriority AS prio, COUNT(*) AS n_obs
             |  FROM orders GROUP BY 1, 2),
             |rt AS (
             |  SELECT yr, CAST(SUM(n_obs) AS BIGINT) AS row_tot
             |  FROM cells GROUP BY 1),
             |ct AS (
             |  SELECT prio, CAST(SUM(n_obs) AS BIGINT) AS col_tot
             |  FROM cells GROUP BY 1),
             |g AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot FROM cells),
             |terms AS (
             |  SELECT c.yr, c.prio, c.n_obs,
             |    (CAST(rt.row_tot AS DOUBLE) * CAST(ct.col_tot AS DOUBLE))
             |      / CAST(g.n_tot AS DOUBLE) AS expected,
             |    (CAST(c.n_obs AS DOUBLE)
             |      - (CAST(rt.row_tot AS DOUBLE)
             |          * CAST(ct.col_tot AS DOUBLE))
             |        / CAST(g.n_tot AS DOUBLE))
             |    * (CAST(c.n_obs AS DOUBLE)
             |      - (CAST(rt.row_tot AS DOUBLE)
             |          * CAST(ct.col_tot AS DOUBLE))
             |        / CAST(g.n_tot AS DOUBLE))
             |    / ((CAST(rt.row_tot AS DOUBLE)
             |        * CAST(ct.col_tot AS DOUBLE))
             |      / CAST(g.n_tot AS DOUBLE)) AS chi2_term
             |  FROM cells c
             |  JOIN rt ON rt.yr = c.yr
             |  JOIN ct ON ct.prio = c.prio
             |  CROSS JOIN g)
             |SELECT yr, prio, n_obs, expected, chi2_term,
             |  CAST(SUM(CAST(floor(chi2_term * 1000000.0) AS BIGINT))
             |    OVER (ORDER BY yr, prio
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS DOUBLE) / 1000000.0 AS chi2_running
             |FROM terms ORDER BY yr, prio""".stripMargin)),

    // EXT — supplier revenue/reach SKYLINE via the REUSABLE
    // operators.Skyline.maxMax (q241 computes a customer frontier
    // inline with strict-improver tie semantics; this gates the
    // general operator, whose WEAK-dominance semantics keep ALL tied
    // frontier members — the two conventions differ on ties, both
    // legitimate): the Pareto frontier of (lineitem revenue, distinct
    // parts supplied) — vendors undominated on volume AND breadth,
    // the procurement scorecard short-list. The operator decomposes
    // the O(n log n) sort-sweep over ≤256 data-derived d1-range
    // shards (sharded prefix-max: only the 256-row shard-max frame
    // crosses a single-partition window; within-shard dominance is a
    // partitioned descending RANGE frame, d1 ties an equal-group
    // max) — no all-pairs join, no global sort at any SF. The oracle
    // states the SEMANTICS directly as the quadratic NOT-EXISTS
    // dominance test — two maximally-different formulations that must
    // agree on every row, all-integer so they agree exactly.
    EngineQuery("q283_supplier_skyline",
      (s, dir) => {
        val pts = t(s, dir, "lineitem").groupBy(col("l_suppkey"))
          .agg(sum((money(col("l_extendedprice")) * 100).cast("long"))
            .as("rev_cents"),
            countDistinct(col("l_partkey")).as("n_parts"))
        graft.operators.Skyline
          .maxMax(pts, "l_suppkey", "rev_cents", "n_parts")
          .filter(col("is_skyline"))
          .select(col("l_suppkey").as("suppkey"), col("rev_cents"),
            col("n_parts"))
          .orderBy("suppkey")
      },
      Some("""WITH pts AS (
             |  SELECT l_suppkey,
             |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * 100 AS BIGINT)) AS BIGINT) AS rev_cents,
             |    COUNT(DISTINCT l_partkey) AS n_parts
             |  FROM lineitem GROUP BY 1)
             |SELECT p.l_suppkey AS suppkey, p.rev_cents,
             |  CAST(p.n_parts AS BIGINT) AS n_parts
             |FROM pts p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM pts q
             |  WHERE q.l_suppkey <> p.l_suppkey
             |    AND q.rev_cents >= p.rev_cents
             |    AND q.n_parts >= p.n_parts
             |    AND (q.rev_cents > p.rev_cents
             |      OR q.n_parts > p.n_parts))
             |ORDER BY suppkey""".stripMargin)),

    // EXT — market-basket association rules over order contents: the
    // top-20 brand pairs co-appearing in an order, with support,
    // directed confidence, and lift — the classic retail affinity
    // report (and, in a training-data pipeline, the co-occurrence
    // screen behind "these two sources always arrive together").
    // Execution never builds a global pair space: baskets are the
    // per-order DISTINCT brand sets (≤ 7 lineitems ⇒ ≤ 21 pairs per
    // order), pairs come from a self-join CO-PARTITIONED on orderkey,
    // then two keyed counts; the 25-row brand-support frame and the
    // 1-row total broadcast back. Lift/confidence are single double
    // chains over exact BIGINT counts (products ≤ |orders|², inside
    // int64→fp64 hardware range). Top-20 by (pair_orders DESC, brands)
    // is a strict total order — TakeOrdered, no global sort.
    EngineQuery("q292_basket_lift",
      (s, dir) => {
        val ob = orderBrandShared(s, dir)
        val nOrders = ob.select("okey").distinct()
          .agg(count(lit(1)).as("n_orders"))
        val supp = ob.groupBy("brand").agg(count(lit(1)).as("supp"))
        val pairs = basketPairs(basketsShared(s, dir))
          .groupBy(col("ba").as("brand_a"), col("bb").as("brand_b"))
          .agg(count(lit(1)).as("pair_orders"))
        pairs
          .join(broadcast(supp.select(col("brand").as("brand_a"),
            col("supp").as("supp_a"))), Seq("brand_a"))
          .join(broadcast(supp.select(col("brand").as("brand_b"),
            col("supp").as("supp_b"))), Seq("brand_b"))
          .crossJoin(broadcast(nOrders))
          .select(col("brand_a"), col("brand_b"), col("pair_orders"),
            col("supp_a"), col("supp_b"),
            round((col("pair_orders") * col("n_orders")).cast("double") /
              (col("supp_a") * col("supp_b")).cast("double"), 6).as("lift"),
            round(col("pair_orders").cast("double") /
              col("supp_a").cast("double"), 6).as("conf_a_to_b"))
          .orderBy(col("pair_orders").desc, col("brand_a"), col("brand_b"))
          .limit(20)
      },
      Some("""WITH ob AS (
             |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
             |n AS (
             |  SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders
             |  FROM ob),
             |supp AS (
             |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS supp
             |  FROM ob GROUP BY 1),
             |pairs AS (
             |  SELECT a.brand AS brand_a, b.brand AS brand_b,
             |    CAST(COUNT(*) AS BIGINT) AS pair_orders
             |  FROM ob a JOIN ob b
             |    ON b.okey = a.okey AND a.brand < b.brand
             |  GROUP BY 1, 2)
             |SELECT p.brand_a, p.brand_b, p.pair_orders,
             |  sa.supp AS supp_a, sb.supp AS supp_b,
             |  round(CAST(p.pair_orders * n.n_orders AS DOUBLE)
             |    / CAST(sa.supp * sb.supp AS DOUBLE), 6) AS lift,
             |  round(CAST(p.pair_orders AS DOUBLE)
             |    / CAST(sa.supp AS DOUBLE), 6) AS conf_a_to_b
             |FROM pairs p
             |JOIN supp sa ON sa.brand = p.brand_a
             |JOIN supp sb ON sb.brand = p.brand_b
             |CROSS JOIN n
             |ORDER BY p.pair_orders DESC, p.brand_a, p.brand_b
             |LIMIT 20""".stripMargin)),

    // EXT — ITEM-ITEM neighbor lists ("customers who ordered X also
    // ordered Y"): each brand's top-5 most-similar brands by cosine
    // over co-order counts — the classic collaborative-filtering
    // recommendation surface, built on q292's basket frame. The
    // ranking key is the QUANTIZED INTEGER ((c_ab·2²⁰) div c_b)·c_ab
    // — monotone-enough in cos² = c_ab²/(c_a·c_b) for fixed a, EXACT
    // and identical in both engines (the q67/q143 no-libm-in-sort-keys
    // rule; c_ab ≤ c_b keeps the product ≤ 2²⁰·c_ab, inside int64 at
    // any SF), ties to brand_b; the cosine itself is display-only
    // (sqrt is IEEE-correctly-rounded, safe OUTSIDE the sort key).
    // Per-brand ranking windows run over ≤ |brands| rows.
    EngineQuery("q300_item_neighbors",
      (s, dir) => {
        val ob = t(s, dir, "lineitem")
          .join(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
          .distinct()
        val supp = ob.groupBy("brand").agg(count(lit(1)).as("c"))
        val pairs = ob.select(col("okey"), col("brand").as("brand_a"))
          .join(ob.select(col("okey"), col("brand").as("brand_b")), "okey")
          .filter(col("brand_a") =!= col("brand_b"))
          .groupBy("brand_a", "brand_b")
          .agg(count(lit(1)).as("c_ab"))
        val scored = pairs
          .join(broadcast(supp.select(col("brand").as("brand_a"),
            col("c").as("c_a"))), Seq("brand_a"))
          .join(broadcast(supp.select(col("brand").as("brand_b"),
            col("c").as("c_b"))), Seq("brand_b"))
          .withColumn("rank_key",
            expr("((c_ab * 1048576) div c_b) * c_ab"))
        val w = Window.partitionBy("brand_a")
          .orderBy(col("rank_key").desc, col("brand_b"))
        scored.withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 5L)
          .select(col("brand_a"), col("rn"), col("brand_b"),
            col("c_ab"), col("c_a"), col("c_b"),
            round(col("c_ab").cast("double") /
              sqrt(col("c_a").cast("double") * col("c_b").cast("double")),
              6).as("cosine"))
          .orderBy("brand_a", "rn")
      },
      Some("""WITH ob AS (
             |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
             |supp AS (
             |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS c
             |  FROM ob GROUP BY 1),
             |pairs AS (
             |  SELECT a.brand AS brand_a, b.brand AS brand_b,
             |    CAST(COUNT(*) AS BIGINT) AS c_ab
             |  FROM ob a JOIN ob b
             |    ON b.okey = a.okey AND a.brand <> b.brand
             |  GROUP BY 1, 2),
             |scored AS (
             |  SELECT p.brand_a, p.brand_b, p.c_ab,
             |    sa.c AS c_a, sb.c AS c_b,
             |    ((p.c_ab * 1048576) // sb.c) * p.c_ab AS rank_key
             |  FROM pairs p
             |  JOIN supp sa ON sa.brand = p.brand_a
             |  JOIN supp sb ON sb.brand = p.brand_b),
             |ranked AS (
             |  SELECT *, CAST(row_number() OVER (PARTITION BY brand_a
             |    ORDER BY rank_key DESC, brand_b) AS BIGINT) AS rn
             |  FROM scored)
             |SELECT brand_a, rn, brand_b, c_ab, c_a, c_b,
             |  round(CAST(c_ab AS DOUBLE)
             |    / sqrt(CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)), 6)
             |    AS cosine
             |FROM ranked WHERE rn <= 5
             |ORDER BY brand_a, rn""".stripMargin)),

    // EXT — RELATIONAL DIVISION: suppliers whose shipped parts cover
    // EVERY manufacturer group — the classic "for all" query shape
    // (Codd's ÷). The generator's part table carries brands 1..25 with
    // no mfgr column, so the 5-way manufacturer group is derived as
    // (brand_no − 1) div 5 — identical arithmetic in both engines.
    // Spark states it the SCALE-RIGHT way: distinct (supplier, mfgr)
    // coverage pairs, one keyed distinct-count, compare against the
    // 1-row broadcast universe size — two shuffles total, no
    // correlated probing. The oracle states the SEMANTICS as the
    // textbook DOUBLE NOT EXISTS — maximally different formulations
    // that must agree on every supplier.
    EngineQuery("q302_relational_division",
      (s, dir) => {
        val mfgrOf = expr(
          "(CAST(substring(p_brand, 7) AS BIGINT) - 1) div 5")
        val cover = t(s, dir, "lineitem")
          .join(t(s, dir, "part")
            .select(col("p_partkey"), mfgrOf.as("mfgr")),
            col("l_partkey") === col("p_partkey"))
          .select(col("l_suppkey").as("suppkey"), col("mfgr"))
          .distinct()
        val universe = t(s, dir, "part").select(mfgrOf.as("mfgr"))
          .distinct().agg(count(lit(1)).as("n_mfgr"))
        cover.groupBy("suppkey")
          .agg(countDistinct(col("mfgr")).as("n_covered"))
          .crossJoin(broadcast(universe))
          .filter(col("n_covered") === col("n_mfgr"))
          .join(t(s, dir, "supplier")
            .select(col("s_suppkey").as("suppkey"), col("s_name")),
            Seq("suppkey"))
          .select(col("suppkey"), col("s_name"), col("n_covered"))
          .orderBy("suppkey")
      },
      Some("""WITH pm AS (
             |  SELECT p_partkey,
             |    (CAST(substr(p_brand, 7) AS BIGINT) - 1) // 5 AS mfgr
             |  FROM part)
             |SELECT s.s_suppkey AS suppkey, s.s_name,
             |  (SELECT CAST(COUNT(DISTINCT mfgr) AS BIGINT) FROM pm)
             |    AS n_covered
             |FROM supplier s
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM (SELECT DISTINCT mfgr FROM pm) m
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM lineitem l
             |    JOIN pm p ON p.p_partkey = l.l_partkey
             |    WHERE l.l_suppkey = s.s_suppkey
             |      AND p.mfgr = m.mfgr))
             |ORDER BY suppkey""".stripMargin)),

    // EXT — STRONGLY-CONNECTED COMPONENTS of the part-transition
    // graph (operators/Closure): which hub parts feed back into each
    // other through consecutive-purchase chains — the cyclic-
    // dependency question the undirected suite (q75 components, q270
    // cores) cannot ask because it ignores edge direction. Domain is
    // CAPPED at the top-100 parts (the operator's bounded-domain
    // contract: a closure is |V|² — cap first, close second); Spark
    // closes by path DOUBLING (⌈log₂ D⌉ rounds of one keyed
    // self-join + distinct each), the oracle by single-edge recursive
    // extension — maximally different round structures that must
    // produce the identical reachability relation, and from it the
    // identical scc(v) = min mutually-reachable peer.
    EngineQuery("q306_part_scc",
      (s, dir) => {
        val scc = sccShared(s, dir)
        val sizes = scc.groupBy(col("scc_id"))
          .agg(count(lit(1)).as("scc_size"))
        scc.join(sizes, Seq("scc_id"))
          .select(col("scc_node").as("node"), col("scc_id"),
            col("scc_size"))
          .orderBy("node")
      },
      Some(s"""WITH RECURSIVE $partEdgeCteSql
              |SELECT s.node, s.scc_id, CAST(c.n AS BIGINT) AS scc_size
              |FROM scc s
              |JOIN (SELECT scc_id, COUNT(*) AS n FROM scc GROUP BY 1) c
              |  USING (scc_id)
              |ORDER BY node""".stripMargin)),

    // EXT — CONDENSATION LAYERING: collapse each SCC of q306's graph
    // to one node (the condensation is acyclic BY CONSTRUCTION) and
    // assign every component its longest-path depth — the dependency
    // layer a topological scheduler would run it at, and the
    // "how deep does this feedback cluster sit in the purchase flow"
    // ordering signal. Spark iterates monotone label correction
    // (layer ← max(layer, max over predecessors + 1), the KCore loop
    // shape, converging in depth rounds, maxIter = cycle detector);
    // the oracle enumerates (node, depth) walk states — bounded by
    // |C|·depth since UNION dedups states — and takes MAX(d).
    EngineQuery("q307_condensation_layers",
      (s, dir) => {
        val scc = sccShared(s, dir)
        val asSrc = scc.select(col("scc_node").as("src"),
          col("scc_id").as("c_src"))
        val asDst = scc.select(col("scc_node").as("dst"),
          col("scc_id").as("c_dst"))
        val cedges = partEdgesShared(s, dir)
          .join(asSrc, Seq("src")).join(asDst, Seq("dst"))
          .filter(col("c_src") =!= col("c_dst"))
          .select(col("c_src"), col("c_dst")).distinct()
        val cnodes = scc.select(col("scc_id")).distinct()
        val members = scc.groupBy(col("scc_id"))
          .agg(count(lit(1)).as("n_members"))
        graft.operators.Closure.dagLayers(cedges, cnodes)
          .join(members, col("lay_node") === col("scc_id"))
          .select(col("scc_id"), col("lay_layer").as("layer"),
            col("n_members"))
          .orderBy("layer", "scc_id")
      },
      Some(s"""WITH RECURSIVE $partEdgeCteSql,
              |ce AS (
              |  SELECT DISTINCT su.scc_id AS src, sv.scc_id AS dst
              |  FROM e
              |  JOIN scc su ON su.node = e.src
              |  JOIN scc sv ON sv.node = e.dst
              |  WHERE su.scc_id <> sv.scc_id),
              |walk AS (
              |  SELECT scc_id AS node, 0 AS d FROM scc GROUP BY 1
              |  UNION
              |  SELECT ce.dst AS node, w.d + 1
              |  FROM walk w JOIN ce ON ce.src = w.node
              |  WHERE w.d < 128)
              |SELECT w.node AS scc_id, CAST(MAX(w.d) AS BIGINT) AS layer,
              |  CAST(m.n AS BIGINT) AS n_members
              |FROM walk w
              |JOIN (SELECT scc_id, COUNT(*) AS n FROM scc GROUP BY 1) m
              |  ON m.scc_id = w.node
              |GROUP BY 1, 3 ORDER BY layer, scc_id""".stripMargin)),

    // EXT — APRIORI FREQUENT TRIPLES over order baskets: brand
    // 3-itemsets with support ≥ 0.33% of orders, extending q292's pair
    // lift one level up the lattice. Spark runs the ACTUAL Apriori
    // pruning cascade — frequent items → frequent pairs → candidate
    // triples generated ONLY from pairs sharing a leading item and
    // closed under the pair filter (all three sub-pairs frequent,
    // ≤ |F₂|·√|F₂| candidates broadcast back) → one counting pass —
    // while the oracle brute-force counts EVERY triple and
    // thresholds; support monotonicity says the two must agree
    // exactly, so the gate proves the pruning is lossless, not just
    // plausible. Threshold is RELATIVE (n_orders div 300) so the same
    // query is meaningful at every SF. Scale shape: baskets semi-join
    // to frequent items before any pair/triple explode; per-order
    // triple expansion is C(basket, 3), bounded by basket width;
    // candidates and supports broadcast (≤ |brands|³ rows by
    // construction); one map-side-combined count on the triple key.
    EngineQuery("q310_apriori_triples",
      (s, dir) => {
        val ob = orderBrandShared(s, dir)
        // r15 (guide §1 profile: 26 jobs / 94 exchanges / 163 s summed task
        // time at sf0.1 — every broadcast rebuilt its whole subtree because
        // broadcast subtrees are never exchange-reused): the tiny lattice
        // frames are eagerly cut to leaves ONCE, so the serial cascade
        // re-reads leaves instead of re-running the basket explode.
        //   - n_orders = COUNT(DISTINCT okey) ≡ the row count of the
        //     persisted per-order basket frame (one row per okey by
        //     construction) — same value off a |orders|-row cached scan
        //     instead of a fresh distinct over ob;
        //   - supp / freq2 are |brands| / |frequent pairs| rows.
        val baskets = basketsShared(s, dir)
        val nOrders = Frames.cut(baskets
          .agg(count(lit(1)).as("n_orders"),
            expr("count(1) div 300").as("min_supp")))
        val supp = Frames.cut(
          ob.groupBy("brand").agg(count(lit(1)).as("supp")))
        // ONE shared basket shuffle replaces the okey self-joins:
        // per-order sorted brand sets generate their own pair/triple
        // combinations in codegen'd array lambdas (brands/order is
        // small, so C(n,2)/C(n,3) per row is bounded) — A/B at sf0.1:
        // 12.5 s (pairs+triples via double self-join) → 5.1 s
        // isolated. Support monotonicity makes the freq1 prefilter
        // unnecessary for CORRECTNESS (a pair/triple with an
        // infrequent member can never reach min_supp, and cand3
        // already encodes the 2-subset rule); at a SF where
        // infrequent brands existed, re-adding the basket-side
        // frequent-item filter is the standard Apriori step.
        // freq2 is referenced 3× by cand3 (self-join + closing semi-join);
        // as a lazy frame each reference re-ran the C(n,2) basket explode
        // + count — cut once, the joins read a ≤|brands|²-row leaf
        val freq2 = Frames.cut(basketPairs(baskets)
          .groupBy("ba", "bb").agg(count(lit(1)).as("supp2"))
          .crossJoin(broadcast(nOrders))
          .filter(col("supp2") >= col("min_supp"))
          .select("ba", "bb"))
        // Apriori candidate generation: join pairs on the leading
        // item, then require the (bb, bc) closing pair frequent too.
        val cand3 = freq2.join(
            freq2.select(col("ba"), col("bb").as("bc")), Seq("ba"))
          .filter(col("bb") < col("bc"))
          .join(freq2.select(col("ba").as("bb"), col("bb").as("bc")),
            Seq("bb", "bc"), "left_semi")
        val tri = baskets.filter(size(col("bs")) >= 3)
          .select(explode(expr(
            """flatten(transform(sequence(0, size(bs) - 3), i ->
              |  flatten(transform(sequence(i + 1, size(bs) - 2), j ->
              |    transform(sequence(j + 1, size(bs) - 1), k ->
              |      struct(bs[i] AS ba, bs[j] AS bb, bs[k] AS bc))))))"""
              .stripMargin)).as("t"))
          .select(col("t.ba").as("ba"), col("t.bb").as("bb"),
            col("t.bc").as("bc"))
          .join(broadcast(cand3), Seq("ba", "bb", "bc"), "left_semi")
          .groupBy("ba", "bb", "bc").agg(count(lit(1)).as("supp3"))
        tri.crossJoin(broadcast(nOrders))
          .filter(col("supp3") >= col("min_supp"))
          .join(broadcast(supp.select(col("brand").as("ba"),
            col("supp").as("supp_a"))), Seq("ba"))
          .join(broadcast(supp.select(col("brand").as("bb"),
            col("supp").as("supp_b"))), Seq("bb"))
          .join(broadcast(supp.select(col("brand").as("bc"),
            col("supp").as("supp_c"))), Seq("bc"))
          .select(col("ba").as("brand_a"), col("bb").as("brand_b"),
            col("bc").as("brand_c"), col("supp3").as("triple_orders"),
            col("supp_a"), col("supp_b"), col("supp_c"),
            // products in DOUBLE, not BIGINT: int64 supp·n² exits the
            // exact range around sf10, where Spark wraps silently but
            // DuckDB raises — identical IEEE trees never diverge
            round(col("supp3").cast("double") *
                col("n_orders").cast("double") *
                col("n_orders").cast("double") /
              (col("supp_a").cast("double") *
                col("supp_b").cast("double") *
                col("supp_c").cast("double")), 6).as("lift3"))
          .orderBy(col("triple_orders").desc, col("brand_a"),
            col("brand_b"), col("brand_c"))
          .limit(20)
      },
      Some("""WITH ob AS (
             |  SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
             |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
             |n AS (
             |  SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders,
             |    CAST(COUNT(DISTINCT okey) AS BIGINT) // 300 AS min_supp
             |  FROM ob),
             |supp AS (
             |  SELECT brand, CAST(COUNT(*) AS BIGINT) AS supp
             |  FROM ob GROUP BY 1),
             |tri AS (
             |  SELECT a.brand AS ba, b.brand AS bb, c.brand AS bc,
             |    CAST(COUNT(*) AS BIGINT) AS supp3
             |  FROM ob a
             |  JOIN ob b ON b.okey = a.okey AND a.brand < b.brand
             |  JOIN ob c ON c.okey = a.okey AND b.brand < c.brand
             |  GROUP BY 1, 2, 3)
             |SELECT t.ba AS brand_a, t.bb AS brand_b, t.bc AS brand_c,
             |  t.supp3 AS triple_orders,
             |  sa.supp AS supp_a, sb.supp AS supp_b, sc.supp AS supp_c,
             |  round(CAST(t.supp3 AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
             |      * CAST(n.n_orders AS DOUBLE)
             |    / (CAST(sa.supp AS DOUBLE) * CAST(sb.supp AS DOUBLE)
             |      * CAST(sc.supp AS DOUBLE)), 6) AS lift3
             |FROM tri t
             |JOIN supp sa ON sa.brand = t.ba
             |JOIN supp sb ON sb.brand = t.bb
             |JOIN supp sc ON sc.brand = t.bc
             |CROSS JOIN n
             |WHERE t.supp3 >= n.min_supp
             |ORDER BY t.supp3 DESC, t.ba, t.bb, t.bc
             |LIMIT 20""".stripMargin)),

    // EXT — TYPO-TOLERANT name neighborhood via the native
    // damerau_levenshtein expression (functions/DamerauLevenshteinExpr
    // — TRUE Lowrance–Wagner DL over UTF-8 bytes, codegen'd): distinct
    // product-name pairs within edit distance 3, with plain
    // levenshtein alongside so the transposition discount (lev − dl)
    // is visible data. The scale discipline is DISTINCT-FIRST: names
    // live on a bounded vocabulary dimension (64 values here,
    // SF-invariant), so the quadratic compare runs on |vocab|² after
    // one count aggregation, never on |parts|² — the frame is
    // broadcast and the O(len²) DP runs inside whole-stage codegen.
    EngineQuery("q311_name_typo_pairs",
      (s, dir) => {
        import graft.functions.DamerauLevenshteinCol
        val names = t(s, dir, "part")
          .groupBy(col("p_name").as("name"))
          .agg(count(lit(1)).as("n_parts"))
        names.select(col("name").as("name_a"),
            col("n_parts").as("n_parts_a"))
          .join(broadcast(names.select(col("name").as("name_b"),
            col("n_parts").as("n_parts_b"))),
            col("name_a") < col("name_b"))
          .withColumn("dl",
            DamerauLevenshteinCol(col("name_a"), col("name_b")))
          .filter(col("dl") <= 3)
          .select(col("name_a"), col("name_b"), col("dl"),
            levenshtein(col("name_a"), col("name_b")).as("lev"),
            col("n_parts_a"), col("n_parts_b"))
          .orderBy("dl", "name_a", "name_b")
      },
      Some("""WITH names AS (
             |  SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n_parts
             |  FROM part GROUP BY 1)
             |SELECT a.name AS name_a, b.name AS name_b,
             |  CAST(damerau_levenshtein(a.name, b.name) AS INT) AS dl,
             |  CAST(levenshtein(a.name, b.name) AS INT) AS lev,
             |  a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
             |FROM names a JOIN names b ON a.name < b.name
             |WHERE damerau_levenshtein(a.name, b.name) <= 3
             |ORDER BY dl, name_a, name_b""".stripMargin)),

    // EXT — supplier OPEN-LINE (fulfillment backlog) interval
    // analytics over the real [o_orderdate, l_shipdate] spans: union
    // COVERAGE (days with ≥ 1 line ordered-but-unshipped, the
    // island-merge sweep — ship ≥ order makes same-order-day tie
    // order irrelevant to the island partition) and PEAK CONCURRENCY
    // (max simultaneous open lines, the +1/−1
    // delta sweep with per-day pre-combine so tie order never reaches
    // the running sum). Both sweeps are windows PARTITIONED by
    // supplier over day-number integers — per-key linear state, no
    // self-join, no interval explosion; the top-20 busiest suppliers
    // bound the output (broadcast semi-filter), not the computation.
    // The island trick: a span starts a new island iff its ship day
    // exceeds the running max receipt of all earlier-shipped spans.
    EngineQuery("q323_backlog_coverage",
      (s, dir) => {
        val iv0 = t(s, dir, "lineitem")
          .join(t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
          .select(col("l_suppkey"),
            datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date")).cast("long").as("sd"),
            datediff(col("l_shipdate").cast("date"),
              lit("1992-01-01").cast("date")).cast("long").as("rd"))
        val top = iv0.groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_intervals"))
          .orderBy(col("n_intervals").desc, col("l_suppkey")).limit(20)
        val iv = iv0.join(broadcast(top), "l_suppkey")
        val wOrd = Window.partitionBy("l_suppkey").orderBy("sd", "rd")
        val isl = iv
          .withColumn("pmax", max("rd").over(
            wOrd.rowsBetween(Window.unboundedPreceding, -1)))
          .withColumn("flag",
            when(col("pmax").isNull || col("sd") > col("pmax"), 1L)
              .otherwise(0L))
          .withColumn("isl", sum("flag").over(wOrd))
          .groupBy("l_suppkey", "isl")
          .agg((max("rd") - min("sd") + 1L).as("cov"))
          .groupBy("l_suppkey")
          .agg(count(lit(1)).as("n_islands"),
            sum("cov").as("covered_days"))
        val peak = iv.select(col("l_suppkey"), col("sd").as("day"),
            lit(1L).as("delta"))
          .union(iv.select(col("l_suppkey"),
            (col("rd") + 1L).as("day"), lit(-1L).as("delta")))
          .groupBy("l_suppkey", "day").agg(sum("delta").as("d"))
          .withColumn("conc", sum("d").over(
            Window.partitionBy("l_suppkey").orderBy("day")))
          .groupBy("l_suppkey").agg(max("conc").as("peak_transit"))
        top.join(isl, "l_suppkey").join(peak, "l_suppkey")
          .select(col("l_suppkey"), col("n_intervals"),
            col("n_islands"), col("covered_days"), col("peak_transit"))
          .orderBy("l_suppkey")
      },
      Some("""WITH iv0 AS (
             |  SELECT l_suppkey,
             |    CAST(CAST(o.o_orderdate AS DATE) - DATE '1992-01-01'
             |      AS BIGINT) AS sd,
             |    CAST(CAST(l.l_shipdate AS DATE) - DATE '1992-01-01'
             |      AS BIGINT) AS rd
             |  FROM lineitem l
             |  JOIN orders o ON o.o_orderkey = l.l_orderkey),
             |top AS (
             |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_intervals
             |  FROM iv0 GROUP BY 1
             |  ORDER BY n_intervals DESC, l_suppkey LIMIT 20),
             |iv AS (
             |  SELECT i.* FROM iv0 i JOIN top t
             |    ON t.l_suppkey = i.l_suppkey),
             |fl AS (
             |  SELECT l_suppkey, sd, rd,
             |    CASE WHEN max(rd) OVER (PARTITION BY l_suppkey
             |        ORDER BY sd, rd
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      IS NULL OR sd > max(rd) OVER (PARTITION BY l_suppkey
             |        ORDER BY sd, rd
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      THEN 1 ELSE 0 END AS flag
             |  FROM iv),
             |ii AS (
             |  SELECT l_suppkey, sd, rd,
             |    CAST(SUM(flag) OVER (PARTITION BY l_suppkey
             |      ORDER BY sd, rd) AS BIGINT) AS isl
             |  FROM fl),
             |isla AS (
             |  SELECT l_suppkey, isl,
             |    CAST(MAX(rd) - MIN(sd) + 1 AS BIGINT) AS cov
             |  FROM ii GROUP BY 1, 2),
             |islands AS (
             |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_islands,
             |    CAST(SUM(cov) AS BIGINT) AS covered_days
             |  FROM isla GROUP BY 1),
             |sw AS (
             |  SELECT l_suppkey, day, CAST(SUM(delta) AS BIGINT) AS d
             |  FROM (
             |    SELECT l_suppkey, sd AS day, 1 AS delta FROM iv
             |    UNION ALL
             |    SELECT l_suppkey, rd + 1 AS day, -1 AS delta FROM iv) u
             |  GROUP BY 1, 2),
             |pk AS (
             |  SELECT l_suppkey, CAST(MAX(conc) AS BIGINT)
             |      AS peak_transit
             |  FROM (
             |    SELECT l_suppkey, CAST(SUM(d) OVER (
             |      PARTITION BY l_suppkey ORDER BY day) AS BIGINT)
             |      AS conc
             |    FROM sw) x
             |  GROUP BY 1)
             |SELECT t.l_suppkey, t.n_intervals, i.n_islands,
             |  i.covered_days, p.peak_transit
             |FROM top t
             |JOIN islands i ON i.l_suppkey = t.l_suppkey
             |JOIN pk p ON p.l_suppkey = t.l_suppkey
             |ORDER BY t.l_suppkey""".stripMargin))
  )
}
