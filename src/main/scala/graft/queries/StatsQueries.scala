package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.operators.Frames
import graft.functions.CoreFunctions._

/** Round-10 statistics + sketch battery.
  *
  * Two themes:
  *
  * 1. DETERMINISTIC sketches (q197/q198): the engine's HyperLogLog and
  *    Count-Min surfaces (reference analog: the dashboard cardinality /
  *    frequency panels fed by the warehouse, ref scripts/03_reporting.sql
  *    delegation) re-expressed with sha256-derived register hashes so
  *    the SAME sketch is expressible in ANSI SQL — unlike q17b/q58
  *    (Spark-internal HLL++/GK, rows-only gated), these are hash-gated
  *    cell-exact against DuckDB. All register math stays in exact
  *    BIGINT (2^(53-M) register terms summed as integers, one double
  *    division at the end), so there is no float-summation-order risk.
  *
  * 2. Nonparametric / classical tests (q199+): Mann-Whitney U,
  *    Kolmogorov-Smirnov, runs test, Theil-Sen, dispersion — the
  *    distribution-free screens a data-quality pipeline runs when the
  *    normal-theory tests (q180 Welch, q153 z) are not safe. Exact
  *    integer sufficient statistics (counts, rank sums scaled ×2, tie
  *    terms) feed one fixed-shape double chain written identically in
  *    both engines.
  *
  * Scale notes: every query aggregates FIRST (per-value / per-day /
  * per-register frames, all bounded or |distinct values|-sized) and
  * windows only over those bounded frames; nothing collects to the
  * driver; the only crossJoins are broadcast 1-row totals.
  */
object StatsQueries {

  private def t(s: SparkSession, dir: String, n: String) = Tables.table(s, dir, n)

  /** Exact cents of the events value column (DECIMAL(18,2) × 100). */
  private def cents: Column =
    (money(col("value")) * 100).cast("long")

  private val centsSql = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

  /** Newcomb–Benford expected leading-digit frequencies log₁₀(1+1/d),
    * d = 1..9, as ×1e9 integers — precomputed ONCE here and
    * interpolated into both the Spark frame and the oracle's VALUES
    * literal (q314), so neither engine evaluates a log at query time.
    * Declared ABOVE `val all` (the q275 init-order rule). */
  private val benfordFp: Seq[Long] = Seq(301029996L, 176091259L,
    124938737L, 96910013L, 79181246L, 66946790L, 57991947L,
    51152522L, 45757491L)

  val all: Seq[EngineQuery] = Seq(

    // EXT — deterministic HyperLogLog (m=256 registers, 60-bit sha256
    // hash): the cardinality sketch behind the dashboard distinct-count
    // panels, expressible in BOTH engines so it hash-gates (q17b's
    // Spark-internal HLL++ cannot). Register max-rho per 8-bit bucket;
    // the harmonic sum runs as exact BIGINT (Σ 2^(53-M) ≤ 2^60), one
    // double division at the end. Empty registers enter as V·2^53.
    // At 100 TB the shuffle is |distinct keys| → 256 rows.
    EngineQuery("q197_hll_sketch",
      (s, dir) => {
        val ev = t(s, dir, "events")
        def sketch(keyCol: Column, label: String): DataFrame = {
          val h = sha256PrefixLong15(
            concat(lit("hll:"), keyCol.cast("string")))
          val regs = ev.select(pmod(h, lit(256L)).as("reg"),
              shiftright(h, 8).as("w"))
            .groupBy("reg")
            .agg(max(when(col("w") === 0L, lit(53))
              .otherwise(lit(53) - length(bin(col("w"))))).as("m_rho"))
          val filled = regs.agg(
            count(lit(1)).as("n_filled"),
            sum(expr("shiftleft(1L, cast(53 - m_rho as int))"))
              .as("s_filled"))
          val exact = ev.agg(
            count_distinct(keyCol).as("n_exact"))
          filled.crossJoin(broadcast(exact))
            .select(lit(label).as("key_col"), col("n_exact"),
              (lit(256L) - col("n_filled")).as("v_empty"),
              (col("s_filled") +
                (lit(256L) - col("n_filled")) * lit(9007199254740992L))
                .as("s_num"))
        }
        val both = sketch(col("user_id"), "user_id")
          .unionAll(sketch(col("event_id"), "event_id"))
        val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
        both.select(col("key_col"), col("n_exact"), col("v_empty"),
            col("s_num"),
            (alpha * lit(65536.0) * lit(9007199254740992.0) /
              col("s_num").cast("double")).as("hll_estimate"))
          .orderBy("key_col")
      },
      Some("""WITH keys AS (
             |  SELECT 'user_id' AS key_col,
             |    CAST('0x' || substr(sha256('hll:' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
             |  FROM events
             |  UNION ALL
             |  SELECT 'event_id' AS key_col,
             |    CAST('0x' || substr(sha256('hll:' || CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
             |  FROM events),
             |regs AS (
             |  SELECT key_col, h % 256 AS reg,
             |    MAX(CASE WHEN h // 256 = 0 THEN 53
             |        ELSE 53 - length(bin(h // 256)) END) AS m_rho
             |  FROM keys GROUP BY 1, 2),
             |filled AS (
             |  SELECT key_col, COUNT(*) AS n_filled,
             |    CAST(SUM(1::BIGINT << (53 - m_rho)) AS BIGINT) AS s_filled
             |  FROM regs GROUP BY 1),
             |ex AS (
             |  SELECT 'user_id' AS key_col,
             |    COUNT(DISTINCT user_id) AS n_exact FROM events
             |  UNION ALL
             |  SELECT 'event_id' AS key_col,
             |    COUNT(DISTINCT event_id) AS n_exact FROM events)
             |SELECT f.key_col, ex.n_exact,
             |  256 - f.n_filled AS v_empty,
             |  f.s_filled + (256 - f.n_filled) * 9007199254740992 AS s_num,
             |  (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
             |    * 9007199254740992.0
             |    / CAST(f.s_filled + (256 - f.n_filled) * 9007199254740992
             |        AS DOUBLE) AS hll_estimate
             |FROM filled f JOIN ex ON ex.key_col = f.key_col
             |ORDER BY f.key_col""".stripMargin)),

    // EXT — deterministic Count-Min sketch (d=4 rows × w=512 buckets,
    // sha256 row hashes): per-key frequency estimates with the classic
    // one-sided overcount, audited against the exact top-20 users.
    // The sketch is a 2048-row aggregate (shuffle = |events| → 2048);
    // the probe side is 20 rows × 4 hashes joined against the broadcast
    // sketch. est ≥ exact always; the overcount column shows collision
    // mass. Everything integer-exact.
    EngineQuery("q198_countmin_freq",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val rows = Seq(0, 1, 2, 3)
        def bucket(i: Int, c: Column): Column =
          pmod(sha256PrefixLong(
            concat(lit(s"cm$i:"), c.cast("string"))), lit(512L))
        // sketch counters: one pass, 4 (row, bucket) pairs per event
        val pairs = rows.map(i => struct(lit(i).as("row_id"),
          bucket(i, col("user_id")).as("bucket")))
        val sketch = ev.select(explode(array(pairs: _*)).as("rb"))
          .select(col("rb.row_id"), col("rb.bucket"))
          .groupBy("row_id", "bucket").agg(count(lit(1)).as("c"))
        val top = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("user_id")).limit(20)
        val probes = rows.map(i => struct(lit(i).as("row_id"),
          bucket(i, col("user_id")).as("bucket")))
        val est = top
          .select(col("user_id"), col("n_exact"),
            explode(array(probes: _*)).as("rb"))
          .select(col("user_id"), col("n_exact"),
            col("rb.row_id"), col("rb.bucket"))
          .join(broadcast(sketch), Seq("row_id", "bucket"))
          .groupBy("user_id", "n_exact")
          .agg(min(col("c")).as("cm_estimate"))
        est.select(col("user_id"), col("n_exact"), col("cm_estimate"),
            (col("cm_estimate") - col("n_exact")).as("overcount"))
          .orderBy(col("n_exact").desc, col("user_id"))
      },
      Some("""WITH pairs AS (
             |  SELECT user_id, r.row_id,
             |    CAST('0x' || substr(sha256('cm' || CAST(r.row_id AS VARCHAR)
             |        || ':' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 512 AS bucket
             |  FROM events
             |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row_id) r),
             |sketch AS (
             |  SELECT row_id, bucket, COUNT(*) AS c
             |  FROM pairs GROUP BY 1, 2),
             |top AS (
             |  SELECT user_id, COUNT(*) AS n_exact
             |  FROM events GROUP BY 1
             |  ORDER BY n_exact DESC, user_id LIMIT 20),
             |probes AS (
             |  SELECT t.user_id, t.n_exact, r.row_id,
             |    CAST('0x' || substr(sha256('cm' || CAST(r.row_id AS VARCHAR)
             |        || ':' || CAST(t.user_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 512 AS bucket
             |  FROM top t
             |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row_id) r)
             |SELECT p.user_id, p.n_exact,
             |  MIN(s.c) AS cm_estimate,
             |  MIN(s.c) - p.n_exact AS overcount
             |FROM probes p
             |JOIN sketch s ON s.row_id = p.row_id AND s.bucket = p.bucket
             |GROUP BY 1, 2
             |ORDER BY n_exact DESC, user_id""".stripMargin)),

    // EXT — Mann-Whitney U (rank-sum with ties, normal approximation):
    // does cohort 0's value distribution stochastically dominate
    // cohort 1's, per event type? The distribution-free twin of q180.
    // Rank algebra stays exact: per distinct cents value the cohort
    // counts, the doubled U statistic 2U0 = Σ c0·(2·cum1_before + c1)
    // (integers — average ranks over ties contribute half-units), and
    // the tie term T = Σ(t³−t); one fixed-shape double chain for z.
    // Shuffle: |events| → |distinct (type, value)|.
    EngineQuery("q199_mannwhitney_u",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            pmod(col("user_id"), lit(2)).as("cohort"), cents.as("v"))
        val per = ev.groupBy("event_type", "v")
          .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("c0"),
            sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("c1"))
        val w = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = per.withColumn("cum1",
          coalesce(sum(col("c1")).over(w), lit(0L)))
        val agg = cum.groupBy("event_type").agg(
          sum("c0").as("n0"), sum("c1").as("n1"),
          sum(col("c0") * (col("cum1") * 2L + col("c1"))).as("u0_x2"),
          sum((col("c0") + col("c1")) * (col("c0") + col("c1")) *
            (col("c0") + col("c1")) - (col("c0") + col("c1")))
            .as("tie_term"))
        val n0d = col("n0").cast("double")
        val n1d = col("n1").cast("double")
        val nd = (col("n0") + col("n1")).cast("double")
        val varU = (n0d * n1d / lit(12.0)) *
          ((nd + lit(1.0)) -
            col("tie_term").cast("double") / (nd * (nd - lit(1.0))))
        val z = (col("u0_x2") - col("n0") * col("n1")).cast("double") /
          lit(2.0) / sqrt(varU)
        agg.select(col("event_type"), col("n0"), col("n1"),
            col("u0_x2"), col("tie_term"), z.as("z_mw"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type, user_id % 2 AS cohort,
             |    $centsSql AS v
             |  FROM events),
             |per AS (
             |  SELECT event_type, v,
             |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c0,
             |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c1
             |  FROM ev GROUP BY 1, 2),
             |cum AS (
             |  SELECT *, COALESCE(CAST(SUM(c1) OVER (
             |      PARTITION BY event_type ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cum1
             |  FROM per),
             |agg AS (
             |  SELECT event_type,
             |    CAST(SUM(c0) AS BIGINT) AS n0,
             |    CAST(SUM(c1) AS BIGINT) AS n1,
             |    CAST(SUM(c0 * (cum1 * 2 + c1)) AS BIGINT) AS u0_x2,
             |    CAST(SUM((c0 + c1) * (c0 + c1) * (c0 + c1) - (c0 + c1))
             |      AS BIGINT) AS tie_term
             |  FROM cum GROUP BY 1)
             |SELECT event_type, n0, n1, u0_x2, tie_term,
             |  CAST(u0_x2 - n0 * n1 AS DOUBLE) / 2.0
             |  / sqrt((CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE) / 12.0)
             |    * ((CAST(n0 + n1 AS DOUBLE) + 1.0)
             |      - CAST(tie_term AS DOUBLE)
             |        / (CAST(n0 + n1 AS DOUBLE)
             |          * (CAST(n0 + n1 AS DOUBLE) - 1.0)))) AS z_mw
             |FROM agg ORDER BY event_type""".stripMargin)),

    // EXT — two-sample Kolmogorov-Smirnov per event type (cohort =
    // user parity): D = max |F0 − F1| kept as the exact integer
    // numerator max|cum0·n1 − cum1·n0| over the per-value frame, so the
    // max is decided on integers, never on accumulated floats; D and
    // the z = D·√(n0·n1/(n0+n1)) scale surface as one double chain.
    EngineQuery("q200_ks_cohort",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            pmod(col("user_id"), lit(2)).as("cohort"), cents.as("v"))
        val per = ev.groupBy("event_type", "v")
          .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("c0"),
            sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("c1"))
        val w = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = per
          .withColumn("cum0", sum(col("c0")).over(w))
          .withColumn("cum1", sum(col("c1")).over(w))
        val tot = per.groupBy(col("event_type").as("et"))
          .agg(sum("c0").as("n0"), sum("c1").as("n1"))
        val j = cum.join(broadcast(tot), cum("event_type") === tot("et"))
        val diff = abs(col("cum0") * col("n1") - col("cum1") * col("n0"))
        val agg = j.groupBy("event_type", "n0", "n1")
          .agg(max(diff).as("d_num"))
        val n0d = col("n0").cast("double")
        val n1d = col("n1").cast("double")
        val d = col("d_num").cast("double") / (n0d * n1d)
        agg.select(col("event_type"), col("n0"), col("n1"), col("d_num"),
            d.as("d_stat"),
            (d * sqrt(n0d * n1d / (n0d + n1d))).as("ks_z"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type, user_id % 2 AS cohort,
             |    $centsSql AS v
             |  FROM events),
             |per AS (
             |  SELECT event_type, v,
             |    CAST(SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c0,
             |    CAST(SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c1
             |  FROM ev GROUP BY 1, 2),
             |cum AS (
             |  SELECT *,
             |    CAST(SUM(c0) OVER (PARTITION BY event_type ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum0,
             |    CAST(SUM(c1) OVER (PARTITION BY event_type ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum1
             |  FROM per),
             |tot AS (
             |  SELECT event_type AS et,
             |    CAST(SUM(c0) AS BIGINT) AS n0,
             |    CAST(SUM(c1) AS BIGINT) AS n1
             |  FROM per GROUP BY 1),
             |agg AS (
             |  SELECT c.event_type, t.n0, t.n1,
             |    MAX(abs(c.cum0 * t.n1 - c.cum1 * t.n0)) AS d_num
             |  FROM cum c JOIN tot t ON t.et = c.event_type
             |  GROUP BY 1, 2, 3)
             |SELECT event_type, n0, n1, d_num,
             |  CAST(d_num AS DOUBLE)
             |    / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)) AS d_stat,
             |  CAST(d_num AS DOUBLE)
             |    / (CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE))
             |    * sqrt(CAST(n0 AS DOUBLE) * CAST(n1 AS DOUBLE)
             |        / (CAST(n0 AS DOUBLE) + CAST(n1 AS DOUBLE)))
             |    AS ks_z
             |FROM agg ORDER BY event_type""".stripMargin)),

    // EXT — Wald-Wolfowitz runs test on the daily-revenue direction
    // sequence: is up/down movement random or trending? The daily frame
    // is calendar-bounded (|days|, not SF-scaled); signs come from
    // exact-cents comparisons, the run count from a lag over the
    // ordered bounded frame, and the z-statistic from one double chain
    // over the exact (n_plus, n_minus, n_runs) triple.
    EngineQuery("q201_runs_test",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("rev"))
        val wd = Window.orderBy("day")
        val signs = daily
          .withColumn("prev", lag(col("rev"), 1).over(wd))
          .filter(col("prev").isNotNull && col("rev") =!= col("prev"))
          .withColumn("sgn",
            when(col("rev") > col("prev"), 1).otherwise(-1))
        val runs = signs
          .withColumn("prev_sgn", lag(col("sgn"), 1).over(wd))
          .agg(
            sum(when(col("sgn") === 1, 1L).otherwise(0L)).as("n_plus"),
            sum(when(col("sgn") === -1, 1L).otherwise(0L)).as("n_minus"),
            (sum(when(col("prev_sgn").isNull ||
              col("sgn") =!= col("prev_sgn"), 1L).otherwise(0L)))
              .as("n_runs"))
        val np = col("n_plus").cast("double")
        val nm = col("n_minus").cast("double")
        val nd = np + nm
        val mu = lit(2.0) * np * nm / nd + lit(1.0)
        val sig2 = (lit(2.0) * np * nm * (lit(2.0) * np * nm - nd)) /
          (nd * nd * (nd - lit(1.0)))
        runs.select(col("n_plus"), col("n_minus"), col("n_runs"),
          ((col("n_runs").cast("double") - mu) / sqrt(sig2))
            .as("z_runs"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS rev
             |  FROM orders GROUP BY 1),
             |signs AS (
             |  SELECT day, rev,
             |    CASE WHEN rev > prev THEN 1 ELSE -1 END AS sgn
             |  FROM (SELECT *, lag(rev) OVER (ORDER BY day) AS prev
             |        FROM daily)
             |  WHERE prev IS NOT NULL AND rev <> prev),
             |runs AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_plus,
             |    CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_minus,
             |    CAST(SUM(CASE WHEN prev_sgn IS NULL OR sgn <> prev_sgn
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
             |  FROM (SELECT *, lag(sgn) OVER (ORDER BY day) AS prev_sgn
             |        FROM signs))
             |SELECT n_plus, n_minus, n_runs,
             |  (CAST(n_runs AS DOUBLE)
             |    - (2.0 * CAST(n_plus AS DOUBLE) * CAST(n_minus AS DOUBLE)
             |        / (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
             |      + 1.0))
             |  / sqrt((2.0 * CAST(n_plus AS DOUBLE)
             |      * CAST(n_minus AS DOUBLE)
             |      * (2.0 * CAST(n_plus AS DOUBLE)
             |          * CAST(n_minus AS DOUBLE)
             |        - (CAST(n_plus AS DOUBLE)
             |            + CAST(n_minus AS DOUBLE))))
             |    / ((CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
             |      * (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))
             |      * (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE)
             |        - 1.0))) AS z_runs
             |FROM runs""".stripMargin)),

    // EXT — Theil-Sen robust trend: the median of all pairwise
    // day-to-day slopes of daily revenue — outlier-proof where q152's
    // OLS is not. The pair frame is |days|² over the calendar-bounded
    // daily aggregate (≈2.9M pairs — distributed join, never driver-
    // side); each slope is one identical double division; the median
    // is a deterministic element pick (row (n+1)/2 under a total
    // (slope, d1, d2) order), not an interpolation.
    EngineQuery("q202_theilsen_trend",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("rev"))
        // the |days|² pair join plans as a broadcast nested loop whose
        // parallelism is the STREAM side's partition count — AQE
        // coalesces the tiny daily aggregate to one partition, which
        // serializes the 2.9M slope evaluations; spread it explicitly
        val a = daily.select(col("day").as("d1"), col("rev").as("r1"))
          .repartition(32, col("d1"))
        val b = daily.select(col("day").as("d2"), col("rev").as("r2"))
        // try_divide: at some plan shapes Catalyst evaluates this
        // projection alongside the join condition, so the d1=d2 pairs
        // the condition drops would still hit the ANSI zero check; the
        // NULL branch never reaches the output (those rows are joined
        // away), keeping oracle parity exact
        val pairs = a.join(b, col("d1") < col("d2"))
          .select(col("d1"), col("d2"),
            expr("try_divide(cast(r2 - r1 as double), " +
              "cast(datediff(d2, d1) as double))").as("slope"))
        // DISTRIBUTED exact median selection: a global row_number over
        // 2.9M slopes is one task sorting everything (measured 4 s).
        // Instead: quantize each slope to an integer bucket (floor —
        // identical doubles quantize identically), count per bucket,
        // cumulate over the SMALL bucket frame to find the bucket that
        // contains the target rank, and rank ONLY inside that bucket.
        val bucketed = pairs.withColumn("bkt",
          floor(col("slope") / lit(64.0)).cast("long"))
        val counts = bucketed.groupBy("bkt").agg(count(lit(1)).as("c"))
        val wB = Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)
        val cum = counts
          .withColumn("cum_before", coalesce(sum("c").over(wB), lit(0L)))
        val n = counts.agg(sum("c").as("n_pairs"))
        val target = cum.crossJoin(broadcast(n))
          .filter(col("cum_before") < expr("(n_pairs + 1) div 2") &&
            expr("(n_pairs + 1) div 2") <= col("cum_before") + col("c"))
          .select(col("bkt").as("tb"), col("cum_before"), col("n_pairs"))
        val wIn = Window.partitionBy("bkt").orderBy("slope", "d1", "d2")
        bucketed.join(broadcast(target), col("bkt") === col("tb"))
          .withColumn("rn", row_number().over(wIn))
          .filter(col("rn") ===
            expr("(n_pairs + 1) div 2 - cum_before"))
          .select(col("n_pairs"),
            col("slope").as("theilsen_slope_cents_per_day"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS rev
             |  FROM orders GROUP BY 1),
             |pairs AS (
             |  SELECT a.day AS d1, b.day AS d2,
             |    CAST(b.rev - a.rev AS DOUBLE)
             |      / CAST(date_diff('day', a.day, b.day) AS DOUBLE)
             |      AS slope
             |  FROM daily a JOIN daily b ON a.day < b.day),
             |b AS (
             |  SELECT d1, d2, slope,
             |    CAST(floor(slope / 64.0) AS BIGINT) AS bkt
             |  FROM pairs),
             |counts AS (SELECT bkt, COUNT(*) AS c FROM b GROUP BY 1),
             |cum AS (
             |  SELECT bkt, c,
             |    COALESCE(CAST(SUM(c) OVER (ORDER BY bkt
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS cum_before
             |  FROM counts),
             |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs FROM counts),
             |target AS (
             |  SELECT cum.bkt AS tb, cum.cum_before, n.n_pairs
             |  FROM cum CROSS JOIN n
             |  WHERE cum.cum_before < (n.n_pairs + 1) // 2
             |    AND (n.n_pairs + 1) // 2 <= cum.cum_before + cum.c),
             |ranked AS (
             |  SELECT b.slope, t.n_pairs, t.cum_before,
             |    row_number() OVER (PARTITION BY b.bkt
             |      ORDER BY b.slope, b.d1, b.d2) AS rn
             |  FROM b JOIN target t ON t.tb = b.bkt)
             |SELECT n_pairs,
             |  slope AS theilsen_slope_cents_per_day
             |FROM ranked
             |WHERE rn = (n_pairs + 1) // 2 - cum_before""".stripMargin)),

    // EXT — EWMA revenue smoothing (α = 1/2, 21-day truncated window)
    // with EXACT integer weighting: weight 2^(20−age) in cents·shifts
    // (max daily cents ≈ 2e8 × 2^20 × 21 terms ≈ 4e15 ≪ 2^63), so the
    // weighted numerator/denominator are exact BIGINTs in both engines
    // and the smoothed value is one double division. The weighted
    // window is a bounded 21-row-per-day self-join over the calendar
    // frame — per-row weights depend on the (row, frame-row) distance,
    // which a plain window SUM cannot express.
    EngineQuery("q203_ewma_revenue",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("rev"))
        val cur = daily.select(col("day").as("d"), col("rev").as("r"))
        val past = daily.select(col("day").as("pd"), col("rev").as("pr"))
        val j = cur.join(past,
          datediff(col("d"), col("pd")).between(0, 20))
        val wgt = expr("shiftleft(1L, cast(20 - datediff(d, pd) as int))")
        j.groupBy(col("d").as("day"))
          .agg(max(when(col("pd") === col("d"), col("pr"))).as("rev"),
            sum(col("pr") * wgt).as("num"),
            sum(wgt).as("den"))
          .select(col("day"), col("rev"),
            (col("num").cast("double") / col("den").cast("double"))
              .as("ewma_cents"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS rev
             |  FROM orders GROUP BY 1),
             |j AS (
             |  SELECT c.day, c.rev,
             |    p.rev AS pr,
             |    (1::BIGINT << (20 - date_diff('day', p.day, c.day)))
             |      AS wgt
             |  FROM daily c JOIN daily p
             |    ON date_diff('day', p.day, c.day) BETWEEN 0 AND 20)
             |SELECT day, rev,
             |  CAST(CAST(SUM(pr * wgt) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(SUM(wgt) AS BIGINT) AS DOUBLE) AS ewma_cents
             |FROM j GROUP BY 1, 2 ORDER BY day""".stripMargin)),

    // EXT — Poisson dispersion screen: is each event type's daily
    // arrival count over- or under-dispersed vs Poisson? Exact
    // (n_days, Σc, Σc²) per type; the dispersion index s²/mean and the
    // χ² = (n−1)·s²/mean statistic are one fixed-shape double chain.
    // Days without any event of a type contribute no row (observed-
    // days convention, documented).
    EngineQuery("q204_poisson_dispersion",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("c"))
        val agg = daily.groupBy("event_type").agg(
          count(lit(1)).as("n_days"), sum("c").as("sc"),
          sum(col("c") * col("c")).as("scc"))
        val nd = col("n_days").cast("double")
        val mean = col("sc").cast("double") / nd
        val s2 = (nd * col("scc").cast("double") -
          col("sc").cast("double") * col("sc").cast("double")) /
          (nd * (nd - lit(1.0)))
        agg.select(col("event_type"), col("n_days"), col("sc"),
            mean.as("mean_daily"), (s2 / mean).as("dispersion_index"),
            ((nd - lit(1.0)) * s2 / mean).as("chi2_stat"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    COUNT(*) AS c
             |  FROM events GROUP BY 1, 2),
             |agg AS (
             |  SELECT event_type, COUNT(*) AS n_days,
             |    CAST(SUM(c) AS BIGINT) AS sc,
             |    CAST(SUM(c * c) AS BIGINT) AS scc
             |  FROM daily GROUP BY 1)
             |SELECT event_type, n_days, sc,
             |  CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_daily,
             |  ((CAST(n_days AS DOUBLE) * CAST(scc AS DOUBLE)
             |      - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
             |    / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)))
             |  / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
             |    AS dispersion_index,
             |  (CAST(n_days AS DOUBLE) - 1.0)
             |  * ((CAST(n_days AS DOUBLE) * CAST(scc AS DOUBLE)
             |      - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
             |    / (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) - 1.0)))
             |  / (CAST(sc AS DOUBLE) / CAST(n_days AS DOUBLE))
             |    AS chi2_stat
             |FROM agg ORDER BY event_type""".stripMargin)),

    // EXT — Cramér's V effect size for the event_type × day-of-week
    // association: q194's χ² machinery reduced to ONE summary row with
    // the normalized [0,1] effect size. The total accumulates in
    // FIXED-POINT (each per-cell χ² term — an identical double in both
    // engines — is floored at 2⁻³⁰ into a BIGINT), so the sum is
    // order-independent integer math with error < |cells|·2⁻³⁰ —
    // DuckDB's segment-tree window sums and Spark's sequential sums
    // would otherwise disagree in the last ulp. V = √(χ²/(n·min(r−1,
    // c−1))) closes in one double chain. Dow matches q193 (0=Sunday).
    EngineQuery("q205_cramers_v",
      (s, dir) => {
        val cells = t(s, dir, "events")
          .select(col("event_type"),
            (dayofweek(col("ts").cast("date")) - 1).cast("long")
              .as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("n_obs"))
        val rowT = cells.groupBy("event_type")
          .agg(sum("n_obs").as("row_tot"))
        val colT = cells.groupBy("dow").agg(sum("n_obs").as("col_tot"))
        val grand = cells.agg(sum("n_obs").as("n_tot"),
          count_distinct(col("event_type")).as("n_rows"),
          count_distinct(col("dow")).as("n_cols"))
        val exp = (col("row_tot").cast("double") *
          col("col_tot").cast("double")) / col("n_tot").cast("double")
        val term = (col("n_obs").cast("double") - exp) *
          (col("n_obs").cast("double") - exp) / exp
        val termQ = floor(term * lit(1073741824.0)).cast("long")
        val chi2 = cells.join(broadcast(rowT), "event_type")
          .join(broadcast(colT), "dow")
          .crossJoin(broadcast(grand))
          .groupBy("n_tot", "n_rows", "n_cols")
          .agg(sum(termQ).as("chi2_q30"))
        val minDim = least(col("n_rows"), col("n_cols")) - lit(1L)
        val chi2d = col("chi2_q30").cast("double") / lit(1073741824.0)
        chi2.select(col("n_tot"), col("n_rows"), col("n_cols"),
          col("chi2_q30"), chi2d.as("chi2_total"),
          sqrt(chi2d /
            (col("n_tot").cast("double") * minDim.cast("double")))
            .as("cramers_v"))
      },
      Some("""WITH cells AS (
             |  SELECT event_type,
             |    CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow,
             |    COUNT(*) AS n_obs
             |  FROM events GROUP BY 1, 2),
             |rt AS (
             |  SELECT event_type, CAST(SUM(n_obs) AS BIGINT) AS row_tot
             |  FROM cells GROUP BY 1),
             |ct AS (
             |  SELECT dow, CAST(SUM(n_obs) AS BIGINT) AS col_tot
             |  FROM cells GROUP BY 1),
             |g AS (
             |  SELECT CAST(SUM(n_obs) AS BIGINT) AS n_tot,
             |    COUNT(DISTINCT event_type) AS n_rows,
             |    COUNT(DISTINCT dow) AS n_cols
             |  FROM cells),
             |terms AS (
             |  SELECT c.event_type, c.dow, g.n_tot, g.n_rows, g.n_cols,
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
             |  JOIN rt ON rt.event_type = c.event_type
             |  JOIN ct ON ct.dow = c.dow
             |  CROSS JOIN g)
             |SELECT n_tot, n_rows, n_cols,
             |  CAST(SUM(CAST(floor(chi2_term * 1073741824.0) AS BIGINT))
             |    AS BIGINT) AS chi2_q30,
             |  CAST(CAST(SUM(CAST(floor(chi2_term * 1073741824.0)
             |    AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824.0
             |    AS chi2_total,
             |  sqrt((CAST(CAST(SUM(CAST(floor(chi2_term * 1073741824.0)
             |      AS BIGINT)) AS BIGINT) AS DOUBLE) / 1073741824.0)
             |    / (CAST(n_tot AS DOUBLE)
             |      * CAST(least(n_rows, n_cols) - 1 AS DOUBLE)))
             |    AS cramers_v
             |FROM terms GROUP BY 1, 2, 3""".stripMargin)),

    // EXT — RFM customer segmentation: recency / frequency / monetary
    // quintiles (ntile(5) under a TOTAL order — metric then custkey —
    // so bucket edges are engine-independent), rolled up to segment
    // counts and the exact average order value per segment. One
    // shuffle to the per-customer frame, windows over it, then a
    // |segments|-row (≤125) aggregate.
    EngineQuery("q206_rfm_segments",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val perCust = orders.groupBy(col("o_custkey").as("custkey"))
          .agg(max(col("o_orderdate").cast("date")).as("last_day"),
            count(lit(1)).as("freq"),
            sum((money(col("o_totalprice")) * 100).cast("long"))
              .as("monetary_cents"))
        val refDay = orders.agg(max(col("o_orderdate").cast("date"))
          .as("ref_day"))
        val scored = perCust.crossJoin(broadcast(refDay))
          .withColumn("recency_days",
            datediff(col("ref_day"), col("last_day")).cast("long"))
          .withColumn("r_score", ntile(5).over(
            Window.orderBy(col("recency_days"), col("custkey"))))
          .withColumn("f_score", ntile(5).over(
            Window.orderBy(col("freq").desc, col("custkey"))))
          .withColumn("m_score", ntile(5).over(
            Window.orderBy(col("monetary_cents").desc, col("custkey"))))
        scored
          .groupBy(col("r_score").cast("long").as("r_score"),
            col("f_score").cast("long").as("f_score"),
            col("m_score").cast("long").as("m_score"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("monetary_cents")).as("segment_cents"))
          .withColumn("avg_cents",
            col("segment_cents").cast("double") /
              col("n_customers").cast("double"))
          .orderBy("r_score", "f_score", "m_score")
      },
      Some("""WITH pc AS (
             |  SELECT o_custkey AS custkey,
             |    MAX(CAST(o_orderdate AS DATE)) AS last_day,
             |    COUNT(*) AS freq,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS monetary_cents
             |  FROM orders GROUP BY 1),
             |ref AS (
             |  SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_day
             |  FROM orders),
             |scored AS (
             |  SELECT custkey, monetary_cents,
             |    ntile(5) OVER (ORDER BY
             |      date_diff('day', last_day, ref_day), custkey)
             |      AS r_score,
             |    ntile(5) OVER (ORDER BY freq DESC, custkey) AS f_score,
             |    ntile(5) OVER (ORDER BY monetary_cents DESC, custkey)
             |      AS m_score
             |  FROM pc CROSS JOIN ref)
             |SELECT CAST(r_score AS BIGINT) AS r_score,
             |  CAST(f_score AS BIGINT) AS f_score,
             |  CAST(m_score AS BIGINT) AS m_score,
             |  COUNT(*) AS n_customers,
             |  CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents,
             |  CAST(CAST(SUM(monetary_cents) AS BIGINT) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS avg_cents
             |FROM scored GROUP BY 1, 2, 3
             |ORDER BY r_score, f_score, m_score""".stripMargin)),

    // EXT — ABC inventory classification: parts ranked by exact 1e-4-scaled
    // discounted revenue; class A covers the first 80% of cumulative
    // revenue, B to 95%, C the tail. Class edges are decided on exact
    // integers (cum·100 vs threshold·total — never a float cumsum), so
    // boundary parts classify identically in both engines. Shuffle:
    // |lineitem| → |parts|, then windows over the parts frame.
    EngineQuery("q207_abc_parts",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("partkey"))
          .agg(sum((money(col("l_extendedprice")) *
            (lit(1) - money(col("l_discount"))) * 10000).cast("long"))
            .as("rev_e4"))
        val w = Window.orderBy(col("rev_e4").desc, col("partkey"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = rev.agg(sum("rev_e4").as("tot_e4"))
        val classed = rev
          .withColumn("cum_cents", sum(col("rev_e4")).over(w))
          .crossJoin(broadcast(tot))
          .withColumn("abc_class",
            when(col("cum_cents") * 100L <= col("tot_e4") * 80L, "A")
              .when(col("cum_cents") * 100L <= col("tot_e4") * 95L,
                "B")
              .otherwise("C"))
        classed.groupBy("abc_class")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("rev_e4")).as("class_rev_e4"),
            max(col("tot_e4")).as("tot_e4"))
          .select(col("abc_class"), col("n_parts"), col("class_rev_e4"),
            (col("class_rev_e4").cast("double") /
              col("tot_e4").cast("double")).as("rev_share"))
          .orderBy("abc_class")
      },
      Some("""WITH rev AS (
             |  SELECT l_partkey AS partkey,
             |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000
             |      AS BIGINT)) AS BIGINT) AS rev_e4
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS tot_e4
             |        FROM rev),
             |classed AS (
             |  SELECT rev_e4,
             |    CASE
             |      WHEN CAST(SUM(rev_e4) OVER (
             |          ORDER BY rev_e4 DESC, partkey
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) * 100 <= tot_e4 * 80 THEN 'A'
             |      WHEN CAST(SUM(rev_e4) OVER (
             |          ORDER BY rev_e4 DESC, partkey
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) * 100 <= tot_e4 * 95 THEN 'B'
             |      ELSE 'C' END AS abc_class,
             |    tot_e4
             |  FROM rev CROSS JOIN tot)
             |SELECT abc_class, COUNT(*) AS n_parts,
             |  CAST(SUM(rev_e4) AS BIGINT) AS class_rev_e4,
             |  CAST(CAST(SUM(rev_e4) AS BIGINT) AS DOUBLE)
             |    / CAST(MAX(tot_e4) AS DOUBLE) AS rev_share
             |FROM classed GROUP BY 1 ORDER BY abc_class""".stripMargin)),

    // EXT — audience overlap matrix: for every event-type pair, the
    // exact distinct-user intersection and Jaccard overlap — "do my
    // segments share users". The distinct (user, type) frame shuffles
    // once; the pair join explodes only |types|² audience pairs (25
    // here; bounded by the type vocabulary, not SF).
    EngineQuery("q208_audience_overlap",
      (s, dir) => {
        val ut = t(s, dir, "events")
          .select(col("user_id"), col("event_type")).distinct()
        val sizes = ut.groupBy(col("event_type").as("et"))
          .agg(count(lit(1)).as("n_users"))
        val a = ut.select(col("user_id"), col("event_type").as("type_a"))
        val b = ut.select(col("user_id"), col("event_type").as("type_b"))
        val inter = a.join(b, Seq("user_id"))
          .filter(col("type_a") < col("type_b"))
          .groupBy("type_a", "type_b")
          .agg(count(lit(1)).as("n_common"))
        inter
          .join(broadcast(sizes).withColumnRenamed("n_users", "n_a"),
            col("type_a") === col("et")).drop("et")
          .join(broadcast(sizes).withColumnRenamed("n_users", "n_b"),
            col("type_b") === col("et")).drop("et")
          .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
            col("n_common"),
            (col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")).cast("double"))
              .as("jaccard"))
          .orderBy("type_a", "type_b")
      },
      Some("""WITH ut AS (
             |  SELECT DISTINCT user_id, event_type FROM events),
             |sizes AS (
             |  SELECT event_type AS et, COUNT(*) AS n_users
             |  FROM ut GROUP BY 1),
             |inter AS (
             |  SELECT a.event_type AS type_a, b.event_type AS type_b,
             |    COUNT(*) AS n_common
             |  FROM ut a JOIN ut b ON a.user_id = b.user_id
             |  WHERE a.event_type < b.event_type
             |  GROUP BY 1, 2)
             |SELECT i.type_a, i.type_b,
             |  sa.n_users AS n_a, sb.n_users AS n_b, i.n_common,
             |  CAST(i.n_common AS DOUBLE)
             |    / CAST(sa.n_users + sb.n_users - i.n_common AS DOUBLE)
             |    AS jaccard
             |FROM inter i
             |JOIN sizes sa ON sa.et = i.type_a
             |JOIN sizes sb ON sb.et = i.type_b
             |ORDER BY type_a, type_b""".stripMargin)),

    // EXT — small-order revenue screen (TPC-H Q17 shape): per brand,
    // the revenue locked in lineitems whose quantity is below 20% of
    // that part's average quantity. The correlated "avg per part"
    // subquery becomes one per-part aggregate joined back to the fact
    // scan (shuffle on l_partkey, never a per-row subquery); the
    // threshold predicate is exact integer algebra
    // (qty·5·n_li < Σqty ⟺ qty < 0.2·avg), so boundary rows agree.
    EngineQuery("q209_small_order_revenue",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (money(col("l_quantity")) * 100).cast("long").as("q100"),
            money(col("l_extendedprice")).as("price"))
        val perPart = li.groupBy(col("l_partkey").as("pk"))
          .agg(count(lit(1)).as("n_li"), sum(col("q100")).as("sum_q100"))
        val brands = t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))
        val small = li.join(perPart, col("l_partkey") === col("pk"))
          .filter(col("q100") * 5L * col("n_li") < col("sum_q100"))
          .join(brands, col("l_partkey") === col("p_partkey"))
        small.groupBy("p_brand")
          .agg(count(lit(1)).as("n_small_lineitems"),
            sum(col("price")).cast("double").as("small_revenue"))
          .withColumn("avg_yearly_loss", col("small_revenue") / lit(7.0))
          .orderBy("p_brand")
      },
      Some("""WITH li AS (
             |  SELECT l_partkey,
             |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS q100,
             |    CAST(l_extendedprice AS DECIMAL(18,2)) AS price
             |  FROM lineitem),
             |pp AS (
             |  SELECT l_partkey AS pk, COUNT(*) AS n_li,
             |    CAST(SUM(q100) AS BIGINT) AS sum_q100
             |  FROM li GROUP BY 1)
             |SELECT p.p_brand,
             |  COUNT(*) AS n_small_lineitems,
             |  CAST(SUM(l.price) AS DOUBLE) AS small_revenue,
             |  CAST(SUM(l.price) AS DOUBLE) / 7.0 AS avg_yearly_loss
             |FROM li l
             |JOIN pp ON pp.pk = l.l_partkey
             |JOIN part p ON p.p_partkey = l.l_partkey
             |WHERE l.q100 * 5 * pp.n_li < pp.sum_q100
             |GROUP BY 1 ORDER BY p_brand""".stripMargin)),

    // EXT — returns-heavy suppliers (TPC-H Q20 nested-semi-join shape,
    // re-targeted at the return flag since the star schema carries no
    // partsupp): suppliers whose returned quantity exceeds 30% of
    // shipped quantity, decided on exact integers (ret·10 > tot·3),
    // enriched with the nation dimension (broadcast — fixed 25 rows at
    // every SF). One |lineitem|→|suppliers| shuffle, then dimension
    // joins.
    EngineQuery("q210_returns_heavy_suppliers",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_suppkey"),
            (money(col("l_quantity")) * 100).cast("long").as("q100"),
            col("l_returnflag"))
        val perSupp = li.groupBy(col("l_suppkey").as("sk"))
          .agg(sum(col("q100")).as("tot_q100"),
            sum(when(col("l_returnflag") === "R", col("q100"))
              .otherwise(0L)).as("ret_q100"))
          .filter(col("ret_q100") * 10L > col("tot_q100") * 3L)
        val supp = t(s, dir, "supplier")
        val nation = t(s, dir, "nation")
        perSupp
          .join(supp, col("sk") === col("s_suppkey"))
          .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("n_name").as("nation"), col("tot_q100"), col("ret_q100"),
            (col("ret_q100").cast("double") / col("tot_q100").cast("double"))
              .as("return_share"))
          .orderBy("s_suppkey")
      },
      Some("""WITH per AS (
             |  SELECT l_suppkey AS sk,
             |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS tot_q100,
             |    CAST(SUM(CASE WHEN l_returnflag = 'R'
             |      THEN CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             |        AS BIGINT) ELSE 0 END) AS BIGINT) AS ret_q100
             |  FROM lineitem GROUP BY 1)
             |SELECT s.s_suppkey, s.s_name, n.n_name AS nation,
             |  per.tot_q100, per.ret_q100,
             |  CAST(per.ret_q100 AS DOUBLE) / CAST(per.tot_q100 AS DOUBLE)
             |    AS return_share
             |FROM per
             |JOIN supplier s ON s.s_suppkey = per.sk
             |JOIN nation n ON n.n_nationkey = s.s_nationkey
             |WHERE per.ret_q100 * 10 > per.tot_q100 * 3
             |ORDER BY s.s_suppkey""".stripMargin)),

    // EXT — gaps-and-islands: per-user longest consecutive-active-day
    // streak via the classic day_epoch − row_number island key, rolled
    // up to a streak-length histogram. Windows partition BY USER over
    // the distinct active-day frame (≤ |days| rows per user) — fully
    // parallel, no global window.
    EngineQuery("q211_activity_islands",
      (s, dir) => {
        val days = t(s, dir, "events")
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val islands = days
          .withColumn("island",
            datediff(col("day"), lit("2024-01-01").cast("date"))
              - row_number().over(w))
          .groupBy("user_id", "island").agg(count(lit(1)).as("streak"))
        val perUser = islands.groupBy("user_id")
          .agg(max(col("streak")).as("max_streak"))
        perUser.groupBy(col("max_streak"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("max_streak")
      },
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |isl AS (
             |  SELECT user_id,
             |    date_diff('day', DATE '2024-01-01', day)
             |      - row_number() OVER (PARTITION BY user_id ORDER BY day)
             |      AS island
             |  FROM days),
             |streaks AS (
             |  SELECT user_id, island, COUNT(*) AS streak
             |  FROM isl GROUP BY 1, 2),
             |pu AS (
             |  SELECT user_id, CAST(MAX(streak) AS BIGINT) AS max_streak
             |  FROM streaks GROUP BY 1)
             |SELECT max_streak, COUNT(*) AS n_users
             |FROM pu GROUP BY 1 ORDER BY max_streak""".stripMargin)),

    // EXT — Jensen-Shannon divergence between the two largest sources'
    // word distributions: "how different are my corpus slices" in one
    // number. Tokenization matches q34 (single-space split). Each
    // word's JSD contribution is an identical double in both engines;
    // the sum runs in fixed-point 1e-9 BIGINT (the q92/q99 ln
    // convention) so accumulation order cannot split the gate. Smoothed
    // with add-zero convention: absent words contribute via the m-mix
    // term only from the present side.
    EngineQuery("q212_jsd_sources",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val top2 = docs.groupBy("source").agg(count(lit(1)).as("nd"))
          .orderBy(col("nd").desc, col("source")).limit(2)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("nd").desc, col("source"))))
        val words = docs.join(broadcast(top2), Seq("source"))
          .select(col("rk"),
            explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        val counts = words.groupBy("word")
          .agg(sum(when(col("rk") === 1, 1L).otherwise(0L)).as("c1"),
            sum(when(col("rk") === 2, 1L).otherwise(0L)).as("c2"))
        val tot = counts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
        val p = col("c1").cast("double") / col("n1").cast("double")
        val q = col("c2").cast("double") / col("n2").cast("double")
        val m = (p + q) / lit(2.0)
        val term =
          when(col("c1") > 0L, p * log(p / m) / lit(2.0)).otherwise(0.0) +
          when(col("c2") > 0L, q * log(q / m) / lit(2.0)).otherwise(0.0)
        val termQ = round(term * lit(1.0e9)).cast("long")
        counts.crossJoin(broadcast(tot))
          .agg(count(lit(1)).as("vocab_union"),
            max(col("n1")).as("n1"), max(col("n2")).as("n2"),
            sum(termQ).as("jsd_q9"))
          .select(col("vocab_union"), col("n1"), col("n2"),
            col("jsd_q9"),
            (col("jsd_q9").cast("double") / lit(1.0e9)).as("jsd_nats"))
      },
      Some("""WITH srcs AS (
             |  SELECT source, COUNT(*) AS nd,
             |    row_number() OVER (ORDER BY COUNT(*) DESC, source)
             |      AS rk
             |  FROM documents GROUP BY 1
             |  ORDER BY nd DESC, source LIMIT 2),
             |words AS (
             |  SELECT s.rk, w.word
             |  FROM documents d
             |  JOIN srcs s ON s.source = d.source
             |  CROSS JOIN unnest(string_split(d.text, ' ')) AS w(word)
             |  WHERE w.word <> ''),
             |counts AS (
             |  SELECT word,
             |    CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c1,
             |    CAST(SUM(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS c2
             |  FROM words GROUP BY 1),
             |tot AS (
             |  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             |    CAST(SUM(c2) AS BIGINT) AS n2
             |  FROM counts),
             |terms AS (
             |  SELECT c1, c2, n1, n2,
             |    (CASE WHEN c1 > 0 THEN
             |      (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             |      * ln((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             |        / (((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             |          + (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
             |          / 2.0)) / 2.0 ELSE 0.0 END)
             |    + (CASE WHEN c2 > 0 THEN
             |      (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             |      * ln((CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE))
             |        / (((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE))
             |          + (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
             |          / 2.0)) / 2.0 ELSE 0.0 END) AS term
             |  FROM counts CROSS JOIN tot)
             |SELECT COUNT(*) AS vocab_union,
             |  MAX(n1) AS n1, MAX(n2) AS n2,
             |  CAST(SUM(CAST(round(term * 1000000000.0) AS BIGINT))
             |    AS BIGINT) AS jsd_q9,
             |  CAST(CAST(SUM(CAST(round(term * 1000000000.0) AS BIGINT))
             |    AS BIGINT) AS DOUBLE) / 1000000000.0 AS jsd_nats
             |FROM terms""".stripMargin)),

    // EXT — Kendall tau-b between daily revenue and daily order count:
    // the rank-correlation complement of q156 (Pearson) and q202
    // (Theil-Sen). Concordant/discordant/tie counting runs over the
    // |days|^2/2 pair frame of the calendar-bounded daily aggregate —
    // exact integers throughout; tie corrections come from per-value
    // group sizes; tau closes in one double chain.
    EngineQuery("q213_kendall_tau",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("rev"), count(lit(1)).as("cnt"))
        val a = daily.select(col("day").as("d1"), col("rev").as("x1"),
          col("cnt").as("y1")).repartition(32, col("d1"))
        val b = daily.select(col("day").as("d2"), col("rev").as("x2"),
          col("cnt").as("y2"))
        val sgn = (col("x2") - col("x1")) * (col("y2") - col("y1"))
        val pairs = a.join(b, col("d1") < col("d2"))
          .agg(sum(when(sgn > 0, 1L).otherwise(0L)).as("n_conc"),
            sum(when(sgn < 0, 1L).otherwise(0L)).as("n_disc"),
            count(lit(1)).as("n_pairs"))
        val tieX = daily.groupBy("rev").agg(count(lit(1)).as("tc"))
          .agg(sum(expr("tc * (tc - 1) div 2")).as("n1"))
        val tieY = daily.groupBy("cnt").agg(count(lit(1)).as("tc"))
          .agg(sum(expr("tc * (tc - 1) div 2")).as("n2"))
        val j = pairs.crossJoin(broadcast(tieX))
          .crossJoin(broadcast(tieY))
        val tau = (col("n_conc") - col("n_disc")).cast("double") /
          sqrt((col("n_pairs") - col("n1")).cast("double") *
            (col("n_pairs") - col("n2")).cast("double"))
        j.select(col("n_pairs"), col("n_conc"), col("n_disc"),
          col("n1").as("ties_rev"), col("n2").as("ties_cnt"),
          tau.as("kendall_tau_b"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS rev,
             |    COUNT(*) AS cnt
             |  FROM orders GROUP BY 1),
             |pairs AS (
             |  SELECT
             |    CAST(SUM(CASE WHEN (b.rev - a.rev) * (b.cnt - a.cnt) > 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_conc,
             |    CAST(SUM(CASE WHEN (b.rev - a.rev) * (b.cnt - a.cnt) < 0
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_disc,
             |    COUNT(*) AS n_pairs
             |  FROM daily a JOIN daily b ON a.day < b.day),
             |tx AS (
             |  SELECT CAST(SUM(tc * (tc - 1) // 2) AS BIGINT) AS n1
             |  FROM (SELECT COUNT(*) AS tc FROM daily GROUP BY rev)),
             |ty AS (
             |  SELECT CAST(SUM(tc * (tc - 1) // 2) AS BIGINT) AS n2
             |  FROM (SELECT COUNT(*) AS tc FROM daily GROUP BY cnt))
             |SELECT n_pairs, n_conc, n_disc,
             |  n1 AS ties_rev, n2 AS ties_cnt,
             |  CAST(n_conc - n_disc AS DOUBLE)
             |    / sqrt(CAST(n_pairs - n1 AS DOUBLE)
             |      * CAST(n_pairs - n2 AS DOUBLE)) AS kendall_tau_b
             |FROM pairs CROSS JOIN tx CROSS JOIN ty""".stripMargin)),

    // EXT — Spearman rank correlation on the same daily pair: average
    // ranks kept exact as DOUBLED integers (2·avgrank = 2·cum_before +
    // t + 1), Pearson on ranks from exact Σr, Σr², Σrxry BIGINTs, one
    // double chain. Ties handled exactly where a naive rank() would
    // drift.
    EngineQuery("q214_spearman_rho",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("rev"), count(lit(1)).as("cnt"))
        def ranks2(vc: String, out: String) = {
          val grp = daily.groupBy(col(vc)).agg(count(lit(1)).as("t"))
          val w = Window.orderBy(vc)
            .rowsBetween(Window.unboundedPreceding, -1)
          grp.withColumn("cumb",
            coalesce(sum(col("t")).over(w), lit(0L)))
            .select(col(vc),
              (col("cumb") * 2L + col("t") + 1L).as(out))
        }
        val withR = daily
          .join(broadcast(ranks2("rev", "rx2")), Seq("rev"))
          .join(broadcast(ranks2("cnt", "ry2")), Seq("cnt"))
        val agg = withR.agg(count(lit(1)).as("n"),
          sum("rx2").as("sx"), sum("ry2").as("sy"),
          sum(col("rx2") * col("rx2")).as("sxx"),
          sum(col("ry2") * col("ry2")).as("syy"),
          sum(col("rx2") * col("ry2")).as("sxy"))
        val nd = col("n").cast("double")
        val num = nd * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val den = sqrt(nd * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) *
          sqrt(nd * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))
        agg.select(col("n").as("n_days"), (num / den).as("spearman_rho"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS rev,
             |    COUNT(*) AS cnt
             |  FROM orders GROUP BY 1),
             |rx AS (
             |  SELECT rev,
             |    CAST(2 * COALESCE(SUM(t) OVER (ORDER BY rev
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + t + 1 AS BIGINT) AS rx2
             |  FROM (SELECT rev, COUNT(*) AS t FROM daily GROUP BY 1)),
             |ry AS (
             |  SELECT cnt,
             |    CAST(2 * COALESCE(SUM(t) OVER (ORDER BY cnt
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + t + 1 AS BIGINT) AS ry2
             |  FROM (SELECT cnt, COUNT(*) AS t FROM daily GROUP BY 1)),
             |j AS (
             |  SELECT d.day, rx.rx2, ry.ry2
             |  FROM daily d
             |  JOIN rx ON rx.rev = d.rev
             |  JOIN ry ON ry.cnt = d.cnt),
             |agg AS (
             |  SELECT COUNT(*) AS n,
             |    CAST(SUM(rx2) AS BIGINT) AS sx,
             |    CAST(SUM(ry2) AS BIGINT) AS sy,
             |    CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
             |    CAST(SUM(ry2 * ry2) AS BIGINT) AS syy,
             |    CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy
             |  FROM j)
             |SELECT n AS n_days,
             |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |  / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             |    AS spearman_rho
             |FROM agg""".stripMargin)),

    // EXT — Bollinger-band breakout days: daily revenue vs its trailing
    // 20-day mean ± 2σ. Window sums of exact whole-dollar revenue
    // (Σx, Σx² BIGINT within the hardware int64→fp64 range — see the
    // inline note) make mean/σ identical doubles in both engines; only
    // full windows qualify (rn > 20). The volatility-aware twin of
    // q196's fixed z-score anomaly days.
    EngineQuery("q215_bollinger_breakouts",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("rev"))
          // band math runs on WHOLE-DOLLAR revenue: squares of cents
          // overflow int64 at sf≥0.1, and the HUGEINT/DECIMAL escape
          // hatches convert to double through SOFTWARE paths that
          // round differently per engine — dollars keep every product
          // inside the correctly-rounded hardware int64→fp64 range
          .withColumn("rev_usd", expr("rev div 100"))
        val wTrail = Window.orderBy("day").rowsBetween(-20, -1)
        val wAll = Window.orderBy("day")
        val frame = daily
          .withColumn("rn", row_number().over(wAll))
          .withColumn("sx", sum(col("rev_usd")).over(wTrail))
          .withColumn("sxx",
            sum(col("rev_usd") * col("rev_usd")).over(wTrail))
          .filter(col("rn") > 20)
        val mean = col("sx").cast("double") / lit(20.0)
        val varr = (lit(20.0) * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (lit(20.0) * lit(19.0))
        val upper = mean + lit(2.0) * sqrt(varr)
        val lower = mean - lit(2.0) * sqrt(varr)
        frame
          .withColumn("direction",
            when(col("rev_usd").cast("double") > upper, lit("UP"))
              .when(col("rev_usd").cast("double") < lower, lit("DOWN")))
          .filter(col("direction").isNotNull)
          .select(col("day"), col("rev"), mean.as("band_mean_usd"),
            lower.as("band_lo_usd"), upper.as("band_hi_usd"),
            col("direction"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS rev,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) // 100 AS rev_usd
             |  FROM orders GROUP BY 1),
             |frame AS (
             |  SELECT day, rev, rev_usd,
             |    row_number() OVER (ORDER BY day) AS rn,
             |    CAST(SUM(rev_usd) OVER (ORDER BY day
             |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS BIGINT)
             |      AS sx,
             |    CAST(SUM(rev_usd * rev_usd) OVER (ORDER BY day
             |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS BIGINT)
             |      AS sxx
             |  FROM daily),
             |bands AS (
             |  SELECT day, rev, rev_usd,
             |    CAST(sx AS DOUBLE) / 20.0 AS band_mean_usd,
             |    CAST(sx AS DOUBLE) / 20.0
             |      - 2.0 * sqrt((20.0 * CAST(sxx AS DOUBLE)
             |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |        / (20.0 * 19.0)) AS band_lo_usd,
             |    CAST(sx AS DOUBLE) / 20.0
             |      + 2.0 * sqrt((20.0 * CAST(sxx AS DOUBLE)
             |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |        / (20.0 * 19.0)) AS band_hi_usd
             |  FROM frame WHERE rn > 20)
             |SELECT day, rev, band_mean_usd, band_lo_usd, band_hi_usd,
             |  CASE WHEN CAST(rev_usd AS DOUBLE) > band_hi_usd THEN 'UP'
             |       ELSE 'DOWN' END AS direction
             |FROM bands
             |WHERE CAST(rev_usd AS DOUBLE) > band_hi_usd
             |   OR CAST(rev_usd AS DOUBLE) < band_lo_usd
             |ORDER BY day""".stripMargin)),

    EngineQuery("q217_equidepth_histogram",
      (s, dir) => {
        val vals = t(s, dir, "lineitem")
          .select((money(col("l_extendedprice")) * 100).cast("long")
            .as("cents"))
          .groupBy("cents").agg(count(lit(1)).as("c"))
          // |distinct prices| grows with SF — the cumulative count uses
          // the sharded-prefix pattern (q86/q167): value-ordered shards
          // cumulate locally in parallel, and only the |shards|-row
          // shard-total prefix runs through a single-partition window
          .withColumn("shard", expr("cents div 131072"))
        val wLocal = Window.partitionBy("shard").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val shardTot = vals.groupBy(col("shard").as("sh"))
          .agg(sum("c").as("sc"))
        val wShard = Window.orderBy("sh")
          .rowsBetween(Window.unboundedPreceding, -1)
        val shardPrefix = shardTot.withColumn("ps",
          coalesce(sum("sc").over(wShard), lit(0L)))
        val tot = vals.agg(sum("c").as("n_total"))
        val bucketed = vals
          .withColumn("lc", coalesce(sum(col("c")).over(wLocal), lit(0L)))
          .join(broadcast(shardPrefix.select(col("sh"), col("ps"))),
            col("shard") === col("sh"))
          .withColumn("cumb", col("ps") + col("lc"))
          .crossJoin(broadcast(tot))
          .withColumn("bucket",
            least(lit(19L), expr("(cumb * 20) div n_total")))
        bucketed.groupBy("bucket")
          .agg(sum("c").as("n_rows"), min("cents").as("lo_cents"),
            max("cents").as("hi_cents"),
            count(lit(1)).as("n_distinct"))
          .orderBy("bucket")
      },
      Some("""WITH vals AS (
             |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS cents,
             |    COUNT(*) AS c
             |  FROM lineitem GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM vals),
             |b AS (
             |  SELECT cents, c,
             |    least(19, COALESCE(CAST(SUM(c) OVER (ORDER BY cents
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), 0) * 20 // n_total) AS bucket
             |  FROM vals CROSS JOIN tot)
             |SELECT bucket, CAST(SUM(c) AS BIGINT) AS n_rows,
             |  MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
             |  COUNT(*) AS n_distinct
             |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // EXT — ANALYZE-style column statistics: per tracked orders column
    // the distinct count, null fraction, and top-5 most-common values
    // with exact frequencies — what a cost-based optimizer reads before
    // picking join orders. Values surface as strings so one report row
    // type covers heterogeneous columns; MCV rank ties break on the
    // value string (total order, engine-independent).
    EngineQuery("q218_mcv_stats",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        def statsOf(colName: String): DataFrame = {
          val vc = orders.select(col(colName).cast("string").as("val"))
          val counts = vc.groupBy("val").agg(count(lit(1)).as("c"))
          val tot = counts.agg(sum("c").as("n_total"),
            count(lit(1)).as("ndv"),
            sum(when(col("val").isNull, col("c")).otherwise(0L))
              .as("n_null"))
          val w = Window.orderBy(col("c").desc, col("val"))
          counts.withColumn("rk", row_number().over(w))
            .filter(col("rk") <= 5)
            .crossJoin(broadcast(tot))
            .select(lit(colName).as("column_name"),
              col("rk").cast("long").as("mcv_rank"), col("val"),
              col("c").as("freq"), col("ndv"),
              (col("n_null").cast("double") /
                col("n_total").cast("double")).as("null_frac"))
        }
        statsOf("o_orderpriority")
          .unionAll(statsOf("o_orderstatus"))
          .unionAll(statsOf("o_custkey"))
          .orderBy("column_name", "mcv_rank")
      },
      Some("""WITH cols AS (
             |  SELECT 'o_orderpriority' AS column_name,
             |    CAST(o_orderpriority AS VARCHAR) AS val FROM orders
             |  UNION ALL
             |  SELECT 'o_orderstatus', CAST(o_orderstatus AS VARCHAR)
             |  FROM orders
             |  UNION ALL
             |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR)
             |  FROM orders),
             |counts AS (
             |  SELECT column_name, val, COUNT(*) AS c
             |  FROM cols GROUP BY 1, 2),
             |tot AS (
             |  SELECT column_name, CAST(SUM(c) AS BIGINT) AS n_total,
             |    COUNT(*) AS ndv,
             |    CAST(SUM(CASE WHEN val IS NULL THEN c ELSE 0 END)
             |      AS BIGINT) AS n_null
             |  FROM counts GROUP BY 1),
             |ranked AS (
             |  SELECT column_name, val, c,
             |    row_number() OVER (PARTITION BY column_name
             |      ORDER BY c DESC, val) AS rk
             |  FROM counts)
             |SELECT r.column_name, CAST(r.rk AS BIGINT) AS mcv_rank,
             |  r.val, r.c AS freq, t.ndv,
             |  CAST(t.n_null AS DOUBLE) / CAST(t.n_total AS DOUBLE)
             |    AS null_frac
             |FROM ranked r JOIN tot t ON t.column_name = r.column_name
             |WHERE r.rk <= 5
             |ORDER BY r.column_name, mcv_rank""".stripMargin)),

    // EXT — Z-order layout audit: interleave 8-bit-scaled (custkey,
    // order-day) into a 16-bit Morton code, bucket by its top 4 bits,
    // and report each bucket's per-dimension spans — the "would
    // Z-ordering make min/max file skipping effective on BOTH
    // predicates" report a lakehouse layout optimizer runs before
    // rewriting. Bit interleaving is pure integer shifts (identical in
    // both engines); scaling uses exact integer ·256/(max+1).
    EngineQuery("q219_zorder_audit",
      (s, dir) => {
        val o = t(s, dir, "orders").select(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long").as("dday"))
        val mx = o.agg(max("o_custkey").as("max_ck"),
          max("dday").as("max_dd"))
        val scaled = o.crossJoin(broadcast(mx))
          .withColumn("x", expr("(o_custkey * 256) div (max_ck + 1)"))
          .withColumn("y", expr("(dday * 256) div (max_dd + 1)"))
        scaled.withColumn("z",
            graft.functions.MortonCode(col("x"), col("y"), bits = 8))
          .withColumn("z_bucket", expr("z div 4096"))
          .groupBy("z_bucket")
          .agg(count(lit(1)).as("n_orders"),
            min("o_custkey").as("min_ck"), max("o_custkey").as("max_ck2"),
            min("dday").as("min_day"), max("dday").as("max_day"))
          .select(col("z_bucket"), col("n_orders"),
            (col("max_ck2") - col("min_ck") + 1L).as("custkey_span"),
            (col("max_day") - col("min_day") + 1L).as("day_span"))
          .orderBy("z_bucket")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey,
             |    CAST(date_diff('day', DATE '1995-01-01',
             |      CAST(o_orderdate AS DATE)) AS BIGINT) AS dday
             |  FROM orders),
             |mx AS (
             |  SELECT MAX(o_custkey) AS max_ck, MAX(dday) AS max_dd
             |  FROM o),
             |scaled AS (
             |  SELECT o_custkey, dday,
             |    o_custkey * 256 // (max_ck + 1) AS x,
             |    dday * 256 // (max_dd + 1) AS y
             |  FROM o CROSS JOIN mx),
             |z AS (
             |  SELECT o_custkey, dday,
             |    ( (((x >> 0) & 1) << 0) + (((y >> 0) & 1) << 1)
             |    + (((x >> 1) & 1) << 2) + (((y >> 1) & 1) << 3)
             |    + (((x >> 2) & 1) << 4) + (((y >> 2) & 1) << 5)
             |    + (((x >> 3) & 1) << 6) + (((y >> 3) & 1) << 7)
             |    + (((x >> 4) & 1) << 8) + (((y >> 4) & 1) << 9)
             |    + (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11)
             |    + (((x >> 6) & 1) << 12) + (((y >> 6) & 1) << 13)
             |    + (((x >> 7) & 1) << 14) + (((y >> 7) & 1) << 15)
             |    ) // 4096 AS z_bucket
             |  FROM scaled)
             |SELECT z_bucket, COUNT(*) AS n_orders,
             |  MAX(o_custkey) - MIN(o_custkey) + 1 AS custkey_span,
             |  MAX(dday) - MIN(dday) + 1 AS day_span
             |FROM z GROUP BY 1 ORDER BY z_bucket""".stripMargin)),

    // EXT — deterministic Bloom-filter membership audit (m = 16384
    // bits, k = 4 sha256 hashes): build the filter over even custkeys,
    // probe with the disjoint odd custkeys, and measure the observed
    // false-positive rate against the fill-rate model fill⁴ — the
    // runtime-filter (Bloom join pruning) engine surface, made
    // cross-engine exact. Bits live as a distinct-position frame
    // (≤ k·|members| rows), probes semi-join it; everything integer
    // until the two final ratios.
    EngineQuery("q220_bloom_membership",
      (s, dir) => {
        val custs = t(s, dir, "orders")
          .select(col("o_custkey").as("ck")).distinct()
        def pos(i: Int, c: Column): Column =
          pmod(sha256PrefixLong(
            concat(lit(s"bf$i:"), c.cast("string"))), lit(16384L))
        val members = custs.filter(pmod(col("ck"), lit(2L)) === 0L)
        val probes = custs.filter(pmod(col("ck"), lit(2L)) === 1L)
        val hashCols = (0 until 4).map(i => pos(i, col("ck")).as(s"p$i"))
        val bits = members
          .select(explode(array(hashCols: _*)).as("bit_pos")).distinct()
        val probePos = probes
          .select(col("ck"), explode(array(hashCols: _*)).as("bit_pos"))
        val hits = probePos.join(bits, Seq("bit_pos"))
          .groupBy("ck").agg(count(lit(1)).as("n_hit"))
          .filter(col("n_hit") === 4L)
        val counts = members.agg(count(lit(1)).as("n_members"))
          .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
          .crossJoin(broadcast(bits.agg(count(lit(1)).as("n_bits_set"))))
          .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_false_pos"))))
        val fill = col("n_bits_set").cast("double") / lit(16384.0)
        counts.select(col("n_members"), col("n_probes"),
          col("n_bits_set"), col("n_false_pos"),
          (col("n_false_pos").cast("double") /
            col("n_probes").cast("double")).as("observed_fpr"),
          (fill * fill * fill * fill).as("model_fpr"))
      },
      Some("""WITH custs AS (SELECT DISTINCT o_custkey AS ck FROM orders),
             |members AS (SELECT ck FROM custs WHERE ck % 2 = 0),
             |probes AS (SELECT ck FROM custs WHERE ck % 2 = 1),
             |mbits AS (
             |  SELECT DISTINCT
             |    CAST('0x' || substr(sha256('bf' || CAST(r.i AS VARCHAR)
             |      || ':' || CAST(m.ck AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 16384 AS bit_pos
             |  FROM members m
             |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r),
             |ppos AS (
             |  SELECT p.ck,
             |    CAST('0x' || substr(sha256('bf' || CAST(r.i AS VARCHAR)
             |      || ':' || CAST(p.ck AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 16384 AS bit_pos
             |  FROM probes p
             |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r),
             |fp AS (
             |  SELECT pp.ck FROM ppos pp
             |  JOIN mbits b ON b.bit_pos = pp.bit_pos
             |  GROUP BY pp.ck HAVING COUNT(*) = 4),
             |c AS (
             |  SELECT
             |    (SELECT COUNT(*) FROM members) AS n_members,
             |    (SELECT COUNT(*) FROM probes) AS n_probes,
             |    (SELECT COUNT(*) FROM mbits) AS n_bits_set,
             |    (SELECT COUNT(*) FROM fp) AS n_false_pos)
             |SELECT n_members, n_probes, n_bits_set, n_false_pos,
             |  CAST(n_false_pos AS DOUBLE) / CAST(n_probes AS DOUBLE)
             |    AS observed_fpr,
             |  (CAST(n_bits_set AS DOUBLE) / 16384.0)
             |    * (CAST(n_bits_set AS DOUBLE) / 16384.0)
             |    * (CAST(n_bits_set AS DOUBLE) / 16384.0)
             |    * (CAST(n_bits_set AS DOUBLE) / 16384.0) AS model_fpr
             |FROM c""".stripMargin)),

    // EXT — zone-map (min/max) skipping audit: simulate parquet
    // row-group pruning by bucketing lineitem into ship-month "files",
    // recording each bucket's l_orderkey min/max zone, and reporting —
    // for a band of orderkey point-range predicates — how many buckets
    // the zones would skip. The report a layout optimizer reads next
    // to q219's Z-order spans before choosing a sort column. All
    // integer algebra.
    EngineQuery("q221_zone_map_skipping",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(date_trunc("month", col("l_shipdate"))
            .cast("date").as("file_month"), col("l_orderkey"))
        val zones = li.groupBy("file_month")
          .agg(count(lit(1)).as("n_rows"),
            min("l_orderkey").as("zmin"), max("l_orderkey").as("zmax"))
        val bounds = zones.agg(max("zmax").as("gmax"))
        // 8 equal-width point-range probes over the key domain
        val probes = zones.sparkSession.range(8)
          .select(col("id").as("probe_id"))
          .crossJoin(broadcast(bounds))
          .select(col("probe_id"),
            expr("(probe_id * (gmax + 1)) div 8").as("lo"),
            expr("((probe_id + 1) * (gmax + 1)) div 8 - 1").as("hi"))
        probes.crossJoin(zones)
          .groupBy("probe_id", "lo", "hi")
          .agg(count(lit(1)).as("n_files"),
            sum(when(col("zmax") < col("lo") ||
              col("zmin") > col("hi"), 1L).otherwise(0L))
              .as("n_skipped"),
            sum(when(col("zmax") >= col("lo") &&
              col("zmin") <= col("hi"), col("n_rows")).otherwise(0L))
              .as("rows_scanned"))
          .withColumn("skip_frac",
            col("n_skipped").cast("double") / col("n_files").cast("double"))
          .orderBy("probe_id")
      },
      Some("""WITH li AS (
             |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE)
             |      AS file_month,
             |    l_orderkey
             |  FROM lineitem),
             |zones AS (
             |  SELECT file_month, COUNT(*) AS n_rows,
             |    MIN(l_orderkey) AS zmin, MAX(l_orderkey) AS zmax
             |  FROM li GROUP BY 1),
             |bounds AS (SELECT MAX(zmax) AS gmax FROM zones),
             |probes AS (
             |  SELECT i AS probe_id,
             |    i * (gmax + 1) // 8 AS lo,
             |    (i + 1) * (gmax + 1) // 8 - 1 AS hi
             |  FROM (SELECT CAST(unnest([0,1,2,3,4,5,6,7]) AS BIGINT)
             |    AS i)
             |  CROSS JOIN bounds)
             |SELECT p.probe_id, p.lo, p.hi,
             |  COUNT(*) AS n_files,
             |  CAST(SUM(CASE WHEN z.zmax < p.lo OR z.zmin > p.hi
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
             |  CAST(SUM(CASE WHEN z.zmax >= p.lo AND z.zmin <= p.hi
             |    THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
             |  CAST(SUM(CASE WHEN z.zmax < p.lo OR z.zmin > p.hi
             |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             |    AS skip_frac
             |FROM probes p CROSS JOIN zones z
             |GROUP BY 1, 2, 3 ORDER BY probe_id""".stripMargin)),

    // EXT — incremental view maintenance of the pricing summary (q09):
    // partial aggregates over the base partition (shipped before
    // 1998-01-01) MERGE with the delta partition's partials, and the
    // merged result must equal the full recompute — which is exactly
    // what the oracle computes. Proves the engine's aggregation state
    // is mergeable (the property incremental pipelines and streaming
    // sinks rely on); sums stay exact DECIMAL until the end.
    EngineQuery("q222_incremental_agg_merge",
      (s, dir) => {
        val cut = lit("1998-01-01").cast("timestamp_ntz")
        def partial(df: DataFrame): DataFrame = df
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(money(col("l_quantity"))).as("p_qty"),
            sum(money(col("l_extendedprice"))).as("p_price"),
            count(lit(1)).as("p_n"))
        val li = t(s, dir, "lineitem")
        val base = partial(li.filter(col("l_shipdate") < cut))
        val delta = partial(li.filter(col("l_shipdate") >= cut))
        base.unionAll(delta)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("p_qty")).cast("double").as("sum_qty"),
            sum(col("p_price")).cast("double").as("sum_price"),
            sum(col("p_n")).as("n_rows"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_qty,
             |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             |    AS sum_price,
             |  COUNT(*) AS n_rows
             |FROM lineitem
             |GROUP BY 1, 2
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // EXT — Mood's median test: does each event type's value
    // distribution sit above or below the GRAND median more often than
    // chance? The grand median is a deterministic element pick over
    // the per-value frame (no interpolation); above/below counts are
    // exact; the χ² with continuity correction closes in one chain.
    EngineQuery("q223_mood_median",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), cents.as("v"))
        val per = ev.groupBy("v").agg(count(lit(1)).as("c"))
        val tot = per.agg(sum("c").as("n_tot"))
        val w = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val med = per.withColumn("cum", sum(col("c")).over(w))
          .crossJoin(broadcast(tot))
          .filter(col("cum") * 2L >= col("n_tot"))
          .orderBy("v").limit(1)
          .select(col("v").as("grand_median_cents"))
        val counts = ev.crossJoin(broadcast(med))
          .groupBy("event_type", "grand_median_cents")
          .agg(sum(when(col("v") > col("grand_median_cents"), 1L)
            .otherwise(0L)).as("n_above"),
            sum(when(col("v") <= col("grand_median_cents"), 1L)
              .otherwise(0L)).as("n_at_or_below"))
        val na = col("n_above").cast("double")
        val nb = col("n_at_or_below").cast("double")
        val nn = na + nb
        val chi = (na - nb) * (na - nb) / nn
        counts.select(col("event_type"), col("grand_median_cents"),
            col("n_above"), col("n_at_or_below"),
            chi.as("chi2_vs_even_split"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type, $centsSql AS v FROM events),
             |per AS (SELECT v, COUNT(*) AS c FROM ev GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM per),
             |med AS (
             |  SELECT v AS grand_median_cents FROM (
             |    SELECT v, CAST(SUM(c) OVER (ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |    FROM per) x CROSS JOIN tot
             |  WHERE cum * 2 >= n_tot
             |  ORDER BY v LIMIT 1),
             |counts AS (
             |  SELECT e.event_type, m.grand_median_cents,
             |    CAST(SUM(CASE WHEN e.v > m.grand_median_cents
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
             |    CAST(SUM(CASE WHEN e.v <= m.grand_median_cents
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_at_or_below
             |  FROM ev e CROSS JOIN med m
             |  GROUP BY 1, 2)
             |SELECT event_type, grand_median_cents, n_above,
             |  n_at_or_below,
             |  (CAST(n_above AS DOUBLE) - CAST(n_at_or_below AS DOUBLE))
             |  * (CAST(n_above AS DOUBLE) - CAST(n_at_or_below AS DOUBLE))
             |  / (CAST(n_above AS DOUBLE) + CAST(n_at_or_below AS DOUBLE))
             |    AS chi2_vs_even_split
             |FROM counts ORDER BY event_type""".stripMargin)),

    // EXT — Brown-Forsythe (median-based Levene) variance-homogeneity
    // screen: per event type the mean absolute deviation from the
    // GROUP median — "is segment volatility comparable before pooling".
    // Group medians are deterministic element picks; |v − med| stays
    // exact integer cents; only the final MAD ratio is a double.
    EngineQuery("q224_levene_spread",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"), cents.as("v"))
        val per = ev.groupBy("event_type", "v")
          .agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy("event_type").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wPick = Window.partitionBy("event_type").orderBy("v")
        val groupTot = per.groupBy(col("event_type").as("et"))
          .agg(sum("c").as("n_g"))
        val meds = per
          .withColumn("cum", sum(col("c")).over(wCum))
          .join(broadcast(groupTot), col("event_type") === col("et"))
          .filter(col("cum") * 2L >= col("n_g"))
          .withColumn("rk", row_number().over(wPick))
          .filter(col("rk") === 1)
          .select(col("event_type").as("met"), col("v").as("med"))
        val dev = ev.join(broadcast(meds), col("event_type") === col("met"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(abs(col("v") - col("med"))).as("abs_dev_sum"),
            max(col("med")).as("median_cents"))
        val grand = dev.agg(sum("abs_dev_sum").as("g_dev"),
          sum("n").as("g_n"))
        dev.crossJoin(broadcast(grand))
          .select(col("event_type"), col("n"), col("median_cents"),
            (col("abs_dev_sum").cast("double") / col("n").cast("double"))
              .as("mad_cents"),
            ((col("abs_dev_sum").cast("double") / col("n").cast("double"))
              / (col("g_dev").cast("double") / col("g_n").cast("double")))
              .as("spread_vs_pooled"))
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type, $centsSql AS v FROM events),
             |per AS (
             |  SELECT event_type, v, COUNT(*) AS c
             |  FROM ev GROUP BY 1, 2),
             |gt AS (
             |  SELECT event_type AS et, CAST(SUM(c) AS BIGINT) AS n_g
             |  FROM per GROUP BY 1),
             |meds AS (
             |  SELECT event_type AS met, v AS med FROM (
             |    SELECT p.event_type, p.v,
             |      row_number() OVER (PARTITION BY p.event_type
             |        ORDER BY p.v) AS rk
             |    FROM (
             |      SELECT event_type, v,
             |        CAST(SUM(c) OVER (PARTITION BY event_type
             |          ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
             |          AND CURRENT ROW) AS BIGINT) AS cum
             |      FROM per) p
             |    JOIN gt ON gt.et = p.event_type
             |    WHERE p.cum * 2 >= gt.n_g) x
             |  WHERE rk = 1),
             |dev AS (
             |  SELECT e.event_type, COUNT(*) AS n,
             |    CAST(SUM(abs(e.v - m.med)) AS BIGINT) AS abs_dev_sum,
             |    MAX(m.med) AS median_cents
             |  FROM ev e JOIN meds m ON m.met = e.event_type
             |  GROUP BY 1),
             |grand AS (
             |  SELECT CAST(SUM(abs_dev_sum) AS BIGINT) AS g_dev,
             |    CAST(SUM(n) AS BIGINT) AS g_n
             |  FROM dev)
             |SELECT event_type, n, median_cents,
             |  CAST(abs_dev_sum AS DOUBLE) / CAST(n AS DOUBLE)
             |    AS mad_cents,
             |  (CAST(abs_dev_sum AS DOUBLE) / CAST(n AS DOUBLE))
             |    / (CAST(g_dev AS DOUBLE) / CAST(g_n AS DOUBLE))
             |    AS spread_vs_pooled
             |FROM dev CROSS JOIN grand ORDER BY event_type""".stripMargin)),

    // EXT — small-files compaction planner: ship-month "files" (row
    // counts from the fact scan) greedily packed into ≥100k-row
    // compaction bins by cumulative-sum bin assignment — the
    // deterministic sequential-greedy a table-maintenance service runs
    // before rewriting a fragmented partition. Pure integer window
    // algebra over the bounded |months| frame.
    EngineQuery("q225_compaction_plan",
      (s, dir) => {
        val files = t(s, dir, "lineitem")
          .groupBy(date_trunc("month", col("l_shipdate"))
            .cast("date").as("file_month"))
          .agg(count(lit(1)).as("n_rows"))
        val w = Window.orderBy("file_month")
          .rowsBetween(Window.unboundedPreceding, -1)
        val binned = files
          .withColumn("cumb", coalesce(sum(col("n_rows")).over(w), lit(0L)))
          .withColumn("bin", expr("cumb div 100000"))
        binned.groupBy("bin")
          .agg(count(lit(1)).as("n_files"),
            sum("n_rows").as("bin_rows"),
            min("file_month").as("from_month"),
            max("file_month").as("to_month"))
          .orderBy("bin")
      },
      Some("""WITH files AS (
             |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE)
             |      AS file_month,
             |    COUNT(*) AS n_rows
             |  FROM lineitem GROUP BY 1),
             |binned AS (
             |  SELECT file_month, n_rows,
             |    COALESCE(CAST(SUM(n_rows) OVER (ORDER BY file_month
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) // 100000 AS bin
             |  FROM files)
             |SELECT bin, COUNT(*) AS n_files,
             |  CAST(SUM(n_rows) AS BIGINT) AS bin_rows,
             |  MIN(file_month) AS from_month,
             |  MAX(file_month) AS to_month
             |FROM binned GROUP BY 1 ORDER BY bin""".stripMargin)),

    // EXT — GDPR erasure impact audit: for the 10 heaviest customers,
    // the cascade footprint a right-to-be-forgotten request touches —
    // orders, their lineitems, and the revenue those rows carry. The
    // deletion planner's cost estimate: keyed joins only (orders by
    // custkey, lineitem semi-joined through the order keys), exact
    // decimal money, no scan reads more columns than the cascade
    // needs.
    EngineQuery("q226_erasure_audit",
      (s, dir) => {
        val orders = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            money(col("o_totalprice")).as("tp"))
        val top = orders.groupBy("o_custkey")
          .agg(count(lit(1)).as("n_orders"), sum(col("tp")).as("ord_val"))
          .orderBy(col("n_orders").desc, col("o_custkey")).limit(10)
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"),
            (money(col("l_extendedprice")) * 10000).cast("long")
              .as("li_e4"))
        val cascade = orders.join(broadcast(top.select("o_custkey")),
            Seq("o_custkey"))
          .join(li, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_lineitems"),
            sum(col("li_e4")).as("li_rev_e4"))
        top.join(cascade, Seq("o_custkey"))
          .select(col("o_custkey"), col("n_orders"),
            col("ord_val").cast("double").as("order_value"),
            col("n_lineitems"), col("li_rev_e4"))
          .orderBy(col("n_orders").desc, col("o_custkey"))
      },
      Some("""WITH top AS (
             |  SELECT o_custkey, COUNT(*) AS n_orders,
             |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |      AS order_value
             |  FROM orders GROUP BY 1
             |  ORDER BY n_orders DESC, o_custkey LIMIT 10),
             |cascade AS (
             |  SELECT o.o_custkey, COUNT(*) AS n_lineitems,
             |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
             |      * 10000 AS BIGINT)) AS BIGINT) AS li_rev_e4
             |  FROM orders o
             |  JOIN top t ON t.o_custkey = o.o_custkey
             |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |  GROUP BY 1)
             |SELECT t.o_custkey, t.n_orders, t.order_value,
             |  c.n_lineitems, c.li_rev_e4
             |FROM top t JOIN cascade c ON c.o_custkey = t.o_custkey
             |ORDER BY t.n_orders DESC, t.o_custkey""".stripMargin)),

    // EXT — sessionization gap sensitivity: how many sessions (and
    // what mean length) does each inactivity threshold produce? The
    // q24 session count's derivative wrt its one free parameter — the
    // sweep an analyst runs before fixing the 30-minute convention.
    // One lag window per user ordered by (ts, event_id) — a total
    // order, so boundary gaps classify identically — then exact
    // per-threshold counting; thresholds explode a 4-row literal.
    EngineQuery("q227_session_gap_sensitivity",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy("ts", "event_id")
        val gaps = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("gap_us",
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
        val thresholds = Seq(300L, 900L, 1800L, 3600L)
        val exploded = gaps.select(col("user_id"), col("gap_us"),
          explode(array(thresholds.map(lit): _*)).as("gap_limit_s"))
        exploded.groupBy("gap_limit_s")
          .agg(
            sum(when(col("gap_us").isNull ||
              col("gap_us") > col("gap_limit_s") * 1000000L, 1L)
              .otherwise(0L)).as("n_sessions"),
            count(lit(1)).as("n_events"))
          .withColumn("mean_session_events",
            col("n_events").cast("double") / col("n_sessions").cast("double"))
          .orderBy("gap_limit_s")
      },
      Some("""WITH gaps AS (
             |  SELECT user_id,
             |    epoch_us(ts) - epoch_us(lag(ts) OVER (
             |      PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
             |  FROM events),
             |ex AS (
             |  SELECT g.user_id, g.gap_us, t.gap_limit_s
             |  FROM gaps g
             |  CROSS JOIN (SELECT CAST(unnest([300, 900, 1800, 3600]) AS BIGINT)
             |    AS gap_limit_s) t)
             |SELECT CAST(gap_limit_s AS BIGINT) AS gap_limit_s,
             |  CAST(SUM(CASE WHEN gap_us IS NULL
             |      OR gap_us > gap_limit_s * 1000000
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             |  COUNT(*) AS n_events,
             |  CAST(COUNT(*) AS DOUBLE)
             |    / CAST(SUM(CASE WHEN gap_us IS NULL
             |        OR gap_us > gap_limit_s * 1000000
             |      THEN 1 ELSE 0 END) AS DOUBLE) AS mean_session_events
             |FROM ex GROUP BY 1 ORDER BY gap_limit_s""".stripMargin)),

    // EXT — referential-conformance audit: orphan counts and coverage
    // for every FK edge of the star schema (lineitem→orders/part/
    // supplier, orders→customer, customer/supplier→nation) — the
    // dbt-style relationship test, run as LEFT ANTI joins that shuffle
    // each fact once on its key. A healthy warehouse reports zeros;
    // the query proves it.
    EngineQuery("q228_fk_conformance",
      (s, dir) => {
        def edge(name: String, child: DataFrame, key: String,
            parent: DataFrame, pkey: String): DataFrame = {
          val n = child.agg(count(lit(1)).as("n_child"))
          val orphans = child.join(parent,
              child(key) === parent(pkey), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
          n.crossJoin(orphans)
            .select(lit(name).as("fk_edge"), col("n_child"),
              col("n_orphans"),
              ((col("n_child") - col("n_orphans")).cast("double") /
                col("n_child").cast("double")).as("coverage"))
        }
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val su = t(s, dir, "supplier")
        val p = t(s, dir, "part")
        val na = t(s, dir, "nation")
        edge("lineitem.orderkey", li, "l_orderkey", o, "o_orderkey")
          .unionAll(edge("lineitem.partkey", li, "l_partkey", p,
            "p_partkey"))
          .unionAll(edge("lineitem.suppkey", li, "l_suppkey", su,
            "s_suppkey"))
          .unionAll(edge("orders.custkey", o, "o_custkey", c,
            "c_custkey"))
          .unionAll(edge("customer.nationkey", c, "c_nationkey", na,
            "n_nationkey"))
          .unionAll(edge("supplier.nationkey", su, "s_nationkey", na,
            "n_nationkey"))
          .orderBy("fk_edge")
      },
      Some("""WITH x AS (
             |  SELECT 'lineitem.orderkey' AS fk_edge,
             |    (SELECT COUNT(*) FROM lineitem) AS n_child,
             |    (SELECT COUNT(*) FROM lineitem l
             |     WHERE NOT EXISTS (SELECT 1 FROM orders o
             |       WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
             |  UNION ALL
             |  SELECT 'lineitem.partkey',
             |    (SELECT COUNT(*) FROM lineitem),
             |    (SELECT COUNT(*) FROM lineitem l
             |     WHERE NOT EXISTS (SELECT 1 FROM part p
             |       WHERE p.p_partkey = l.l_partkey))
             |  UNION ALL
             |  SELECT 'lineitem.suppkey',
             |    (SELECT COUNT(*) FROM lineitem),
             |    (SELECT COUNT(*) FROM lineitem l
             |     WHERE NOT EXISTS (SELECT 1 FROM supplier s
             |       WHERE s.s_suppkey = l.l_suppkey))
             |  UNION ALL
             |  SELECT 'orders.custkey',
             |    (SELECT COUNT(*) FROM orders),
             |    (SELECT COUNT(*) FROM orders o
             |     WHERE NOT EXISTS (SELECT 1 FROM customer c
             |       WHERE c.c_custkey = o.o_custkey))
             |  UNION ALL
             |  SELECT 'customer.nationkey',
             |    (SELECT COUNT(*) FROM customer),
             |    (SELECT COUNT(*) FROM customer c
             |     WHERE NOT EXISTS (SELECT 1 FROM nation n
             |       WHERE n.n_nationkey = c.c_nationkey))
             |  UNION ALL
             |  SELECT 'supplier.nationkey',
             |    (SELECT COUNT(*) FROM supplier),
             |    (SELECT COUNT(*) FROM supplier s
             |     WHERE NOT EXISTS (SELECT 1 FROM nation n
             |       WHERE n.n_nationkey = s.s_nationkey)))
             |SELECT fk_edge, n_child, n_orphans,
             |  CAST(n_child - n_orphans AS DOUBLE)
             |    / CAST(n_child AS DOUBLE) AS coverage
             |FROM x ORDER BY fk_edge""".stripMargin)),

    // EXT — bottleneck suppliers (TPC-H Q21 shape, re-targeted at the
    // available columns): on orders shipped by 2+ suppliers, the
    // supplier whose line uniquely shipped LAST held the order open.
    // The classic EXISTS / NOT-EXISTS correlation decorrelates into
    // per-order window aggregates — max shipdate, distinct-supplier
    // count, lines-at-max count — one shuffle on l_orderkey, then a
    // keyed count per supplier and a broadcast nation dimension.
    EngineQuery("q229_bottleneck_suppliers",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        val perOrder = li.groupBy("l_orderkey")
          .agg(max("l_shipdate").as("max_ship"),
            count_distinct(col("l_suppkey")).as("n_supp"))
        val lines = li.join(perOrder, Seq("l_orderkey"))
          .filter(col("n_supp") >= 2)
        val atMax = lines.filter(col("l_shipdate") === col("max_ship"))
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_at_max"),
            max(col("l_suppkey")).as("last_supp"))
          .filter(col("n_at_max") === 1L)
        val perSupp = atMax.groupBy(col("last_supp").as("s_suppkey"))
          .agg(count(lit(1)).as("n_blocked_orders"))
        perSupp
          .join(t(s, dir, "supplier"), Seq("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("n_name").as("nation"), col("n_blocked_orders"))
          .orderBy(col("n_blocked_orders").desc, col("s_suppkey"))
          .limit(25)
      },
      Some("""WITH po AS (
             |  SELECT l_orderkey, MAX(l_shipdate) AS max_ship,
             |    COUNT(DISTINCT l_suppkey) AS n_supp
             |  FROM lineitem GROUP BY 1),
             |atmax AS (
             |  SELECT l.l_orderkey,
             |    COUNT(*) AS n_at_max,
             |    MAX(l.l_suppkey) AS last_supp
             |  FROM lineitem l
             |  JOIN po ON po.l_orderkey = l.l_orderkey
             |  WHERE po.n_supp >= 2 AND l.l_shipdate = po.max_ship
             |  GROUP BY 1
             |  HAVING COUNT(*) = 1),
             |ps AS (
             |  SELECT last_supp AS s_suppkey,
             |    COUNT(*) AS n_blocked_orders
             |  FROM atmax GROUP BY 1)
             |SELECT ps.s_suppkey, s.s_name, n.n_name AS nation,
             |  ps.n_blocked_orders
             |FROM ps
             |JOIN supplier s ON s.s_suppkey = ps.s_suppkey
             |JOIN nation n ON n.n_nationkey = s.s_nationkey
             |ORDER BY n_blocked_orders DESC, ps.s_suppkey
             |LIMIT 25""".stripMargin)),

    // EXT — idle high-balance customers (TPC-H Q22 shape): customers
    // whose account balance beats the positive-balance average but who
    // placed no order since 2000-01-01, grouped by nation. The scalar "average"
    // subquery becomes one broadcast 1-row frame, the "has no orders"
    // an anti join; the above-average predicate stays EXACT by cross-
    // multiplying decimals (bal·n > Σbal) instead of comparing to a
    // rounded mean.
    EngineQuery("q230_idle_rich_customers",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            money(col("c_acctbal")).as("bal"))
        val avgF = cust.filter(col("bal") > 0)
          .agg(sum(col("bal")).as("bal_sum"), count(lit(1)).as("bal_n"))
        val recent = t(s, dir, "orders")
          .filter(col("o_orderdate").cast("date") >=
            lit("2000-01-01").cast("date"))
          .select(col("o_custkey"))
        val idle = cust.crossJoin(broadcast(avgF))
          .filter(col("bal") * col("bal_n") > col("bal_sum"))
          .join(recent, col("c_custkey") === col("o_custkey"),
            "left_anti")
        idle
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("bal")).cast("double").as("total_balance"))
          .orderBy("nation")
      },
      Some("""WITH avgf AS (
             |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
             |      AS DECIMAL(18,2)) AS bal_sum,
             |    COUNT(*) AS bal_n
             |  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0),
             |idle AS (
             |  SELECT c.c_custkey, c.c_nationkey,
             |    CAST(c.c_acctbal AS DECIMAL(18,2)) AS bal
             |  FROM customer c CROSS JOIN avgf
             |  WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * bal_n > bal_sum
             |    AND NOT EXISTS (SELECT 1 FROM orders o
             |      WHERE o.o_custkey = c.c_custkey
             |        AND CAST(o.o_orderdate AS DATE) >= DATE '2000-01-01'))
             |SELECT n.n_name AS nation, COUNT(*) AS n_customers,
             |  CAST(SUM(i.bal) AS DOUBLE) AS total_balance
             |FROM idle i JOIN nation n ON n.n_nationkey = i.c_nationkey
             |GROUP BY 1 ORDER BY nation""".stripMargin)),

    // EXT — fulfillment latency by priority: days from order placement
    // to the FIRST shipment, per priority class — the SLA panel. One
    // per-order min-shipdate aggregate joined back to orders; exact
    // integer day sums; mean closes in one division.
    EngineQuery("q231_fulfillment_latency",
      (s, dir) => {
        val firstShip = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(min(col("l_shipdate").cast("date")).as("first_ship"))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            col("o_orderdate").cast("date").as("oday"))
        val lat = o.join(firstShip, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderpriority"),
            datediff(col("first_ship"), col("oday")).cast("long")
              .as("lag_days"))
        lat.groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            sum("lag_days").as("lag_sum"),
            min("lag_days").as("min_days"), max("lag_days").as("max_days"))
          .select(col("o_orderpriority"), col("n_orders"),
            (col("lag_sum").cast("double") / col("n_orders").cast("double"))
              .as("mean_days"),
            col("min_days"), col("max_days"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH fs AS (
             |  SELECT l_orderkey,
             |    MIN(CAST(l_shipdate AS DATE)) AS first_ship
             |  FROM lineitem GROUP BY 1),
             |lat AS (
             |  SELECT o.o_orderpriority,
             |    CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
             |      fs.first_ship) AS BIGINT) AS lag_days
             |  FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey)
             |SELECT o_orderpriority, COUNT(*) AS n_orders,
             |  CAST(CAST(SUM(lag_days) AS BIGINT) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS mean_days,
             |  MIN(lag_days) AS min_days, MAX(lag_days) AS max_days
             |FROM lat GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // EXT — supplier revenue concentration (HHI) per nation: the
    // antitrust-style Herfindahl index Σ shareᵢ². Each supplier's
    // share is quantized to an exact 1e-9-granular integer
    // s9 = rev·10^9 div tot, with the multiply carried in
    // DECIMAL(38)/HUGEINT so it can never overflow; the quantized
    // squares then sum inside int64 at ANY scale factor because
    // Σ s9² ≤ (max s9)·(Σ s9) ≤ 10^9·10^9 — shares sum to ≤ 1, so the
    // bound is SF-independent (unlike summing raw rev², whose
    // per-nation total exits int64 around sf10). One final double
    // division by the exactly-representable 10^18 keeps both engines
    // bit-identical.
    EngineQuery("q232_supplier_hhi",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .groupBy(col("l_suppkey"))
          .agg(expr(
            "sum(cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)) div 100")
            .as("rev_usd"))
        val j = rev.join(t(s, dir, "supplier"),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("rev_usd"))
        val tot = j.groupBy("nation")
          .agg(count(lit(1)).as("n_suppliers"),
            sum(col("rev_usd")).as("tot_usd"))
        val shares = j.join(broadcast(tot), "nation")
          .select(col("nation"), expr(
            "cast((cast(rev_usd as decimal(38,0)) * 1000000000) div tot_usd as bigint)")
            .as("s9"))
        shares.groupBy("nation")
          .agg(sum(col("s9") * col("s9")).as("ssq"))
          .join(broadcast(tot), "nation")
          .select(col("nation"), col("n_suppliers"), col("tot_usd"),
            (col("ssq").cast("double") / lit(1e18)).as("hhi"))
          .orderBy("nation")
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * 100 AS BIGINT)) AS BIGINT) // 100 AS rev_usd
             |  FROM lineitem GROUP BY 1),
             |j AS (
             |  SELECT n.n_name AS nation, r.rev_usd
             |  FROM rev r
             |  JOIN supplier s ON s.s_suppkey = r.l_suppkey
             |  JOIN nation n ON n.n_nationkey = s.s_nationkey),
             |tot AS (
             |  SELECT nation, COUNT(*) AS n_suppliers,
             |    CAST(SUM(rev_usd) AS BIGINT) AS tot_usd
             |  FROM j GROUP BY 1),
             |shares AS (
             |  SELECT j.nation,
             |    CAST((CAST(j.rev_usd AS HUGEINT) * 1000000000)
             |      // t.tot_usd AS BIGINT) AS s9
             |  FROM j JOIN tot t ON t.nation = j.nation)
             |SELECT s.nation, t.n_suppliers, t.tot_usd,
             |  CAST(CAST(SUM(s.s9 * s.s9) AS BIGINT) AS DOUBLE) / 1e18
             |    AS hhi
             |FROM shares s JOIN tot t ON t.nation = s.nation
             |GROUP BY 1, 2, 3 ORDER BY s.nation""".stripMargin)),

    // EXT — growth accounting: each day's active users split into NEW
    // (first activity today), RETAINED (also active yesterday) and
    // RESURRECTED (active before, but not yesterday), plus yesterday's
    // CHURNED (active yesterday, silent today). One distinct
    // (user, day) frame, per-user first-day and lag windows partitioned
    // BY USER, then a day-level rollup — the standard DAU ledger.
    EngineQuery("q233_growth_accounting",
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val flagged = ud
          .withColumn("first_day", min(col("day")).over(
            Window.partitionBy("user_id")))
          .withColumn("prev_day", lag(col("day"), 1).over(w))
          .withColumn("next_day", lead(col("day"), 1).over(w))
        val daily = flagged.groupBy("day").agg(
          sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("day") =!= col("first_day") &&
            col("prev_day") === date_add(col("day"), -1), 1L)
            .otherwise(0L)).as("n_retained"),
          sum(when(col("day") =!= col("first_day") &&
            (col("prev_day").isNull ||
              col("prev_day") =!= date_add(col("day"), -1)), 1L)
            .otherwise(0L)).as("n_resurrected"),
          sum(when(col("next_day").isNull ||
            col("next_day") =!= date_add(col("day"), 1), 1L)
            .otherwise(0L)).as("n_churning_after"))
        daily
          .withColumn("dau",
            col("n_new") + col("n_retained") + col("n_resurrected"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |flagged AS (
             |  SELECT user_id, day,
             |    MIN(day) OVER (PARTITION BY user_id) AS first_day,
             |    lag(day) OVER (PARTITION BY user_id ORDER BY day)
             |      AS prev_day,
             |    lead(day) OVER (PARTITION BY user_id ORDER BY day)
             |      AS next_day
             |  FROM ud)
             |SELECT day,
             |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_new,
             |  CAST(SUM(CASE WHEN day <> first_day
             |    AND prev_day = day - INTERVAL 1 DAY
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
             |  CAST(SUM(CASE WHEN day <> first_day
             |    AND (prev_day IS NULL
             |      OR prev_day <> day - INTERVAL 1 DAY)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
             |  CAST(SUM(CASE WHEN next_day IS NULL
             |    OR next_day <> day + INTERVAL 1 DAY
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_churning_after,
             |  CAST(SUM(CASE WHEN day = first_day THEN 1 ELSE 0 END)
             |    + SUM(CASE WHEN day <> first_day
             |        AND prev_day = day - INTERVAL 1 DAY
             |        THEN 1 ELSE 0 END)
             |    + SUM(CASE WHEN day <> first_day
             |        AND (prev_day IS NULL
             |          OR prev_day <> day - INTERVAL 1 DAY)
             |        THEN 1 ELSE 0 END) AS BIGINT) AS dau
             |FROM flagged GROUP BY 1 ORDER BY day""".stripMargin)),

    // EXT — stickiness ratios: per day, DAU alongside trailing 7-day
    // and 28-day distinct actives (WAU/MAU) via a bounded day-offset
    // self-join over the distinct (user, day) frame — distinct-over-
    // range windows don't exist, and the 28× bounded fan-out
    // distributes where a naive per-day COUNT(DISTINCT subquery)
    // re-scans. DAU/WAU and DAU/MAU close as single divisions.
    EngineQuery("q234_stickiness",
      (s, dir) => {
        val ud = Tables.events(s, dir)
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
        val days = ud.select(col("day").as("d")).distinct()
        val windowed = days.join(ud,
            datediff(col("d"), col("day")).between(0, 27))
          .groupBy("d")
          .agg(
            count_distinct(when(col("day") === col("d"),
              col("user_id"))).as("dau"),
            count_distinct(when(datediff(col("d"), col("day")) <= 6,
              col("user_id"))).as("wau"),
            count_distinct(col("user_id")).as("mau"))
        windowed.select(col("d").as("day"), col("dau"), col("wau"),
            col("mau"),
            (col("dau").cast("double") / col("wau").cast("double"))
              .as("dau_over_wau"),
            (col("dau").cast("double") / col("mau").cast("double"))
              .as("dau_over_mau"))
          .orderBy("day")
      },
      Some("""WITH ud AS (
             |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |days AS (SELECT DISTINCT day AS d FROM ud),
             |w AS (
             |  SELECT days.d,
             |    COUNT(DISTINCT CASE WHEN ud.day = days.d
             |      THEN ud.user_id END) AS dau,
             |    COUNT(DISTINCT CASE WHEN date_diff('day', ud.day,
             |        days.d) <= 6 THEN ud.user_id END) AS wau,
             |    COUNT(DISTINCT ud.user_id) AS mau
             |  FROM days JOIN ud
             |    ON date_diff('day', ud.day, days.d) BETWEEN 0 AND 27
             |  GROUP BY 1)
             |SELECT d AS day, dau, wau, mau,
             |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS dau_over_wau,
             |  CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE) AS dau_over_mau
             |FROM w ORDER BY day""".stripMargin)),

    // EXT — power-user curve (the L30 histogram): how many users were
    // active exactly k days in the observed window. Two keyed
    // aggregates; the reference's engagement-depth panel.
    EngineQuery("q235_power_user_curve",
      (s, dir) => {
        val perUser = Tables.events(s, dir)
          .select(col("user_id"), col("ts").cast("date").as("day"))
          .distinct()
          .groupBy("user_id").agg(count(lit(1)).as("days_active"))
        perUser.groupBy("days_active")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("days_active")
      },
      Some("""WITH pu AS (
             |  SELECT user_id, COUNT(*) AS days_active
             |  FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) FROM events)
             |    t(user_id, day)
             |  GROUP BY 1)
             |SELECT days_active, COUNT(*) AS n_users
             |FROM pu GROUP BY 1 ORDER BY days_active""".stripMargin)),

    // EXT — cohort lifetime value: users cohorted by first-active
    // week, cumulative per-user purchase value by week-since-first —
    // the LTV triangle. Money stays exact DECIMAL through the
    // cumulative window (partitioned by cohort); one cast at the end.
    EngineQuery("q236_cohort_ltv",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts").cast("date").as("day"),
            when(col("event_type") === "purchase", money(col("value")))
              .otherwise(money(lit(0))).as("v"))
        val first = ev.groupBy("user_id")
          .agg(min(col("day")).as("first_day"))
        val withCo = ev.join(first, Seq("user_id"))
          .withColumn("cohort_week",
            expr("datediff(first_day, DATE '2024-01-01') div 7"))
          .withColumn("week_n",
            expr("datediff(day, first_day) div 7"))
        val cell = withCo.groupBy("cohort_week", "week_n")
          .agg(count_distinct(col("user_id")).as("n_active"),
            sum(col("v")).as("rev"))
        val sizes = first
          .withColumn("cohort_week",
            expr("datediff(first_day, DATE '2024-01-01') div 7"))
          .groupBy("cohort_week")
          .agg(count(lit(1)).as("cohort_size"))
        val wCum = Window.partitionBy("cohort_week").orderBy("week_n")
          .rowsBetween(Window.unboundedPreceding, 0)
        cell.join(broadcast(sizes), Seq("cohort_week"))
          .withColumn("cum_rev", sum(col("rev")).over(wCum))
          .select(col("cohort_week"), col("week_n"), col("cohort_size"),
            col("n_active"),
            (col("cum_rev").cast("double") /
              col("cohort_size").cast("double")).as("ltv_per_user"))
          .orderBy("cohort_week", "week_n")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, CAST(ts AS DATE) AS day,
             |    CASE WHEN event_type = 'purchase'
             |      THEN CAST(value AS DECIMAL(18,2))
             |      ELSE CAST(0 AS DECIMAL(18,2)) END AS v
             |  FROM events),
             |fst AS (
             |  SELECT user_id, MIN(day) AS first_day
             |  FROM ev GROUP BY 1),
             |withco AS (
             |  SELECT e.user_id, e.v,
             |    date_diff('day', DATE '2024-01-01', f.first_day) // 7
             |      AS cohort_week,
             |    date_diff('day', f.first_day, e.day) // 7 AS week_n
             |  FROM ev e JOIN fst f ON f.user_id = e.user_id),
             |cell AS (
             |  SELECT cohort_week, week_n,
             |    COUNT(DISTINCT user_id) AS n_active,
             |    SUM(v) AS rev
             |  FROM withco GROUP BY 1, 2),
             |sizes AS (
             |  SELECT date_diff('day', DATE '2024-01-01', first_day) // 7
             |      AS cohort_week,
             |    COUNT(*) AS cohort_size
             |  FROM fst GROUP BY 1)
             |SELECT c.cohort_week, c.week_n, s.cohort_size, c.n_active,
             |  CAST(CAST(SUM(c.rev) OVER (PARTITION BY c.cohort_week
             |      ORDER BY c.week_n
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS DECIMAL(28,2)) AS DOUBLE)
             |    / CAST(s.cohort_size AS DOUBLE) AS ltv_per_user
             |FROM cell c JOIN sizes s ON s.cohort_week = c.cohort_week
             |ORDER BY c.cohort_week, week_n""".stripMargin)),

    // EXT — word-length profile per source: mean/max token length and
    // lexical size from one tokenize-and-aggregate pass (q34's
    // single-space convention). Corpus-quality fingerprint that
    // complements the per-doc quality score (q33) with a per-slice
    // rollup. Exact integer length sums.
    EngineQuery("q237_word_length_profile",
      (s, dir) => {
        val words = Tables.table(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
        words.groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            sum(length(col("w"))).as("len_sum"),
            max(length(col("w"))).as("max_len"),
            count_distinct(col("w")).as("vocab"))
          .select(col("source"), col("n_tokens"),
            (col("len_sum").cast("double") / col("n_tokens").cast("double"))
              .as("mean_len"),
            col("max_len"), col("vocab"),
            (col("vocab").cast("double") / col("n_tokens").cast("double"))
              .as("type_token_ratio"))
          .orderBy("source")
      },
      Some("""WITH words AS (
             |  SELECT d.source, w.w
             |  FROM documents d
             |  CROSS JOIN unnest(string_split(d.text, ' ')) AS w(w)
             |  WHERE w.w <> '')
             |SELECT source, COUNT(*) AS n_tokens,
             |  CAST(CAST(SUM(length(w)) AS BIGINT) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS mean_len,
             |  CAST(MAX(length(w)) AS INT) AS max_len,
             |  COUNT(DISTINCT w) AS vocab,
             |  CAST(COUNT(DISTINCT w) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS type_token_ratio
             |FROM words GROUP BY 1 ORDER BY source""".stripMargin)),

    // EXT — template-prefix mining: the top-20 three-token document
    // prefixes with share — the boilerplate/template detector that
    // catches "Subject: re:"-style scaffolding before dedup wastes
    // cycles on it. One projection (no explode) + keyed count.
    EngineQuery("q238_template_prefixes",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val pfx = docs.select(
          array_join(slice(split(col("text"), " "), 1, 3), " ")
            .as("prefix3"))
        val tot = docs.agg(count(lit(1)).as("n_docs"))
        pfx.groupBy("prefix3").agg(count(lit(1)).as("n_docs_with"))
          .orderBy(col("n_docs_with").desc, col("prefix3"))
          .limit(20)
          .crossJoin(broadcast(tot))
          .select(col("prefix3"), col("n_docs_with"),
            (col("n_docs_with").cast("double") /
              col("n_docs").cast("double")).as("share"))
          .orderBy(col("n_docs_with").desc, col("prefix3"))
      },
      Some("""WITH pfx AS (
             |  SELECT array_to_string(string_split(text, ' ')[1:3], ' ')
             |      AS prefix3
             |  FROM documents),
             |tot AS (SELECT COUNT(*) AS n_docs FROM documents),
             |top AS (
             |  SELECT prefix3, COUNT(*) AS n_docs_with
             |  FROM pfx GROUP BY 1
             |  ORDER BY n_docs_with DESC, prefix3 LIMIT 20)
             |SELECT prefix3, n_docs_with,
             |  CAST(n_docs_with AS DOUBLE) / CAST(n_docs AS DOUBLE)
             |    AS share
             |FROM top CROSS JOIN tot
             |ORDER BY n_docs_with DESC, prefix3""".stripMargin)),

    // EXT — character-class profile per source: alpha / digit / space /
    // other fractions from regexp counts — the encoding-damage and
    // machine-generated-text screen. Pure per-row regexp_count (one
    // fused scan), exact integer sums, ratios at the end.
    EngineQuery("q239_char_class_profile",
      (s, dir) => {
        val d = Tables.table(s, dir, "documents")
          .select(col("source"), length(col("text")).as("n"),
            regexp_count(col("text"), lit("[A-Za-z]")).as("alpha"),
            regexp_count(col("text"), lit("[0-9]")).as("digit"),
            regexp_count(col("text"), lit(" ")).as("space"))
        d.groupBy("source")
          .agg(sum("n").as("n_chars"), sum("alpha").as("a"),
            sum("digit").as("dg"), sum("space").as("sp"))
          .select(col("source"), col("n_chars"),
            (col("a").cast("double") / col("n_chars").cast("double"))
              .as("alpha_frac"),
            (col("dg").cast("double") / col("n_chars").cast("double"))
              .as("digit_frac"),
            (col("sp").cast("double") / col("n_chars").cast("double"))
              .as("space_frac"),
            ((col("n_chars") - col("a") - col("dg") - col("sp"))
              .cast("double") / col("n_chars").cast("double"))
              .as("other_frac"))
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT source, length(text) AS n,
             |    len(regexp_extract_all(text, '[A-Za-z]')) AS alpha,
             |    len(regexp_extract_all(text, '[0-9]')) AS digit,
             |    len(regexp_extract_all(text, ' ')) AS space
             |  FROM documents)
             |SELECT source,
             |  CAST(SUM(n) AS BIGINT) AS n_chars,
             |  CAST(CAST(SUM(alpha) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS alpha_frac,
             |  CAST(CAST(SUM(digit) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS digit_frac,
             |  CAST(CAST(SUM(space) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS space_frac,
             |  CAST(CAST(SUM(n) AS BIGINT) - CAST(SUM(alpha) AS BIGINT)
             |      - CAST(SUM(digit) AS BIGINT)
             |      - CAST(SUM(space) AS BIGINT) AS DOUBLE)
             |    / CAST(CAST(SUM(n) AS BIGINT) AS DOUBLE) AS other_frac
             |FROM d GROUP BY 1 ORDER BY source""".stripMargin)),

    // EXT — hapax legomena ratio per source: the fraction of each
    // slice's vocabulary that occurs exactly once — the corpus-level
    // lexical-richness screen next to q121's per-doc n-gram diversity.
    // Token counts aggregate once; the hapax rollup reads the counted
    // frame, never the corpus twice.
    EngineQuery("q240_hapax_ratio",
      (s, dir) => {
        val counts = Tables.table(s, dir, "documents")
          .select(col("source"),
            explode(split(col("text"), " ")).as("w"))
          .filter(col("w") =!= "")
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        counts.groupBy("source")
          .agg(count(lit(1)).as("vocab"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
            sum("c").as("n_tokens"))
          .select(col("source"), col("vocab"), col("hapax"),
            col("n_tokens"),
            (col("hapax").cast("double") / col("vocab").cast("double"))
              .as("hapax_ratio"))
          .orderBy("source")
      },
      Some("""WITH counts AS (
             |  SELECT d.source, w.w, COUNT(*) AS c
             |  FROM documents d
             |  CROSS JOIN unnest(string_split(d.text, ' ')) AS w(w)
             |  WHERE w.w <> ''
             |  GROUP BY 1, 2)
             |SELECT source, COUNT(*) AS vocab,
             |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS hapax,
             |  CAST(SUM(c) AS BIGINT) AS n_tokens,
             |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
             |FROM counts GROUP BY 1 ORDER BY source""".stripMargin)),

    // EXT — 2-D skyline (Pareto frontier): customers not dominated on
    // (account balance, order count) — the classic multi-criteria
    // operator missing from plain SQL engines. Computed WITHOUT an
    // all-pairs dominance join: sort one dimension descending, keep
    // rows that strictly beat the running maximum of the other —
    // equivalent to the frontier for the strict-dominance definition.
    // The running max runs over the per-balance-bucket sharded frame
    // (q217 pattern) so no task sorts every customer.
    EngineQuery("q241_skyline_customers",
      (s, dir) => {
        val perCust = t(s, dir, "orders")
          .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
        val c = t(s, dir, "customer")
          .select(col("c_custkey"),
            (money(col("c_acctbal")) * 100).cast("long").as("bal100"))
          .join(perCust, col("c_custkey") === col("o_custkey"))
        // frontier = rows where no other row has (bal >=, orders >=,
        // one strict). With ties broken toward keeping the smaller
        // custkey, scan balances descending and keep strict improvers
        // on n_orders; equal-balance groups keep only their best
        // n_orders (then min custkey).
        val best = c.groupBy("bal100")
          .agg(max("n_orders").as("n_orders"))
        val wCum = Window.orderBy(col("bal100").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val sky = best
          .withColumn("prior_max",
            coalesce(max(col("n_orders")).over(wCum), lit(-1L)))
          .filter(col("n_orders") > col("prior_max"))
        sky.join(c, Seq("bal100", "n_orders"))
          .groupBy("bal100", "n_orders")
          .agg(min("c_custkey").as("custkey"))
          .select(col("custkey"), col("bal100"), col("n_orders"))
          .orderBy(col("bal100").desc)
      },
      Some("""WITH pc AS (
             |  SELECT o_custkey, COUNT(*) AS n_orders
             |  FROM orders GROUP BY 1),
             |c AS (
             |  SELECT cu.c_custkey,
             |    CAST(CAST(cu.c_acctbal AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS bal100,
             |    pc.n_orders
             |  FROM customer cu JOIN pc ON pc.o_custkey = cu.c_custkey),
             |best AS (
             |  SELECT bal100, CAST(MAX(n_orders) AS BIGINT) AS n_orders
             |  FROM c GROUP BY 1),
             |sky AS (
             |  SELECT bal100, n_orders FROM (
             |    SELECT bal100, n_orders,
             |      COALESCE(CAST(MAX(n_orders) OVER (
             |        ORDER BY bal100 DESC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |        AS BIGINT), -1) AS prior_max
             |    FROM best) x
             |  WHERE n_orders > prior_max)
             |SELECT MIN(c.c_custkey) AS custkey, s.bal100, s.n_orders
             |FROM sky s
             |JOIN c ON c.bal100 = s.bal100 AND c.n_orders = s.n_orders
             |GROUP BY 2, 3
             |ORDER BY s.bal100 DESC""".stripMargin)),

    // EXT — mutual information between event type and day-of-week, in
    // nats: the information-theoretic twin of q194's χ² — how many
    // bits the weekday actually tells you about the mix. Exact joint /
    // marginal counts; each cell's p·ln(p/(px·py)) term is an
    // identical double, accumulated in 1e-9 fixed point (the q212
    // convention) so summation order cannot split the gate.
    EngineQuery("q242_mutual_information",
      (s, dir) => {
        val cells = t(s, dir, "events")
          .select(col("event_type"),
            (dayofweek(col("ts").cast("date")) - 1).cast("long")
              .as("dow"))
          .groupBy("event_type", "dow").agg(count(lit(1)).as("nxy"))
        val rowT = cells.groupBy("event_type").agg(sum("nxy").as("nx"))
        val colT = cells.groupBy("dow").agg(sum("nxy").as("ny"))
        val tot = cells.agg(sum("nxy").as("n"))
        val p = col("nxy").cast("double") / col("n").cast("double")
        val px = col("nx").cast("double") / col("n").cast("double")
        val py = col("ny").cast("double") / col("n").cast("double")
        val term = p * log(p / (px * py))
        val termQ = round(term * lit(1.0e9)).cast("long")
        cells.join(broadcast(rowT), "event_type")
          .join(broadcast(colT), "dow")
          .crossJoin(broadcast(tot))
          .agg(max(col("n")).as("n_events"),
            sum(termQ).as("mi_q9"))
          .select(col("n_events"), col("mi_q9"),
            (col("mi_q9").cast("double") / lit(1.0e9)).as("mi_nats"))
      },
      Some("""WITH cells AS (
             |  SELECT event_type,
             |    CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow,
             |    COUNT(*) AS nxy
             |  FROM events GROUP BY 1, 2),
             |rt AS (SELECT event_type, CAST(SUM(nxy) AS BIGINT) AS nx
             |       FROM cells GROUP BY 1),
             |ct AS (SELECT dow, CAST(SUM(nxy) AS BIGINT) AS ny
             |       FROM cells GROUP BY 1),
             |tt AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM cells),
             |terms AS (
             |  SELECT tt.n,
             |    (CAST(c.nxy AS DOUBLE) / CAST(tt.n AS DOUBLE))
             |    * ln((CAST(c.nxy AS DOUBLE) / CAST(tt.n AS DOUBLE))
             |      / ((CAST(rt.nx AS DOUBLE) / CAST(tt.n AS DOUBLE))
             |        * (CAST(ct.ny AS DOUBLE) / CAST(tt.n AS DOUBLE))))
             |      AS term
             |  FROM cells c
             |  JOIN rt ON rt.event_type = c.event_type
             |  JOIN ct ON ct.dow = c.dow
             |  CROSS JOIN tt)
             |SELECT MAX(n) AS n_events,
             |  CAST(SUM(CAST(round(term * 1000000000.0) AS BIGINT))
             |    AS BIGINT) AS mi_q9,
             |  CAST(CAST(SUM(CAST(round(term * 1000000000.0) AS BIGINT))
             |    AS BIGINT) AS DOUBLE) / 1000000000.0 AS mi_nats
             |FROM terms""".stripMargin)),

    // EXT — one-way ANOVA variance decomposition: how much of the
    // event-value variance lives BETWEEN types vs WITHIN them (η² and
    // the F statistic). Sufficient statistics per group are exact
    // (n, Σcents, Σcents² — dollars for the squares, q215's int64
    // rule); SSB/SSW and F close in one fixed double chain.
    EngineQuery("q243_anova_eta2",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("event_type"),
            expr("cast(cast(value as decimal(18,2)) * 100 as bigint)" +
              " div 100").as("usd"))
        val per = ev.groupBy("event_type")
          .agg(count(lit(1)).as("ng"), sum("usd").as("sg"),
            sum(col("usd") * col("usd")).as("ssg"))
        val k = per.agg(count(lit(1)).as("n_groups"),
          sum("ng").as("n"), sum("sg").as("st"), sum("ssg").as("sst"))
        val j = per.crossJoin(broadcast(k))
        // SSB = Σ ng·(mg − m)² accumulated in 1e-6 fixed point per
        // group (identical doubles, order-free integer sum)
        val mg = col("sg").cast("double") / col("ng").cast("double")
        val m = col("st").cast("double") / col("n").cast("double")
        val ssbTermQ = round(col("ng").cast("double") *
          (mg - m) * (mg - m) * lit(1.0e6)).cast("long")
        val agg = j.groupBy("n_groups", "n", "st", "sst")
          .agg(sum(ssbTermQ).as("ssb_q6"))
        val ssb = col("ssb_q6").cast("double") / lit(1.0e6)
        val sstot = col("sst").cast("double") -
          col("st").cast("double") * col("st").cast("double") /
            col("n").cast("double")
        val ssw = sstot - ssb
        val dfb = (col("n_groups") - 1L).cast("double")
        val dfw = (col("n") - col("n_groups")).cast("double")
        agg.select(col("n_groups"), col("n").as("n_events"),
          ssb.as("ss_between"), ssw.as("ss_within"),
          (ssb / sstot).as("eta2"),
          ((ssb / dfb) / (ssw / dfw)).as("f_stat"))
      },
      Some("""WITH ev AS (
             |  SELECT event_type,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      // 100 AS usd
             |  FROM events),
             |per AS (
             |  SELECT event_type, COUNT(*) AS ng,
             |    CAST(SUM(usd) AS BIGINT) AS sg,
             |    CAST(SUM(usd * usd) AS BIGINT) AS ssg
             |  FROM ev GROUP BY 1),
             |k AS (
             |  SELECT COUNT(*) AS n_groups, CAST(SUM(ng) AS BIGINT) AS n,
             |    CAST(SUM(sg) AS BIGINT) AS st,
             |    CAST(SUM(ssg) AS BIGINT) AS sst
             |  FROM per),
             |terms AS (
             |  SELECT k.n_groups, k.n, k.st, k.sst,
             |    CAST(round(CAST(p.ng AS DOUBLE)
             |      * (CAST(p.sg AS DOUBLE) / CAST(p.ng AS DOUBLE)
             |        - CAST(k.st AS DOUBLE) / CAST(k.n AS DOUBLE))
             |      * (CAST(p.sg AS DOUBLE) / CAST(p.ng AS DOUBLE)
             |        - CAST(k.st AS DOUBLE) / CAST(k.n AS DOUBLE))
             |      * 1000000.0) AS BIGINT) AS ssb_term_q6
             |  FROM per p CROSS JOIN k),
             |agg AS (
             |  SELECT n_groups, n, st, sst,
             |    CAST(SUM(ssb_term_q6) AS BIGINT) AS ssb_q6
             |  FROM terms GROUP BY 1, 2, 3, 4)
             |SELECT n_groups, n AS n_events,
             |  CAST(ssb_q6 AS DOUBLE) / 1000000.0 AS ss_between,
             |  (CAST(sst AS DOUBLE)
             |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
             |      / CAST(n AS DOUBLE))
             |  - CAST(ssb_q6 AS DOUBLE) / 1000000.0 AS ss_within,
             |  (CAST(ssb_q6 AS DOUBLE) / 1000000.0)
             |  / (CAST(sst AS DOUBLE)
             |    - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
             |      / CAST(n AS DOUBLE)) AS eta2,
             |  ((CAST(ssb_q6 AS DOUBLE) / 1000000.0)
             |    / CAST(n_groups - 1 AS DOUBLE))
             |  / (((CAST(sst AS DOUBLE)
             |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
             |        / CAST(n AS DOUBLE))
             |    - CAST(ssb_q6 AS DOUBLE) / 1000000.0)
             |    / CAST(n - n_groups AS DOUBLE)) AS f_stat
             |FROM agg""".stripMargin)),

    // EXT — duplicate-invoice screen: order pairs from the same
    // customer whose totals land in the same $10k band within 90 days
    // — the finance double-charge audit. Blocking on the exact
    // (custkey, band) key keeps the self-join keyed (never all pairs);
    // the day-window filter prunes inside each block. Band blocking is
    // the declared semantics: exact-equal continuous totals never
    // collide, near-equal ones are exactly what the screen hunts.
    EngineQuery("q244_duplicate_invoices",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            expr("cast(cast(o_totalprice as decimal(18,2)) * 100" +
              " as bigint) div 1000000").as("band"),
            col("o_orderdate").cast("date").as("day"))
        val a = o.select(col("o_custkey"), col("band"),
          col("o_orderkey").as("k1"), col("day").as("d1"))
        val b = o.select(col("o_custkey"), col("band"),
          col("o_orderkey").as("k2"), col("day").as("d2"))
        a.join(b, Seq("o_custkey", "band"))
          .filter(col("k1") < col("k2") &&
            abs(datediff(col("d2"), col("d1"))) <= 90)
          .select(col("o_custkey"), col("band"), col("k1"), col("k2"),
            col("d1"), col("d2"),
            abs(datediff(col("d2"), col("d1"))).cast("long")
              .as("days_apart"))
          .orderBy("o_custkey", "k1", "k2")
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey, o_custkey,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) // 1000000 AS band,
             |    CAST(o_orderdate AS DATE) AS day
             |  FROM orders)
             |SELECT a.o_custkey, a.band,
             |  a.o_orderkey AS k1, b.o_orderkey AS k2,
             |  a.day AS d1, b.day AS d2,
             |  CAST(abs(date_diff('day', a.day, b.day)) AS BIGINT)
             |    AS days_apart
             |FROM o a
             |JOIN o b ON b.o_custkey = a.o_custkey
             |  AND b.band = a.band AND a.o_orderkey < b.o_orderkey
             |WHERE abs(date_diff('day', a.day, b.day)) <= 90
             |ORDER BY a.o_custkey, k1, k2""".stripMargin)),

    // EXT — price-consistency audit: the 20 parts whose lineitem
    // unit-ish price (extendedprice/quantity kept as an exact integer
    // ratio comparison) spreads widest across the fact table — the
    // master-data-quality screen. Spread ordering is decided on the
    // exact cross-multiplied integer ratio max·q_min vs min·q_max, so
    // the top-20 cut is engine-stable.
    EngineQuery("q245_price_spread_audit",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (money(col("l_extendedprice")) * 100).cast("long").as("e"),
            (money(col("l_quantity")) * 100).cast("long").as("q"))
          .filter(col("q") > 0)
        val per = li
          .withColumn("unit_micents", expr("(e * 10000) div q"))
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n_lines"),
            min("unit_micents").as("min_unit"),
            max("unit_micents").as("max_unit"))
          .filter(col("n_lines") >= 2)
        per
          .withColumn("spread_ratio",
            col("max_unit").cast("double") / col("min_unit").cast("double"))
          .orderBy(col("spread_ratio").desc, col("l_partkey"))
          .limit(20)
          .select(col("l_partkey"), col("n_lines"), col("min_unit"),
            col("max_unit"), col("spread_ratio"))
      },
      Some("""WITH li AS (
             |  SELECT l_partkey,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS e,
             |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS q
             |  FROM lineitem
             |  WHERE CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             |    AS BIGINT) > 0),
             |per AS (
             |  SELECT l_partkey, COUNT(*) AS n_lines,
             |    MIN((e * 10000) // q) AS min_unit,
             |    MAX((e * 10000) // q) AS max_unit
             |  FROM li GROUP BY 1
             |  HAVING COUNT(*) >= 2)
             |SELECT l_partkey, n_lines, min_unit, max_unit,
             |  CAST(max_unit AS DOUBLE) / CAST(min_unit AS DOUBLE)
             |    AS spread_ratio
             |FROM per
             |ORDER BY spread_ratio DESC, l_partkey
             |LIMIT 20""".stripMargin)),

    // EXT — weighted median order value per priority, weighted by line
    // count: the "typical order as a customer experiences it" — heavy
    // orders count more. Weighted median = the exact value where the
    // cumulative weight crosses half the total, picked on integers
    // (cum·2 ≥ tot) — q91's element-pick discipline with weights.
    EngineQuery("q246_weighted_median",
      (s, dir) => {
        val lineCnt = t(s, dir, "lineitem")
          .groupBy(col("l_orderkey")).agg(count(lit(1)).as("w"))
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            (money(col("o_totalprice")) * 100).cast("long").as("cents"))
          .join(lineCnt, col("o_orderkey") === col("l_orderkey"))
        val per = o.groupBy("o_orderpriority", "cents")
          .agg(sum("w").as("w"))
        val wCum = Window.partitionBy("o_orderpriority").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = per.groupBy(col("o_orderpriority").as("p"))
          .agg(sum("w").as("tot_w"))
        val picked = per
          .withColumn("cum_w", sum(col("w")).over(wCum))
          .join(broadcast(tot), col("o_orderpriority") === col("p"))
          .filter(col("cum_w") * 2L >= col("tot_w"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("o_orderpriority").orderBy("cents")))
          .filter(col("rk") === 1)
        picked.select(col("o_orderpriority"), col("tot_w"),
            col("cents").as("weighted_median_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH lc AS (
             |  SELECT l_orderkey, COUNT(*) AS w
             |  FROM lineitem GROUP BY 1),
             |o AS (
             |  SELECT ord.o_orderpriority,
             |    CAST(CAST(ord.o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS cents,
             |    lc.w
             |  FROM orders ord JOIN lc ON lc.l_orderkey = ord.o_orderkey),
             |per AS (
             |  SELECT o_orderpriority, cents, CAST(SUM(w) AS BIGINT) AS w
             |  FROM o GROUP BY 1, 2),
             |tot AS (
             |  SELECT o_orderpriority AS p, CAST(SUM(w) AS BIGINT)
             |    AS tot_w
             |  FROM per GROUP BY 1),
             |cum AS (
             |  SELECT per.o_orderpriority, per.cents, t.tot_w,
             |    CAST(SUM(per.w) OVER (PARTITION BY per.o_orderpriority
             |      ORDER BY per.cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_w
             |  FROM per JOIN tot t ON t.p = per.o_orderpriority),
             |picked AS (
             |  SELECT o_orderpriority, tot_w, cents,
             |    row_number() OVER (PARTITION BY o_orderpriority
             |      ORDER BY cents) AS rk
             |  FROM cum WHERE cum_w * 2 >= tot_w)
             |SELECT o_orderpriority, tot_w,
             |  cents AS weighted_median_cents
             |FROM picked WHERE rk = 1
             |ORDER BY o_orderpriority""".stripMargin)),

    // EXT — binary-segmentation changepoint: the split day of the
    // daily-revenue series that maximizes the between-segment sum of
    // squares — CUSUM's (q166) model-based sibling. Prefix sums give
    // every candidate split's SSB from exact integers (whole-kUSD
    // series — int64-safe at every SF); the argmax is decided on the
    // unit-quantized SSB (identical doubles rounded, ties → earliest
    // day), so both engines pick the same split.
    EngineQuery("q247_binary_segmentation",
      (s, dir) => {
        // series in exact whole kUSD: SSB terms then stay inside the
        // correctly-rounded int64 fixed-point range at every SF
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(expr("sum(cast(cast(o_totalprice as decimal(18,2)) * 100" +
            " as bigint)) div 100000").as("rev"))
        val wOrd = Window.orderBy("day")
        val tot = daily.agg(count(lit(1)).as("n"), sum("rev").as("st"))
        val pre = daily
          .withColumn("i", row_number().over(wOrd))
          .withColumn("s1", sum(col("rev")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .crossJoin(broadcast(tot))
          .filter(col("i") < col("n"))
        val i = col("i").cast("double")
        val nd = col("n").cast("double")
        val m = col("st").cast("double") / nd
        val m1 = col("s1").cast("double") / i
        // try_divide: the i<n filter can co-evaluate with this
        // projection (the q202 lesson); the NULL branch never survives
        val m2 = expr("try_divide(cast(st - s1 as double), " +
          "cast(n - i as double))")
        val ssb = i * (m1 - m) * (m1 - m) + (nd - i) * (m2 - m) * (m2 - m)
        val scored = pre.withColumn("ssb_q",
          round(ssb).cast("long"))
        val best = scored.agg(max("ssb_q").as("best_q"))
        scored.crossJoin(broadcast(best))
          .filter(col("ssb_q") === col("best_q"))
          .orderBy("day").limit(1)
          .select(col("day").as("split_after_day"), i.as("n_left"),
            (nd - i).as("n_right"),
            m1.as("mean_left_kusd"), m2.as("mean_right_kusd"),
            col("ssb_q").cast("double").as("ss_between_q"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) // 100000 AS rev
             |  FROM orders GROUP BY 1),
             |tot AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT)
             |  AS st FROM daily),
             |pre AS (
             |  SELECT day,
             |    row_number() OVER (ORDER BY day) AS i,
             |    CAST(SUM(rev) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS s1,
             |    tot.n, tot.st
             |  FROM daily CROSS JOIN tot),
             |scored AS (
             |  SELECT day, i, n, s1, st,
             |    CAST(round(
             |      CAST(i AS DOUBLE)
             |      * (CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE)
             |        - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE)
             |        - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             |      + (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
             |      * (CAST(st - s1 AS DOUBLE)
             |          / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
             |        - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             |      * (CAST(st - s1 AS DOUBLE)
             |          / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
             |        - CAST(st AS DOUBLE) / CAST(n AS DOUBLE))
             |      ) AS BIGINT) AS ssb_q
             |  FROM pre WHERE i < n),
             |best AS (SELECT MAX(ssb_q) AS best_q FROM scored)
             |SELECT day AS split_after_day,
             |  CAST(i AS DOUBLE) AS n_left,
             |  CAST(n AS DOUBLE) - CAST(i AS DOUBLE) AS n_right,
             |  CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE) AS mean_left_kusd,
             |  CAST(st - s1 AS DOUBLE)
             |    / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE))
             |    AS mean_right_kusd,
             |  CAST(ssb_q AS DOUBLE) AS ss_between_q
             |FROM scored CROSS JOIN best
             |WHERE ssb_q = best_q
             |ORDER BY day LIMIT 1""".stripMargin)),

    EngineQuery("q248_max_drawdown",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(expr("sum(cast(cast(o_totalprice as decimal(18,2)) * 100" +
            " as bigint)) div 100 - 190000").as("delta"))
        // center on an arbitrary fixed baseline so the cumulative
        // series actually falls on weak days (a nonnegative daily
        // revenue series would have zero drawdown by construction)
        val wOrd = Window.orderBy("day")
        val cum = daily.withColumn("c", sum(col("delta")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("peak", max(col("c")).over(
            wOrd.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("dd", col("peak") - col("c"))
        val worst = cum.agg(max("dd").as("max_dd"))
        cum.crossJoin(broadcast(worst))
          .filter(col("dd") === col("max_dd"))
          .orderBy("day").limit(1)
          .select(col("day").as("trough_day"), col("peak").as("peak_usd"),
            col("c").as("trough_usd"), col("max_dd").as("drawdown_usd"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) // 100 - 190000 AS delta
             |  FROM orders GROUP BY 1),
             |cum AS (
             |  SELECT day,
             |    CAST(SUM(delta) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS c
             |  FROM daily),
             |peaks AS (
             |  SELECT day, c,
             |    CAST(MAX(c) OVER (ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS peak
             |  FROM cum),
             |dd AS (SELECT day, c, peak, peak - c AS dd FROM peaks),
             |worst AS (SELECT MAX(dd) AS max_dd FROM dd)
             |SELECT day AS trough_day, peak AS peak_usd,
             |  c AS trough_usd, max_dd AS drawdown_usd
             |FROM dd CROSS JOIN worst
             |WHERE dd = max_dd ORDER BY day LIMIT 1""".stripMargin)),

    // EXT — seasonal-naive forecast backtest: predict each of the last
    // 28 days' revenue as the mean of the prior 4 same-weekday values,
    // then score MAE / MAPE — the "is a model even worth it" baseline
    // every forecasting effort starts from. The lag features come from
    // a bounded 28-day-back self-join (4 rows per target); errors stay
    // exact integers until the two final ratios.
    EngineQuery("q250_snaive_backtest",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(expr("sum(cast(cast(o_totalprice as decimal(18,2)) * 100" +
            " as bigint)) div 100").as("rev"))
        val maxDay = daily.agg(max("day").as("max_day"))
        val targets = daily.crossJoin(broadcast(maxDay))
          .filter(datediff(col("max_day"), col("day")) < 28)
        val hist = daily.select(col("day").as("hday"),
          col("rev").as("hrev"))
        val joined = targets.join(hist,
            datediff(col("day"), col("hday")).isin(7, 14, 21, 28))
          .groupBy("day", "rev")
          .agg(count(lit(1)).as("n_lags"), sum("hrev").as("lag_sum"))
          .filter(col("n_lags") === 4L)
        val pred4 = col("lag_sum")
        val err4 = abs(col("rev") * 4L - pred4)
        val agg = joined.agg(count(lit(1)).as("n_days"),
          sum(err4).as("abs_err4_sum"),
          sum(col("rev")).as("actual_sum"))
        agg.select(col("n_days"),
          (col("abs_err4_sum").cast("double") / lit(4.0) /
            col("n_days").cast("double")).as("mae_usd"),
          (col("abs_err4_sum").cast("double") / lit(4.0) /
            col("actual_sum").cast("double")).as("wmape"))
      },
      Some("""WITH daily AS (
             |  SELECT CAST(o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) // 100 AS rev
             |  FROM orders GROUP BY 1),
             |mx AS (SELECT MAX(day) AS max_day FROM daily),
             |targets AS (
             |  SELECT d.day, d.rev
             |  FROM daily d CROSS JOIN mx
             |  WHERE date_diff('day', d.day, mx.max_day) < 28),
             |joined AS (
             |  SELECT t.day, t.rev, COUNT(*) AS n_lags,
             |    CAST(SUM(h.rev) AS BIGINT) AS lag_sum
             |  FROM targets t
             |  JOIN daily h ON date_diff('day', h.day, t.day)
             |    IN (7, 14, 21, 28)
             |  GROUP BY 1, 2
             |  HAVING COUNT(*) = 4)
             |SELECT COUNT(*) AS n_days,
             |  CAST(CAST(SUM(abs(rev * 4 - lag_sum)) AS BIGINT)
             |    AS DOUBLE) / 4.0 / CAST(COUNT(*) AS DOUBLE) AS mae_usd,
             |  CAST(CAST(SUM(abs(rev * 4 - lag_sum)) AS BIGINT)
             |    AS DOUBLE) / 4.0
             |    / CAST(CAST(SUM(rev) AS BIGINT) AS DOUBLE) AS wmape
             |FROM joined""".stripMargin)),

    // EXT — ABC-XYZ inventory matrix: q207's revenue classes crossed
    // with demand-variability classes (X: CV² < 0.25, Y: < 1.0, Z:
    // volatile) from exact per-part weekly demand moments. The
    // classic planning segmentation; the CV² class edges are decided
    // on exact integer cross-multiplication (n·Σq² − (Σq)² vs
    // k·(Σq)²), never a rounded CV.
    EngineQuery("q251_abc_xyz",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (money(col("l_quantity")) * 100).cast("long").as("q100"),
            (money(col("l_extendedprice")) *
              (lit(1) - money(col("l_discount"))) * 10000).cast("long")
              .as("rev_e4"),
            expr("datediff(cast(l_shipdate as date), DATE '1995-01-01')" +
              " div 7").as("wk"))
        val weekly = li.groupBy("l_partkey", "wk")
          .agg(sum("q100").as("wq"))
        val moments = weekly.groupBy("l_partkey")
          .agg(count(lit(1)).as("nw"), sum("wq").as("sq"),
            sum(col("wq") * col("wq")).as("sqq"))
        // CV² = (n·Σq²/(Σq)² − 1); class edges on integers:
        // X: n·Σq²·4 < 5·(Σq)²  (CV² < 0.25)
        // Y: n·Σq² < 2·(Σq)²    (CV² < 1)
        val xyz = moments.withColumn("xyz_class",
          when(col("nw") * col("sqq") * 4L < col("sq") * col("sq") * 5L,
            "X")
            .when(col("nw") * col("sqq") < col("sq") * col("sq") * 2L,
              "Y")
            .otherwise("Z"))
        val rev = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum("rev_e4").as("rev_e4"))
        val w = Window.orderBy(col("rev_e4").desc, col("pk"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val tot = rev.agg(sum("rev_e4").as("tot_e4"))
        val abc = rev
          .withColumn("cum", sum(col("rev_e4")).over(w))
          .crossJoin(broadcast(tot))
          .withColumn("abc_class",
            when(col("cum") * 100L <= col("tot_e4") * 80L, "A")
              .when(col("cum") * 100L <= col("tot_e4") * 95L, "B")
              .otherwise("C"))
        abc.join(xyz, col("pk") === col("l_partkey"))
          .groupBy("abc_class", "xyz_class")
          .agg(count(lit(1)).as("n_parts"),
            sum(col("rev_e4")).as("class_rev_e4"))
          .orderBy("abc_class", "xyz_class")
      },
      Some("""WITH li AS (
             |  SELECT l_partkey,
             |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      AS q100,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             |      * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000
             |      AS BIGINT) AS rev_e4,
             |    date_diff('day', DATE '1995-01-01',
             |      CAST(l_shipdate AS DATE)) // 7 AS wk
             |  FROM lineitem),
             |weekly AS (
             |  SELECT l_partkey, wk, CAST(SUM(q100) AS BIGINT) AS wq
             |  FROM li GROUP BY 1, 2),
             |moments AS (
             |  SELECT l_partkey, COUNT(*) AS nw,
             |    CAST(SUM(wq) AS BIGINT) AS sq,
             |    CAST(SUM(wq * wq) AS BIGINT) AS sqq
             |  FROM weekly GROUP BY 1),
             |xyz AS (
             |  SELECT l_partkey,
             |    CASE WHEN nw * sqq * 4 < sq * sq * 5 THEN 'X'
             |         WHEN nw * sqq < sq * sq * 2 THEN 'Y'
             |         ELSE 'Z' END AS xyz_class
             |  FROM moments),
             |rev AS (
             |  SELECT l_partkey AS pk, CAST(SUM(rev_e4) AS BIGINT)
             |    AS rev_e4
             |  FROM li GROUP BY 1),
             |tot AS (SELECT CAST(SUM(rev_e4) AS BIGINT) AS tot_e4
             |        FROM rev),
             |abc AS (
             |  SELECT pk, rev_e4,
             |    CASE
             |      WHEN CAST(SUM(rev_e4) OVER (
             |          ORDER BY rev_e4 DESC, pk
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) * 100 <= tot_e4 * 80 THEN 'A'
             |      WHEN CAST(SUM(rev_e4) OVER (
             |          ORDER BY rev_e4 DESC, pk
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |          AS BIGINT) * 100 <= tot_e4 * 95 THEN 'B'
             |      ELSE 'C' END AS abc_class
             |  FROM rev CROSS JOIN tot)
             |SELECT a.abc_class, x.xyz_class, COUNT(*) AS n_parts,
             |  CAST(SUM(a.rev_e4) AS BIGINT) AS class_rev_e4
             |FROM abc a JOIN xyz x ON x.l_partkey = a.pk
             |GROUP BY 1, 2 ORDER BY abc_class, xyz_class""".stripMargin)),

    // EXT — newsvendor stocking quantiles: for the 10 highest-volume
    // parts, the critical-fractile order-up-to level — the q-th
    // weekly-demand quantile at service levels 50/80/95% — picked as
    // an exact element (cum·100 ≥ q·total over the per-demand-value
    // frame), the inventory-theory cousin of q91's percentiles.
    EngineQuery("q252_newsvendor_quantiles",
      (s, dir) => {
        val weekly = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (money(col("l_quantity")) * 100).cast("long").as("q100"),
            expr("datediff(cast(l_shipdate as date), DATE '1995-01-01')" +
              " div 7").as("wk"))
          .groupBy("l_partkey", "wk").agg(sum("q100").as("wq"))
        val top = weekly.groupBy("l_partkey")
          .agg(sum("wq").as("tot_q"), count(lit(1)).as("n_weeks"))
          .orderBy(col("tot_q").desc, col("l_partkey")).limit(10)
        val per = weekly.join(broadcast(top.select("l_partkey")),
            Seq("l_partkey"))
          .groupBy("l_partkey", "wq").agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy("l_partkey").orderBy("wq")
          .rowsBetween(Window.unboundedPreceding, 0)
        // r15 (guide §1.2 don't-recompute): `cum` fed three nearly
        // identical pick() subtrees — the weekly aggregate + window ran
        // 3× (28 exchanges profiled). Cut the tiny per-top-part
        // cumulative frame once and take all three service levels in a
        // single (part, level) window pass, exactly the oracle's own
        // `CROSS JOIN levels` formulation — same rows, one execution.
        val cum = Frames.cut(per.withColumn("cum", sum(col("c")).over(wCum))
          .join(broadcast(top), Seq("l_partkey")))
        val levels = Seq(50L, 80L, 95L)
          .map(p => lit(p).as("service_pct"))
        val wPick = Window.partitionBy("l_partkey", "service_pct")
          .orderBy("wq")
        cum.withColumn("service_pct",
            explode(array(levels: _*)))
          .filter(col("cum") * 100L >= col("n_weeks") * col("service_pct"))
          .withColumn("rk", row_number().over(wPick))
          .filter(col("rk") === 1)
          .select(col("l_partkey"), col("n_weeks"), col("service_pct"),
            col("wq").as("order_up_to_q100"))
          .orderBy("l_partkey", "service_pct")
      },
      Some("""WITH weekly AS (
             |  SELECT l_partkey,
             |    date_diff('day', DATE '1995-01-01',
             |      CAST(l_shipdate AS DATE)) // 7 AS wk,
             |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS wq
             |  FROM lineitem GROUP BY 1, 2),
             |top AS (
             |  SELECT l_partkey, CAST(SUM(wq) AS BIGINT) AS tot_q,
             |    COUNT(*) AS n_weeks
             |  FROM weekly GROUP BY 1
             |  ORDER BY tot_q DESC, l_partkey LIMIT 10),
             |per AS (
             |  SELECT w.l_partkey, w.wq, COUNT(*) AS c
             |  FROM weekly w JOIN top t ON t.l_partkey = w.l_partkey
             |  GROUP BY 1, 2),
             |cum AS (
             |  SELECT p.l_partkey, p.wq, t.n_weeks,
             |    CAST(SUM(p.c) OVER (PARTITION BY p.l_partkey
             |      ORDER BY p.wq
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum
             |  FROM per p JOIN top t ON t.l_partkey = p.l_partkey),
             |levels AS (
             |  SELECT CAST(unnest([50, 80, 95]) AS BIGINT)
             |    AS service_pct),
             |picked AS (
             |  SELECT c.l_partkey, c.n_weeks, l.service_pct, c.wq,
             |    row_number() OVER (
             |      PARTITION BY c.l_partkey, l.service_pct
             |      ORDER BY c.wq) AS rk
             |  FROM cum c CROSS JOIN levels l
             |  WHERE c.cum * 100 >= c.n_weeks * l.service_pct)
             |SELECT l_partkey, n_weeks, service_pct,
             |  wq AS order_up_to_q100
             |FROM picked WHERE rk = 1
             |ORDER BY l_partkey, service_pct""".stripMargin)),

    // EXT — price-elasticity proxy: per brand, the Pearson correlation
    // between lineitem discount and quantity — "do discounts move
    // volume". Exact integer moments per brand (q156's discipline),
    // one fixed double chain; degenerate zero-variance brands emit
    // NULL on an exact integer predicate.
    EngineQuery("q253_discount_elasticity",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (money(col("l_discount")) * 100).cast("long").as("d100"),
            (money(col("l_quantity")) * 100).cast("long").as("q100"))
          .join(t(s, dir, "part")
            .select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
        val agg = li.groupBy("p_brand").agg(count(lit(1)).as("n"),
          sum("d100").as("sx"), sum("q100").as("sy"),
          sum(col("d100") * col("d100")).as("sxx"),
          sum(col("q100") * col("q100")).as("syy"),
          sum(col("d100") * col("q100")).as("sxy"))
        val nd = col("n").cast("double")
        val num = nd * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")
        val vx = col("n") * col("sxx") - col("sx") * col("sx")
        val vy = col("n") * col("syy") - col("sy") * col("sy")
        val den = sqrt(vx.cast("double")) * sqrt(vy.cast("double"))
        agg.select(col("p_brand"), col("n").as("n_lines"),
            when(vx === 0L || vy === 0L, lit(null).cast("double"))
              .otherwise(num / den).as("discount_qty_corr"))
          .orderBy("p_brand")
      },
      Some("""WITH li AS (
             |  SELECT p.p_brand,
             |    CAST(CAST(l.l_discount AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS d100,
             |    CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS q100
             |  FROM lineitem l
             |  JOIN part p ON p.p_partkey = l.l_partkey),
             |agg AS (
             |  SELECT p_brand, COUNT(*) AS n,
             |    CAST(SUM(d100) AS BIGINT) AS sx,
             |    CAST(SUM(q100) AS BIGINT) AS sy,
             |    CAST(SUM(d100 * d100) AS BIGINT) AS sxx,
             |    CAST(SUM(q100 * q100) AS BIGINT) AS syy,
             |    CAST(SUM(d100 * q100) AS BIGINT) AS sxy
             |  FROM li GROUP BY 1)
             |SELECT p_brand, n AS n_lines,
             |  CASE WHEN n * sxx - sx * sx = 0
             |      OR n * syy - sy * sy = 0 THEN NULL
             |    ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
             |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END
             |    AS discount_qty_corr
             |FROM agg ORDER BY p_brand""".stripMargin)),

    // EXT — repeat-purchase cadence: the distribution of days between
    // a customer's consecutive orders — histogram by week-bucket plus
    // the exact overall median gap. Per-customer lag windows (fully
    // parallel), then a value-frame element pick.
    EngineQuery("q254_repeat_interval",
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("day", "o_orderkey")
        val gaps = t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate").cast("date").as("day"))
          .withColumn("prev", lag(col("day"), 1).over(w))
          .filter(col("prev").isNotNull)
          .select(datediff(col("day"), col("prev")).cast("long")
            .as("gap_days"))
        val per = gaps.groupBy("gap_days").agg(count(lit(1)).as("c"))
        val tot = per.agg(sum("c").as("n_gaps"))
        val wCum = Window.orderBy("gap_days")
          .rowsBetween(Window.unboundedPreceding, 0)
        val med = per.withColumn("cum", sum(col("c")).over(wCum))
          .crossJoin(broadcast(tot))
          .filter(col("cum") * 2L >= col("n_gaps"))
          .orderBy("gap_days").limit(1)
          .select(col("gap_days").as("median_gap_days"))
        per
          .withColumn("week_bucket", expr("gap_days div 7"))
          .groupBy("week_bucket").agg(sum("c").as("n_gaps"))
          .crossJoin(broadcast(med))
          .select(col("week_bucket"), col("n_gaps"),
            col("median_gap_days"))
          .orderBy("week_bucket")
      },
      Some("""WITH gaps AS (
             |  SELECT CAST(date_diff('day', prev, day) AS BIGINT)
             |    AS gap_days
             |  FROM (
             |    SELECT CAST(o_orderdate AS DATE) AS day,
             |      lag(CAST(o_orderdate AS DATE)) OVER (
             |        PARTITION BY o_custkey
             |        ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
             |        AS prev
             |    FROM orders) x
             |  WHERE prev IS NOT NULL),
             |per AS (
             |  SELECT gap_days, COUNT(*) AS c FROM gaps GROUP BY 1),
             |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_gaps FROM per),
             |med AS (
             |  SELECT gap_days AS median_gap_days FROM (
             |    SELECT gap_days,
             |      CAST(SUM(c) OVER (ORDER BY gap_days
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS BIGINT) AS cum
             |    FROM per) x CROSS JOIN tot
             |  WHERE cum * 2 >= n_gaps
             |  ORDER BY gap_days LIMIT 1)
             |SELECT gap_days // 7 AS week_bucket,
             |  CAST(SUM(c) AS BIGINT) AS n_gaps,
             |  med.median_gap_days
             |FROM per CROSS JOIN med
             |GROUP BY 1, 3 ORDER BY week_bucket""".stripMargin)),

    // EXT — Syntetos-Boylan forecastability quadrants: each part
    // classified smooth / intermittent / erratic / lumpy from its
    // average inter-demand interval (ADI ≥ 1.32 ⇒ intermittent) and
    // nonzero-demand CV² (≥ 0.49 ⇒ erratic). Both edges decided on
    // exact integer cross-multiplication (ADI = weeks-spanned /
    // demand-weeks as a ratio, CV² as n·Σq²·den vs num·(Σq)²), the
    // demand-planning complement of q251's ABC-XYZ.
    EngineQuery("q255_demand_quadrants",
      (s, dir) => {
        val weekly = t(s, dir, "lineitem")
          .select(col("l_partkey"),
            (money(col("l_quantity")) * 100).cast("long").as("q100"),
            expr("datediff(cast(l_shipdate as date), DATE '1995-01-01')" +
              " div 7").as("wk"))
          .groupBy("l_partkey", "wk").agg(sum("q100").as("wq"))
        val per = weekly.groupBy("l_partkey")
          .agg(count(lit(1)).as("n_demand_weeks"),
            (max("wk") - min("wk") + 1L).as("span_weeks"),
            sum("wq").as("sq"), sum(col("wq") * col("wq")).as("sqq"))
        // ADI = span/n ≥ 1.32 ⟺ span·100 ≥ n·132
        // CV² = n·Σq²/(Σq)² − 1 ≥ 0.49 ⟺ n·Σq²·100 ≥ 149·(Σq)²
        val intermittent =
          col("span_weeks") * 100L >= col("n_demand_weeks") * 132L
        val erratic =
          col("n_demand_weeks") * col("sqq") * 100L >=
            col("sq") * col("sq") * 149L
        val classed = per.withColumn("quadrant",
          when(!intermittent && !erratic, "smooth")
            .when(intermittent && !erratic, "intermittent")
            .when(!intermittent && erratic, "erratic")
            .otherwise("lumpy"))
        classed.groupBy("quadrant")
          .agg(count(lit(1)).as("n_parts"),
            sum("sq").as("total_q100"))
          .orderBy("quadrant")
      },
      Some("""WITH weekly AS (
             |  SELECT l_partkey,
             |    date_diff('day', DATE '1995-01-01',
             |      CAST(l_shipdate AS DATE)) // 7 AS wk,
             |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS wq
             |  FROM lineitem GROUP BY 1, 2),
             |per AS (
             |  SELECT l_partkey, COUNT(*) AS n_demand_weeks,
             |    CAST(MAX(wk) - MIN(wk) + 1 AS BIGINT) AS span_weeks,
             |    CAST(SUM(wq) AS BIGINT) AS sq,
             |    CAST(SUM(wq * wq) AS BIGINT) AS sqq
             |  FROM weekly GROUP BY 1),
             |classed AS (
             |  SELECT *,
             |    CASE
             |      WHEN span_weeks * 100 < n_demand_weeks * 132
             |        AND n_demand_weeks * sqq * 100 < sq * sq * 149
             |        THEN 'smooth'
             |      WHEN span_weeks * 100 >= n_demand_weeks * 132
             |        AND n_demand_weeks * sqq * 100 < sq * sq * 149
             |        THEN 'intermittent'
             |      WHEN span_weeks * 100 < n_demand_weeks * 132
             |        THEN 'erratic'
             |      ELSE 'lumpy' END AS quadrant
             |  FROM per)
             |SELECT quadrant, COUNT(*) AS n_parts,
             |  CAST(SUM(sq) AS BIGINT) AS total_q100
             |FROM classed GROUP BY 1 ORDER BY quadrant""".stripMargin)),

    // EXT — peak concurrency: the maximum number of simultaneously
    // open 30-minute sessions (q24's convention) per day, via the
    // classic sweep line — +1 at session start, −1 at session end,
    // running sum, per-day max — WITH the midnight carry: sessions
    // still open at day start enter as the day's base level, computed
    // from the bounded per-day net-delta prefix (the q86 sharded-
    // prefix discipline: within-day sweeps partition BY DAY and run
    // in parallel; only the |days|-row carry frame is sequential).
    EngineQuery("q256_peak_concurrency",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val sess = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("new_sess",
            when(unix_micros(col("ts").cast("timestamp")) -
              unix_micros(lag(col("ts"), 1).over(w).cast("timestamp"))
              > 1800L * 1000000L ||
              lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "sess_id")
          .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
        val marks = sess.select(col("start_ts").as("mark_ts"),
            lit(1L).as("delta"))
          .unionAll(sess.select(col("end_ts").as("mark_ts"),
            lit(-1L).as("delta")))
          .withColumn("day", col("mark_ts").cast("date"))
        // carry = sessions open at day start: prefix sum of per-day
        // net deltas over the bounded |days| frame
        val wCarry = Window.orderBy("d")
          .rowsBetween(Window.unboundedPreceding, -1)
        val carry = marks.groupBy(col("day").as("d"))
          .agg(sum("delta").as("net"))
          .withColumn("carry", coalesce(sum(col("net")).over(wCarry),
            lit(0L)))
          .select(col("d"), col("carry"))
        // closed-interval semantics: starts sort BEFORE ends at equal
        // timestamps (delta desc), so a single-event session still
        // counts as open at its instant
        val wSweep = Window.partitionBy("day")
          .orderBy(col("mark_ts"), col("delta").desc)
          .rowsBetween(Window.unboundedPreceding, 0)
        marks.withColumn("open_in_day", sum(col("delta")).over(wSweep))
          .groupBy("day")
          .agg(max(col("open_in_day")).as("max_in_day"),
            sum(when(col("delta") === 1L, 1L).otherwise(0L))
              .as("n_sessions_started"))
          .join(broadcast(carry), col("day") === col("d"))
          .select(col("day"),
            greatest(col("carry"), col("carry") + col("max_in_day"))
              .as("peak_concurrent"),
            col("n_sessions_started"))
          .orderBy("day")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
             |        PARTITION BY user_id ORDER BY ts, event_id))
             |        > 1800000000
             |      OR lag(ts) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id) IS NULL
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (
             |  SELECT user_id,
             |    CAST(SUM(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS sess_id,
             |    ts
             |  FROM ev),
             |bounds AS (
             |  SELECT user_id, sess_id, MIN(ts) AS start_ts,
             |    MAX(ts) AS end_ts
             |  FROM sess GROUP BY 1, 2),
             |marks AS (
             |  SELECT start_ts AS mark_ts, CAST(1 AS BIGINT) AS delta
             |  FROM bounds
             |  UNION ALL
             |  SELECT end_ts, CAST(-1 AS BIGINT) FROM bounds),
             |carry AS (
             |  SELECT d, COALESCE(CAST(SUM(net) OVER (ORDER BY d
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS BIGINT), 0) AS carry
             |  FROM (
             |    SELECT CAST(mark_ts AS DATE) AS d,
             |      CAST(SUM(delta) AS BIGINT) AS net
             |    FROM marks GROUP BY 1)),
             |sweep AS (
             |  SELECT CAST(mark_ts AS DATE) AS day, delta,
             |    CAST(SUM(delta) OVER (
             |      PARTITION BY CAST(mark_ts AS DATE)
             |      ORDER BY mark_ts, delta DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS open_in_day
             |  FROM marks),
             |daily AS (
             |  SELECT day, MAX(open_in_day) AS max_in_day,
             |    CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_sessions_started
             |  FROM sweep GROUP BY 1)
             |SELECT dl.day,
             |  greatest(c.carry, c.carry + dl.max_in_day)
             |    AS peak_concurrent,
             |  dl.n_sessions_started
             |FROM daily dl JOIN carry c ON c.d = dl.day
             |ORDER BY dl.day""".stripMargin)),

    EngineQuery("q257_hll_union",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val h = sha256PrefixLong15(
          concat(lit("hllu:"), col("doc_id").cast("string")))
        val base = docs.select(col("source"),
          pmod(h, lit(256L)).as("reg"),
          shiftright(h, 8).as("w"))
        val rho = max(when(col("w") === 0L, lit(53))
          .otherwise(lit(53) - length(bin(col("w"))))).as("m_rho")
        val perSource = base.groupBy("source", "reg").agg(rho)
        // max-merge the per-source registers…
        val merged = perSource.groupBy("reg")
          .agg(max("m_rho").as("m_rho"))
        // …and build the global sketch directly
        val direct = base.groupBy("reg").agg(rho)
        def harmonic(df: DataFrame, label: String): DataFrame =
          df.agg(count(lit(1)).as("n_filled"),
              sum(expr("shiftleft(1L, cast(53 - m_rho as int))"))
                .as("s_filled"))
            .select(lit(label).as("path"),
              (col("s_filled") +
                (lit(256L) - col("n_filled")) * lit(9007199254740992L))
                .as("s_num"))
        val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
        harmonic(merged, "merged").unionAll(harmonic(direct, "direct"))
          .select(col("path"), col("s_num"),
            (alpha * lit(65536.0) * lit(9007199254740992.0) /
              col("s_num").cast("double")).as("hll_estimate"))
          .orderBy("path")
      },
      Some("""WITH base AS (
             |  SELECT source,
             |    CAST('0x' || substr(sha256('hllu:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS reg,
             |    CAST('0x' || substr(sha256('hllu:' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) // 256 AS w
             |  FROM documents),
             |per_source AS (
             |  SELECT source, reg,
             |    MAX(CASE WHEN w = 0 THEN 53
             |        ELSE 53 - length(bin(w)) END) AS m_rho
             |  FROM base GROUP BY 1, 2),
             |merged AS (
             |  SELECT reg, MAX(m_rho) AS m_rho
             |  FROM per_source GROUP BY 1),
             |direct AS (
             |  SELECT reg,
             |    MAX(CASE WHEN w = 0 THEN 53
             |        ELSE 53 - length(bin(w)) END) AS m_rho
             |  FROM base GROUP BY 1),
             |hm AS (
             |  SELECT 'merged' AS path, COUNT(*) AS n_filled,
             |    CAST(SUM(1::BIGINT << (53 - m_rho)) AS BIGINT)
             |      AS s_filled
             |  FROM merged
             |  UNION ALL
             |  SELECT 'direct', COUNT(*),
             |    CAST(SUM(1::BIGINT << (53 - m_rho)) AS BIGINT)
             |  FROM direct)
             |SELECT path,
             |  s_filled + (256 - n_filled) * 9007199254740992 AS s_num,
             |  (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
             |    * 9007199254740992.0
             |    / CAST(s_filled + (256 - n_filled) * 9007199254740992
             |        AS DOUBLE) AS hll_estimate
             |FROM hm ORDER BY path""".stripMargin)),

    // EXT — Count-Min mergeability proof: per-event-type CMS counter
    // grids (q198's geometry) SUM-merge into a global sketch that must
    // equal the directly-built one, counter by counter — verified as
    // a zero mismatched-cells count plus checksums. The linear-sketch
    // property that lets 1000 executors ship 2048-cell partials
    // instead of raw keys.
    EngineQuery("q258_cms_union",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val rows = Seq(0, 1, 2, 3)
        def bucket(i: Int, c: Column): Column =
          pmod(sha256PrefixLong(
            concat(lit(s"cmu$i:"), c.cast("string"))), lit(512L))
        val pairs = rows.map(i => struct(lit(i).as("row_id"),
          bucket(i, col("user_id")).as("bucket")))
        val base = ev.select(col("event_type"),
            explode(array(pairs: _*)).as("rb"))
          .select(col("event_type"), col("rb.row_id"), col("rb.bucket"))
        val perType = base.groupBy("event_type", "row_id", "bucket")
          .agg(count(lit(1)).as("c"))
        val merged = perType.groupBy("row_id", "bucket")
          .agg(sum("c").as("c_merged"))
        val direct = base.groupBy("row_id", "bucket")
          .agg(count(lit(1)).as("c_direct"))
        merged.join(direct, Seq("row_id", "bucket"), "full_outer")
          .agg(count(lit(1)).as("n_cells"),
            sum(when(coalesce(col("c_merged"), lit(-1L)) =!=
              coalesce(col("c_direct"), lit(-2L)), 1L).otherwise(0L))
              .as("n_mismatched"),
            sum(col("c_merged")).as("merged_checksum"),
            sum(col("c_direct")).as("direct_checksum"))
      },
      Some("""WITH base AS (
             |  SELECT event_type, r.row_id,
             |    CAST('0x' || substr(sha256('cmu' || CAST(r.row_id AS VARCHAR)
             |        || ':' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 512 AS bucket
             |  FROM events
             |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS row_id) r),
             |per_type AS (
             |  SELECT event_type, row_id, bucket, COUNT(*) AS c
             |  FROM base GROUP BY 1, 2, 3),
             |merged AS (
             |  SELECT row_id, bucket, CAST(SUM(c) AS BIGINT) AS c_merged
             |  FROM per_type GROUP BY 1, 2),
             |direct AS (
             |  SELECT row_id, bucket, COUNT(*) AS c_direct
             |  FROM base GROUP BY 1, 2)
             |SELECT COUNT(*) AS n_cells,
             |  CAST(SUM(CASE WHEN COALESCE(m.c_merged, -1)
             |      <> COALESCE(d.c_direct, -2) THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_mismatched,
             |  CAST(SUM(m.c_merged) AS BIGINT) AS merged_checksum,
             |  CAST(SUM(d.c_direct) AS BIGINT) AS direct_checksum
             |FROM merged m
             |FULL OUTER JOIN direct d
             |  ON d.row_id = m.row_id AND d.bucket = m.bucket""".stripMargin)),

    // EXT — Bloom-filter mergeability proof: per-source bit sets
    // (q220's geometry over document ids) OR-merge into a global
    // filter identical to the directly-built one — zero asymmetric
    // bits. The runtime-filter union property: partial filters built
    // per partition ship and OR instead of re-hashing the world.
    EngineQuery("q259_bloom_union",
      (s, dir) => {
        val docs = Tables.table(s, dir, "documents")
        val hashCols = (0 until 4).map(i =>
          pmod(sha256PrefixLong(concat(lit(s"bfu$i:"),
            col("doc_id").cast("string"))), lit(16384L)).as(s"p$i"))
        val base = docs.select(col("source"),
            explode(array(hashCols: _*)).as("bit_pos"))
        val merged = base.select("source", "bit_pos").distinct()
          .select("bit_pos").distinct()
        val direct = base.select("bit_pos").distinct()
        val mOnly = merged.join(direct, Seq("bit_pos"), "left_anti")
          .agg(count(lit(1)).as("merged_only"))
        val dOnly = direct.join(merged, Seq("bit_pos"), "left_anti")
          .agg(count(lit(1)).as("direct_only"))
        merged.agg(count(lit(1)).as("n_bits_set"))
          .crossJoin(broadcast(mOnly))
          .crossJoin(broadcast(dOnly))
          .select(col("n_bits_set"), col("merged_only"),
            col("direct_only"),
            (col("merged_only") + col("direct_only") === 0L)
              .as("merge_exact"))
      },
      Some("""WITH base AS (
             |  SELECT source,
             |    CAST('0x' || substr(sha256('bfu' || CAST(r.i AS VARCHAR)
             |      || ':' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 16384 AS bit_pos
             |  FROM documents
             |  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS i) r),
             |merged AS (
             |  SELECT DISTINCT bit_pos FROM (
             |    SELECT DISTINCT source, bit_pos FROM base)),
             |direct AS (SELECT DISTINCT bit_pos FROM base),
             |monly AS (
             |  SELECT COUNT(*) AS merged_only FROM merged m
             |  WHERE NOT EXISTS (SELECT 1 FROM direct d
             |    WHERE d.bit_pos = m.bit_pos)),
             |donly AS (
             |  SELECT COUNT(*) AS direct_only FROM direct d
             |  WHERE NOT EXISTS (SELECT 1 FROM merged m
             |    WHERE m.bit_pos = d.bit_pos))
             |SELECT (SELECT COUNT(*) FROM merged) AS n_bits_set,
             |  monly.merged_only, donly.direct_only,
             |  monly.merged_only + donly.direct_only = 0 AS merge_exact
             |FROM monly CROSS JOIN donly""".stripMargin)),

    // EXT — HLL set algebra: audience intersection between the two
    // largest event types by inclusion-exclusion over deterministic
    // sketches — est(A) + est(B) − est(A∪B) — reported next to the
    // EXACT intersection so the sketch error is visible. The union
    // sketch is the register max-merge (proven exact in q257); all
    // register math integer, estimates one double chain each.
    EngineQuery("q260_hll_intersection",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val top2 = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("event_type")).limit(2)
          .withColumn("rk", row_number().over(
            Window.orderBy(col("n").desc, col("event_type"))))
        val h = sha256PrefixLong15(
          concat(lit("hlli:"), col("user_id").cast("string")))
        val base = ev.join(broadcast(top2), Seq("event_type"))
          .select(col("rk"), pmod(h, lit(256L)).as("reg"),
            shiftright(h, 8).as("w"))
        val rho = max(when(col("w") === 0L, lit(53))
          .otherwise(lit(53) - length(bin(col("w"))))).as("m_rho")
        val perSet = base.groupBy("rk", "reg").agg(rho)
        val union = perSet.groupBy("reg").agg(max("m_rho").as("m_rho"))
        def est(df: DataFrame, label: String): DataFrame =
          df.agg(count(lit(1)).as("nf"),
              sum(expr("shiftleft(1L, cast(53 - m_rho as int))"))
                .as("sf"))
            .select(lit(label).as("which"),
              ((lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))) *
                lit(65536.0) * lit(9007199254740992.0) /
                (col("sf") + (lit(256L) - col("nf")) *
                  lit(9007199254740992L)).cast("double")).as("e"))
        val ests = est(perSet.filter(col("rk") === 1).drop("rk"), "a")
          .unionAll(est(perSet.filter(col("rk") === 2).drop("rk"), "b"))
          .unionAll(est(union, "u"))
          .groupBy().pivot("which", Seq("a", "b", "u")).agg(first("e"))
        val exact = ev.join(broadcast(top2), Seq("event_type"))
          .groupBy("user_id")
          .agg(count_distinct(col("rk")).as("n_types"))
          .agg(sum(when(col("n_types") === 2L, 1L).otherwise(0L))
            .as("exact_intersection"))
        ests.crossJoin(broadcast(exact))
          .select(col("a").as("est_a"), col("b").as("est_b"),
            col("u").as("est_union"),
            (col("a") + col("b") - col("u")).as("est_intersection"),
            col("exact_intersection"))
      },
      Some("""WITH top2 AS (
             |  SELECT event_type,
             |    row_number() OVER (ORDER BY COUNT(*) DESC, event_type)
             |      AS rk
             |  FROM events GROUP BY 1
             |  ORDER BY COUNT(*) DESC, event_type LIMIT 2),
             |base AS (
             |  SELECT t.rk,
             |    CAST('0x' || substr(sha256('hlli:' || CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) % 256 AS reg,
             |    CAST('0x' || substr(sha256('hlli:' || CAST(e.user_id AS VARCHAR)), 1, 15) AS BIGINT) // 256 AS w
             |  FROM events e JOIN top2 t ON t.event_type = e.event_type),
             |per_set AS (
             |  SELECT rk, reg,
             |    MAX(CASE WHEN w = 0 THEN 53
             |        ELSE 53 - length(bin(w)) END) AS m_rho
             |  FROM base GROUP BY 1, 2),
             |uni AS (
             |  SELECT reg, MAX(m_rho) AS m_rho FROM per_set GROUP BY 1),
             |est AS (
             |  SELECT 'a' AS which, COUNT(*) AS nf,
             |    CAST(SUM(1::BIGINT << (53 - m_rho)) AS BIGINT) AS sf
             |  FROM per_set WHERE rk = 1
             |  UNION ALL
             |  SELECT 'b', COUNT(*),
             |    CAST(SUM(1::BIGINT << (53 - m_rho)) AS BIGINT)
             |  FROM per_set WHERE rk = 2
             |  UNION ALL
             |  SELECT 'u', COUNT(*),
             |    CAST(SUM(1::BIGINT << (53 - m_rho)) AS BIGINT)
             |  FROM uni),
             |vals AS (
             |  SELECT which,
             |    (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
             |      * 9007199254740992.0
             |      / CAST(sf + (256 - nf) * 9007199254740992 AS DOUBLE)
             |      AS e
             |  FROM est),
             |p AS (
             |  SELECT
             |    MAX(CASE WHEN which = 'a' THEN e END) AS est_a,
             |    MAX(CASE WHEN which = 'b' THEN e END) AS est_b,
             |    MAX(CASE WHEN which = 'u' THEN e END) AS est_union
             |  FROM vals),
             |ex AS (
             |  SELECT CAST(SUM(CASE WHEN n_types = 2 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS exact_intersection
             |  FROM (
             |    SELECT e.user_id, COUNT(DISTINCT t.rk) AS n_types
             |    FROM events e JOIN top2 t ON t.event_type = e.event_type
             |    GROUP BY 1))
             |SELECT p.est_a, p.est_b, p.est_union,
             |  p.est_a + p.est_b - p.est_union AS est_intersection,
             |  ex.exact_intersection
             |FROM p CROSS JOIN ex""".stripMargin)),

    // EXT — session revenue attribution: every purchase's value
    // credited to the FIRST and LAST touch event type of its 30-minute
    // session (q24's gap convention) — the marketing-attribution
    // operator. Session ids come from a gap-flag running sum per user;
    // first/last touches are windows INSIDE each session partition;
    // exact DECIMAL revenue throughout.
    EngineQuery("q249_revenue_attribution",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), money(col("value")).as("v"))
          .withColumn("gap_us",
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
          .withColumn("new_sess",
            when(col("gap_us").isNull ||
              col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        val wS = Window.partitionBy("user_id", "sess_id")
          .orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val attributed = ev
          .withColumn("first_touch", first(col("event_type")).over(wS))
          .withColumn("last_touch", last(col("event_type")).over(wS))
          .filter(col("event_type") === "purchase")
        val byFirst = attributed.groupBy(col("first_touch").as("touch_type"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("v")).cast("double").as("revenue"))
          .withColumn("model", lit("first_touch"))
        val byLast = attributed.groupBy(col("last_touch").as("touch_type"))
          .agg(count(lit(1)).as("n_purchases"),
            sum(col("v")).cast("double").as("revenue"))
          .withColumn("model", lit("last_touch"))
        byFirst.unionByName(byLast)
          .select(col("model"), col("touch_type"), col("n_purchases"),
            col("revenue"))
          .orderBy("model", "touch_type")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CAST(value AS DECIMAL(18,2)) AS v,
             |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
             |        PARTITION BY user_id ORDER BY ts, event_id))
             |        > 1800000000
             |      OR lag(ts) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id) IS NULL
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (
             |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS sess_id
             |  FROM ev),
             |touched AS (
             |  SELECT *,
             |    first_value(event_type) OVER (
             |      PARTITION BY user_id, sess_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND UNBOUNDED FOLLOWING) AS first_touch,
             |    last_value(event_type) OVER (
             |      PARTITION BY user_id, sess_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND UNBOUNDED FOLLOWING) AS last_touch
             |  FROM sess)
             |SELECT 'first_touch' AS model, first_touch AS touch_type,
             |  COUNT(*) AS n_purchases,
             |  CAST(SUM(v) AS DOUBLE) AS revenue
             |FROM touched WHERE event_type = 'purchase'
             |GROUP BY 2
             |UNION ALL
             |SELECT 'last_touch', last_touch, COUNT(*),
             |  CAST(SUM(v) AS DOUBLE)
             |FROM touched WHERE event_type = 'purchase'
             |GROUP BY 2
             |ORDER BY model, touch_type""".stripMargin)),

    // EXT — effective sample size of length-weighted document
    // sampling, per source: ESS = (Σw)²/Σw² with w = n_chars — how
    // many "equivalent uniform documents" a weighted training mix
    // really contains (ESS ≪ n flags a few giants dominating the
    // slice). Exact integer weight moments, one double chain, plus
    // the ESS/n efficiency ratio.
    EngineQuery("q261_effective_sample_size",
      (s, dir) => {
        val agg = Tables.table(s, dir, "documents")
          .select(col("source"), col("n_chars").cast("long").as("w"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("w").as("sw"),
            sum(col("w") * col("w")).as("sww"))
        agg.select(col("source"), col("n_docs"),
            (col("sw").cast("double") * col("sw").cast("double") /
              col("sww").cast("double")).as("ess"),
            (col("sw").cast("double") * col("sw").cast("double") /
              col("sww").cast("double") / col("n_docs").cast("double"))
              .as("ess_efficiency"))
          .orderBy("source")
      },
      Some("""WITH agg AS (
             |  SELECT source, COUNT(*) AS n_docs,
             |    CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sw,
             |    CAST(SUM(CAST(n_chars AS BIGINT)
             |      * CAST(n_chars AS BIGINT)) AS BIGINT) AS sww
             |  FROM documents GROUP BY 1)
             |SELECT source, n_docs,
             |  CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
             |    / CAST(sww AS DOUBLE) AS ess,
             |  CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
             |    / CAST(sww AS DOUBLE) / CAST(n_docs AS DOUBLE)
             |    AS ess_efficiency
             |FROM agg ORDER BY source""".stripMargin)),

    // EXT — Holt linear-trend smoothing (double exponential smoothing,
    // α = β = 1/2) of per-nation daily order revenue, with a 7-day
    // forecast = level + 7·trend. The recurrence
    //   l_t = (x_t + l_{t−1} + b_{t−1}) div 2
    //   b_t = (l_t − l_{t−1} + b_{t−1}) div 2
    // is NON-associative, so no window/closed form exists (q203's EWMA
    // trick needs geometric weights; Holt's coupled state does not
    // factor) — instead each nation's calendar-bounded series folds
    // SEQUENTIALLY inside one codegen'd `aggregate` lambda over its
    // sorted (day, cents) array: keys process in parallel, the
    // per-key array is |days| (calendar-bounded, NOT SF-scaled), and
    // all arithmetic is exact BIGINT cents with truncating `div` —
    // DuckDB's recursive-CTE twin runs the identical integer
    // recurrence step by step (BIGINT `//` truncates toward zero in
    // both engines, the q181 rescale finding), so every intermediate
    // state matches bit for bit.
    EngineQuery("q272_holt_forecast",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("cents"))
        daily.groupBy("n_name")
          .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
            .as("series"))
          .select(col("n_name"),
            size(col("series")).cast("long").as("n_days"),
            expr("""aggregate(
                slice(series, 2, greatest(size(series) - 1, 0)),
                named_struct('l', series[0].cents, 'b', CAST(0 AS BIGINT)),
                (acc, x) -> named_struct(
                  'l', (x.cents + acc.l + acc.b) div 2,
                  'b', (((x.cents + acc.l + acc.b) div 2) - acc.l + acc.b)
                    div 2))""").as("st"))
          .select(col("n_name"), col("n_days"),
            col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
            (col("st.l") + lit(7L) * col("st.b")).as("forecast7_cents"))
          .orderBy("n_name")
      },
      Some("""WITH RECURSIVE daily AS (
             |  SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders o
             |  JOIN customer c ON c.c_custkey = o.o_custkey
             |  JOIN nation n ON n.n_nationkey = c.c_nationkey
             |  GROUP BY 1, 2),
             |d AS (
             |  SELECT n_name, cents,
             |    row_number() OVER (PARTITION BY n_name ORDER BY day)
             |      AS rnk
             |  FROM daily),
             |holt AS (
             |  SELECT n_name, rnk, cents AS l, CAST(0 AS BIGINT) AS b
             |  FROM d WHERE rnk = 1
             |  UNION ALL
             |  SELECT d.n_name, d.rnk,
             |    (d.cents + h.l + h.b) // 2,
             |    (((d.cents + h.l + h.b) // 2) - h.l + h.b) // 2
             |  FROM holt h JOIN d ON d.n_name = h.n_name
             |    AND d.rnk = h.rnk + 1),
             |fin AS (SELECT n_name, MAX(rnk) AS n_days FROM d GROUP BY 1)
             |SELECT h.n_name, CAST(f.n_days AS BIGINT) AS n_days,
             |  h.l AS level_cents, h.b AS trend_cents,
             |  CAST(h.l + 7 * h.b AS BIGINT) AS forecast7_cents
             |FROM holt h JOIN fin f ON f.n_name = h.n_name
             |  AND h.rnk = f.n_days
             |ORDER BY 1""".stripMargin)),

    // EXT — join-cardinality estimation audit (the System-R/CBO
    // statistics loop q217/q218 feed): estimate |A ⋈ B| from each
    // side's top-20 MCVs plus a uniform-tail assumption —
    //   Σ MCV∩MCV exact products
    //   + MCV-only masses × the other side's tail average
    //   + tailA·tailB / max(tail ndv)
    // — and report it against the EXACT join cardinality
    // (Σ cA(v)·cB(v)). The audited joins are the FK spine
    // (orders⋈customer) and the many-to-many part spine
    // (lineitem⋈part). Every arithmetic step is BIGINT with
    // truncating div, so both engines produce the identical estimate.
    // (At warehouse row counts the tail product wants DOUBLE or a
    // div-first rewrite to stay in int64 — the estimate's precision,
    // unlike a result's, tolerates it; here the exact form IS the
    // cross-engine gate.)
    EngineQuery("q274_join_card_estimate",
      (s, dir) =>
        cardAuditFrame(s, dir, "orders", "o_custkey",
            "customer", "c_custkey", "orders_customer")
          .union(cardAuditFrame(s, dir, "lineitem", "l_partkey",
            "part", "p_partkey", "lineitem_part"))
          .orderBy("join_name"),
      Some(s"""WITH ${cardAuditSql("j1", "orders", "o_custkey",
                "customer", "c_custkey", "orders_customer")},
              |${cardAuditSql("j2", "lineitem", "l_partkey",
                "part", "p_partkey", "lineitem_part")}
              |SELECT * FROM j1est UNION ALL SELECT * FROM j2est
              |ORDER BY join_name""".stripMargin)),

    // EXT — k-anonymity audit (k = 5) on the customer table's quasi-
    // identifier triple (nation, market segment, $1000 account-balance
    // bucket): a customer whose QI group has < k members is
    // re-identifiable by linkage even after q77's direct-PII masking —
    // the release-gate check that masking alone cannot provide
    // (Sweeney 2002). Per nation: group count, violating-group count,
    // exposed customers, and the exposed fraction. The balance bucket
    // is exact integer cents div — no ntile/percentile, so the QI
    // partition is stable across engines AND across data refreshes.
    // One shuffle on the QI triple, then a 25-row nation rollup.
    EngineQuery("q275_k_anonymity",
      (s, dir) => {
        val qi = t(s, dir, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            expr("(cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint))" +
              " div 100000").as("bal_bucket"))
        val groups = qi.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
          .agg(count(lit(1)).as("gsize"))
        groups.groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("gsize") < KAnonThreshold, 1L).otherwise(0L))
              .as("n_violating"),
            sum(when(col("gsize") < KAnonThreshold, col("gsize"))
              .otherwise(0L)).as("exposed_customers"),
            sum(col("gsize")).as("n_customers"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("n_groups"),
            col("n_violating"), col("exposed_customers"),
            round(col("exposed_customers").cast("double") /
              col("n_customers").cast("double"), 6).as("exposed_frac"))
          .orderBy("nation")
      },
      Some(s"""WITH qi AS (
              |  SELECT c_nationkey, c_mktsegment,
              |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
              |      // 100000 AS bal_bucket
              |  FROM customer),
              |g AS (
              |  SELECT c_nationkey, c_mktsegment, bal_bucket,
              |    COUNT(*) AS gsize
              |  FROM qi GROUP BY 1, 2, 3),
              |pn AS (
              |  SELECT c_nationkey,
              |    CAST(COUNT(*) AS BIGINT) AS n_groups,
              |    CAST(SUM(CASE WHEN gsize < $KAnonThreshold
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
              |    CAST(SUM(CASE WHEN gsize < $KAnonThreshold
              |      THEN gsize ELSE 0 END) AS BIGINT) AS exposed_customers,
              |    CAST(SUM(gsize) AS BIGINT) AS n_customers
              |  FROM g GROUP BY 1)
              |SELECT n.n_name AS nation, pn.n_groups, pn.n_violating,
              |  pn.exposed_customers,
              |  round(CAST(pn.exposed_customers AS DOUBLE)
              |    / CAST(pn.n_customers AS DOUBLE), 6) AS exposed_frac
              |FROM pn JOIN nation n ON n.n_nationkey = pn.c_nationkey
              |ORDER BY nation""".stripMargin)),

    // EXT — Holt-Winters ADDITIVE-SEASONAL forecast (α=β=γ=1/2,
    // weekly season m=7) per nation: the seasonal extension of q272's
    // Holt fold. Same execution law: the coupled, NON-associative
    // (level, trend, s₁..s₇) recurrence runs SEQUENTIALLY per key
    // inside one codegen'd aggregate() lambda over the sorted daily
    // series (keys parallel, per-key cost |days| — calendar-bounded,
    // not SF-bounded); init is the classical first-season start
    // (l₀ = 7-day mean, b₀ = 0, sᵢ = cᵢ − l₀). All BIGINT halving
    // (div 2) so the DuckDB twin — a recursive CTE carrying the nine
    // state columns and rotating the seasonal register — reproduces
    // every bit. Forecasts at h=1 and h=7 read the rotated register
    // directly (s₁ = season of t+1, s₇ = season of t+7).
    EngineQuery("q285_holt_winters",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("cents"))
        daily.groupBy("n_name")
          .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
            .as("series"))
          .filter(size(col("series")) >= 8)
          .select(col("n_name"), col("series"),
            expr("""(series[0].cents + series[1].cents + series[2].cents
                + series[3].cents + series[4].cents + series[5].cents
                + series[6].cents) div 7""").as("l0"))
          .select(col("n_name"),
            size(col("series")).cast("long").as("n_days"),
            expr("""aggregate(
                slice(series, 8, greatest(size(series) - 7, 0)),
                named_struct('l', l0, 'b', CAST(0 AS BIGINT),
                  's1', series[0].cents - l0, 's2', series[1].cents - l0,
                  's3', series[2].cents - l0, 's4', series[3].cents - l0,
                  's5', series[4].cents - l0, 's6', series[5].cents - l0,
                  's7', series[6].cents - l0),
                (acc, x) -> named_struct(
                  'l', ((x.cents - acc.s1) + (acc.l + acc.b)) div 2,
                  'b', ((((x.cents - acc.s1) + (acc.l + acc.b)) div 2)
                    - acc.l + acc.b) div 2,
                  's1', acc.s2, 's2', acc.s3, 's3', acc.s4,
                  's4', acc.s5, 's5', acc.s6, 's6', acc.s7,
                  's7', ((x.cents
                    - (((x.cents - acc.s1) + (acc.l + acc.b)) div 2))
                    + acc.s1) div 2))""").as("st"))
          .select(col("n_name").as("nation"), col("n_days"),
            col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
            (col("st.l") + col("st.b") + col("st.s1"))
              .as("forecast1_cents"),
            (col("st.l") + lit(7L) * col("st.b") + col("st.s7"))
              .as("forecast7_cents"))
          .orderBy("nation")
      },
      Some("""WITH RECURSIVE daily AS (
             |  SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders o
             |  JOIN customer c ON c.c_custkey = o.o_custkey
             |  JOIN nation n ON n.n_nationkey = c.c_nationkey
             |  GROUP BY 1, 2),
             |d AS (
             |  SELECT n_name, cents,
             |    row_number() OVER (PARTITION BY n_name ORDER BY day)
             |      AS rnk
             |  FROM daily),
             |nk AS (
             |  SELECT n_name, MAX(rnk) AS n_days FROM d GROUP BY 1
             |  HAVING MAX(rnk) >= 8),
             |ini AS (
             |  SELECT n_name,
             |    CAST(SUM(cents) AS BIGINT) // 7 AS l0,
             |    MAX(CASE WHEN rnk = 1 THEN cents END) AS c1,
             |    MAX(CASE WHEN rnk = 2 THEN cents END) AS c2,
             |    MAX(CASE WHEN rnk = 3 THEN cents END) AS c3,
             |    MAX(CASE WHEN rnk = 4 THEN cents END) AS c4,
             |    MAX(CASE WHEN rnk = 5 THEN cents END) AS c5,
             |    MAX(CASE WHEN rnk = 6 THEN cents END) AS c6,
             |    MAX(CASE WHEN rnk = 7 THEN cents END) AS c7
             |  FROM d WHERE rnk <= 7 GROUP BY 1),
             |hw AS (
             |  SELECT i.n_name, 7 AS rnk, i.l0 AS l,
             |    CAST(0 AS BIGINT) AS b,
             |    i.c1 - i.l0 AS s1, i.c2 - i.l0 AS s2, i.c3 - i.l0 AS s3,
             |    i.c4 - i.l0 AS s4, i.c5 - i.l0 AS s5, i.c6 - i.l0 AS s6,
             |    i.c7 - i.l0 AS s7
             |  FROM ini i JOIN nk ON nk.n_name = i.n_name
             |  UNION ALL
             |  SELECT d.n_name, d.rnk,
             |    ((d.cents - h.s1) + (h.l + h.b)) // 2,
             |    ((((d.cents - h.s1) + (h.l + h.b)) // 2)
             |      - h.l + h.b) // 2,
             |    h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
             |    ((d.cents - (((d.cents - h.s1) + (h.l + h.b)) // 2))
             |      + h.s1) // 2
             |  FROM hw h JOIN d ON d.n_name = h.n_name
             |    AND d.rnk = h.rnk + 1)
             |SELECT h.n_name AS nation, CAST(nk.n_days AS BIGINT) AS n_days,
             |  h.l AS level_cents, h.b AS trend_cents,
             |  CAST(h.l + h.b + h.s1 AS BIGINT) AS forecast1_cents,
             |  CAST(h.l + 7 * h.b + h.s7 AS BIGINT) AS forecast7_cents
             |FROM hw h JOIN nk ON nk.n_name = h.n_name
             |  AND h.rnk = nk.n_days
             |ORDER BY nation""".stripMargin)),

    // EXT — autocorrelation profile (ACF lags 1..7) of each nation's
    // daily-revenue series: the seasonality/persistence screen run
    // before picking a forecast model (q272/q285). Exactness: the
    // mean-centering multiplies through by n (dev = n·x − S, all
    // BIGINT — no mean rounding), then the q181 ADAPTIVE divisor
    // (max|dev| div 2²⁰ + 1, data-derived, identical in both engines)
    // rescales so every product and the per-key sums stay far inside
    // int64 at ANY scale factor. All seven lags come from ONE window
    // pass partitioned by nation (calendar-bounded series); the ACF
    // value is a single division of two exact BIGINTs — bit-identical
    // cross-engine, no rounding.
    EngineQuery("q286_acf_profile",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"), col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("cents"))
        val st = daily.groupBy("n_name")
          .agg(count(lit(1)).as("n"), sum("cents").as("s"))
        val d0 = daily.join(broadcast(st), "n_name")
          .select(col("n_name"), col("day"),
            (col("n") * col("cents") - col("s")).as("dr"))
        val qf = d0.groupBy("n_name")
          .agg(expr("max(abs(dr)) div 1048576 + 1").as("q"))
        val dv = d0.join(broadcast(qf), "n_name")
          .select(col("n_name"), col("day"), expr("dr div q").as("dv"))
        val w = Window.partitionBy("n_name").orderBy("day")
        val lagged = dv.select(col("n_name"), col("dv"),
          lag("dv", 1).over(w).as("dv1"), lag("dv", 2).over(w).as("dv2"),
          lag("dv", 3).over(w).as("dv3"), lag("dv", 4).over(w).as("dv4"),
          lag("dv", 5).over(w).as("dv5"), lag("dv", 6).over(w).as("dv6"),
          lag("dv", 7).over(w).as("dv7"))
        lagged.groupBy("n_name")
          .agg(sum(col("dv") * col("dv")).as("den"),
            sum(col("dv") * col("dv1")).as("num1"),
            count(col("dv1")).as("np1"),
            sum(col("dv") * col("dv2")).as("num2"),
            count(col("dv2")).as("np2"),
            sum(col("dv") * col("dv3")).as("num3"),
            count(col("dv3")).as("np3"),
            sum(col("dv") * col("dv4")).as("num4"),
            count(col("dv4")).as("np4"),
            sum(col("dv") * col("dv5")).as("num5"),
            count(col("dv5")).as("np5"),
            sum(col("dv") * col("dv6")).as("num6"),
            count(col("dv6")).as("np6"),
            sum(col("dv") * col("dv7")).as("num7"),
            count(col("dv7")).as("np7"))
          .filter(col("den") > 0)
          .select(col("n_name").as("nation"), col("den"),
            expr("""stack(7,
                CAST(1 AS BIGINT), num1, np1, CAST(2 AS BIGINT), num2, np2,
                CAST(3 AS BIGINT), num3, np3, CAST(4 AS BIGINT), num4, np4,
                CAST(5 AS BIGINT), num5, np5, CAST(6 AS BIGINT), num6, np6,
                CAST(7 AS BIGINT), num7, np7)
              AS (lag_k, acov_num, n_pairs)"""))
          .select(col("nation"), col("lag_k"), col("n_pairs"),
            col("acov_num"), col("den").as("acov_den"),
            (col("acov_num").cast("double") / col("den").cast("double"))
              .as("acf"))
          .orderBy("nation", "lag_k")
      },
      Some("""WITH daily AS (
             |  SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders o
             |  JOIN customer c ON c.c_custkey = o.o_custkey
             |  JOIN nation n ON n.n_nationkey = c.c_nationkey
             |  GROUP BY 1, 2),
             |st AS (
             |  SELECT n_name, COUNT(*) AS n,
             |    CAST(SUM(cents) AS BIGINT) AS s
             |  FROM daily GROUP BY 1),
             |d0 AS (
             |  SELECT d.n_name, d.day,
             |    st.n * d.cents - st.s AS dr
             |  FROM daily d JOIN st ON st.n_name = d.n_name),
             |qf AS (
             |  SELECT n_name,
             |    CAST(MAX(ABS(dr)) AS BIGINT) // 1048576 + 1 AS q
             |  FROM d0 GROUP BY 1),
             |dv AS (
             |  SELECT d0.n_name, d0.day, d0.dr // qf.q AS dv
             |  FROM d0 JOIN qf ON qf.n_name = d0.n_name),
             |lg AS (
             |  SELECT n_name, dv,
             |    lag(dv, 1) OVER wn AS dv1, lag(dv, 2) OVER wn AS dv2,
             |    lag(dv, 3) OVER wn AS dv3, lag(dv, 4) OVER wn AS dv4,
             |    lag(dv, 5) OVER wn AS dv5, lag(dv, 6) OVER wn AS dv6,
             |    lag(dv, 7) OVER wn AS dv7
             |  FROM dv
             |  WINDOW wn AS (PARTITION BY n_name ORDER BY day)),
             |ag AS (
             |  SELECT n_name,
             |    CAST(SUM(dv * dv) AS BIGINT) AS den,
             |    CAST(SUM(dv * dv1) AS BIGINT) AS num1, COUNT(dv1) AS np1,
             |    CAST(SUM(dv * dv2) AS BIGINT) AS num2, COUNT(dv2) AS np2,
             |    CAST(SUM(dv * dv3) AS BIGINT) AS num3, COUNT(dv3) AS np3,
             |    CAST(SUM(dv * dv4) AS BIGINT) AS num4, COUNT(dv4) AS np4,
             |    CAST(SUM(dv * dv5) AS BIGINT) AS num5, COUNT(dv5) AS np5,
             |    CAST(SUM(dv * dv6) AS BIGINT) AS num6, COUNT(dv6) AS np6,
             |    CAST(SUM(dv * dv7) AS BIGINT) AS num7, COUNT(dv7) AS np7
             |  FROM lg GROUP BY 1 HAVING SUM(dv * dv) > 0),
             |un AS (
             |  SELECT n_name, den, 1 AS lag_k, num1 AS acov_num,
             |    np1 AS n_pairs FROM ag
             |  UNION ALL SELECT n_name, den, 2, num2, np2 FROM ag
             |  UNION ALL SELECT n_name, den, 3, num3, np3 FROM ag
             |  UNION ALL SELECT n_name, den, 4, num4, np4 FROM ag
             |  UNION ALL SELECT n_name, den, 5, num5, np5 FROM ag
             |  UNION ALL SELECT n_name, den, 6, num6, np6 FROM ag
             |  UNION ALL SELECT n_name, den, 7, num7, np7 FROM ag)
             |SELECT n_name AS nation, CAST(lag_k AS BIGINT) AS lag_k,
             |  CAST(n_pairs AS BIGINT) AS n_pairs, acov_num,
             |  den AS acov_den,
             |  CAST(acov_num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
             |FROM un ORDER BY nation, lag_k""".stripMargin)),

    // EXT — functional-dependency discovery audit: for each candidate
    // FD A→B, the number of A-values mapping to MORE than one distinct
    // B (violations), the worst fan-out, and the row mass sitting in
    // violating groups — the schema-inference / normalization report a
    // warehouse runs before trusting a column as a key. One shuffle on
    // (fd, lhs) for the whole battery (the candidates stack into a
    // single tall frame; per-table scans prune to the two audited
    // columns). c_custkey→c_mktsegment is a genuinely-held (key)
    // dependency; the others are discovered false with exact
    // violation counts.
    EngineQuery("q287_fd_audit",
      (s, dir) => {
        def cand(tbl: String, a: String, b: String): DataFrame =
          t(s, dir, tbl).select(lit(s"$tbl.$a->$b").as("fd"),
            col(a).cast("string").as("lhs"),
            col(b).cast("string").as("rhs"))
        val stacked = cand("customer", "c_custkey", "c_mktsegment")
          .unionAll(cand("part", "p_type", "p_size"))
          .unionAll(cand("orders", "o_custkey", "o_orderpriority"))
          .unionAll(cand("customer", "c_nationkey", "c_mktsegment"))
          .unionAll(cand("lineitem", "l_partkey", "l_returnflag"))
        stacked.groupBy("fd", "lhs")
          .agg(countDistinct("rhs").as("ndv"), count(lit(1)).as("nrows"))
          .groupBy("fd")
          .agg(count(lit(1)).as("n_lhs"),
            sum(when(col("ndv") > 1, 1L).otherwise(0L))
              .as("n_violating_lhs"),
            max("ndv").as("max_fanout"),
            sum(when(col("ndv") > 1, col("nrows")).otherwise(0L))
              .as("rows_in_violation"),
            when(max("ndv") === 1L, 1L).otherwise(0L).as("fd_holds"))
          .orderBy("fd")
      },
      Some("""WITH cand AS (
             |  SELECT 'customer.c_custkey->c_mktsegment' AS fd,
             |    CAST(c_custkey AS VARCHAR) AS lhs,
             |    CAST(c_mktsegment AS VARCHAR) AS rhs FROM customer
             |  UNION ALL
             |  SELECT 'part.p_type->p_size', CAST(p_type AS VARCHAR),
             |    CAST(p_size AS VARCHAR) FROM part
             |  UNION ALL
             |  SELECT 'orders.o_custkey->o_orderpriority',
             |    CAST(o_custkey AS VARCHAR),
             |    CAST(o_orderpriority AS VARCHAR) FROM orders
             |  UNION ALL
             |  SELECT 'customer.c_nationkey->c_mktsegment',
             |    CAST(c_nationkey AS VARCHAR),
             |    CAST(c_mktsegment AS VARCHAR) FROM customer
             |  UNION ALL
             |  SELECT 'lineitem.l_partkey->l_returnflag',
             |    CAST(l_partkey AS VARCHAR),
             |    CAST(l_returnflag AS VARCHAR) FROM lineitem),
             |g AS (
             |  SELECT fd, lhs, COUNT(DISTINCT rhs) AS ndv,
             |    COUNT(*) AS nrows
             |  FROM cand GROUP BY 1, 2)
             |SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_lhs,
             |  CAST(SUM(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_violating_lhs,
             |  CAST(MAX(ndv) AS BIGINT) AS max_fanout,
             |  CAST(SUM(CASE WHEN ndv > 1 THEN nrows ELSE 0 END)
             |    AS BIGINT) AS rows_in_violation,
             |  CAST(CASE WHEN MAX(ndv) = 1 THEN 1 ELSE 0 END AS BIGINT)
             |    AS fd_holds
             |FROM g GROUP BY fd ORDER BY fd""".stripMargin)),

    // EXT — inclusion-dependency (FK-candidate) discovery: for each
    // candidate A ⊆ B, the distinct-value count of A, how many A
    // values are MISSING from B, and the containment coefficient in
    // exact ppm — the referential-integrity complement of the FK
    // CONFORMANCE audit (which assumes the FK; this DISCOVERS it).
    // Both sides reduce to distinct 8-byte-hashable values BEFORE the
    // anti-join, so the join carries |distinct| rows, never raw rows.
    // Three true TPC-H spines hold at 100%; two decoys are discovered
    // false with exact missing counts.
    EngineQuery("q288_inclusion_deps",
      (s, dir) => {
        def ind(lhsT: String, lhsC: String, rhsT: String, rhsC: String)
            : DataFrame = {
          val a = t(s, dir, lhsT).select(col(lhsC).cast("string").as("v"))
            .distinct()
          val b = t(s, dir, rhsT).select(col(rhsC).cast("string").as("v"))
            .distinct()
          val miss = a.join(b, Seq("v"), "left_anti")
            .agg(count(lit(1)).as("n_missing"))
          val na = a.agg(count(lit(1)).as("ndv_lhs"))
          miss.crossJoin(broadcast(na))
            .select(lit(s"$lhsT.$lhsC<=$rhsT.$rhsC").as("ind"),
              col("ndv_lhs"), col("n_missing"),
              when(col("n_missing") === 0L, 1L).otherwise(0L)
                .as("ind_holds"),
              expr("(ndv_lhs - n_missing) * 1000000 div ndv_lhs")
                .as("containment_ppm"))
        }
        ind("orders", "o_custkey", "customer", "c_custkey")
          .unionAll(ind("lineitem", "l_suppkey", "supplier", "s_suppkey"))
          .unionAll(ind("customer", "c_nationkey", "nation", "n_nationkey"))
          .unionAll(ind("supplier", "s_nationkey", "customer", "c_custkey"))
          .unionAll(ind("events", "user_id", "supplier", "s_suppkey"))
          .orderBy("ind")
      },
      Some("""WITH i1 AS (
             |  SELECT 'orders.o_custkey<=customer.c_custkey' AS ind,
             |    (SELECT COUNT(DISTINCT CAST(o_custkey AS VARCHAR))
             |      FROM orders) AS ndv_lhs,
             |    (SELECT COUNT(*) FROM (
             |      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v
             |        FROM orders
             |      EXCEPT
             |      SELECT DISTINCT CAST(c_custkey AS VARCHAR)
             |        FROM customer) x) AS n_missing),
             |i2 AS (
             |  SELECT 'lineitem.l_suppkey<=supplier.s_suppkey' AS ind,
             |    (SELECT COUNT(DISTINCT CAST(l_suppkey AS VARCHAR))
             |      FROM lineitem) AS ndv_lhs,
             |    (SELECT COUNT(*) FROM (
             |      SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS v
             |        FROM lineitem
             |      EXCEPT
             |      SELECT DISTINCT CAST(s_suppkey AS VARCHAR)
             |        FROM supplier) x) AS n_missing),
             |i3 AS (
             |  SELECT 'customer.c_nationkey<=nation.n_nationkey' AS ind,
             |    (SELECT COUNT(DISTINCT CAST(c_nationkey AS VARCHAR))
             |      FROM customer) AS ndv_lhs,
             |    (SELECT COUNT(*) FROM (
             |      SELECT DISTINCT CAST(c_nationkey AS VARCHAR) AS v
             |        FROM customer
             |      EXCEPT
             |      SELECT DISTINCT CAST(n_nationkey AS VARCHAR)
             |        FROM nation) x) AS n_missing),
             |i4 AS (
             |  SELECT 'supplier.s_nationkey<=customer.c_custkey' AS ind,
             |    (SELECT COUNT(DISTINCT CAST(s_nationkey AS VARCHAR))
             |      FROM supplier) AS ndv_lhs,
             |    (SELECT COUNT(*) FROM (
             |      SELECT DISTINCT CAST(s_nationkey AS VARCHAR) AS v
             |        FROM supplier
             |      EXCEPT
             |      SELECT DISTINCT CAST(c_custkey AS VARCHAR)
             |        FROM customer) x) AS n_missing),
             |i5 AS (
             |  SELECT 'events.user_id<=supplier.s_suppkey' AS ind,
             |    (SELECT COUNT(DISTINCT CAST(user_id AS VARCHAR))
             |      FROM events) AS ndv_lhs,
             |    (SELECT COUNT(*) FROM (
             |      SELECT DISTINCT CAST(user_id AS VARCHAR) AS v
             |        FROM events
             |      EXCEPT
             |      SELECT DISTINCT CAST(s_suppkey AS VARCHAR)
             |        FROM supplier) x) AS n_missing),
             |un AS (
             |  SELECT * FROM i1 UNION ALL SELECT * FROM i2
             |  UNION ALL SELECT * FROM i3 UNION ALL SELECT * FROM i4
             |  UNION ALL SELECT * FROM i5)
             |SELECT ind, CAST(ndv_lhs AS BIGINT) AS ndv_lhs,
             |  CAST(n_missing AS BIGINT) AS n_missing,
             |  CAST(CASE WHEN n_missing = 0 THEN 1 ELSE 0 END AS BIGINT)
             |    AS ind_holds,
             |  CAST((ndv_lhs - n_missing) * 1000000 // ndv_lhs AS BIGINT)
             |    AS containment_ppm
             |FROM un ORDER BY ind""".stripMargin)),

    // EXT — LINEAR and POSITION-BASED (U-shaped 40/20/40) multi-touch
    // attribution, completing the q249 first/last family: each
    // purchase session's revenue is credited across its non-purchase
    // touches in EXACT basis points — largest-remainder division
    // guarantees Σ bps = 10000 per session (linear: 10000 div n with
    // the first 10000 % n touches getting +1 bp; position: 4000 first
    // + 4000 last + 2000 split over the middles the same way), so the
    // per-channel credit ledger reconciles to the cent·bp exactly.
    // All integer; the only windows are the q249 session frames
    // (PARTITIONED by user / by session) plus a per-session
    // row_number — nothing global, nothing SF-bounded beyond the
    // session cardinality.
    EngineQuery("q293_position_attribution",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"), cents.as("v"))
          .withColumn("gap_us",
            unix_micros(col("ts").cast("timestamp")) -
              unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
          .withColumn("new_sess",
            when(col("gap_us").isNull ||
              col("gap_us") > 1800L * 1000000L, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val sess = ev.groupBy("user_id", "sess_id")
          .agg(sum(when(col("event_type") === "purchase", col("v"))
              .otherwise(0L)).as("rev_cents"),
            sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L))
              .as("n_touches"))
          .filter(col("rev_cents") > 0L && col("n_touches") > 0L)
        val wt = Window.partitionBy("user_id", "sess_id")
          .orderBy("ts", "event_id")
        val tt = ev.filter(col("event_type") =!= "purchase")
          .join(sess, Seq("user_id", "sess_id"))
          .withColumn("rn", row_number().over(wt).cast("long"))
          .withColumn("lin_bps",
            expr("10000 div n_touches") +
              when(col("rn") <= expr("10000 % n_touches"), 1L)
                .otherwise(0L))
          .withColumn("pos_bps",
            when(col("n_touches") === 1L, lit(10000L))
              .when(col("n_touches") === 2L, lit(5000L))
              .when(col("rn") === 1L || col("rn") === col("n_touches"),
                lit(4000L))
              .otherwise(expr("2000 div (n_touches - 2)") +
                when(col("rn") - 1L <= expr("2000 % (n_touches - 2)"),
                  1L).otherwise(0L)))
        def model(bps: String, name: String): DataFrame =
          tt.groupBy(col("event_type").as("touch_type"))
            .agg(count(lit(1)).as("n_touch_events"),
              sum(col("rev_cents") * col(bps)).as("credit_cents_bps"))
            .withColumn("model", lit(name))
        model("lin_bps", "linear").unionByName(model("pos_bps", "position"))
          .select(col("model"), col("touch_type"),
            col("n_touch_events"), col("credit_cents_bps"))
          .orderBy("model", "touch_type")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, ts, event_id, event_type,
             |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (
             |        PARTITION BY user_id ORDER BY ts, event_id))
             |        > 1800000000
             |      OR lag(ts) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id) IS NULL
             |      THEN 1 ELSE 0 END AS new_sess
             |  FROM events),
             |sess AS (
             |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS sess_id
             |  FROM ev),
             |sagg AS (
             |  SELECT user_id, sess_id,
             |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN v
             |      ELSE 0 END) AS BIGINT) AS rev_cents,
             |    CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1
             |      ELSE 0 END) AS BIGINT) AS n_touches
             |  FROM sess GROUP BY 1, 2),
             |tt AS (
             |  SELECT t.event_type, a.rev_cents, a.n_touches,
             |    CAST(row_number() OVER (PARTITION BY t.user_id, t.sess_id
             |      ORDER BY t.ts, t.event_id) AS BIGINT) AS rn
             |  FROM sess t JOIN sagg a
             |    ON a.user_id = t.user_id AND a.sess_id = t.sess_id
             |  WHERE t.event_type <> 'purchase'
             |    AND a.rev_cents > 0 AND a.n_touches > 0),
             |bps AS (
             |  SELECT event_type, rev_cents,
             |    10000 // n_touches +
             |      CASE WHEN rn <= 10000 % n_touches THEN 1 ELSE 0 END
             |      AS lin_bps,
             |    CASE WHEN n_touches = 1 THEN 10000
             |      WHEN n_touches = 2 THEN 5000
             |      WHEN rn = 1 OR rn = n_touches THEN 4000
             |      ELSE 2000 // (n_touches - 2) +
             |        CASE WHEN rn - 1 <= 2000 % (n_touches - 2) THEN 1
             |          ELSE 0 END
             |      END AS pos_bps
             |  FROM tt)
             |SELECT 'linear' AS model, event_type AS touch_type,
             |  COUNT(*) AS n_touch_events,
             |  CAST(SUM(rev_cents * lin_bps) AS BIGINT)
             |    AS credit_cents_bps
             |FROM bps GROUP BY 2
             |UNION ALL
             |SELECT 'position', event_type, COUNT(*),
             |  CAST(SUM(rev_cents * pos_bps) AS BIGINT)
             |FROM bps GROUP BY 2
             |ORDER BY model, touch_type""".stripMargin)),

    // EXT — WINSORIZED and TRIMMED means per return flag: the robust
    // location estimates run before alerting on a mean shift (a 5%
    // symmetric trim kills heavy-tail noise the plain mean amplifies).
    // Exact by RANK arithmetic, not per-row windows: the value-
    // frequency frame (flag × distinct cents) carries exclusive
    // cumulative counts via the q217 sharded-prefix pattern (local
    // windows per (flag, value-range shard), only the per-flag
    // |shards|-row carry frame is sequential), each value's covered
    // rank interval [cumb+1, cumb+c] intersects the kept interval
    // [k+1, n−k] in pure BIGINT, and the cutoff values are the ones
    // whose interval contains rank k+1 / n−k. Means are ONE double
    // division over the exact integer numerators. Σ kept·cents stays
    // under int64 to ~6e11 rows/flag at max cents 1.1e7.
    EngineQuery("q294_winsorized_means",
      (s, dir) => {
        val vf = t(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            (money(col("l_extendedprice")) * 100).cast("long")
              .as("cents"))
          .groupBy("flag", "cents").agg(count(lit(1)).as("c"))
          .withColumn("shard", expr("cents div 131072"))
        val wLocal = Window.partitionBy("flag", "shard").orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, -1)
        val shardTot = vf.groupBy(col("flag").as("f"), col("shard").as("sh"))
          .agg(sum("c").as("sc"))
        val wShard = Window.partitionBy("f").orderBy("sh")
          .rowsBetween(Window.unboundedPreceding, -1)
        val shardPrefix = shardTot.withColumn("ps",
          coalesce(sum("sc").over(wShard), lit(0L)))
        val tot = vf.groupBy(col("flag").as("ft")).agg(sum("c").as("n"))
        val cum = vf
          .withColumn("lc", coalesce(sum(col("c")).over(wLocal), lit(0L)))
          .join(broadcast(shardPrefix),
            col("flag") === col("f") && col("shard") === col("sh"))
          .withColumn("cumb", col("ps") + col("lc"))
          .join(broadcast(tot), col("flag") === col("ft"))
          .withColumn("k", expr("(n * 5) div 100"))
          .withColumn("kept",
            greatest(lit(0L),
              least(col("cumb") + col("c"), col("n") - col("k")) -
                greatest(col("cumb") + 1L, col("k") + 1L) + 1L))
        cum.groupBy("flag")
          .agg(max(col("n")).as("n"), max(col("k")).as("k_trim"),
            min(when(col("cumb") <= col("k") &&
              col("cumb") + col("c") >= col("k") + 1L, col("cents")))
              .as("v_lo_cents"),
            min(when(col("cumb") < col("n") - col("k") &&
              col("cumb") + col("c") >= col("n") - col("k"),
              col("cents"))).as("v_hi_cents"),
            sum(col("kept") * col("cents")).as("trim_sum"))
          .select(col("flag"), col("n"), col("k_trim"),
            col("v_lo_cents"), col("v_hi_cents"),
            ((col("trim_sum") + col("k_trim") *
              (col("v_lo_cents") + col("v_hi_cents"))).cast("double") /
              col("n").cast("double")).as("winsorized_mean_cents"),
            (col("trim_sum").cast("double") /
              (col("n") - lit(2L) * col("k_trim")).cast("double"))
              .as("trimmed_mean_cents"))
          .orderBy("flag")
      },
      Some("""WITH vf AS (
             |  SELECT l_returnflag AS flag,
             |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
             |      AS BIGINT) AS cents,
             |    CAST(COUNT(*) AS BIGINT) AS c
             |  FROM lineitem GROUP BY 1, 2),
             |tot AS (
             |  SELECT flag, CAST(SUM(c) AS BIGINT) AS n
             |  FROM vf GROUP BY 1),
             |cum AS (
             |  SELECT v.flag, v.cents, v.c, t.n, (t.n * 5) // 100 AS k,
             |    COALESCE(CAST(SUM(v.c) OVER (PARTITION BY v.flag
             |      ORDER BY v.cents ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND 1 PRECEDING) AS BIGINT), 0) AS cumb
             |  FROM vf v JOIN tot t ON t.flag = v.flag),
             |kept AS (
             |  SELECT flag, n, k, cents, c, cumb,
             |    greatest(CAST(0 AS BIGINT),
             |      least(cumb + c, n - k) - greatest(cumb + 1, k + 1)
             |        + 1) AS kc
             |  FROM cum)
             |SELECT flag, MAX(n) AS n, MAX(k) AS k_trim,
             |  MIN(CASE WHEN cumb <= k AND cumb + c >= k + 1
             |    THEN cents END) AS v_lo_cents,
             |  MIN(CASE WHEN cumb < n - k AND cumb + c >= n - k
             |    THEN cents END) AS v_hi_cents,
             |  CAST(CAST(SUM(kc * cents)
             |      + MAX(k) * (MIN(CASE WHEN cumb <= k
             |            AND cumb + c >= k + 1 THEN cents END)
             |        + MIN(CASE WHEN cumb < n - k AND cumb + c >= n - k
             |            THEN cents END)) AS BIGINT) AS DOUBLE)
             |    / CAST(MAX(n) AS DOUBLE) AS winsorized_mean_cents,
             |  CAST(CAST(SUM(kc * cents) AS BIGINT) AS DOUBLE)
             |    / CAST(MAX(n) - 2 * MAX(k) AS DOUBLE)
             |    AS trimmed_mean_cents
             |FROM kept GROUP BY 1 ORDER BY flag""".stripMargin)),

    // EXT — CUPED variance-reduced experiment readout (Deng et al.
    // 2013, public): arms by user-id parity, covariate = each user's
    // PRE-period spend (days 1–15), metric = POST-period spend.
    // θ = cov(pre, post)/var(pre) pooled over all users, and each
    // arm's adjusted mean subtracts θ·(arm pre-mean − grand pre-mean).
    // Sufficient statistics (n, Σx, Σy, Σx², Σxy) are exact BIGINT in
    // whole USD (the q247 downscale rule keeps squares inside int64);
    // θ and the adjusted means are ONE identical double chain in both
    // engines (products in DOUBLE — the q291 convention, since n·Σxy
    // exits int64 at warehouse scale). Two keyed aggregations + 1-row
    // broadcasts; no windows at all.
    EngineQuery("q295_cuped_readout",
      (s, dir) => {
        val pu = t(s, dir, "events")
          .select(col("user_id"),
            when(col("ts").cast("date") <
              lit("2024-01-16").cast("date"), cents).otherwise(0L)
              .as("pre_c"),
            when(col("ts").cast("date") >=
              lit("2024-01-16").cast("date"), cents).otherwise(0L)
              .as("post_c"))
          .groupBy("user_id")
          .agg(sum("pre_c").as("pre_cents"),
            sum("post_c").as("post_cents"))
          .select(col("user_id"), expr("pre_cents div 100").as("x"),
            expr("post_cents div 100").as("y"),
            expr("user_id % 2").as("arm"))
        val g = pu.agg(count(lit(1)).as("n_all"), sum("x").as("sx"),
          sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        val theta =
          (col("n_all").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          (col("n_all").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double"))
        pu.groupBy("arm")
          .agg(count(lit(1)).as("n_users"), sum("x").as("arm_pre_usd"),
            sum("y").as("arm_post_usd"))
          .crossJoin(broadcast(g))
          .select(col("arm"), col("n_users"), col("arm_pre_usd"),
            col("arm_post_usd"), theta.as("theta"),
            (col("arm_post_usd").cast("double") /
              col("n_users").cast("double")).as("raw_mean_post_usd"),
            (col("arm_post_usd").cast("double") /
              col("n_users").cast("double") -
              theta * (col("arm_pre_usd").cast("double") /
                col("n_users").cast("double") -
                col("sx").cast("double") /
                  col("n_all").cast("double")))
              .as("adj_mean_post_usd"))
          .orderBy("arm")
      },
      Some("""WITH pu AS (
             |  SELECT user_id,
             |    CAST(SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
             |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
             |        AS BIGINT) ELSE 0 END) AS BIGINT) // 100 AS x,
             |    CAST(SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
             |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100
             |        AS BIGINT) ELSE 0 END) AS BIGINT) // 100 AS y,
             |    user_id % 2 AS arm
             |  FROM events GROUP BY user_id),
             |g AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             |    CAST(SUM(x) AS BIGINT) AS sx,
             |    CAST(SUM(y) AS BIGINT) AS sy,
             |    CAST(SUM(x * x) AS BIGINT) AS sxx,
             |    CAST(SUM(x * y) AS BIGINT) AS sxy
             |  FROM pu),
             |arms AS (
             |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             |    CAST(SUM(x) AS BIGINT) AS arm_pre_usd,
             |    CAST(SUM(y) AS BIGINT) AS arm_post_usd
             |  FROM pu GROUP BY 1)
             |SELECT a.arm, a.n_users, a.arm_pre_usd, a.arm_post_usd,
             |  (CAST(g.n_all AS DOUBLE) * CAST(g.sxy AS DOUBLE)
             |    - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
             |  / (CAST(g.n_all AS DOUBLE) * CAST(g.sxx AS DOUBLE)
             |    - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE))
             |    AS theta,
             |  CAST(a.arm_post_usd AS DOUBLE)
             |    / CAST(a.n_users AS DOUBLE) AS raw_mean_post_usd,
             |  CAST(a.arm_post_usd AS DOUBLE)
             |    / CAST(a.n_users AS DOUBLE)
             |  - ((CAST(g.n_all AS DOUBLE) * CAST(g.sxy AS DOUBLE)
             |      - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
             |    / (CAST(g.n_all AS DOUBLE) * CAST(g.sxx AS DOUBLE)
             |      - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE)))
             |    * (CAST(a.arm_pre_usd AS DOUBLE)
             |        / CAST(a.n_users AS DOUBLE)
             |      - CAST(g.sx AS DOUBLE) / CAST(g.n_all AS DOUBLE))
             |    AS adj_mean_post_usd
             |FROM arms a CROSS JOIN g
             |ORDER BY a.arm""".stripMargin)),

    // EXT — largest-remainder (Hamilton) quota allocation: apportion a
    // fixed sample budget of 10000 across the (nation × segment)
    // strata proportionally, with the leftover seats going to the
    // largest fractional remainders — the EXACT integer method a
    // stratified sampler uses so quotas sum to the budget precisely
    // (floor-only allocation under-fills; naive rounding over-fills).
    // Pure BIGINT: base = cnt·10000 div total, remainders ranked by
    // (cnt·10000 % total) DESC with the (nation, segment) key as the
    // deterministic tie-break. The only window is the remainder rank
    // over the |strata| aggregate frame (≤ 25·5 rows — allowlisted).
    EngineQuery("q296_quota_allocation",
      (s, dir) => {
        val st = t(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nation"),
            col("c_mktsegment").as("segment"))
          .agg(count(lit(1)).as("cnt"))
        val tot = st.agg(sum("cnt").as("total"))
        val based = st.crossJoin(broadcast(tot))
          .withColumn("base", expr("(cnt * 10000) div total"))
          .withColumn("rem_num", expr("(cnt * 10000) % total"))
        val extras = based.agg((lit(10000L) - sum("base")).as("extras"))
        val wr = Window.orderBy(col("rem_num").desc, col("nation"),
          col("segment"))
        based.withColumn("rk", row_number().over(wr).cast("long"))
          .crossJoin(broadcast(extras))
          .select(col("nation"), col("segment"), col("cnt"), col("base"),
            (col("base") + when(col("rk") <= col("extras"), 1L)
              .otherwise(0L)).as("quota"))
          .orderBy("nation", "segment")
      },
      Some("""WITH st AS (
             |  SELECT c_nationkey AS nation, c_mktsegment AS segment,
             |    CAST(COUNT(*) AS BIGINT) AS cnt
             |  FROM customer GROUP BY 1, 2),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM st),
             |based AS (
             |  SELECT nation, segment, cnt,
             |    (cnt * 10000) // total AS base,
             |    (cnt * 10000) % total AS rem_num
             |  FROM st CROSS JOIN tot),
             |ex AS (
             |  SELECT CAST(10000 - SUM(base) AS BIGINT) AS extras
             |  FROM based),
             |rk AS (
             |  SELECT *, CAST(row_number() OVER (ORDER BY rem_num DESC,
             |    nation, segment) AS BIGINT) AS rk
             |  FROM based)
             |SELECT nation, segment, cnt, base,
             |  base + CASE WHEN rk <= ex.extras THEN 1 ELSE 0 END
             |    AS quota
             |FROM rk CROSS JOIN ex
             |ORDER BY nation, segment""".stripMargin)),

    // EXT — ISOTONIC daily-revenue trend per event type
    // (operators.Isotonic): the unique nondecreasing least-squares fit
    // of each type's 30-day revenue series — plateaus and true growth
    // separate from noise, the monotone screen run before trusting a
    // "metric is still climbing" claim. Cross-engine exactness rides
    // on PAVA's CONFLUENCE: the minimizer is unique and any
    // adjacent-violator pooling order reaches it, so the operator's
    // parallel merge schedule and the oracle's sequential
    // leftmost-merge recursion (full-state counter CTE, horizon 31 ≥
    // the ≤ 29 merges a 30-day series can need) produce the SAME
    // fitted values; only the fit DOUBLE is emitted (one s/c division
    // — equal rationals round to the identical IEEE double even when
    // equal-mean blocks are split differently), never the block
    // boundaries. All block arithmetic is exact BIGINT cross-
    // multiplication. Scale: keys parallel, per-key cost ∝ series
    // length (calendar-bounded — the q272 law).
    EngineQuery("q297_isotonic_trend",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(sum(cents).as("cents"))
          .withColumn("day_idx",
            datediff(col("day"), lit("2024-01-01").cast("date"))
              .cast("long"))
        graft.operators.Isotonic
          .fit(daily, "event_type", "day_idx", "cents")
          .select(col("event_type"), col("day_idx"), col("cents"),
            round(col("fit"), 6).as("fit"))
          .orderBy("event_type", "day_idx")
      },
      Some("""WITH RECURSIVE daily AS (
             |  SELECT event_type AS k,
             |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
             |      AS x,
             |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2),
             |blocks AS (
             |  SELECT 0 AS i, k, x AS bstart, y AS s,
             |    CAST(1 AS BIGINT) AS c
             |  FROM daily
             |  UNION ALL
             |  SELECT i + 1, k, bstart,
             |    CASE WHEN rn = v - 1 THEN s + ns ELSE s END,
             |    CASE WHEN rn = v - 1 THEN c + nc ELSE c END
             |  FROM (
             |    SELECT b.*, m.v FROM (
             |      SELECT i, k, bstart, s, c,
             |        row_number() OVER (PARTITION BY k ORDER BY bstart)
             |          AS rn,
             |        lead(s) OVER (PARTITION BY k ORDER BY bstart) AS ns,
             |        lead(c) OVER (PARTITION BY k ORDER BY bstart) AS nc
             |      FROM blocks) b
             |    LEFT JOIN (
             |      SELECT k AS vk, MIN(rn) AS v FROM (
             |        SELECT k, s, c,
             |          row_number() OVER (PARTITION BY k ORDER BY bstart)
             |            AS rn,
             |          lag(s) OVER (PARTITION BY k ORDER BY bstart)
             |            AS ps,
             |          lag(c) OVER (PARTITION BY k ORDER BY bstart)
             |            AS pc
             |        FROM blocks) z
             |      WHERE ps IS NOT NULL AND ps * c > s * pc
             |      GROUP BY 1) m
             |      ON m.vk = b.k) q
             |  WHERE i < 31 AND (v IS NULL OR rn <> v)),
             |fin AS (SELECT k, bstart, s, c FROM blocks WHERE i = 31),
             |spans AS (
             |  SELECT k, bstart, s, c,
             |    COALESCE(lead(bstart) OVER (PARTITION BY k
             |      ORDER BY bstart),
             |      CAST(9223372036854775807 AS BIGINT)) AS bend
             |  FROM fin)
             |SELECT d.k AS event_type, d.x AS day_idx, d.y AS cents,
             |  round(CAST(sp.s AS DOUBLE) / CAST(sp.c AS DOUBLE), 6)
             |    AS fit
             |FROM daily d JOIN spans sp
             |  ON sp.k = d.k AND d.x >= sp.bstart AND d.x < sp.bend
             |ORDER BY event_type, day_idx""".stripMargin)),

    // EXT — walk-forward FORECAST BACKTEST of the q272 Holt fold:
    // train on each nation's daily revenue before 1998-06-01, forecast
    // every later revenue day at its calendar horizon (level + h·trend,
    // clamped at 0), and score with the two standard scale-free
    // metrics — SMAPE (per-day |a−f|·2e6 div (a+f) terms, summed as
    // exact BIGINT then one integer division by n_test: order-free,
    // no float summation) and MASE (test MAE over the train naive-1
    // MAE, ONE double chain over four exact integer sufficient
    // statistics). The eval harness that must accompany any forecast
    // operator: q272/q285 produce forecasts, this decides whether to
    // trust them. Scale: the fold is the q272 law (keys parallel,
    // per-key cost |days|); the naive-error lag window is PARTITIONED
    // by nation; everything after is 25-row broadcasts.
    EngineQuery("q298_forecast_backtest",
      (s, dir) => {
        val daily = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"),
            col("o_orderdate").cast("date").as("day"))
          .agg(sum((money(col("o_totalprice")) * 100).cast("long"))
            .as("cents"))
        val split = lit("1998-06-01").cast("date")
        val train = daily.filter(col("day") < split)
        val st = train.groupBy("n_name")
          .agg(sort_array(collect_list(struct(col("day"), col("cents"))))
            .as("series"))
          .select(col("n_name"),
            size(col("series")).cast("long").as("n_train"),
            element_at(col("series"), -1).getField("day").as("last_day"),
            expr("""aggregate(
                slice(series, 2, greatest(size(series) - 1, 0)),
                named_struct('l', series[0].cents, 'b', CAST(0 AS BIGINT)),
                (acc, x) -> named_struct(
                  'l', (x.cents + acc.l + acc.b) div 2,
                  'b', (((x.cents + acc.l + acc.b) div 2) - acc.l + acc.b)
                    div 2))""").as("hst"))
          .select(col("n_name"), col("n_train"), col("last_day"),
            col("hst.l").as("lvl"), col("hst.b").as("trd"))
        val wN = Window.partitionBy("n_name").orderBy("day")
        val naive = train.withColumn("pc", lag("cents", 1).over(wN))
          .filter(col("pc").isNotNull)
          .groupBy("n_name")
          .agg(sum(abs(col("cents") - col("pc"))).as("naive_sum"),
            count(lit(1)).as("n_diffs"))
        daily.filter(col("day") >= split)
          .join(broadcast(st), Seq("n_name"))
          .join(broadcast(naive), Seq("n_name"))
          .withColumn("h", datediff(col("day"), col("last_day"))
            .cast("long"))
          .withColumn("f",
            greatest(col("lvl") + col("h") * col("trd"), lit(0L)))
          .withColumn("ae", abs(col("cents") - col("f")))
          .withColumn("sm", expr("(ae * 2000000) div (cents + f)"))
          .groupBy(col("n_name").as("nation"))
          .agg(max("n_train").as("n_train"),
            count(lit(1)).as("n_test"),
            sum("ae").as("sae_cents"),
            max("naive_sum").as("naive_sum_cents"),
            max("n_diffs").as("n_diffs"),
            sum("sm").as("sm_sum"))
          .select(col("nation"), col("n_train"), col("n_test"),
            col("sae_cents"), col("naive_sum_cents"), col("n_diffs"),
            expr("sm_sum div n_test").as("smape_ppm"),
            round((col("sae_cents").cast("double") *
              col("n_diffs").cast("double")) /
              (col("n_test").cast("double") *
                col("naive_sum_cents").cast("double")), 6).as("mase"))
          .orderBy("nation")
      },
      Some("""WITH RECURSIVE daily AS (
             |  SELECT n.n_name, CAST(o.o_orderdate AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2))
             |      * 100 AS BIGINT)) AS BIGINT) AS cents
             |  FROM orders o
             |  JOIN customer c ON c.c_custkey = o.o_custkey
             |  JOIN nation n ON n.n_nationkey = c.c_nationkey
             |  GROUP BY 1, 2),
             |d AS (
             |  SELECT n_name, day, cents,
             |    row_number() OVER (PARTITION BY n_name ORDER BY day)
             |      AS rnk
             |  FROM daily WHERE day < DATE '1998-06-01'),
             |holt AS (
             |  SELECT n_name, rnk, cents AS l, CAST(0 AS BIGINT) AS b
             |  FROM d WHERE rnk = 1
             |  UNION ALL
             |  SELECT d.n_name, d.rnk,
             |    (d.cents + h.l + h.b) // 2,
             |    (((d.cents + h.l + h.b) // 2) - h.l + h.b) // 2
             |  FROM holt h JOIN d ON d.n_name = h.n_name
             |    AND d.rnk = h.rnk + 1),
             |fin AS (
             |  SELECT n_name, MAX(rnk) AS n_train, MAX(day) AS last_day
             |  FROM d GROUP BY 1),
             |state AS (
             |  SELECT h.n_name, f.n_train, f.last_day, h.l AS lvl,
             |    h.b AS trd
             |  FROM holt h JOIN fin f ON f.n_name = h.n_name
             |    AND h.rnk = f.n_train),
             |naive AS (
             |  SELECT n_name,
             |    CAST(SUM(ABS(cents - pc)) AS BIGINT) AS naive_sum,
             |    CAST(COUNT(*) AS BIGINT) AS n_diffs
             |  FROM (
             |    SELECT n_name, cents,
             |      lag(cents) OVER (PARTITION BY n_name ORDER BY rnk)
             |        AS pc
             |    FROM d) x
             |  WHERE pc IS NOT NULL GROUP BY 1),
             |scored AS (
             |  SELECT t.n_name, s.n_train, nv.naive_sum, nv.n_diffs,
             |    t.cents,
             |    greatest(s.lvl + CAST(t.day - s.last_day AS BIGINT)
             |      * s.trd, CAST(0 AS BIGINT)) AS f
             |  FROM daily t
             |  JOIN state s ON s.n_name = t.n_name
             |  JOIN naive nv ON nv.n_name = t.n_name
             |  WHERE t.day >= DATE '1998-06-01')
             |SELECT n_name AS nation,
             |  CAST(MAX(n_train) AS BIGINT) AS n_train,
             |  CAST(COUNT(*) AS BIGINT) AS n_test,
             |  CAST(SUM(ABS(cents - f)) AS BIGINT) AS sae_cents,
             |  MAX(naive_sum) AS naive_sum_cents,
             |  MAX(n_diffs) AS n_diffs,
             |  CAST(SUM((ABS(cents - f) * 2000000) // (cents + f))
             |    AS BIGINT) // COUNT(*) AS smape_ppm,
             |  round((CAST(SUM(ABS(cents - f)) AS DOUBLE)
             |      * CAST(MAX(n_diffs) AS DOUBLE))
             |    / (CAST(COUNT(*) AS DOUBLE)
             |      * CAST(MAX(naive_sum) AS DOUBLE)), 6) AS mase
             |FROM scored GROUP BY 1 ORDER BY nation""".stripMargin)),

    // EXT — l-DIVERSITY release-gate audit, q275's companion: a
    // quasi-identifier group can be k-anonymous yet still leak when
    // every member shares the SAME sensitive value, so the gate also
    // requires ≥ l distinct sensitive values per group (Machanavajjhala
    // et al. 2007, public). QI = q275's (nation, segment, balance
    // bucket); sensitive attribute = the order priorities of the
    // group's customers (customers without orders don't contribute a
    // sensitive value and are excluded, as in a real release of the
    // joined fact table). Exact integer counts end-to-end: two keyed
    // aggregations (distinct priorities per group, then the per-nation
    // rollup) — no windows. l < 3 marks a violating group.
    EngineQuery("q299_l_diversity",
      (s, dir) => {
        val qi = t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment"),
            expr("(cast(cast(c_acctbal as decimal(18,2)) * 100 as bigint))" +
              " div 100000").as("bal_bucket"))
        val sens = qi.join(t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderpriority")),
          col("c_custkey") === col("o_custkey"))
        val gl = sens
          .groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
          .agg(countDistinct(col("o_orderpriority")).as("l_div"),
            countDistinct(col("c_custkey")).as("n_cust"))
        gl.groupBy("c_nationkey")
          .agg(count(lit(1)).as("n_groups"),
            min(col("l_div")).as("min_l"),
            sum(when(col("l_div") < 3L, 1L).otherwise(0L))
              .as("n_low_diversity"),
            sum(when(col("l_div") < 3L, col("n_cust")).otherwise(0L))
              .as("exposed_customers"),
            sum(col("n_cust")).as("n_customers"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name").as("nation"), col("n_groups"),
            col("min_l"), col("n_low_diversity"),
            col("exposed_customers"),
            round(col("exposed_customers").cast("double") /
              col("n_customers").cast("double"), 6).as("exposed_frac"))
          .orderBy("nation")
      },
      Some("""WITH qi AS (
             |  SELECT c_custkey, c_nationkey, c_mktsegment,
             |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      // 100000 AS bal_bucket
             |  FROM customer),
             |sens AS (
             |  SELECT q.c_nationkey, q.c_mktsegment, q.bal_bucket,
             |    q.c_custkey, o.o_orderpriority
             |  FROM qi q JOIN orders o ON o.o_custkey = q.c_custkey),
             |gl AS (
             |  SELECT c_nationkey, c_mktsegment, bal_bucket,
             |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS l_div,
             |    CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_cust
             |  FROM sens GROUP BY 1, 2, 3),
             |pn AS (
             |  SELECT c_nationkey,
             |    CAST(COUNT(*) AS BIGINT) AS n_groups,
             |    MIN(l_div) AS min_l,
             |    CAST(SUM(CASE WHEN l_div < 3 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_low_diversity,
             |    CAST(SUM(CASE WHEN l_div < 3 THEN n_cust ELSE 0 END)
             |      AS BIGINT) AS exposed_customers,
             |    CAST(SUM(n_cust) AS BIGINT) AS n_customers
             |  FROM gl GROUP BY 1)
             |SELECT n.n_name AS nation, pn.n_groups, pn.min_l,
             |  pn.n_low_diversity, pn.exposed_customers,
             |  round(CAST(pn.exposed_customers AS DOUBLE)
             |    / CAST(pn.n_customers AS DOUBLE), 6) AS exposed_frac
             |FROM pn JOIN nation n ON n.n_nationkey = pn.c_nationkey
             |ORDER BY nation""".stripMargin)),

    // EXT — PAGE-HINKLEY upward-drift statistic over each event
    // type's daily revenue: PH_t = m_t − min_{i≤t} m_i with
    // m_t = Σ (x_i − x̄_i), the sequential change detector that fires
    // when a series drifts above its own running mean (CUSUM's q166
    // running-mean sibling; the streaming monitors' batch twin). The
    // deviation terms are QUANTIZED to exact BIGINT before the
    // cumulative sum — ((x_t·t − S_t)·2²⁰) div t, where S_t is the
    // inclusive prefix sum — so no rational mean and no float ever
    // enters a window (the fixed-point window-sum rule); note both
    // engines TRUNCATE negative integer division toward zero
    // (verified: DuckDB // and Spark div agree on −7/2 = −3), which
    // the negative deviations here exercise. All windows PARTITIONED
    // by event type; alarm at 50k-cents drift.
    EngineQuery("q304_page_hinkley",
      (s, dir) => {
        val w = Window.partitionBy("event_type").orderBy("day")
        val wCum = w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)
        t(s, dir, "events")
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(sum(cents).as("x"))
          .withColumn("t", row_number().over(w).cast("long"))
          .withColumn("s_t", sum(col("x")).over(wCum))
          .withColumn("dev_q",
            expr("((x * t - s_t) * 1048576) div t"))
          .withColumn("m_t", sum(col("dev_q")).over(wCum))
          .withColumn("run_min", min(col("m_t")).over(wCum))
          .select(col("event_type"),
            datediff(col("day"), lit("2024-01-01").cast("date"))
              .cast("long").as("day_idx"),
            col("x").as("cents"),
            (col("m_t") - col("run_min")).as("ph_q"),
            (col("m_t") - col("run_min") >
              lit(50000L) * lit(1048576L)).as("alarm"))
          .orderBy("event_type", "day_idx")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100
             |      AS BIGINT)) AS BIGINT) AS x
             |  FROM events GROUP BY 1, 2),
             |seq AS (
             |  SELECT event_type, day, x,
             |    CAST(row_number() OVER (PARTITION BY event_type
             |      ORDER BY day) AS BIGINT) AS t,
             |    CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS s_t
             |  FROM daily),
             |dev AS (
             |  SELECT event_type, day, x, t,
             |    ((x * t - s_t) * 1048576) // t AS dev_q
             |  FROM seq),
             |ph AS (
             |  SELECT event_type, day, x,
             |    CAST(SUM(dev_q) OVER (PARTITION BY event_type
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND CURRENT ROW) AS BIGINT) AS m_t
             |  FROM dev),
             |runm AS (
             |  SELECT event_type, day, x, m_t,
             |    CAST(MIN(m_t) OVER (PARTITION BY event_type
             |      ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
             |        AND CURRENT ROW) AS BIGINT) AS run_min
             |  FROM ph)
             |SELECT event_type,
             |  CAST(day - DATE '2024-01-01' AS BIGINT) AS day_idx,
             |  x AS cents, m_t - run_min AS ph_q,
             |  m_t - run_min > CAST(50000 AS BIGINT) * 1048576 AS alarm
             |FROM runm ORDER BY event_type, day_idx""".stripMargin)),

    // EXT — BENFORD first-digit audit of order totals: observed
    // leading-digit shares vs Newcomb–Benford expectation log₁₀(1+1/d)
    // — the classic fabricated-numbers / unit-mixing screen. Expected
    // frequencies enter BOTH engines as the same ×1e9 integer literals
    // (from [[benfordFp]] — one source of truth interpolated into the
    // oracle), observed shares quantize as obs·1e9 div n, and the
    // deviation is an exact BIGINT — no transcendental is ever
    // evaluated by either engine at query time. One map-side-combined
    // 9-group aggregation over a substring of the cents value; the
    // digit histogram is 9 rows at any scale factor.
    EngineQuery("q314_benford_audit",
      (s, dir) => {
        val digits = benfordFp.zipWithIndex
          .map { case (fp, i) => (i + 1L, fp) }
        val exp = s.createDataFrame(digits)
          .toDF("digit", "exp_fp")
        val obs = t(s, dir, "orders")
          .select(substring(expr(
            "cast(cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint) as string)"),
            1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val tot = obs.agg(sum(col("n_obs")).as("n"))
        broadcast(exp).join(obs, Seq("digit"), "left")
          .select(col("digit"),
            coalesce(col("n_obs"), lit(0L)).as("n_obs"),
            col("exp_fp"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n_obs"),
            expr("(n_obs * 1000000000) div n").as("obs_fp"),
            col("exp_fp"),
            abs(expr("(n_obs * 1000000000) div n") - col("exp_fp"))
              .as("abs_dev_fp"))
          .orderBy("digit")
      },
      Some(s"""WITH exp AS (
              |  SELECT * FROM (VALUES
              |    ${benfordFp.zipWithIndex.map { case (fp, i) =>
                     s"(${i + 1}, CAST($fp AS BIGINT))" }
                   .mkString(", ")})
              |    AS t(digit, exp_fp)),
              |obs AS (
              |  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS
              |      DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
              |      AS BIGINT) AS digit,
              |    CAST(COUNT(*) AS BIGINT) AS n_obs
              |  FROM orders GROUP BY 1),
              |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
              |SELECT e.digit, COALESCE(o.n_obs, 0) AS n_obs,
              |  (COALESCE(o.n_obs, 0) * 1000000000) // t.n AS obs_fp,
              |  e.exp_fp,
              |  abs((COALESCE(o.n_obs, 0) * 1000000000) // t.n
              |    - e.exp_fp) AS abs_dev_fp
              |FROM exp e LEFT JOIN obs o ON o.digit = e.digit
              |CROSS JOIN tot t
              |ORDER BY e.digit""".stripMargin)),

    // EXT — UNNORMALIZED HAAR WAVELET decomposition of each event
    // type's first-16-day revenue: 4 levels of pairwise (sum, diff)
    // over a zero-filled dyadic calendar — EXACT integer multi-
    // resolution analysis, no √2 normalization, so every coefficient
    // is a BIGINT both engines compute identically. Detail
    // coefficients localize change (a level-k spike = a shift inside
    // a 2^k-day window) — the wavelet complement of q304's
    // Page-Hinkley and the synopsis behind wavelet-histogram
    // selectivity estimation. Spark folds each level as ONE keyed
    // aggregation (pair index = i div 2, sign = 1−2·(i mod 2));
    // 4 levels = 4 map-side-combined shuffles of ≤ |types|·16 rows.
    EngineQuery("q315_haar_wavelet",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"),
            datediff(col("ts").cast("date"),
              lit("2024-01-01").cast("date")).cast("long").as("i"))
          .agg(sum(cents).as("v"))
          .filter(col("i") < 16L)
        val types = daily.select("event_type").distinct()
        val cal = types.select(col("event_type"),
          explode(sequence(lit(0L), lit(15L))).as("i"))
        var approx = cal.join(daily, Seq("event_type", "i"), "left")
          .select(col("event_type"), col("i"),
            coalesce(col("v"), lit(0L)).as("v"))
        var out: DataFrame = null
        for (level <- 1 to 4) {
          val folded = approx
            .groupBy(col("event_type"), expr("i div 2").as("i"))
            .agg(sum(col("v")).as("a"),
              sum(col("v") * (lit(1L) - lit(2L) * expr("i % 2")))
                .as("d"))
          val details = folded.select(col("event_type"),
            lit(level.toLong).as("level"), col("i").as("idx"),
            col("d").as("coef"))
          out = if (out == null) details else out.union(details)
          approx = folded.select(col("event_type"), col("i"),
            col("a").as("v"))
        }
        out.union(approx.select(col("event_type"),
            lit(5L).as("level"), col("i").as("idx"),
            col("v").as("coef")))
          .orderBy("event_type", "level", "idx")
      },
      Some(s"""WITH daily AS (
              |  SELECT event_type,
              |    CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT)
              |      AS i,
              |    CAST(SUM($centsSql) AS BIGINT) AS v
              |  FROM events GROUP BY 1, 2 HAVING i < 16),
              |cal AS (
              |  SELECT t.event_type, g.i FROM
              |    (SELECT DISTINCT event_type FROM daily) t
              |  CROSS JOIN (SELECT unnest(range(0, 16)) AS i) g),
              |a0 AS (
              |  SELECT c.event_type, c.i, COALESCE(d.v, 0) AS v
              |  FROM cal c LEFT JOIN daily d
              |    ON d.event_type = c.event_type AND d.i = c.i),
              |${(1 to 4).map(l =>
                 s"""a$l AS (
                    |  SELECT event_type, i // 2 AS i,
                    |    CAST(SUM(v) AS BIGINT) AS v,
                    |    CAST(SUM(v * (1 - 2 * (i % 2))) AS BIGINT) AS d
                    |  FROM a${l - 1} GROUP BY 1, 2)""".stripMargin)
                 .mkString(",\n")}
              |SELECT event_type, level, idx, coef FROM (
              |  ${(1 to 4).map(l =>
                   s"SELECT event_type, CAST($l AS BIGINT) AS level, " +
                     s"i AS idx, d AS coef FROM a$l")
                   .mkString("\n  UNION ALL ")}
              |  UNION ALL SELECT event_type, CAST(5 AS BIGINT), i, v
              |    FROM a4) u
              |ORDER BY event_type, level, idx""".stripMargin)),

    // EXT — AMS (Alon–Matias–Szegedy) F₂ sketch with merge proof: 32
    // ±1-signed counters over event user_ids estimate the second
    // frequency moment Σc², the join/self-join size and skew
    // predictor. Signs come from the oracle-portable sha256 prefix
    // parity (per-counter salt), so both engines build bit-identical
    // counters; the sketch's linearity is PROVEN as data — per-type
    // partial counters vector-SUM into a merged sketch asserted
    // cell-exact against the direct build (the q258 CMS discipline:
    // partial aggregates ship, raw rows don't) — and the estimate is
    // gated against the EXACT F₂ as a ×1e9 error row (the q260
    // pattern; mean-of-32 keeps |err| well under the 0.5 bound
    // asserted as data). Explode is 32 structs per event row, all
    // map-side-combined to ≤ 32·|types| partials per task; |est−F₂|
    // ×1e9 stays in int64 while F₂ ≤ 9·10⁹ (sf well beyond 1).
    EngineQuery("q317_ams_f2_sketch",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), col("event_type"))
        val signs = (0 until 32).map(j => struct(lit(j.toLong).as("j"),
          (lit(1L) - lit(2L) * pmod(sha256PrefixLong(
            concat(lit(s"ams$j:"), col("user_id").cast("string"))),
            lit(2L))).as("sgn")))
        val base = ev
          .select(col("event_type"), explode(array(signs: _*)).as("js"))
          .select(col("event_type"), col("js.j").as("j"),
            col("js.sgn").as("sgn"))
        val perType = base.groupBy("event_type", "j")
          .agg(sum("sgn").as("c"))
        val merged = perType.groupBy("j").agg(sum("c").as("c_merged"))
        val direct = base.groupBy("j").agg(sum("sgn").as("c_direct"))
        val est = merged.join(direct, Seq("j"))
          .agg(count(lit(1)).as("n_counters"),
            sum(when(col("c_merged") =!= col("c_direct"), 1L)
              .otherwise(0L)).as("n_mismatched"),
            expr("sum(c_direct * c_direct) div 32").as("f2_est"))
        val exact = ev.groupBy("user_id").agg(count(lit(1)).as("c"))
          .agg(sum(expr("c * c")).as("f2_exact"))
        est.crossJoin(broadcast(exact))
          .select(col("n_counters"), col("n_mismatched"),
            col("f2_est"), col("f2_exact"),
            expr("abs(f2_est - f2_exact) * 1000000000 div f2_exact")
              .as("abs_rel_err_fp"))
          .withColumn("bound_ok", col("abs_rel_err_fp") <= 500000000L)
      },
      Some("""WITH base AS (
             |  SELECT event_type, r.j,
             |    1 - 2 * (CAST('0x' || substr(sha256(
             |      'ams' || CAST(r.j AS VARCHAR) || ':'
             |        || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      % 2) AS sgn
             |  FROM events
             |  CROSS JOIN (SELECT unnest(range(0, 32)) AS j) r),
             |per_type AS (
             |  SELECT event_type, j, CAST(SUM(sgn) AS BIGINT) AS c
             |  FROM base GROUP BY 1, 2),
             |merged AS (
             |  SELECT j, CAST(SUM(c) AS BIGINT) AS c_merged
             |  FROM per_type GROUP BY 1),
             |direct AS (
             |  SELECT j, CAST(SUM(sgn) AS BIGINT) AS c_direct
             |  FROM base GROUP BY 1),
             |est AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_counters,
             |    CAST(SUM(CASE WHEN m.c_merged <> d.c_direct
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
             |    CAST(SUM(d.c_direct * d.c_direct) AS BIGINT) // 32
             |      AS f2_est
             |  FROM merged m JOIN direct d ON d.j = m.j),
             |ex AS (
             |  SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM (
             |    SELECT COUNT(*) AS c FROM events GROUP BY user_id) x)
             |SELECT n_counters, n_mismatched, f2_est, f2_exact,
             |  abs(f2_est - f2_exact) * 1000000000 // f2_exact
             |    AS abs_rel_err_fp,
             |  abs(f2_est - f2_exact) * 1000000000 // f2_exact
             |    <= 500000000 AS bound_ok
             |FROM est CROSS JOIN ex""".stripMargin)),

    // EXT — hash-randomization (sign-flip permutation) test for the
    // parity-cohort spend difference: the exact-inference complement
    // of q153's asymptotic z-test. Per-user cents totals are signed
    // by 64 deterministic sha256-parity assignments — b = 0 IS the
    // observed cohort split (the q153 assignment), b = 1..63 are the
    // re-randomizations — and the statistic |Σ s_b(u)·x_u| is an
    // exact BIGINT per b. p = (1 + #{b≥1 : T_b ≥ T_obs}) / 64 as a
    // ×1e9 integer. Everything is one |users|·64 explode of
    // map-side-combinable partial sums — resampling inference with
    // zero data movement beyond one 64-key aggregation, the
    // distributed answer to driver-side bootstrap loops.
    EngineQuery("q318_permutation_test",
      (s, dir) => {
        val ux = t(s, dir, "events").groupBy("user_id")
          .agg(sum(cents).as("x"))
        val flips = (0 until 64).map(b => struct(lit(b.toLong).as("b"),
          (lit(1L) - lit(2L) * pmod(sha256PrefixLong(
            concat(lit(s"perm$b:"), col("user_id").cast("string"))),
            lit(2L))).as("sgn")))
        val tb = ux
          .select(col("x"), explode(array(flips: _*)).as("bs"))
          .select(col("bs.b").as("b"),
            (col("bs.sgn") * col("x")).as("sx"))
          .groupBy("b").agg(abs(sum("sx")).as("t_b"))
        val obs = tb.filter(col("b") === 0L)
          .select(col("t_b").as("t_obs"))
        val p = tb.crossJoin(broadcast(obs))
          .agg(expr(
            """(1 + sum(case when b >= 1 and t_b >= t_obs
              |  then 1 else 0 end)) * 1000000000 div 64"""
              .stripMargin).as("p_fp"))
        tb.crossJoin(broadcast(obs)).crossJoin(broadcast(p))
          .select(col("b"), col("t_b"),
            (col("t_b") >= col("t_obs")).as("ge"),
            col("t_obs"), col("p_fp"))
          .orderBy("b")
      },
      Some(s"""WITH ux AS (
              |  SELECT user_id, CAST(SUM($centsSql) AS BIGINT) AS x
              |  FROM events GROUP BY 1),
              |tb AS (
              |  SELECT r.b, CAST(abs(SUM(
              |    (1 - 2 * (CAST('0x' || substr(sha256(
              |      'perm' || CAST(r.b AS VARCHAR) || ':'
              |        || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
              |      % 2)) * x)) AS BIGINT) AS t_b
              |  FROM ux
              |  CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r
              |  GROUP BY 1),
              |obs AS (SELECT t_b AS t_obs FROM tb WHERE b = 0),
              |p AS (
              |  SELECT (1 + CAST(SUM(CASE WHEN b >= 1 AND t_b >= t_obs
              |      THEN 1 ELSE 0 END) AS BIGINT)) * 1000000000 // 64
              |    AS p_fp
              |  FROM tb CROSS JOIN obs)
              |SELECT b, t_b, t_b >= t_obs AS ge, t_obs, p_fp
              |FROM tb CROSS JOIN obs CROSS JOIN p
              |ORDER BY b""".stripMargin)),

    // EXT — lagged CROSS-correlogram between the click and purchase
    // daily spend series (lags 0..7): does click volume LEAD
    // purchases — the cross-series complement of q286's
    // autocorrelation, the lead–lag screen behind attribution and
    // forecasting-feature selection. Identical exact-moment algebra:
    // mean-center as n·x − Σx in BIGINT, quantize each series by its
    // own max|dr| div 2²⁰ + 1 factor, lags over the calendar-bounded
    // |days| frame, numerators and denominators as exact integer
    // sums; the only double is the final num/√(den_c·den_p) built as
    // one identical expression chain from those exact ints.
    EngineQuery("q320_crosscorrelation",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .filter(col("event_type").isin("click", "purchase"))
          .groupBy(col("ts").cast("date").as("day"))
          .agg(sum(when(col("event_type") === "click", cents)
              .otherwise(0L)).as("xc"),
            sum(when(col("event_type") === "purchase", cents)
              .otherwise(0L)).as("xp"))
        val st = daily.agg(count(lit(1)).as("n"),
          sum("xc").as("sc"), sum("xp").as("sp"))
        val d0 = daily.crossJoin(broadcast(st))
          .select(col("day"),
            (col("n") * col("xc") - col("sc")).as("drc"),
            (col("n") * col("xp") - col("sp")).as("drp"))
        val qf = d0.agg(expr("max(abs(drc)) div 1048576 + 1").as("qc"),
          expr("max(abs(drp)) div 1048576 + 1").as("qp"))
        val dv = d0.crossJoin(broadcast(qf))
          .select(col("day"), expr("drc div qc").as("dc"),
            expr("drp div qp").as("dp"))
        val w = Window.orderBy("day")
        val lagged = dv.select(
          col("dc") +: (0 to 7).map(l =>
            lag("dp", l).over(w).as(s"p$l")): _*)
        val aggs = sum(expr("dc * dc")).as("den_c") +:
          sum(expr("p0 * p0")).as("den_p") +:
          (0 to 7).flatMap(l => Seq(
            sum(col("dc") * col(s"p$l")).as(s"num$l"),
            count(col(s"p$l")).as(s"np$l")))
        val sums = lagged.agg(aggs.head, aggs.tail: _*)
        sums.select(expr(s"""stack(8, ${(0 to 7).map(l =>
              s"CAST($l AS BIGINT), num$l, np$l").mkString(", ")})
            AS (lag_k, num, n_pairs)"""),
            col("den_c"), col("den_p"))
          .select(col("lag_k"), col("n_pairs"), col("num"),
            col("den_c"), col("den_p"),
            (col("num").cast("double") /
              sqrt(col("den_c").cast("double") *
                col("den_p").cast("double"))).as("ccf"))
          .orderBy("lag_k")
      },
      Some(s"""WITH daily AS (
              |  SELECT CAST(ts AS DATE) AS day,
              |    CAST(SUM(CASE WHEN event_type = 'click'
              |      THEN $centsSql ELSE 0 END) AS BIGINT) AS xc,
              |    CAST(SUM(CASE WHEN event_type = 'purchase'
              |      THEN $centsSql ELSE 0 END) AS BIGINT) AS xp
              |  FROM events
              |  WHERE event_type IN ('click', 'purchase')
              |  GROUP BY 1),
              |st AS (
              |  SELECT COUNT(*) AS n, CAST(SUM(xc) AS BIGINT) AS sc,
              |    CAST(SUM(xp) AS BIGINT) AS sp
              |  FROM daily),
              |d0 AS (
              |  SELECT day, st.n * xc - st.sc AS drc,
              |    st.n * xp - st.sp AS drp
              |  FROM daily CROSS JOIN st),
              |qf AS (
              |  SELECT CAST(MAX(ABS(drc)) AS BIGINT) // 1048576 + 1
              |      AS qc,
              |    CAST(MAX(ABS(drp)) AS BIGINT) // 1048576 + 1 AS qp
              |  FROM d0),
              |dv AS (
              |  SELECT day, drc // qf.qc AS dc, drp // qf.qp AS dp
              |  FROM d0 CROSS JOIN qf),
              |lagged AS (
              |  SELECT dc, dp AS p0,
              |    ${(1 to 7).map(l =>
                     s"lag(dp, $l) OVER (ORDER BY day) AS p$l")
                     .mkString(", ")}
              |  FROM dv),
              |sums AS (
              |  SELECT CAST(SUM(dc * dc) AS BIGINT) AS den_c,
              |    CAST(SUM(p0 * p0) AS BIGINT) AS den_p,
              |    ${(0 to 7).map(l =>
                     s"CAST(SUM(dc * p$l) AS BIGINT) AS num$l, " +
                     s"CAST(COUNT(p$l) AS BIGINT) AS np$l")
                     .mkString(", ")}
              |  FROM lagged)
              |SELECT u.lag_k, u.n_pairs, u.num, s.den_c, s.den_p,
              |  CAST(u.num AS DOUBLE)
              |    / sqrt(CAST(s.den_c AS DOUBLE)
              |        * CAST(s.den_p AS DOUBLE)) AS ccf
              |FROM sums s, (
              |  ${(0 to 7).map(l =>
                   s"SELECT CAST($l AS BIGINT) AS lag_k, " +
                   s"num$l AS num, np$l AS n_pairs FROM sums")
                   .mkString("\n  UNION ALL ")}) u
              |ORDER BY u.lag_k""".stripMargin)),

    // EXT — KMV (k-minimum-values / bottom-k) distinct sketch with
    // union merge proof: the 256 smallest 60-bit sha256 hashes of the
    // user-id domain. Completes the deterministic sketch battery
    // (HLL q257, CMS q258, Bloom q259, AMS q317) with the one whose
    // merge is EXACT set algebra: bottom-k of the union of per-type
    // bottom-k partials equals the direct global bottom-k (any global
    // bottom hash is a fortiori in its type's bottom-k), asserted
    // rank-by-rank as data. The estimator (k−1)/F(h_k) runs in pure
    // integer arithmetic — r = h_k div (2⁶⁰ div 10¹²) rescales the
    // kth hash to ~10¹² so (k−1)·10¹² div r never overflows and both
    // engines floor identically — and is gated against the exact
    // distinct count as a ×1e9 error row (the q260/q317 pattern).
    // Per-type bottom-k via partitioned rank; the two global
    // bottom-256 picks are sort-limit (TakeOrdered — per-partition
    // top-k, k rows to one reducer, never a global sort of the data).
    EngineQuery("q321_kmv_union",
      (s, dir) => {
        val hashed = t(s, dir, "events")
          .select(col("event_type"), sha256PrefixLong15(
            concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
        val direct = hashed.select("h").distinct()
          .orderBy("h").limit(256)
        val partial = hashed.distinct()
          .withColumn("rk", row_number().over(
            Window.partitionBy("event_type").orderBy("h")))
          .filter(col("rk") <= 256)
        val merged = partial.select("h").distinct()
          .orderBy("h").limit(256)
        val dr = direct.select(col("h").as("h_direct"))
          .withColumn("rk", row_number().over(Window.orderBy("h_direct")))
        val mr = merged.select(col("h").as("h_merged"))
          .withColumn("rk", row_number().over(Window.orderBy("h_merged")))
        val proof = dr.join(mr, Seq("rk"), "full_outer")
          .agg(count(lit(1)).as("k"),
            sum(when(coalesce(col("h_direct"), lit(-1L)) =!=
              coalesce(col("h_merged"), lit(-2L)), 1L).otherwise(0L))
              .as("n_mismatched"),
            max(col("h_direct")).as("kth_hash"))
        val exact = t(s, dir, "events")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        proof.crossJoin(broadcast(exact))
          .select(col("k"), col("n_mismatched"), col("kth_hash"),
            expr("""(k - 1) * 1000000000000 div
              |(kth_hash div (1152921504606846976 div 1000000000000))"""
              .stripMargin).as("n_est"),
            col("n_exact"))
          .withColumn("abs_rel_err_fp",
            expr("abs(n_est - n_exact) * 1000000000 div n_exact"))
          .withColumn("bound_ok", col("abs_rel_err_fp") <= 200000000L)
      },
      Some("""WITH hashed AS (
             |  SELECT event_type,
             |    CAST('0x' || substr(sha256(
             |      'kmv:' || CAST(user_id AS VARCHAR)), 1, 15)
             |      AS BIGINT) AS h
             |  FROM events),
             |direct AS (
             |  SELECT DISTINCT h FROM hashed ORDER BY h LIMIT 256),
             |partial AS (
             |  SELECT event_type, h FROM (
             |    SELECT event_type, h, row_number() OVER (
             |      PARTITION BY event_type ORDER BY h) AS rk
             |    FROM (SELECT DISTINCT event_type, h FROM hashed) x) y
             |  WHERE rk <= 256),
             |merged AS (
             |  SELECT DISTINCT h FROM partial ORDER BY h LIMIT 256),
             |dr AS (SELECT h AS h_direct,
             |  row_number() OVER (ORDER BY h) AS rk FROM direct),
             |mr AS (SELECT h AS h_merged,
             |  row_number() OVER (ORDER BY h) AS rk FROM merged),
             |proof AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
             |    CAST(SUM(CASE WHEN COALESCE(d.h_direct, -1)
             |        <> COALESCE(m.h_merged, -2) THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_mismatched,
             |    CAST(MAX(d.h_direct) AS BIGINT) AS kth_hash
             |  FROM dr d FULL OUTER JOIN mr m ON m.rk = d.rk),
             |ex AS (
             |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT)
             |    AS n_exact FROM events)
             |SELECT k, n_mismatched, kth_hash,
             |  (k - 1) * 1000000000000
             |    // (kth_hash // (1152921504606846976 // 1000000000000))
             |    AS n_est,
             |  n_exact,
             |  abs((k - 1) * 1000000000000
             |    // (kth_hash // (1152921504606846976 // 1000000000000))
             |    - n_exact) * 1000000000 // n_exact AS abs_rel_err_fp,
             |  abs((k - 1) * 1000000000000
             |    // (kth_hash // (1152921504606846976 // 1000000000000))
             |    - n_exact) * 1000000000 // n_exact
             |    <= 200000000 AS bound_ok
             |FROM proof CROSS JOIN ex""".stripMargin)),

    // EXT — STATIONARY DISTRIBUTION of the empirical event-type
    // Markov chain: 8 power-iteration steps on q151's per-user
    // transition counts — where user behavior settles if the observed
    // dynamics keep running, the long-run-share complement of the
    // one-step matrix. The flow algebra is PageRank's single-floor
    // discipline (operators/PageRank): each step moves
    // π(a)·cnt(a,b) div rowtotal(a) — ONE integer division per edge
    // per step, so partial aggregates ship associatively and both
    // engines floor identically; the oracle unrolls the identical 8
    // steps (pagerankIterSql's pattern, undamped and row-stochastic).
    // The iterated frames are |types|² = 25 rows — the heavy part is
    // the ONE pass building transition counts (lead window partitioned
    // by user). π·c stays in int64 while total transitions ≤ 9·10⁹.
    EngineQuery("q325_markov_steady",
      (s, dir) => {
        val pairs = t(s, dir, "events")
          .withColumn("nxt", lead("event_type", 1).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")))
          .filter(col("nxt").isNotNull)
        val cnt = pairs
          .groupBy(col("event_type").as("a"), col("nxt").as("b"))
          .agg(count(lit(1)).as("c"))
        val rowt = cnt.groupBy("a").agg(sum("c").as("ra"))
        val trans = cnt.join(rowt, "a")
        val types = cnt.select(col("a").as("event_type")).distinct()
        val nT = types.agg(count(lit(1)).as("ntypes"))
        var pi = types.crossJoin(broadcast(nT))
          .select(col("event_type"),
            expr("1000000000 div ntypes").as("fp"))
        for (_ <- 1 to 8) {
          pi = trans
            .join(pi.withColumnRenamed("event_type", "a"), "a")
            .select(col("b"), expr("fp * c div ra").as("m"))
            .groupBy(col("b").as("event_type"))
            .agg(sum("m").as("fp"))
        }
        pi.select(col("event_type"), col("fp").as("pi_fp"),
            round(col("fp").cast("double") / 1e9, 6).as("pi"))
          .orderBy("event_type")
      },
      Some(s"""WITH pairs AS (
              |  SELECT event_type AS a,
              |    lead(event_type, 1) OVER (PARTITION BY user_id
              |      ORDER BY ts, event_id) AS b
              |  FROM events),
              |cnt AS (
              |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
              |  FROM pairs WHERE b IS NOT NULL GROUP BY 1, 2),
              |rowt AS (
              |  SELECT a, CAST(SUM(c) AS BIGINT) AS ra
              |  FROM cnt GROUP BY 1),
              |ty AS (SELECT DISTINCT a AS t FROM cnt),
              |p0 AS (
              |  SELECT t, CAST(1000000000
              |    // (SELECT COUNT(*) FROM ty) AS BIGINT) AS fp
              |  FROM ty),
              |${(1 to 8).map(i =>
                 s"""p$i AS (
                    |  SELECT c.b AS t,
                    |    CAST(SUM(p.fp * c.c // r.ra) AS BIGINT) AS fp
                    |  FROM cnt c
                    |  JOIN p${i - 1} p ON p.t = c.a
                    |  JOIN rowt r ON r.a = c.a
                    |  GROUP BY 1)""".stripMargin).mkString(",\n")}
              |SELECT t AS event_type, fp AS pi_fp,
              |  round(CAST(fp AS DOUBLE) / 1000000000.0, 6) AS pi
              |FROM p8 ORDER BY event_type""".stripMargin)),

    // EXT — RENDEZVOUS (highest-random-weight) sharding elasticity
    // audit: assign every user to 16 shards by argmax of per-shard
    // sha256 weights, re-assign with a 17th shard added, and report
    // per-shard balance and movement — the partitioner-design
    // certificate that HRW moves ONLY ≈ 1/17 of each shard's keys
    // (all movers land on the new shard; consistent-hashing's selling
    // point, asserted as data). The argmax tie-break is the struct
    // order (weight, shard) in BOTH engines (Spark max(struct), the
    // oracle's row_number DESC/DESC), so assignment is deterministic
    // bit-for-bit. One |users|×17 explode, map-side-combined argmax
    // per user — linear, no state.
    EngineQuery("q328_rendezvous_shards",
      (s, dir) => {
        val users = t(s, dir, "events").select("user_id").distinct()
        def assign(n: Int, outCol: String) = {
          val ws = (0 until n).map(j => struct(
            sha256PrefixLong15(concat(lit(s"rdv$j:"),
              col("user_id").cast("string"))).as("h"),
            lit(j.toLong).as("j")))
          users.select(col("user_id"),
              explode(array(ws: _*)).as("w"))
            .groupBy("user_id").agg(max("w").as("m"))
            .select(col("user_id"), col("m.j").as(outCol))
        }
        assign(16, "shard").join(assign(17, "shard17"), "user_id")
          .groupBy("shard")
          .agg(count(lit(1)).as("n_users"),
            sum(when(col("shard17") =!= col("shard"), 1L)
              .otherwise(0L)).as("n_moved"),
            sum(when(col("shard17") === 16L, 1L).otherwise(0L))
              .as("n_to_new"))
          .withColumn("moved_fp",
            expr("n_moved * 1000000000 div n_users"))
          .withColumn("movers_land_on_new",
            col("n_moved") === col("n_to_new"))
          .orderBy("shard")
      },
      Some(s"""WITH users AS (
              |  SELECT DISTINCT user_id FROM events),
              |${Seq(16, 17).map(n =>
                 s"""a$n AS (
                    |  SELECT user_id, j AS s$n FROM (
                    |    SELECT user_id, j, row_number() OVER (
                    |      PARTITION BY user_id
                    |      ORDER BY h DESC, j DESC) AS rn
                    |    FROM (
                    |      SELECT u.user_id, r.j,
                    |        CAST('0x' || substr(sha256(
                    |          'rdv' || CAST(r.j AS VARCHAR) || ':' ||
                    |          CAST(u.user_id AS VARCHAR)), 1, 15)
                    |          AS BIGINT) AS h
                    |      FROM users u
                    |      CROSS JOIN (SELECT unnest(range(0, $n)) AS j)
                    |        r) x) y
                    |  WHERE rn = 1)""".stripMargin).mkString(",\n")}
              |SELECT a16.s16 AS shard,
              |  CAST(COUNT(*) AS BIGINT) AS n_users,
              |  CAST(SUM(CASE WHEN a17.s17 <> a16.s16
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
              |  CAST(SUM(CASE WHEN a17.s17 = 16
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_to_new,
              |  CAST(SUM(CASE WHEN a17.s17 <> a16.s16
              |      THEN 1 ELSE 0 END) AS BIGINT) * 1000000000
              |    // CAST(COUNT(*) AS BIGINT) AS moved_fp,
              |  CAST(SUM(CASE WHEN a17.s17 <> a16.s16
              |      THEN 1 ELSE 0 END) AS BIGINT)
              |    = CAST(SUM(CASE WHEN a17.s17 = 16
              |      THEN 1 ELSE 0 END) AS BIGINT) AS movers_land_on_new
              |FROM a16 JOIN a17 ON a17.user_id = a16.user_id
              |GROUP BY 1 ORDER BY shard""".stripMargin)),

    // EXT — exact MEDIAN + MAD (median absolute deviation) per event
    // type: the robust location/scale pair completing the robust
    // battery (winsorized/trimmed means q294, Theil–Sen q202). Both
    // medians are the exact lower median (rank ⌈n/2⌉) picked from
    // grouped VALUE-COUNT frames — the q223 discipline: windows run
    // over |distinct cents values| per type, never raw rows, and the
    // second pass reuses the same shape on the |distinct deviations|
    // frame. All integers; no interpolation, no type-7 quantile
    // drama.
    EngineQuery("q329_mad_by_type",
      (s, dir) => {
        val x = t(s, dir, "events")
          .select(col("event_type"), cents.as("v"))
        def lowerMedian(df: DataFrame, valCol: String) = {
          val counts = df.groupBy(col("event_type"),
              col(valCol).as("v")).agg(count(lit(1)).as("c"))
          val cum = counts.withColumn("cum", sum("c").over(
              Window.partitionBy("event_type").orderBy("v")))
            .withColumn("n", sum("c").over(
              Window.partitionBy("event_type")))
          cum.filter(expr("cum >= (n + 1) div 2"))
            .groupBy("event_type")
            .agg(min("v").as("med"), max("n").as("n"))
        }
        val m1 = lowerMedian(x, "v")
        val dev = x.join(m1.select("event_type", "med"), "event_type")
          .select(col("event_type"), abs(col("v") - col("med")).as("d"))
        val m2 = lowerMedian(dev, "d")
          .select(col("event_type"), col("med").as("mad_cents"))
        m1.select(col("event_type"), col("n"),
            col("med").as("median_cents"))
          .join(m2, "event_type")
          .orderBy("event_type")
      },
      Some(s"""WITH x AS (
              |  SELECT event_type, $centsSql AS v FROM events),
              |c1 AS (
              |  SELECT event_type, v, COUNT(*) AS c
              |  FROM x GROUP BY 1, 2),
              |cum1 AS (
              |  SELECT event_type, v,
              |    SUM(c) OVER (PARTITION BY event_type ORDER BY v)
              |      AS cum,
              |    SUM(c) OVER (PARTITION BY event_type) AS n
              |  FROM c1),
              |m1 AS (
              |  SELECT event_type, CAST(MIN(v) AS BIGINT) AS med,
              |    CAST(MAX(n) AS BIGINT) AS n
              |  FROM cum1 WHERE cum >= (n + 1) // 2 GROUP BY 1),
              |dev AS (
              |  SELECT x.event_type, abs(x.v - m1.med) AS d
              |  FROM x JOIN m1 ON m1.event_type = x.event_type),
              |c2 AS (
              |  SELECT event_type, d, COUNT(*) AS c
              |  FROM dev GROUP BY 1, 2),
              |cum2 AS (
              |  SELECT event_type, d,
              |    SUM(c) OVER (PARTITION BY event_type ORDER BY d)
              |      AS cum,
              |    SUM(c) OVER (PARTITION BY event_type) AS n
              |  FROM c2),
              |m2 AS (
              |  SELECT event_type, CAST(MIN(d) AS BIGINT) AS mad_cents
              |  FROM cum2 WHERE cum >= (n + 1) // 2 GROUP BY 1)
              |SELECT m1.event_type, m1.n, m1.med AS median_cents,
              |  m2.mad_cents
              |FROM m1 JOIN m2 ON m2.event_type = m1.event_type
              |ORDER BY m1.event_type""".stripMargin)),

    // EXT — LONGEST (strictly) INCREASING SUBSEQUENCE of each type's
    // daily-spend series — the classic monotone-trend length, a
    // stronger signal than q201's runs test (runs count local
    // direction flips; LIS measures the longest globally consistent
    // climb). Patience algorithm as the q272 fold pattern's third
    // showcase: the per-type state is the sorted TAILS list, and one
    // unified list expression handles replace and append —
    // prefix(<x) ++ [x] ++ suffix-after-first-≥x (an out-of-range
    // slice is empty, so the append case needs no branch). Sequential
    // by nature, so it runs per key inside one aggregate() lambda
    // over the calendar-bounded sorted series (keys parallel, per-key
    // cost |days|·|tails|); the oracle steps the identical list
    // recurrence in a recursive CTE. LIS length = |tails| at the end
    // (tails itself is NOT the subsequence — its length is what is
    // exact), gated along with the tails checksum columns.
    EngineQuery("q330_lis_trend",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .groupBy(col("event_type"), col("ts").cast("date").as("day"))
          .agg(sum(cents).as("v"))
        daily.groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("day"), col("v"))))
            .as("series"))
          .select(col("event_type"),
            size(col("series")).cast("long").as("n_days"),
            expr("""aggregate(series,
                CAST(array() AS array<bigint>),
                (acc, e) -> concat(
                  filter(acc, t -> t < e.v),
                  array(e.v),
                  slice(acc, size(filter(acc, t -> t < e.v)) + 2,
                    greatest(size(acc)
                      - size(filter(acc, t -> t < e.v)) - 1, 0))))""")
              .as("tails"))
          .select(col("event_type"), col("n_days"),
            size(col("tails")).cast("long").as("lis_len"),
            element_at(col("tails"), 1).as("tails_first"),
            element_at(col("tails"), -1).as("tails_last"),
            expr("aggregate(tails, CAST(0 AS BIGINT), (a, t) -> a + t)")
              .as("tails_sum"))
          .orderBy("event_type")
      },
      Some(s"""WITH RECURSIVE daily AS (
              |  SELECT event_type, CAST(ts AS DATE) AS day,
              |    CAST(SUM($centsSql) AS BIGINT) AS v
              |  FROM events GROUP BY 1, 2),
              |d AS (
              |  SELECT event_type, v,
              |    row_number() OVER (PARTITION BY event_type
              |      ORDER BY day) AS rnk
              |  FROM daily),
              |nd AS (
              |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
              |  FROM d GROUP BY 1),
              |f AS (
              |  SELECT event_type, 0 AS rnk,
              |    CAST([] AS BIGINT[]) AS tails
              |  FROM nd
              |  UNION ALL
              |  SELECT d.event_type, d.rnk,
              |    list_concat(list_concat(
              |      list_filter(f.tails, t -> t < d.v), [d.v]),
              |      f.tails[len(list_filter(f.tails, t -> t < d.v))
              |        + 2 :]) AS tails
              |  FROM f JOIN d ON d.event_type = f.event_type
              |    AND d.rnk = f.rnk + 1)
              |SELECT f.event_type, nd.n_days,
              |  CAST(len(f.tails) AS BIGINT) AS lis_len,
              |  f.tails[1] AS tails_first,
              |  f.tails[-1] AS tails_last,
              |  CAST(list_sum(f.tails) AS BIGINT) AS tails_sum
              |FROM f
              |JOIN nd ON nd.event_type = f.event_type
              |  AND f.rnk = nd.n_days
              |ORDER BY f.event_type""".stripMargin))
  )

  /** One k-anonymity quasi-identifier audit (q275). `final` without a
    * type ascription = compile-time constant, INLINED at use sites —
    * a plain val here reads 0 inside the eagerly-built oracle string
    * (this object initializes `all` before vals declared below it)
    * while the lazily-run Spark closure reads 5. */
  private final val KAnonThreshold = 5

  /** One join-cardinality audit row (q274): MCV-plus-uniform-tail
    * estimate vs exact Σ cA·cB, all BIGINT/div so the oracle twin
    * matches bit for bit. Heavy frames are the two per-key count
    * aggregations; everything after is top-20/1-row broadcasts. */
  private[graft] def cardAuditFrame(s: SparkSession, dir: String,
      tblA: String, keyA: String, tblB: String, keyB: String,
      label: String): DataFrame = {
    // the per-key count frames feed FIVE consumers each (MCV top-20,
    // table totals, MCV totals, anti-join tails, exact join) — cut them
    // to leaves once so the base-table scan+aggregate runs once, not
    // once per scalar subframe (r14; at warehouse scale this is a ~4×
    // scan reduction for the audit, guide §1.2 "don't recompute")
    val ca = Frames.cut(t(s, dir, tblA).groupBy(col(keyA).as("v"))
      .agg(count(lit(1)).as("c")))
    val cb = Frames.cut(t(s, dir, tblB).groupBy(col(keyB).as("v"))
      .agg(count(lit(1)).as("c2")))
    val ma = Frames.cut(ca.orderBy(col("c").desc, col("v")).limit(20))
    val mb = Frames.cut(cb.orderBy(col("c2").desc, col("v")).limit(20))
    val ta = ca.agg(sum("c").cast("long").as("rows_a"),
      count(lit(1)).as("ndv_a"))
    val tb = cb.agg(sum("c2").cast("long").as("rows_b"),
      count(lit(1)).as("ndv_b"))
    val sma = ma.agg(coalesce(sum("c"), lit(0L)).cast("long").as("mrows_a"),
      count(lit(1)).as("mn_a"))
    val smb = mb.agg(coalesce(sum("c2"), lit(0L)).cast("long").as("mrows_b"),
      count(lit(1)).as("mn_b"))
    val mcv = ma.join(mb, "v")
      .agg(coalesce(sum(col("c") * col("c2")), lit(0L)).cast("long")
        .as("est_mcv"))
    val ao = ma.join(mb.select("v"), Seq("v"), "left_anti")
      .agg(coalesce(sum("c"), lit(0L)).cast("long").as("s_a"))
    val bo = mb.join(ma.select("v"), Seq("v"), "left_anti")
      .agg(coalesce(sum("c2"), lit(0L)).cast("long").as("s_b"))
    val act = ca.join(cb, "v")
      .agg(coalesce(sum(col("c") * col("c2")), lit(0L)).cast("long")
        .as("actual_rows"))
    mcv.crossJoin(broadcast(ta)).crossJoin(broadcast(tb))
      .crossJoin(broadcast(sma)).crossJoin(broadcast(smb))
      .crossJoin(broadcast(ao)).crossJoin(broadcast(bo))
      .crossJoin(broadcast(act))
      .select(lit(label).as("join_name"),
        (col("est_mcv")
          + when(col("ndv_b") - col("mn_b") > 0, col("s_a") *
              expr("(rows_b - mrows_b) div (ndv_b - mn_b)")).otherwise(0L)
          + when(col("ndv_a") - col("mn_a") > 0, col("s_b") *
              expr("(rows_a - mrows_a) div (ndv_a - mn_a)")).otherwise(0L)
          + when(greatest(col("ndv_a") - col("mn_a"),
                col("ndv_b") - col("mn_b")) > 0,
              expr("((rows_a - mrows_a) * (rows_b - mrows_b)) div " +
                "greatest(ndv_a - mn_a, ndv_b - mn_b)")).otherwise(0L))
          .as("est_rows"),
        col("actual_rows"))
      .select(col("join_name"), col("est_rows"), col("actual_rows"),
        round(col("est_rows").cast("double") /
          col("actual_rows").cast("double"), 6).as("est_over_actual"))
  }

  /** Oracle twin of [[cardAuditFrame]] as a `<p>est` CTE chain. */
  private def cardAuditSql(p: String, tblA: String, keyA: String,
      tblB: String, keyB: String, label: String): String =
    s"""${p}ca AS (SELECT $keyA AS v, COUNT(*) AS c FROM $tblA GROUP BY 1),
       |${p}cb AS (SELECT $keyB AS v, COUNT(*) AS c2 FROM $tblB GROUP BY 1),
       |${p}ma AS (SELECT v, c FROM ${p}ca ORDER BY c DESC, v LIMIT 20),
       |${p}mb AS (SELECT v, c2 FROM ${p}cb ORDER BY c2 DESC, v LIMIT 20),
       |${p}ta AS (SELECT CAST(SUM(c) AS BIGINT) AS rows_a,
       |  CAST(COUNT(*) AS BIGINT) AS ndv_a FROM ${p}ca),
       |${p}tb AS (SELECT CAST(SUM(c2) AS BIGINT) AS rows_b,
       |  CAST(COUNT(*) AS BIGINT) AS ndv_b FROM ${p}cb),
       |${p}sma AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS mrows_a,
       |  CAST(COUNT(*) AS BIGINT) AS mn_a FROM ${p}ma),
       |${p}smb AS (SELECT CAST(COALESCE(SUM(c2), 0) AS BIGINT) AS mrows_b,
       |  CAST(COUNT(*) AS BIGINT) AS mn_b FROM ${p}mb),
       |${p}mcv AS (SELECT CAST(COALESCE(SUM(a.c * b.c2), 0) AS BIGINT)
       |  AS est_mcv FROM ${p}ma a JOIN ${p}mb b USING (v)),
       |${p}ao AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS s_a
       |  FROM ${p}ma WHERE v NOT IN (SELECT v FROM ${p}mb)),
       |${p}bo AS (SELECT CAST(COALESCE(SUM(c2), 0) AS BIGINT) AS s_b
       |  FROM ${p}mb WHERE v NOT IN (SELECT v FROM ${p}ma)),
       |${p}act AS (SELECT CAST(COALESCE(SUM(a.c * b.c2), 0) AS BIGINT)
       |  AS actual_rows FROM ${p}ca a JOIN ${p}cb b USING (v)),
       |${p}est AS (
       |  SELECT '$label' AS join_name,
       |    CAST(mcv.est_mcv
       |      + CASE WHEN tb.ndv_b - smb.mn_b > 0 THEN ao.s_a *
       |          ((tb.rows_b - smb.mrows_b) // (tb.ndv_b - smb.mn_b))
       |        ELSE 0 END
       |      + CASE WHEN ta.ndv_a - sma.mn_a > 0 THEN bo.s_b *
       |          ((ta.rows_a - sma.mrows_a) // (ta.ndv_a - sma.mn_a))
       |        ELSE 0 END
       |      + CASE WHEN greatest(ta.ndv_a - sma.mn_a,
       |            tb.ndv_b - smb.mn_b) > 0
       |        THEN ((ta.rows_a - sma.mrows_a) * (tb.rows_b - smb.mrows_b))
       |          // greatest(ta.ndv_a - sma.mn_a, tb.ndv_b - smb.mn_b)
       |        ELSE 0 END AS BIGINT) AS est_rows,
       |    act.actual_rows,
       |    round(CAST(mcv.est_mcv
       |      + CASE WHEN tb.ndv_b - smb.mn_b > 0 THEN ao.s_a *
       |          ((tb.rows_b - smb.mrows_b) // (tb.ndv_b - smb.mn_b))
       |        ELSE 0 END
       |      + CASE WHEN ta.ndv_a - sma.mn_a > 0 THEN bo.s_b *
       |          ((ta.rows_a - sma.mrows_a) // (ta.ndv_a - sma.mn_a))
       |        ELSE 0 END
       |      + CASE WHEN greatest(ta.ndv_a - sma.mn_a,
       |            tb.ndv_b - smb.mn_b) > 0
       |        THEN ((ta.rows_a - sma.mrows_a) * (tb.rows_b - smb.mrows_b))
       |          // greatest(ta.ndv_a - sma.mn_a, tb.ndv_b - smb.mn_b)
       |        ELSE 0 END AS DOUBLE)
       |      / CAST(act.actual_rows AS DOUBLE), 6) AS est_over_actual
       |  FROM ${p}mcv mcv, ${p}ta ta, ${p}tb tb, ${p}sma sma,
       |    ${p}smb smb, ${p}ao ao, ${p}bo bo, ${p}act act)""".stripMargin
}
