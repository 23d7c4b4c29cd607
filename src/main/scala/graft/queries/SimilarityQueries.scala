package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.{Shared, Tables}
import graft.operators.{Frames, Similarity}

/** Similarity search over the `embeddings` table (SURVEY §2C Q27 + EXT):
  * brute-force top-k cosine as the correctness baseline, random-
  * hyperplane sign-LSH as the 100 TB scale route (implementations in
  * graft.operators.Similarity), plus the multimodal binary-column
  * feature query (Q38).
  */
object SimilarityQueries {

  /** 8 × 64-dim deterministic ±1 hyperplanes shared by the Spark run and
    * the DuckDB oracle literals. */
  private lazy val planes = Similarity.hyperplanes(nPlanes = 8, dim = 64)

  private def planeSqlList(p: Array[Double]): String =
    p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** The q124 projection matrix as a DuckDB nested-list literal —
    * the same Similarity.projectionSigns rows the Spark plan embeds. */
  private def signsSqlLit(outDims: Int, inDims: Int): String =
    Similarity.projectionSigns(outDims, inDims)
      .map(_.mkString("[", ", ", "]")).mkString("[", ", ", "]")

  /** sf1-probe knob (r10 VERDICT ask #3): multiplies the graph/market
    * id gates of the fold queries (q316/q324/q332) so the 10x-amplified
    * probe tables - whose copies shift vec_id by 1e8 - can land INSIDE
    * the gates. Spark body and DuckDB twin interpolate the SAME value,
    * so the oracle gate stays exact at any scale; default 1 leaves
    * bench/driver behavior untouched. */
  private val gateScale: Long =
    sys.env.getOrElse("SPARK_GRAFT_GATE_SCALE", "1").toLong

  /** One shared [[Similarity.prepared]] frame per (session, table dir):
    * q27/q40/q48/q79 all start from the same cast + norm + spread of the
    * embeddings table, and rebuilding it per query re-runs Catalyst over
    * the identical subplan four times — the `TextQueries.minhashSigs`
    * pattern. |vectors| rows, persisted; [[Shared.reset]] evicts. */
  private def preparedShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "similarityPrepared")(
      Similarity.prepared(Tables.table(s, dir, "embeddings"))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared k-means-refined centroid frame per (session, dir):
    * q83's assignment report and q84's refined search both consume the
    * same 2-iteration Lloyd output (16 rows, but the iterative jobs
    * behind them would otherwise run twice). [[Shared.reset]] evicts. */
  private def kmeansShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "kmeans")(
      Similarity.kmeansCentroids(preparedShared(s, dir),
          nCentroids = 16, nIter = 2)
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared KNN-graph frame per (session, dir): the graph report
    * (q103) and its PageRank centrality (q104) consume the same
    * IVF-blocked top-5 edges, and the within-list pairwise scoring
    * behind them is the expensive part. |V|·k rows; [[Shared.reset]]
    * evicts. */
  private def knnShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "knn")(
      Similarity.knnGraphIvf(preparedShared(s, dir), k = 5)
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared RECIPROCATED-edge frame per (session, dir): the
    * directed mutual-KNN edge set (u→v kept iff v→u also ranks) —
    * symmetric by construction, |V|·k rows max. Consumed by the
    * cluster labeling (q108) and the triangle census (q114);
    * [[Shared.reset]] evicts. */
  private def mutualShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "mutualKnn") {
      val knn = knnShared(s, dir).select(col("vec_id"), col("nbr_id"))
      knn.join(
          knn.select(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id")),
          Seq("vec_id", "nbr_id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** One shared mutual-KNN cluster labeling per (session, dir) — the
    * TextQueries.dupClusterLabels precedent: the ConnectedComponents loop's
    * per-round fixed cost (3 shuffles + 1 action per round) dwarfs its
    * data at test SF and a real run labels ONCE and fans out. |V| rows;
    * [[Shared.reset]] evicts. */
  private def mutualClustersShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "mutualClusters")(
      graft.operators.ConnectedComponents.dupClusters(
          preparedShared(s, dir).select("vec_id"), mutualShared(s, dir))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared LPA-community frame per (session, dir): the 20-round
    * label-propagation labeling feeds both the modularity report
    * (q289) and the clustering-agreement audit (q327) — the loop's
    * per-round fixed cost (a vote join + argmax per round) dwarfs its
    * data at test SF and a real run labels ONCE and fans out (the
    * mutualClustersShared precedent). |V| rows; [[Shared.reset]]
    * evicts. */
  private def lpaShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "lpa")(
      graft.operators.LabelPropagation
        .communities(mutualShared(s, dir)
            .select(col("vec_id").as("src"), col("nbr_id").as("dst")),
          preparedShared(s, dir).select("vec_id"), maxIter = 20)
        .select(col("vec_id"), col("community_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared 3-core node frame per (session, dir): the KCore peel
    * loop's per-round fixed cost (1 agg + 2 semi-joins + 1 action)
    * dwarfs its data at test SF and a real run peels ONCE and fans
    * out — the mutualClustersShared precedent. |core| rows;
    * [[Shared.reset]] evicts. */
  private def kCoreShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "kCore")(
      graft.operators.KCore.coreNodes(
          mutualShared(s, dir).select(col("vec_id").as("src"),
            col("nbr_id").as("dst")), k = 3)
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared PQ subspace-distance frame per (session, dir): the
    * encode report (q125), ADC search (q140), its recall eval (q141)
    * and rank fusion (q142) all start from the same exact
    * |vectors|·nCents·m distance frame — built and persisted once
    * (the preparedShared pattern); [[Shared.reset]] evicts. */
  private def pqDistsShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "pqDists")(
      Similarity.pqSubspaceDists(Tables.table(s, dir, "embeddings"),
          m = 4, nCents = 16, inDims = 64)
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** Shared oracle CTEs (double-cast vectors + norms), consumed by
    * q27/q40/q48/q79 so the twins cannot drift. */
  private val prepFullSql =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)""".stripMargin
  private val prepSql = OracleShared.swap(prepFullSql,
    Seq("n" -> s"WITH $prepFullSql SELECT * FROM n"))(
    s"n AS (${OracleShared.read("n")})")

  /** Oracle twin of Similarity.topKCosine(q_id < 10, k = 5) as an
    * `exact` CTE (q27, q79). */
  private val exactTopkSql =
    """exact AS (
      |  SELECT q_id, vec_id, cos_sim, rn FROM (
      |    SELECT q.vec_id AS q_id, t.vec_id AS vec_id,
      |      round(list_dot_product(q.v, t.v) / (q.nrm * t.nrm), 6) AS cos_sim,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_dot_product(q.v, t.v) / (q.nrm * t.nrm), 6) DESC,
      |          t.vec_id) AS rn
      |    FROM n q JOIN n t ON t.vec_id <> q.vec_id
      |    WHERE q.vec_id < 10) x
      |  WHERE rn <= 5)""".stripMargin

  /** Oracle generator for the IVF probe search (Similarity.ivfTopK,
    * vec_id < 10, k = 5, nProbe = 4) over an arbitrary centroid CTE:
    * produces `<p>assigned / <p>probes / <p>hits / <p>ivf`. One body
    * serves the seeded search (q48/q79) and the k-means-refined search
    * (q84) — the twins cannot drift. */
  private def ivfSearchSql(p: String, cents: String, nProbe: Int = 4): String =
    s"""${p}assigned AS (
      |  SELECT vec_id, v, nrm, cent_id AS list_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.cent_id,
      |      row_number() OVER (PARTITION BY n.vec_id
      |        ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
      |          c.cent_id) AS arn
      |    FROM n CROSS JOIN $cents c) t
      |  WHERE arn = 1),
      |${p}probes AS (
      |  SELECT q_id, qv, qnrm, cent_id AS list_id FROM (
      |    SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qnrm, c.cent_id,
      |      row_number() OVER (PARTITION BY n.vec_id
      |        ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
      |          c.cent_id) AS prn
      |    FROM n CROSS JOIN $cents c WHERE n.vec_id < 10) t
      |  WHERE prn <= $nProbe),
      |${p}hits AS (
      |  SELECT p.q_id, a.vec_id,
      |    MAX(round(list_dot_product(p.qv, a.v) / (p.qnrm * a.nrm), 6)) AS cos_sim
      |  FROM ${p}probes p JOIN ${p}assigned a
      |    ON a.list_id = p.list_id AND a.vec_id <> p.q_id
      |  GROUP BY 1, 2),
      |${p}ivf AS (
      |  SELECT q_id, vec_id, cos_sim, rn FROM (
      |    SELECT q_id, vec_id, cos_sim,
      |      row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rn
      |    FROM ${p}hits) x
      |  WHERE rn <= 5)""".stripMargin

  /** Oracle twin of Similarity.ivfTopK(vec_id < 10, k = 5) with the
    * seeded centroids, as an `ivf` CTE (q48, q79). */
  /** The seeded-centroid CTE (shared by the ivf searches). */
  private val centsSql =
    """cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16)""".stripMargin

  private val ivfTopkSql =
    centsSql + ",\n" + ivfSearchSql("", "cents")

  /** Oracle twin of Similarity.kmeansCentroids(nCentroids=16, nIter=2):
    * the Lloyd loop unrolled, ending in `km_cents2n (cent_id, cv, cnrm)`
    * with centroids in the exact-integer-mean ×1e6 domain (see the
    * operator's float discipline). */
  private val kmeansSql = {
    val sv =
      """km_sv AS (
        |  SELECT vec_id, v, nrm,
        |    list_transform(v, x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sv
        |  FROM n),
        |km_cents0 AS (
        |  SELECT vec_id AS cent_id,
        |    list_transform(sv, x -> CAST(x AS DOUBLE)) AS cv
        |  FROM km_sv WHERE vec_id < 16),
        |km_cents0n AS (
        |  SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
        |  FROM km_cents0)""".stripMargin
    def iter(i: Int): String =
      s"""km_assign$i AS (
        |  SELECT vec_id, sv, cent_id AS list_id FROM (
        |    SELECT s.vec_id, s.sv, c.cent_id,
        |      row_number() OVER (PARTITION BY s.vec_id
        |        ORDER BY round(list_dot_product(s.v, c.cv) / (s.nrm * c.cnrm), 6) DESC,
        |          c.cent_id) AS arn
        |    FROM km_sv s CROSS JOIN km_cents${i - 1}n c) t
        |  WHERE arn = 1),
        |km_comp$i AS (
        |  SELECT list_id, pos, SUM(sval) AS sm, COUNT(*) AS n FROM (
        |    SELECT list_id, unnest(sv) AS sval,
        |      unnest(range(1, len(sv) + 1)) AS pos FROM km_assign$i) u
        |  GROUP BY 1, 2),
        |km_cents$i AS (
        |  SELECT list_id AS cent_id,
        |    list(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS cv
        |  FROM km_comp$i GROUP BY 1),
        |km_cents${i}n AS (
        |  SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
        |  FROM km_cents$i)""".stripMargin
    (sv +: (1 to 2).map(iter)).mkString(",\n")
  }

  /** Oracle twin of Similarity.assignToLists(seedCentroids(16)) as an
    * `assigned (vec_id, v, nrm, list_id)` CTE — the blocking stage
    * shared by the KNN graph (q103/q104/q108) and semantic dedup
    * (q111). */
  private val assignedFullSql =
    """cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n
      |  WHERE vec_id < 16),
      |assigned AS (
      |  SELECT vec_id, v, nrm, cent_id AS list_id FROM (
      |    SELECT n.vec_id, n.v, n.nrm, c.cent_id,
      |      row_number() OVER (PARTITION BY n.vec_id
      |        ORDER BY round(list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm), 6) DESC,
      |          c.cent_id) AS arn
      |    FROM n CROSS JOIN cents c) t
      |  WHERE arn = 1)""".stripMargin
  private val assignedCteSql = OracleShared.swap(assignedFullSql,
    Seq("assigned" -> (s"WITH n AS (${OracleShared.read("n")}),\n" +
      s"$assignedFullSql SELECT * FROM assigned")))(
    s"assigned AS (${OracleShared.read("assigned")})")

  /** Oracle twin of Similarity.knnGraphIvf(k = 5) as a `knn (vec_id,
    * nbr_id, cos_sim, rn)` CTE — shared by q103 and q104 so the two
    * twins cannot drift. */
  private val knnPartSql =
    """knn AS (
      |  SELECT vec_id, nbr_id, cos_sim, rn FROM (
      |    SELECT a.vec_id, b.vec_id AS nbr_id,
      |      round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim,
      |      row_number() OVER (PARTITION BY a.vec_id
      |        ORDER BY round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) DESC,
      |          b.vec_id) AS rn
      |    FROM assigned a JOIN assigned b
      |      ON b.list_id = a.list_id AND b.vec_id <> a.vec_id) x
      |  WHERE rn <= 5)""".stripMargin
  private val knnCteSql = assignedCteSql + ",\n" +
    OracleShared.swap(knnPartSql,
      Seq("knn" -> (s"WITH assigned AS (${OracleShared.read("assigned")}),\n" +
        s"$knnPartSql SELECT * FROM knn")))(
      s"knn AS (${OracleShared.read("knn")})")

  /** One unrolled integer-×1e9 PageRank iteration (operators.PageRank
    * algebra: floor-division contributions, 0.15/0.85 damped integer
    * update) — `m<i>` mass and `r<i>` rank CTEs from `r<i-1>`. */
  private def pagerankIterSql(i: Int): String =
    s"""m$i AS (
      |  SELECT k.nbr_id AS id,
      |    CAST(SUM(r.fp // d.deg) AS BIGINT) AS mass
      |  FROM knn k JOIN r${i - 1} r ON r.id = k.vec_id
      |  JOIN deg d ON d.src = k.vec_id
      |  GROUP BY 1),
      |r$i AS (
      |  SELECT n.vec_id AS id,
      |    CAST(150000000 + (85 * COALESCE(m.mass, 0)) // 100 AS BIGINT) AS fp
      |  FROM n LEFT JOIN m$i m ON m.id = n.vec_id)""".stripMargin

  /** One unrolled PERSONALIZED-PageRank iteration (the
    * PageRank.personalizedRanksFp algebra): like [[pagerankIterSql]]
    * but the teleport lands only on the seed set (vec_id < 3),
    * scaled (0.15·1e9·|V|) // |S| — `pm<i>` mass and `pr<i>` rank
    * from `pr<i-1>`. */
  private def pprIterSql(i: Int): String =
    s"""pm$i AS (
      |  SELECT k.nbr_id AS id,
      |    CAST(SUM(r.fp // d.deg) AS BIGINT) AS mass
      |  FROM knn k JOIN pr${i - 1} r ON r.id = k.vec_id
      |  JOIN pdeg d ON d.src = k.vec_id
      |  GROUP BY 1),
      |pr$i AS (
      |  SELECT n.vec_id AS id,
      |    CAST(CASE WHEN n.vec_id < 3
      |        THEN (150000000 * (SELECT COUNT(*) FROM n))
      |          // (SELECT COUNT(*) FROM n WHERE vec_id < 3)
      |        ELSE 0 END
      |      + (85 * COALESCE(m.mass, 0)) // 100 AS BIGINT) AS fp
      |  FROM n LEFT JOIN pm$i m ON m.id = n.vec_id)""".stripMargin

  /** One unrolled HITS iteration (operators.Hits algebra): raw
    * authority = Σ in-edge hub, L1-normalized to ×1e9 by the exact
    * `raw · 1e9 // total` BIGINT division; then raw hub = Σ out-edge
    * NEW authority, normalized the same way — `aa<i>`/`ha<i>` from
    * `ha<i-1>`. Start mass 1e9 // |V| per node keeps every sum ≤ 1e9
    * so `raw · 1e9` can never overflow (see Hits scaladoc). */
  private def hitsIterSql(i: Int): String =
    s"""ar$i AS (
      |  SELECT k.nbr_id AS id, CAST(SUM(h.h) AS BIGINT) AS raw
      |  FROM knn k JOIN ha${i - 1} h ON h.id = k.vec_id GROUP BY 1),
      |at$i AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM ar$i),
      |aa$i AS (
      |  SELECT n.vec_id AS id,
      |    CAST(COALESCE(r.raw, 0) * 1000000000 // t.tot AS BIGINT) AS a
      |  FROM n LEFT JOIN ar$i r ON r.id = n.vec_id CROSS JOIN at$i t),
      |hr$i AS (
      |  SELECT k.vec_id AS id, CAST(SUM(a.a) AS BIGINT) AS raw
      |  FROM knn k JOIN aa$i a ON a.id = k.nbr_id GROUP BY 1),
      |ht$i AS (SELECT CAST(SUM(raw) AS BIGINT) AS tot FROM hr$i),
      |ha$i AS (
      |  SELECT n.vec_id AS id,
      |    CAST(COALESCE(r.raw, 0) * 1000000000 // t.tot AS BIGINT) AS h
      |  FROM n LEFT JOIN hr$i r ON r.id = n.vec_id CROSS JOIN ht$i t)""".stripMargin

  /** One unrolled MMR greedy step (operators.Mmr algebra, λ = 1/2):
    * `ms<i>` max-sim-to-selected, `sc<i>` scores over the unselected
    * remainder, `pk<i>` the per-group argmax, `sel<i>` the growing
    * selection — from `sel<i-1>` (the pagerankIterSql pattern). */
  private def mmrStepSql(i: Int): String =
    s"""ms$i AS (
      |  SELECT p.q_id, p.a AS vec_id, MAX(p.sim_fp) AS m
      |  FROM pairs p JOIN sel${i - 1} s
      |    ON s.q_id = p.q_id AND s.vec_id = p.b
      |  GROUP BY 1, 2),
      |sc$i AS (
      |  SELECT c.q_id, c.vec_id,
      |    c.rel_fp - COALESCE(m.m, CAST(0 AS BIGINT)) AS score_fp
      |  FROM cand c LEFT JOIN ms$i m
      |    ON m.q_id = c.q_id AND m.vec_id = c.vec_id
      |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
      |                    WHERE s.q_id = c.q_id
      |                      AND s.vec_id = c.vec_id)),
      |pk$i AS (
      |  SELECT q_id, vec_id, CAST($i AS BIGINT) AS step, score_fp FROM (
      |    SELECT *, row_number() OVER (PARTITION BY q_id
      |      ORDER BY score_fp DESC, vec_id) AS rn FROM sc$i) x
      |  WHERE rn = 1),
      |sel$i AS MATERIALIZED (
      |  SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM pk$i)""".stripMargin

  /** Exploded 1e-6 fixed-point components (vec_id, pos, x) — the input
    * frame of the q181/q185 power-iteration chain. */
  private def powerComps(s: SparkSession, dir: String) =
    Tables.table(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long"))))
      .select(col("vec_id"), col("pos"), col("col").as("x"))

  /** Exact adaptive rescale: divide column `c` by the DATA-DERIVED
    * divisor `max|c| div 2²⁰ + 1` — all BIGINT, so both engines compute
    * the identical divisor and quotient. Keeps ~20 bits of signal
    * whatever the data's magnitude (fixed worst-case divisors crush
    * near-orthogonal real data to zero — the first landing of q181 did
    * exactly that, hash-green on identical garbage). Spark's `div` and
    * DuckDB's BIGINT `//` BOTH truncate toward zero — verified, and the
    * reason the oracle needs no floor/trunc shim. */
  private def rescale(df: DataFrame, key: String, c: String): DataFrame = {
    val mx = df.agg(max(abs(col(c))).as("mx"))
    df.crossJoin(broadcast(mx))
      .select(col(key), expr(s"$c div (mx div 1048576 + 1)").as(c))
  }

  /** Two exact-BIGINT power iterations of XᵀX from the all-ones init:
    * returns the adaptively-rescaled dominant direction (pos, wq),
    * |wq| ≤ 2²⁰. Worst-case magnitude bounds with |x| ≤ 1e6, dims = 64:
    * t1 ≤ 6.4e7; u ≤ |rows|·1e6·6.4e7 (< 2⁶³ up to ~1.4e8 rows — at
    * warehouse scale, pre-aggregate per block first); after each
    * rescale the next product is ≤ |rows|·1e6·2²⁰ ≈ |rows|·1e12. */
  private def powerDirection(comps: DataFrame): DataFrame = {
    val t1 = comps.groupBy("vec_id").agg(sum(col("x")).as("t"))
    val u = rescale(comps.join(t1, "vec_id")
      .groupBy("pos").agg(sum(col("x") * col("t")).as("uq")),
      "pos", "uq")
    val t2 = rescale(comps.join(broadcast(u), "pos")
      .groupBy("vec_id").agg(sum(col("x") * col("uq")).as("t2q")),
      "vec_id", "t2q")
    rescale(comps.join(t2, "vec_id")
      .groupBy("pos").agg(sum(col("x") * col("t2q")).as("wq")),
      "pos", "wq")
  }

  /** One shared power-iteration direction per (session, dir): q181,
    * q185 and q186 all consume the same 64-row (pos, wq) frame, and the
    * chain behind it runs four scan+agg jobs — the preparedShared
    * pattern. [[Shared.reset]] evicts. */
  private def powerShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "powerDirection")(
      powerDirection(powerComps(s, dir))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared per-vector projection frame (vec_id, proj) per
    * (session, dir) — q185 bins it, q186 squares it. [[Shared.reset]]
    * evicts. */
  private def projShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "powerProjection")(
      powerComps(s, dir).join(broadcast(powerShared(s, dir)), "pos")
        .groupBy("vec_id").agg(sum(col("x") * col("wq")).as("proj"))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** Oracle twin of [[powerComps]]+[[powerDirection]] as a CTE chain
    * ending in `wq (pos, wq)` — BIGINT `//` truncates exactly like
    * Spark's `div`; divisors are the same data-derived scalars. */
  private val powerIterSql =
    """comps AS (
      |  SELECT vec_id,
      |    unnest(range(0, len(embedding))) AS pos,
      |    unnest(list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0)
      |        AS BIGINT))) AS x
      |  FROM embeddings),
      |t1 AS (
      |  SELECT vec_id, CAST(SUM(x) AS BIGINT) AS t
      |  FROM comps GROUP BY 1),
      |u0 AS (
      |  SELECT pos, CAST(SUM(c.x * t1.t) AS BIGINT) AS uq
      |  FROM comps c JOIN t1 ON t1.vec_id = c.vec_id GROUP BY 1),
      |u AS (
      |  SELECT pos, uq // ((SELECT MAX(ABS(uq)) FROM u0) // 1048576 + 1)
      |    AS uq
      |  FROM u0),
      |t20 AS (
      |  SELECT c.vec_id, CAST(SUM(c.x * u.uq) AS BIGINT) AS t2q
      |  FROM comps c JOIN u ON u.pos = c.pos GROUP BY 1),
      |t2 AS (
      |  SELECT vec_id,
      |    t2q // ((SELECT MAX(ABS(t2q)) FROM t20) // 1048576 + 1) AS t2q
      |  FROM t20),
      |w0 AS (
      |  SELECT c.pos, CAST(SUM(c.x * t.t2q) AS BIGINT) AS wq
      |  FROM comps c JOIN t2 t ON t.vec_id = c.vec_id GROUP BY 1),
      |wq AS (
      |  SELECT pos, wq // ((SELECT MAX(ABS(wq)) FROM w0) // 1048576 + 1)
      |    AS wq
      |  FROM w0)""".stripMargin

  /** Rewrites the shared `assigned`/`knn` CTEs to MATERIALIZED for a
    * NON-recursive oracle: q284 references `knn` six times (two per
    * unrolled HITS iteration) and DuckDB would otherwise inline the
    * quadratic within-list scoring each time — observed > 75 GB of
    * temp spill at sf0.1. Applied per-query, NOT in the shared CTE
    * strings, because a MATERIALIZED CTE consumed by a RECURSIVE term
    * silently feeds it empty rows for the first iterations (observed:
    * q289's vote subquery returned NULL for six rounds) — the
    * recursive twins (q108/q270/q289 ...) must keep the plain CTEs. */
  private def materializeKnnCtes(sql: String): String = sql
    .replace("assigned AS (", "assigned AS MATERIALIZED (")
    .replace("knn AS (", "knn AS MATERIALIZED (")

  val all: Seq[EngineQuery] = Seq(

    // Q27 — brute-force top-5 cosine neighbours for query vectors
    // (vec_id < 10); ranking on rounded score with vec_id tie-break.
    EngineQuery("q27_topk_cosine",
      (s, dir) => Similarity.topKCosine(
          Tables.table(s, dir, "embeddings"), col("q_id") < 10, k = 5,
          prep = Some(preparedShared(s, dir)))
        .orderBy("q_id", "rn"),
      Some(s"""WITH $prepSql,
              |$exactTopkSql
              |SELECT q_id, vec_id, cos_sim, rn FROM exact
              |ORDER BY q_id, rn""".stripMargin)),

    // Q48 — IVF-style ANN: inverted lists by nearest seed centroid,
    // probe the 4 closest lists per query (the bucketed alternative to
    // LSH for similarity at scale).
    EngineQuery("q48_ivf_knn",
      (s, dir) => Similarity.ivfTopK(
          Tables.table(s, dir, "embeddings"), col("vec_id") < 10, k = 5,
          prep = Some(preparedShared(s, dir)))
        .orderBy("q_id", "rn"),
      Some(s"""WITH $prepSql,
              |$ivfTopkSql
              |SELECT q_id, vec_id, cos_sim, rn FROM ivf
              |ORDER BY q_id, rn""".stripMargin)),

    // EXT — IVF-blocked k-nearest-neighbour graph: every vector's top-5
    // cosine neighbours within its inverted list (the blocked ANN-graph
    // build — see Similarity.knnGraphIvf for the recall/cost seam). The
    // oracle replays the same seeded assignment, so the twins agree
    // exactly despite the approximation.
    EngineQuery("q103_knn_graph",
      (s, dir) => knnShared(s, dir).orderBy("vec_id", "rn"),
      Some(s"""WITH $prepSql,
              |$knnCteSql
              |SELECT vec_id, nbr_id, cos_sim, rn FROM knn
              |ORDER BY vec_id, rn""".stripMargin)),

    // EXT — PageRank centrality over the KNN graph: the coreset-
    // selection signal (high centrality = dense similarity
    // neighbourhood = representative; low = outlier). Rank arithmetic
    // is ENTIRELY integer ×1e9 (floor-division contributions, damped
    // integer update — see operators.PageRank), so the 3-iteration
    // unrolled oracle reproduces every bit.
    EngineQuery("q104_knn_pagerank",
      (s, dir) => {
        val edges = knnShared(s, dir).select(col("vec_id"), col("nbr_id"))
        graft.operators.PageRank
          .ranksFp(edges, preparedShared(s, dir).select("vec_id"),
            iterations = 3)
          .select(col("vec_id"), col("rank_fp"),
            round(col("rank_fp").cast("double") / 1e9, 6).as("pagerank"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |deg AS (
              |  SELECT vec_id AS src, COUNT(*) AS deg FROM knn GROUP BY 1),
              |r0 AS (
              |  SELECT vec_id AS id, CAST(1000000000 AS BIGINT) AS fp FROM n),
              |${(1 to 3).map(pagerankIterSql).mkString(",\n")}
              |SELECT n.vec_id, r.fp AS rank_fp,
              |  round(CAST(r.fp AS DOUBLE) / 1000000000.0, 6) AS pagerank
              |FROM n JOIN r3 r ON r.id = n.vec_id
              |ORDER BY n.vec_id""".stripMargin)),

    // EXT — mutual-KNN clustering: keep only RECIPROCATED KNN edges
    // (u lists v AND v lists u — the standard robustness filter: hubs
    // attract many one-directional edges, mutual edges mark genuinely
    // close pairs) and label connected components — embedding-space
    // near-dup clustering, the vector-modality twin of q75's text
    // clusters. Mutual filter is one semi-join of the shared KNN frame
    // against its own reversal; clustering reuses the
    // ConnectedComponents pointer-jump loop. Oracle: recursive
    // label-flood CTE (the q75 pattern) over the same mutual edges.
    EngineQuery("q108_mutual_knn_clusters",
      (s, dir) => mutualClustersShared(s, dir).orderBy("vec_id"),
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |reach AS (
              |  SELECT vec_id AS id, vec_id AS label FROM n
              |  UNION
              |  SELECT m.dst AS id, r.label
              |  FROM reach r JOIN mutual m ON m.src = r.id),
              |labels AS (
              |  SELECT id AS vec_id, MIN(label) AS cluster_id
              |  FROM reach GROUP BY id),
              |sizes AS (
              |  SELECT cluster_id, COUNT(*) AS cluster_size
              |  FROM labels GROUP BY 1)
              |SELECT vec_id, cluster_id, cluster_size
              |FROM labels JOIN sizes USING (cluster_id)
              |ORDER BY vec_id""".stripMargin)),

    // EXT — triangle census / local clustering coefficient over the
    // mutual-KNN graph: per-vertex triangle count and
    // lcc = 2·tri / (deg·(deg−1)) — the neighbourhood-density signal
    // that separates tight near-dup cliques (lcc → 1) from chain-like
    // borderline matches (lcc → 0), the standard refinement on top of
    // q108's components. Enumeration is the ordered-wedge join: each
    // triangle a<b<c materializes exactly once as wedge (a;b,c) +
    // edge-set membership semi-join. Mutual degrees are ≤ k, so wedge
    // volume is bounded by |V|·k(k−1)/2 and every join shuffles on
    // vertex keys — never all-pairs, no driver state, survives 100×.
    EngineQuery("q114_knn_triangles",
      (s, dir) => graft.operators.Triangles.census(
          preparedShared(s, dir).select(col("vec_id").as("id")),
          mutualShared(s, dir).select(col("vec_id").as("src"),
            col("nbr_id").as("dst")))
        .select(col("id").as("vec_id"), col("deg"), col("n_tri"),
          col("lcc"))
        .orderBy("vec_id"),
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |und AS (SELECT src AS a, dst AS b FROM mutual WHERE src < dst),
              |tri AS (
              |  SELECT e1.a, e1.b, e2.b AS c
              |  FROM und e1 JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
              |  WHERE EXISTS (SELECT 1 FROM und e3
              |                WHERE e3.a = e1.b AND e3.b = e2.b)),
              |tv AS (
              |  SELECT v AS vec_id, COUNT(*) AS n_tri FROM (
              |    SELECT a AS v FROM tri
              |    UNION ALL SELECT b FROM tri
              |    UNION ALL SELECT c FROM tri) x GROUP BY 1),
              |deg AS (
              |  SELECT src AS vec_id, COUNT(*) AS deg FROM mutual GROUP BY 1)
              |SELECT n.vec_id,
              |  CAST(COALESCE(d.deg, 0) AS BIGINT) AS deg,
              |  CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_tri,
              |  CASE WHEN COALESCE(d.deg, 0) >= 2
              |    THEN round(2.0 * COALESCE(t.n_tri, 0) /
              |      CAST(d.deg * (d.deg - 1) AS DOUBLE), 6)
              |    ELSE 0.0 END AS lcc
              |FROM n LEFT JOIN deg d ON d.vec_id = n.vec_id
              |LEFT JOIN tv t ON t.vec_id = n.vec_id
              |ORDER BY n.vec_id""".stripMargin)),

    // EXT — 3-core of the mutual-KNN graph (operators/KCore): the
    // recursive-peel refinement of q114's local density signal — a
    // node survives only if ≥3 of its mutual neighbours ALSO survive,
    // so hub-adjacent tendrils that pass a raw degree filter fall out
    // with their support. Spark side peels to a true fixpoint (one
    // keyed count + two semi-joins per round, lineage cut every
    // round); the oracle runs the identical peel as a recursive CTE
    // with a fixed 64-round horizon — far past the peel depth of a
    // degree-≤5 graph, and stable once converged, so the two agree
    // exactly. core_degree is the node's WITHIN-core degree.
    EngineQuery("q270_knn_kcore",
      (s, dir) => kCoreShared(s, dir)
        .select(col("src").as("vec_id"), col("core_degree"))
        .orderBy("vec_id"),
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |surv AS (
              |  SELECT 0 AS i, src, dst FROM mutual
              |  UNION ALL
              |  SELECT i + 1, src, dst FROM surv e
              |  WHERE i < 64
              |    AND e.src IN (SELECT src FROM surv
              |                  GROUP BY src HAVING COUNT(*) >= 3)
              |    AND e.dst IN (SELECT src FROM surv
              |                  GROUP BY src HAVING COUNT(*) >= 3))
              |SELECT src AS vec_id, CAST(COUNT(*) AS BIGINT) AS core_degree
              |FROM surv WHERE i = 64
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — Adamic-Adar link prediction over the mutual-KNN graph:
    // for every NON-edge (u,v) sharing ≥1 common neighbour, score
    // AA = Σ_w 1/ln(deg w) over common neighbours w, and report the
    // top-20 predicted links — the classic "these two docs are
    // probably near-dups the KNN cutoff missed" signal, completing
    // the graph battery (components → communities → PageRank →
    // triangles → k-core → link prediction). Enumeration is the
    // ordered-wedge join (w's neighbour pairs, ≤ k(k−1)/2 per node,
    // k ≤ 5) minus existing edges via anti-join — never all-pairs.
    // Each 1/ln(deg) term is fixed-pointed (×1e6, BIGINT, the q99
    // surprisal recipe) BEFORE the cross-neighbour sum, so the
    // ranking key is an exact integer and float addition order can
    // never flip ranks; deg ≥ 2 for every wedge centre, so ln > 0.
    EngineQuery("q271_link_prediction",
      (s, dir) => {
        val m = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        // deg = 1 ⇒ ln = 0: those nodes centre no wedge, but ANSI
        // division evaluates before any join prunes them — filter first
        val wW = m.groupBy("src").agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= 2)
          .select(col("src").as("w"),
            round(lit(1e6) / log(col("deg").cast("double")))
              .cast("long").as("w_fp"))
        val wedges = m.select(col("src").as("w"), col("dst").as("u"))
          .join(m.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
          .filter(col("u") < col("v"))
        wedges
          .join(m.select(col("src").as("u"), col("dst").as("v")),
            Seq("u", "v"), "left_anti")
          .join(wW, Seq("w"))
          .groupBy("u", "v")
          .agg(count(lit(1)).as("n_common"), sum("w_fp").as("aa_fp"))
          .orderBy(col("aa_fp").desc, col("u"), col("v")).limit(20)
          .select(col("u"), col("v"), col("n_common"), col("aa_fp"),
            round(col("aa_fp").cast("double") / 1e6, 6).as("aa"))
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |ww AS (
              |  SELECT src AS w,
              |    CAST(round(1000000.0 / ln(CAST(COUNT(*) AS DOUBLE)))
              |      AS BIGINT) AS w_fp
              |  FROM mutual GROUP BY src HAVING COUNT(*) >= 2),
              |wedge AS (
              |  SELECT m1.src AS w, m1.dst AS u, m2.dst AS v
              |  FROM mutual m1 JOIN mutual m2
              |    ON m2.src = m1.src AND m1.dst < m2.dst),
              |ne AS (
              |  SELECT wd.w, wd.u, wd.v FROM wedge wd
              |  WHERE NOT EXISTS (SELECT 1 FROM mutual e
              |                    WHERE e.src = wd.u AND e.dst = wd.v))
              |SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
              |  CAST(SUM(w_fp) AS BIGINT) AS aa_fp,
              |  round(CAST(SUM(w_fp) AS DOUBLE) / 1000000.0, 6) AS aa
              |FROM ne JOIN ww USING (w)
              |GROUP BY 1, 2 ORDER BY aa_fp DESC, u, v LIMIT 20""".stripMargin)),

    // EXT — PERSONALIZED PageRank (PageRank.personalizedRanksFp):
    // teleport restricted to 3 seed vectors — "importance relative to
    // the curated set", the seeded-expansion scorer that turns a few
    // hand-labeled seeds into a ranked neighbourhood over the whole
    // KNN graph (the q281 BFS's soft-weighted complement: hops count
    // edges, PPR weighs paths). Same all-BIGINT ×1e9 algebra as q104,
    // with |V|/|S| entering as broadcast scalars; the 3-iteration
    // oracle unrolls the identical integer recurrence.
    EngineQuery("q282_personalized_pagerank",
      (s, dir) => {
        val edges = knnShared(s, dir).select(col("vec_id"), col("nbr_id"))
        val prep = preparedShared(s, dir)
        graft.operators.PageRank
          .personalizedRanksFp(edges, prep.select("vec_id"),
            prep.filter(col("vec_id") < 3).select("vec_id"),
            iterations = 3)
          .select(col("vec_id"), col("ppr_fp"),
            round(col("ppr_fp").cast("double") / 1e9, 6).as("ppr"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |pdeg AS (
              |  SELECT vec_id AS src, COUNT(*) AS deg FROM knn GROUP BY 1),
              |pr0 AS (
              |  SELECT vec_id AS id,
              |    CAST(CASE WHEN vec_id < 3
              |      THEN (1000000000 * (SELECT COUNT(*) FROM n))
              |        // (SELECT COUNT(*) FROM n WHERE vec_id < 3)
              |      ELSE 0 END AS BIGINT) AS fp
              |  FROM n),
              |${(1 to 3).map(pprIterSql).mkString(",\n")}
              |SELECT n.vec_id, r.fp AS ppr_fp,
              |  round(CAST(r.fp AS DOUBLE) / 1000000000.0, 6) AS ppr
              |FROM n JOIN pr3 r ON r.id = n.vec_id
              |ORDER BY n.vec_id""".stripMargin)),

    // EXT — multi-source BFS hop distances (operators/Bfs): minimum
    // hops from 3 seed vectors to everything within 6 hops of them on
    // the mutual-KNN graph — the "how far from the curated seed set"
    // curation signal, and the shortest-path primitive completing the
    // graph suite. Level-synchronous frontier expansion, first-touch
    // = min-dist (anti-join against visited — no per-node min agg);
    // the oracle enumerates all ≤6-hop walks as a recursive CTE and
    // takes MIN(d) per (seed, node), which is the same function.
    EngineQuery("q281_knn_bfs_hops",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val seeds = preparedShared(s, dir).filter(col("vec_id") < 3)
          .select("vec_id")
        graft.operators.Bfs.distances(edges, seeds, maxHops = 6)
          .select(col("bfs_seed").as("seed"), col("bfs_node").as("vec_id"),
            col("bfs_dist").as("dist"))
          .orderBy("seed", "vec_id")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |walk AS (
              |  SELECT vec_id AS seed, vec_id AS node, 0 AS d
              |  FROM n WHERE vec_id < 3
              |  UNION
              |  SELECT w.seed, m.dst AS node, w.d + 1
              |  FROM walk w JOIN mutual m ON m.src = w.node
              |  WHERE w.d < 6)
              |SELECT seed, node AS vec_id, CAST(MIN(d) AS BIGINT) AS dist
              |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // EXT — SEED-CLOSENESS centrality report over the mutual-KNN
    // graph: per node, how many of the 3 curated seeds reach it within
    // 6 hops and at what total/maximum distance — top-20 most central
    // (pivot-based closeness, the multi-source-BFS aggregation
    // Brandes-style sampling uses; the mutual graph fragments, so
    // coverage count leads the rank rather than an all-seeds filter).
    // Pure reuse of q281 level-synchronous BFS; one keyed
    // aggregation; ranking is a strict integer total order
    // (n_seeds DESC, sum_hops, max_hops, vec_id) → TakeOrdered 20.
    EngineQuery("q301_seed_closeness",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val seeds = preparedShared(s, dir).filter(col("vec_id") < 3)
          .select("vec_id")
        graft.operators.Bfs.distances(edges, seeds, maxHops = 6)
          .groupBy(col("bfs_node").as("vec_id"))
          .agg(count(lit(1)).as("n_seeds"),
            sum(col("bfs_dist")).as("sum_hops"),
            max(col("bfs_dist")).as("max_hops"))
          .orderBy(col("n_seeds").desc, col("sum_hops"),
            col("max_hops"), col("vec_id"))
          .limit(20)
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |walk AS (
              |  SELECT vec_id AS seed, vec_id AS node, 0 AS d
              |  FROM n WHERE vec_id < 3
              |  UNION
              |  SELECT w.seed, m.dst AS node, w.d + 1
              |  FROM walk w JOIN mutual m ON m.src = w.node
              |  WHERE w.d < 6),
              |dist AS (
              |  SELECT seed, node, CAST(MIN(d) AS BIGINT) AS dist
              |  FROM walk GROUP BY 1, 2)
              |SELECT node AS vec_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_seeds,
              |  CAST(SUM(dist) AS BIGINT) AS sum_hops,
              |  CAST(MAX(dist) AS BIGINT) AS max_hops
              |FROM dist GROUP BY 1
              |ORDER BY n_seeds DESC, sum_hops, max_hops, vec_id
              |LIMIT 20""".stripMargin)),

    // EXT — MMR diversified top-k (operators/Mmr, λ = 1/2): for each
    // of 4 query vectors, greedily select 8 of the top-24 cosine
    // candidates maximizing rel − max-sim-to-selected — the
    // dedup-aware retrieval/sampling step plain top-k lacks (when the
    // best matches are near-copies, MMR forces coverage; the
    // curation-side dual of q111's SemDeDup). Every relevance and
    // pair similarity is fixed-pointed (round(cos·1e6), BIGINT)
    // BEFORE selection, so the greedy argmax key is exact and the
    // 8-step trajectory is bit-reproducible; the oracle unrolls the
    // identical greedy recurrence as 8 CTE steps. Scale shape:
    // candidate generation is the bounded-query brute-force/ANN path
    // (caller-blocked); the loop itself is k rounds of
    // anti-join + keyed max + per-group top-1, distributed across
    // query groups with lineage cut per round.
    EngineQuery("q273_mmr_diverse_topk",
      (s, dir) => {
        import graft.operators.{Mmr, Similarity}
        val e = preparedShared(s, dir)
        val q = e.filter(col("vec_id") < 4)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"))
        val rel = q.join(e, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            round(Similarity.dot(col("qv"), col("v")) /
              (col("qnrm") * col("nrm")) * 1e6)
              .cast("long").as("rel_fp"))
        val wTop = Window.partitionBy("q_id")
          .orderBy(col("rel_fp").desc, col("vec_id"))
        val cand = rel.withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 24).select("q_id", "vec_id", "rel_fp")
        val pairs = cand.select(col("q_id"), col("vec_id").as("a"))
          .join(cand.select(col("q_id"), col("vec_id").as("b")), Seq("q_id"))
          .filter(col("a") =!= col("b"))
          .join(e.select(col("vec_id").as("a"), col("v").as("av"),
            col("nrm").as("anrm")), Seq("a"))
          .join(e.select(col("vec_id").as("b"), col("v").as("bv"),
            col("nrm").as("bnrm")), Seq("b"))
          .select(col("q_id"), col("a"), col("b"),
            round(Similarity.dot(col("av"), col("bv")) /
              (col("anrm") * col("bnrm")) * 1e6)
              .cast("long").as("sim_fp"))
        Mmr.select(cand, pairs, k = 8).orderBy("q_id", "step")
      },
      Some(s"""WITH $prepSql,
              |rel AS (
              |  SELECT q.vec_id AS q_id, t.vec_id AS vec_id,
              |    CAST(round(list_dot_product(q.v, t.v) / (q.nrm * t.nrm)
              |      * 1000000.0) AS BIGINT) AS rel_fp
              |  FROM n q JOIN n t ON t.vec_id <> q.vec_id
              |  WHERE q.vec_id < 4),
              |cand AS MATERIALIZED (
              |  SELECT q_id, vec_id, rel_fp FROM (
              |    SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY rel_fp DESC, vec_id) AS rn FROM rel) x
              |  WHERE rn <= 24),
              |pairs AS MATERIALIZED (
              |  SELECT a.q_id, a.vec_id AS a, b.vec_id AS b,
              |    CAST(round(list_dot_product(na.v, nb.v)
              |      / (na.nrm * nb.nrm) * 1000000.0) AS BIGINT) AS sim_fp
              |  FROM cand a JOIN cand b
              |    ON b.q_id = a.q_id AND b.vec_id <> a.vec_id
              |  JOIN n na ON na.vec_id = a.vec_id
              |  JOIN n nb ON nb.vec_id = b.vec_id),
              |sel0 AS (
              |  SELECT q_id, vec_id, CAST(0 AS BIGINT) AS step,
              |    CAST(0 AS BIGINT) AS score_fp
              |  FROM cand WHERE 1 = 0),
              |${(1 to 8).map(mmrStepSql).mkString(",\n")}
              |SELECT q_id, vec_id, step, score_fp FROM sel8
              |ORDER BY q_id, step""".stripMargin)),

    // EXT — coreset / representative selection: one keeper per
    // mutual-KNN cluster, chosen by PageRank centrality over the KNN
    // graph (highest-centrality member = densest similarity
    // neighbourhood = most representative; vec_id tie-break) — the
    // composition of q104's signal with q108's clusters that SemDeDup /
    // coreset pipelines run to shrink a corpus while keeping coverage.
    // Reuses BOTH shared frames; the new work is one |V|-row join and
    // a per-cluster argmax window riding the cluster key. Rank ties
    // cannot straddle engines: rank_fp is the all-integer ×1e9 fixed
    // point, compared exactly.
    EngineQuery("q118_coreset_selection",
      (s, dir) => {
        val ranks = graft.operators.PageRank.ranksFp(
          knnShared(s, dir).select(col("vec_id"), col("nbr_id")),
          preparedShared(s, dir).select("vec_id"),
          iterations = 3)
        val w = Window.partitionBy("cluster_id")
          .orderBy(col("rank_fp").desc, col("vec_id"))
        mutualClustersShared(s, dir)
          .join(ranks, Seq("vec_id"))
          .withColumn("rk", row_number().over(w))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"),
            max(when(col("rk") === 1, col("vec_id"))).as("keep_vec_id"),
            max(when(col("rk") === 1, col("rank_fp"))).as("keep_rank_fp"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |deg AS (
              |  SELECT vec_id AS src, COUNT(*) AS deg FROM knn GROUP BY 1),
              |r0 AS (
              |  SELECT vec_id AS id, CAST(1000000000 AS BIGINT) AS fp FROM n),
              |${(1 to 3).map(pagerankIterSql).mkString(",\n")},
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |reach AS (
              |  SELECT vec_id AS id, vec_id AS label FROM n
              |  UNION
              |  SELECT m.dst AS id, r.label
              |  FROM reach r JOIN mutual m ON m.src = r.id),
              |labels AS (
              |  SELECT id AS vec_id, MIN(label) AS cluster_id
              |  FROM reach GROUP BY id),
              |ranked AS (
              |  SELECT l.cluster_id, l.vec_id, r.fp,
              |    row_number() OVER (PARTITION BY l.cluster_id
              |      ORDER BY r.fp DESC, l.vec_id) AS rk
              |  FROM labels l JOIN r3 r ON r.id = l.vec_id)
              |SELECT cluster_id, COUNT(*) AS n_members,
              |  MAX(CASE WHEN rk = 1 THEN vec_id END) AS keep_vec_id,
              |  MAX(CASE WHEN rk = 1 THEN fp END) AS keep_rank_fp
              |FROM ranked GROUP BY 1 ORDER BY cluster_id""".stripMargin)),

    // EXT — SemDeDup-style semantic deduplication (cluster, then prune
    // within-cluster cosine near-duplicates, keep-lowest-id — see
    // Similarity.semanticDedup for the blocking algebra and the paper
    // cite). Threshold 0.30 sits in the meaningful band of the
    // synthetic embedding space (top-1 neighbour cosine median ≈ 0.31,
    // max ≈ 0.49 at sf0.01) so both branches of the keep decision are
    // exercised; production corpora run the same operator at 0.9+.
    EngineQuery("q111_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(
          preparedShared(s, dir), threshold = 0.30)
        .orderBy("vec_id"),
      Some(s"""WITH $prepSql,
              |$assignedCteSql,
              |close AS (
              |  SELECT a.vec_id, COUNT(*) AS n_close_lower,
              |    MAX(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6))
              |      AS max_sim_lower
              |  FROM assigned a JOIN assigned b
              |    ON b.list_id = a.list_id AND b.vec_id < a.vec_id
              |  WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)
              |    >= 0.30
              |  GROUP BY 1)
              |SELECT a.vec_id, a.list_id,
              |  CAST(COALESCE(c.n_close_lower, 0) AS BIGINT) AS n_close_lower,
              |  c.max_sim_lower,
              |  c.vec_id IS NULL AS kept
              |FROM assigned a LEFT JOIN close c ON c.vec_id = a.vec_id
              |ORDER BY a.vec_id""".stripMargin)),

    // Q78 — int8 scalar quantization with reconstruction diagnostics:
    // the vector-compression stage of an ANN index (see
    // Similarity.scalarQuantize for the float discipline).
    EngineQuery("q78_embedding_quantize",
      (s, dir) => Similarity.scalarQuantize(
          Tables.table(s, dir, "embeddings"))
        .orderBy("vec_id"),
      Some("""WITH e AS (
             |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |m AS (
             |  SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
             |c AS (
             |  SELECT vec_id, mn, mx,
             |    CASE WHEN mx = mn THEN list_transform(v, x -> 0)
             |         ELSE list_transform(v, x ->
             |           CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS INT)) END AS codes,
             |    CASE WHEN mx = mn THEN list_transform(v, x -> 0.0)
             |         ELSE list_transform(v, x ->
             |           abs(x - (mn + floor((x - mn) * 255.0 / (mx - mn) + 0.5) * (mx - mn) / 255.0))) END AS errs
             |  FROM m)
             |SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
             |  CAST(list_aggregate(codes, 'sum') AS BIGINT) AS sum_codes,
             |  array_to_string(codes, ',') AS codes_str,
             |  round(list_max(errs), 9) AS max_abs_err,
             |  CAST(list_aggregate(list_transform(errs, e ->
             |    CAST(floor(e * e * 1e12 + 0.5) AS BIGINT)), 'sum') AS BIGINT) AS sq_err_fp
             |FROM c ORDER BY vec_id""".stripMargin)),

    // Q79 — ANN quality evaluation: recall@5 of the IVF probe search
    // (q48) against the exact top-5 (q27) per query — the acceptance
    // check a pipeline runs before swapping the exact path out for the
    // approximate one. Composes the two operators and joins their
    // results; both sides reuse q27/q48's plans (and the oracle reuses
    // their CTEs verbatim).
    EngineQuery("q79_ann_recall",
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        val prep = Some(preparedShared(s, dir))
        val exact = Similarity.topKCosine(emb, col("q_id") < 10, k = 5,
            prep = prep)
          .select(col("q_id"), col("vec_id"))
        val approx = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5,
            prep = prep)
          .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
        exact.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("q_id"), col("n_hits"),
            round(col("n_hits").cast("double") / 5.0, 6).as("recall_at_5"))
          .orderBy("q_id")
      },
      Some(s"""WITH $prepSql,
              |$exactTopkSql,
              |$ivfTopkSql
              |SELECT e.q_id,
              |  CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
              |  round(CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0, 6) AS recall_at_5
              |FROM exact e LEFT JOIN ivf i
              |  ON i.q_id = e.q_id AND i.vec_id = e.vec_id
              |GROUP BY 1 ORDER BY e.q_id""".stripMargin)),

    // EXT — k-means (Lloyd) refinement of the IVF centroids: 2 fixed
    // iterations from the seeded centroids, then every vector's final
    // list assignment summarized per list (size, mean/min cosine to its
    // centroid — the assignment metadata an index build reports). The
    // mean is the q71/q82 exact fixed-point fold; the oracle unrolls the
    // same two iterations CTE-by-CTE.
    EngineQuery("q83_kmeans_refine",
      (s, dir) => {
        val prep = preparedShared(s, dir)
        val cents = kmeansShared(s, dir)
        Similarity.assignToLists(prep, cents)
          .groupBy("list_id")
          .agg(count(lit(1)).as("n_vecs"),
            sum(round(col("cent_cos") * 1e6).cast("long")).as("cos_sum_fp"),
            round(min(col("cent_cos")), 6).as("min_cos"))
          .select(col("list_id"), col("n_vecs"),
            round(col("cos_sum_fp").cast("double") / 1e6 /
              col("n_vecs").cast("double"), 6).as("avg_cos"),
            col("min_cos"))
          .orderBy("list_id")
      },
      Some(s"""WITH $prepSql,
              |$kmeansSql,
              |km_final AS (
              |  SELECT vec_id, cent_id AS list_id, cc FROM (
              |    SELECT s.vec_id, c.cent_id,
              |      round(list_dot_product(s.v, c.cv) / (s.nrm * c.cnrm), 6) AS cc,
              |      row_number() OVER (PARTITION BY s.vec_id
              |        ORDER BY round(list_dot_product(s.v, c.cv) / (s.nrm * c.cnrm), 6) DESC,
              |          c.cent_id) AS arn
              |    FROM km_sv s CROSS JOIN km_cents2n c) t
              |  WHERE arn = 1)
              |SELECT list_id, COUNT(*) AS n_vecs,
              |  round(CAST(SUM(CAST(round(cc * 1000000.0) AS BIGINT)) AS DOUBLE)
              |    / 1000000.0 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_cos,
              |  round(MIN(cc), 6) AS min_cos
              |FROM km_final GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — the acceptance test for the refinement: recall@5 of the
    // k-means-refined IVF search vs the seeded IVF search, both against
    // the exact top-5 (q27), per query. The refined search is the SAME
    // ivfTopK shape with the centroid frame swapped (the documented
    // seam); the oracle reuses the seeded CTEs verbatim and generates the
    // refined ones from the same body.
    EngineQuery("q84_ivf_refined_recall",
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        val prep = Some(preparedShared(s, dir))
        val exact = Similarity.topKCosine(emb, col("q_id") < 10, k = 5,
            prep = prep)
          .select(col("q_id"), col("vec_id"))
        val seeded = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5,
            prep = prep)
          .select(col("q_id"), col("vec_id"), lit(1L).as("hit_seed"))
        val refined = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5,
            prep = prep, cents = Some(kmeansShared(s, dir)))
          .select(col("q_id"), col("vec_id"), lit(1L).as("hit_ref"))
        exact.join(seeded, Seq("q_id", "vec_id"), "left")
          .join(refined, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit_seed"), lit(0L))).as("n_hits_seeded"),
            sum(coalesce(col("hit_ref"), lit(0L))).as("n_hits_refined"))
          .select(col("q_id"), col("n_hits_seeded"), col("n_hits_refined"),
            round(col("n_hits_seeded").cast("double") / 5.0, 6)
              .as("recall_seeded"),
            round(col("n_hits_refined").cast("double") / 5.0, 6)
              .as("recall_refined"))
          .orderBy("q_id")
      },
      Some(s"""WITH $prepSql,
              |$exactTopkSql,
              |$ivfTopkSql,
              |$kmeansSql,
              |${ivfSearchSql("r_", "km_cents2n")}
              |SELECT e.q_id,
              |  CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_seeded,
              |  CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits_refined,
              |  round(CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0, 6) AS recall_seeded,
              |  round(CAST(SUM(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0, 6) AS recall_refined
              |FROM exact e
              |LEFT JOIN ivf i ON i.q_id = e.q_id AND i.vec_id = e.vec_id
              |LEFT JOIN r_ivf r ON r.q_id = e.q_id AND r.vec_id = e.vec_id
              |GROUP BY 1 ORDER BY e.q_id""".stripMargin)),

    // Q40 — LSH near-neighbour pairs: 8-bit random-hyperplane signature,
    // exact cosine only on same-signature candidates (banded; the 100 TB
    // path — signature buckets shard the shuffle).
    EngineQuery("q40_embedding_neardup",
      (s, dir) => Similarity.lshNearNeighbours(
          Tables.table(s, dir, "embeddings"), planes, minCosine = 0.25,
          prep = Some(preparedShared(s, dir)))
        .orderBy("vec_a", "vec_b"),
      Some(s"""WITH e AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
              |n AS (
              |  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              |sig AS (
              |  SELECT vec_id, v, nrm,
              |${planes.zipWithIndex.map { case (p, i) =>
                 s"    (CASE WHEN list_dot_product(v, ${planeSqlList(p)}) > 0 THEN ${1L << i} ELSE 0 END)"
               }.mkString("", " +\n", " AS sig")}
              |  FROM n)
              |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |  round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
              |FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
              |WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.25
              |ORDER BY vec_a, vec_b""".stripMargin)),

    // Q38 — multimodal binary-column plumbing: text → opaque bytes →
    // deterministic "feature extraction" (real decode is stubbed; see
    // graft.operators.Multimodal for the typed pipeline).
    EngineQuery("q38_multimodal_features",
      (s, dir) => Tables.table(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
        .select(col("doc_id"),
          length(col("blob")).as("n_bytes"),
          sha2(col("blob"), 256).as("content_hash"),
          (length(col("blob")) % 640).as("fake_width"),
          (length(col("blob")) % 480).as("fake_height"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
             |  sha256(text) AS content_hash,
             |  CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
             |  CAST(octet_length(encode(text)) % 480 AS INT) AS fake_height
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Q71 — per-label centroid diagnostics: each vector's cosine to its
    // own label's centroid (embedding-space cluster cohesion, the check a
    // curator runs before trusting labels).
    //
    // Cross-engine float discipline: the CENTROID is a cross-ROW mean,
    // and float sums over shuffled rows are order-dependent — so elements
    // are fixed-point scaled (round(x·1e6) as long) first. The scaled
    // sums stay exact integers (≤ ~5e9 per component, far under 2^53),
    // making the mean deterministic in both engines; the per-vector dot
    // products are in-order array folds (the q27 precedent) and the
    // result is round(·, 6).
    //
    // Scale shape: component sums shuffle (label, pos) partials map-side;
    // the centroid table is |labels| rows → broadcast join; the per-row
    // cosine is a codegen'd array fold. No per-vector shuffle other than
    // the component aggregation.
    EngineQuery("q71_label_centroids",
      (s, dir) => {
        val scaled = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1e6).cast("long")).as("sv"))
        val comp = scaled
          .select(col("label"), posexplode(col("sv")))
          .groupBy("label", "pos")
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .select(col("label"), col("pos"),
            (col("s").cast("double") / col("n").cast("double")).as("c"))
        val cents = comp.groupBy("label")
          .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
            .as("pc"))
          .select(col("label"),
            transform(col("pc"), p => p.getField("c")).as("cent"))
        val svd = transform(col("sv"), x => x.cast("double"))
        scaled.join(broadcast(cents), Seq("label"))
          .select(col("vec_id"), col("label"),
            round(Similarity.dot(svd, col("cent")) /
              (sqrt(Similarity.dot(svd, svd)) *
                sqrt(Similarity.dot(col("cent"), col("cent")))), 6)
              .as("cos_to_centroid"))
          .orderBy("vec_id")
      },
      Some("""WITH sv AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS sv
             |  FROM embeddings),
             |comps AS (
             |  SELECT label, unnest(sv) AS s,
             |    unnest(range(1, len(sv) + 1)) AS pos
             |  FROM sv),
             |cent AS (
             |  SELECT label, pos,
             |    CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
             |  FROM comps GROUP BY 1, 2),
             |centl AS (
             |  SELECT label, list(c ORDER BY pos) AS cent FROM cent
             |  GROUP BY label)
             |SELECT v.vec_id, v.label,
             |  round(
             |    list_dot_product(list_transform(v.sv, x -> CAST(x AS DOUBLE)), c.cent)
             |    / (sqrt(list_dot_product(list_transform(v.sv, x -> CAST(x AS DOUBLE)),
             |                             list_transform(v.sv, x -> CAST(x AS DOUBLE))))
             |       * sqrt(list_dot_product(c.cent, c.cent))), 6) AS cos_to_centroid
             |FROM sv v JOIN centl c USING (label)
             |ORDER BY v.vec_id""".stripMargin)),

    // EXT — Johnson-Lindenstrauss random projection 64 → 16 dims with
    // the deterministic ±1 sign matrix (Similarity.projectionSigns —
    // the q40 hyperplane generator), computed in exact 1e-6 fixed
    // point so proj_fp is a BIGINT in both engines. The oracle embeds
    // the identical matrix as a SQL list literal (the q40 precedent).
    // Scale: a pure per-row map — no shuffle, matrix is a literal.
    EngineQuery("q124_random_projection",
      (s, dir) => Similarity.randomProjectionFixed(
          Tables.table(s, dir, "embeddings"), outDims = 16, inDims = 64)
        .orderBy("vec_id", "dim_out"),
      Some(s"""WITH mm AS (SELECT ${signsSqlLit(16, 64)} AS m),
              |mj AS (
              |  SELECT unnest(m) AS sgnrow, unnest(range(0, 16)) AS j
              |  FROM mm),
              |me AS (
              |  SELECT j, unnest(sgnrow) AS sgn,
              |    unnest(range(0, 64)) AS i
              |  FROM mj),
              |sv AS (
              |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              |    x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sv
              |  FROM embeddings),
              |u AS (
              |  SELECT vec_id, unnest(sv) AS c,
              |    unnest(range(0, len(sv))) AS i
              |  FROM sv),
              |p AS (
              |  SELECT u.vec_id, me.j AS dim_out,
              |    CAST(SUM(me.sgn * u.c) AS BIGINT) AS proj_fp
              |  FROM u JOIN me ON me.i = u.i GROUP BY 1, 2)
              |SELECT vec_id, dim_out, proj_fp,
              |  round(proj_fp / 1000000.0, 6) AS proj
              |FROM p ORDER BY vec_id, dim_out""".stripMargin)),

    // EXT — product-quantization encoding (the ANN memory-compression
    // standard): 4 subspaces × 16 dims, codebook = vectors with id < 16,
    // exact integer squared distances, centroid-id tie-break; one row
    // per vector with its 4 codes and exact total quantization error.
    EngineQuery("q125_pq_encode",
      (s, dir) => Similarity.pqEncode(
          Tables.table(s, dir, "embeddings"), m = 4, nCents = 16,
          inDims = 64, dists = Some(pqDistsShared(s, dir)))
        .orderBy("vec_id"),
      Some("""WITH sv AS (
             |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             |    x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sv
             |  FROM embeddings),
             |cents AS (
             |  SELECT vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 16),
             |u AS (
             |  SELECT vec_id, unnest(sv) AS c,
             |    unnest(range(0, len(sv))) AS i
             |  FROM sv),
             |cu AS (
             |  SELECT cid, unnest(cv) AS cc,
             |    unnest(range(0, len(cv))) AS i
             |  FROM cents),
             |d AS (
             |  SELECT u.vec_id, cu.cid, u.i // 16 AS sub,
             |    CAST(SUM((u.c - cu.cc) * (u.c - cu.cc)) AS BIGINT) AS dist
             |  FROM u JOIN cu ON cu.i = u.i GROUP BY 1, 2, 3),
             |best AS (
             |  SELECT vec_id, sub, cid, dist,
             |    row_number() OVER (PARTITION BY vec_id, sub
             |      ORDER BY dist, cid) AS rn
             |  FROM d)
             |SELECT vec_id,
             |  MAX(CASE WHEN sub = 0 THEN cid END) AS code_0,
             |  MAX(CASE WHEN sub = 1 THEN cid END) AS code_1,
             |  MAX(CASE WHEN sub = 2 THEN cid END) AS code_2,
             |  MAX(CASE WHEN sub = 3 THEN cid END) AS code_3,
             |  CAST(SUM(dist) AS BIGINT) AS qerr_fp
             |FROM best WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — per-source embedding centroid drift: cosine between each
    // source's mean vector and the global mean (the domain-shift
    // monitor for a streaming corpus). All sums are exact fixed-point
    // integers; the dot/norm products run in DECIMAL(38)/HUGEINT so
    // the only float op is the final rounded division. Scale: two
    // keyed aggregations (|sources|·dims rows, then |sources|), with
    // the 64-row global frame joined back as a broadcast.
    EngineQuery("q126_centroid_drift",
      (s, dir) => {
        val joined = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), Similarity.scaledFixed(col("embedding")).as("sv"))
          .join(Tables.table(s, dir, "documents")
            .select(col("doc_id").as("vec_id"), col("source")), "vec_id")
        val ex = joined.select(col("source"), posexplode(col("sv")))
        val bySrc = ex.groupBy(col("source"), col("pos"))
          .agg(sum("col").as("sc"))
        val glob = bySrc.groupBy("pos").agg(sum("sc").as("gc"))
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
        val stats = bySrc.join(broadcast(glob), "pos")
          .groupBy("source")
          .agg(sum(dec(col("sc")) * dec(col("gc"))).as("dot"),
            sum(dec(col("sc")) * dec(col("sc"))).as("ss"),
            sum(dec(col("gc")) * dec(col("gc"))).as("gg"))
        val nv = joined.groupBy("source").agg(count(lit(1)).as("n_vecs"))
        stats.join(nv, "source")
          .select(col("source"), col("n_vecs"),
            round(col("dot").cast("double") /
              (sqrt(col("ss").cast("double")) * sqrt(col("gg").cast("double"))), 6)
              .as("cos_to_global"))
          .orderBy("source")
      },
      Some("""WITH sv AS (
             |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             |    x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sv
             |  FROM embeddings),
             |j AS (
             |  SELECT d.source, s.sv FROM sv s
             |  JOIN documents d ON d.doc_id = s.vec_id),
             |ex AS (
             |  SELECT source, unnest(sv) AS c,
             |    unnest(range(0, len(sv))) AS i
             |  FROM j),
             |bs AS (SELECT source, i, SUM(c) AS sc FROM ex GROUP BY 1, 2),
             |g AS (SELECT i, SUM(sc) AS gc FROM bs GROUP BY 1),
             |st AS (
             |  SELECT source, SUM(bs.sc * g.gc) AS dot,
             |    SUM(bs.sc * bs.sc) AS ss, SUM(g.gc * g.gc) AS gg
             |  FROM bs JOIN g ON g.i = bs.i GROUP BY 1),
             |nv AS (SELECT source, COUNT(*) AS n_vecs FROM j GROUP BY 1)
             |SELECT st.source, nv.n_vecs,
             |  round(CAST(st.dot AS DOUBLE) /
             |    (sqrt(CAST(st.ss AS DOUBLE)) * sqrt(CAST(st.gg AS DOUBLE))), 6)
             |    AS cos_to_global
             |FROM st JOIN nv ON nv.source = st.source
             |ORDER BY st.source""".stripMargin)),

    // EXT — ANN mean reciprocal rank: where does the TRUE nearest
    // neighbour (exact top-1) land in the IVF result list? The
    // rank-sensitive companion to recall@5 (q79) — recall treats
    // rank 1 and rank 5 alike, MRR does not. Reuses the shared
    // prepared frame and both operators' plans; the oracle reuses
    // their CTEs verbatim.
    EngineQuery("q131_ann_mrr",
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        val prep = Some(preparedShared(s, dir))
        val top1 = Similarity.topKCosine(emb, col("q_id") < 10, k = 5,
            prep = prep)
          .filter(col("rn") === 1).select(col("q_id"), col("vec_id"))
        val approx = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5,
            prep = prep)
          .select(col("q_id"), col("vec_id"), col("rn"))
        top1.join(approx, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(coalesce(max(lit(1.0) / col("rn")), lit(0.0)).as("rr"),
            max(when(col("rn").isNotNull, 1L).otherwise(0L)).as("found"))
          .agg(count(lit(1)).as("n_queries"), sum("found").as("n_found"),
            round(sum("rr") / count(lit(1)), 6).as("mrr"))
      },
      Some(s"""WITH $prepSql,
              |$exactTopkSql,
              |$ivfTopkSql,
              |t1 AS (SELECT q_id, vec_id FROM exact WHERE rn = 1),
              |rr AS (
              |  SELECT t1.q_id,
              |    COALESCE(MAX(1.0 / i.rn), 0.0) AS rr,
              |    MAX(CASE WHEN i.rn IS NOT NULL THEN 1 ELSE 0 END)
              |      AS found
              |  FROM t1 LEFT JOIN ivf i
              |    ON i.q_id = t1.q_id AND i.vec_id = t1.vec_id
              |  GROUP BY 1)
              |SELECT COUNT(*) AS n_queries,
              |  CAST(SUM(found) AS BIGINT) AS n_found,
              |  round(SUM(rr) / COUNT(*), 6) AS mrr
              |FROM rr""".stripMargin)),

    // EXT — IVF probe-count sweep: recall@5 vs exact at nprobe ∈
    // {1, 2, 4} — the tuning curve that prices the recall/latency
    // trade before an index ships (the q82 calibration discipline,
    // applied to ANN). All three searches share the prepared frame
    // and the seeded-centroid assignment subplan.
    EngineQuery("q133_ivf_probe_sweep",
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        val prep = Some(preparedShared(s, dir))
        val exact = Similarity.topKCosine(emb, col("q_id") < 10, k = 5,
            prep = prep)
          .select(col("q_id"), col("vec_id"))
        // r15: the vector→list assignment is nProbe-independent — cut it
        // once and feed all three sweep points (before: each of the 3
        // ivfTopK calls re-ran the |V|×16 argmin; 36 jobs / 59 exchanges
        // profiled at sf0.1)
        val cc = Similarity.seedCentroids(preparedShared(s, dir), 16)
        val asg = Some(Frames.cut(Similarity
          .assignToLists(preparedShared(s, dir), cc).drop("cent_cos")))
        val runs = Seq(1, 2, 4).map { np =>
          Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5, nProbe = np,
              prep = prep, assigned = asg)
            .select(lit(np.toLong).as("nprobe"), col("q_id"), col("vec_id"))
        }.reduce(_ unionAll _)
        // 50 = 10 query vectors × k=5 exact slots (the oracle's 50.0)
        runs.join(exact, Seq("q_id", "vec_id"))
          .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
          .select(col("nprobe"), col("n_hits"),
            round(col("n_hits").cast("double") / 50.0, 6).as("recall_at_5"))
          .orderBy("nprobe")
      },
      Some(s"""WITH $prepSql,
              |$exactTopkSql,
              |$centsSql,
              |${ivfSearchSql("p1", "cents", nProbe = 1)},
              |${ivfSearchSql("p2", "cents", nProbe = 2)},
              |${ivfSearchSql("p4", "cents", nProbe = 4)},
              |u AS (
              |  SELECT CAST(1 AS BIGINT) AS nprobe, q_id, vec_id FROM p1ivf
              |  UNION ALL
              |  SELECT CAST(2 AS BIGINT), q_id, vec_id FROM p2ivf
              |  UNION ALL
              |  SELECT CAST(4 AS BIGINT), q_id, vec_id FROM p4ivf)
              |SELECT nprobe, COUNT(*) AS n_hits,
              |  round(COUNT(*) / 50.0, 6) AS recall_at_5
              |FROM u JOIN exact e
              |  ON e.q_id = u.q_id AND e.vec_id = u.vec_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — PQ-compressed top-5 search by asymmetric distance (ADC,
    // Jégou et al. 2011): the database is its 4 PQ codes per vector,
    // each query builds an exact 16×4 subspace-distance LUT, and a
    // candidate's distance is the sum of 4 looked-up BIGINTs — the
    // memory-compressed ANN path (codes are ~32 bytes/vector instead
    // of 256). Exact fixed-point integers end to end, so the ranking
    // is reproducible cross-engine.
    EngineQuery("q140_pq_adc_search",
      (s, dir) => Similarity.pqAdcTopK(
          Tables.table(s, dir, "embeddings"), col("vec_id") < 10, k = 5,
          m = 4, nCents = 16, inDims = 64,
          precomputedDists = Some(pqDistsShared(s, dir)))
        .orderBy("q_id", "rn"),
      Some("""WITH sv AS (
             |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
             |    x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sv
             |  FROM embeddings),
             |cents AS (
             |  SELECT vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 16),
             |u AS (
             |  SELECT vec_id, unnest(sv) AS c,
             |    unnest(range(0, len(sv))) AS i
             |  FROM sv),
             |cu AS (
             |  SELECT cid, unnest(cv) AS cc,
             |    unnest(range(0, len(cv))) AS i
             |  FROM cents),
             |d AS (
             |  SELECT u.vec_id, cu.cid, u.i // 16 AS sub,
             |    CAST(SUM((u.c - cu.cc) * (u.c - cu.cc)) AS BIGINT) AS dist
             |  FROM u JOIN cu ON cu.i = u.i GROUP BY 1, 2, 3),
             |best AS (
             |  SELECT vec_id, sub, cid, dist,
             |    row_number() OVER (PARTITION BY vec_id, sub
             |      ORDER BY dist, cid) AS rn
             |  FROM d),
             |codes AS (SELECT vec_id, sub, cid AS code FROM best WHERE rn = 1),
             |lut AS (
             |  SELECT vec_id AS q_id, cid, sub, dist FROM d
             |  WHERE vec_id < 10),
             |adc AS (
             |  SELECT l.q_id, c.vec_id,
             |    CAST(SUM(l.dist) AS BIGINT) AS adc_dist
             |  FROM codes c JOIN lut l
             |    ON l.sub = c.sub AND l.cid = c.code
             |    AND l.q_id <> c.vec_id
             |  GROUP BY 1, 2),
             |top AS (
             |  SELECT q_id, vec_id, adc_dist,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY adc_dist, vec_id) AS rn
             |  FROM adc)
             |SELECT q_id, vec_id, adc_dist, rn FROM top WHERE rn <= 5
             |ORDER BY q_id, rn""".stripMargin)),

    // EXT — ADC recall@5 vs the exact scan: what the 64×-compression
    // trade of q140 costs in retrieval quality (the q79 evaluation,
    // applied to the PQ path). Both sides reuse their operators'
    // plans; the oracle composes their CTEs (no name overlap between
    // the cosine prep and the fixed-point PQ chain).
    EngineQuery("q141_adc_recall",
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        val exact = Similarity.topKCosine(emb, col("q_id") < 10, k = 5,
            prep = Some(preparedShared(s, dir)))
          .select(col("q_id"), col("vec_id"))
        val adc = Similarity.pqAdcTopK(emb, col("vec_id") < 10, k = 5,
            m = 4, nCents = 16, inDims = 64,
            precomputedDists = Some(pqDistsShared(s, dir)))
          .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
        exact.join(adc, Seq("q_id", "vec_id"), "left")
          .groupBy("q_id")
          .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
          .select(col("q_id"), col("n_hits"),
            round(col("n_hits").cast("double") / 5.0, 6).as("recall_at_5"))
          .orderBy("q_id")
      },
      Some(s"""WITH $prepSql,
              |$exactTopkSql,
              |sv AS (
              |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              |    x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sv
              |  FROM embeddings),
              |pqcents AS (
              |  SELECT vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 16),
              |u AS (
              |  SELECT vec_id, unnest(sv) AS c,
              |    unnest(range(0, len(sv))) AS i
              |  FROM sv),
              |cu AS (
              |  SELECT cid, unnest(cv) AS cc,
              |    unnest(range(0, len(cv))) AS i
              |  FROM pqcents),
              |d AS (
              |  SELECT u.vec_id, cu.cid, u.i // 16 AS sub,
              |    CAST(SUM((u.c - cu.cc) * (u.c - cu.cc)) AS BIGINT) AS dist
              |  FROM u JOIN cu ON cu.i = u.i GROUP BY 1, 2, 3),
              |pqbest AS (
              |  SELECT vec_id, sub, cid, dist,
              |    row_number() OVER (PARTITION BY vec_id, sub
              |      ORDER BY dist, cid) AS rn
              |  FROM d),
              |codes AS (SELECT vec_id, sub, cid AS code FROM pqbest WHERE rn = 1),
              |lut AS (
              |  SELECT vec_id AS q_id, cid, sub, dist FROM d
              |  WHERE vec_id < 10),
              |adc AS (
              |  SELECT l.q_id, c.vec_id,
              |    CAST(SUM(l.dist) AS BIGINT) AS adc_dist
              |  FROM codes c JOIN lut l
              |    ON l.sub = c.sub AND l.cid = c.code
              |    AND l.q_id <> c.vec_id
              |  GROUP BY 1, 2),
              |adctop AS (
              |  SELECT q_id, vec_id,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY adc_dist, vec_id) AS rn
              |  FROM adc)
              |SELECT e.q_id,
              |  CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
              |  round(CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0, 6) AS recall_at_5
              |FROM exact e LEFT JOIN adctop a
              |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id AND a.rn <= 5
              |GROUP BY 1 ORDER BY e.q_id""".stripMargin)),

    // EXT — reciprocal-rank fusion of the IVF and PQ-ADC result lists
    // (RRF, Cormack et al. 2009 — the standard hybrid-retrieval
    // combiner): score = Σ 1/(60 + rank) over the lists that returned
    // the candidate, re-ranked. The fused score is computed from
    // integer ranks by the identical expression in both engines, so
    // the doubles are bit-identical and surface UNrounded (the q123
    // discipline). Both input lists reuse their operators' plans.
    EngineQuery("q142_rank_fusion",
      (s, dir) => {
        val emb = Tables.table(s, dir, "embeddings")
        val ivf = Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5,
            prep = Some(preparedShared(s, dir)))
          .select(col("q_id"), col("vec_id"), col("rn").as("rn_ivf"))
        val adc = Similarity.pqAdcTopK(emb, col("vec_id") < 10, k = 5,
            m = 4, nCents = 16, inDims = 64,
            precomputedDists = Some(pqDistsShared(s, dir)))
          .select(col("q_id"), col("vec_id"), col("rn").as("rn_adc"))
        val fused = ivf.join(adc, Seq("q_id", "vec_id"), "full")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("rn_ivf")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("rn_adc")), lit(0.0)))
        val w = Window.partitionBy("q_id")
          .orderBy(col("rrf").desc, col("vec_id"))
        fused.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("vec_id"), col("rrf"),
            col("rn").cast("long").as("rn"))
          .orderBy("q_id", "rn")
      },
      Some(s"""WITH $prepSql,
              |$centsSql,
              |${ivfSearchSql("", "cents")},
              |sv AS (
              |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
              |    x -> CAST(round(x * 1000000.0) AS BIGINT)) AS sv
              |  FROM embeddings),
              |pqcents AS (
              |  SELECT vec_id AS cid, sv AS cv FROM sv WHERE vec_id < 16),
              |u AS (
              |  SELECT vec_id, unnest(sv) AS c,
              |    unnest(range(0, len(sv))) AS i
              |  FROM sv),
              |cu AS (
              |  SELECT cid, unnest(cv) AS cc,
              |    unnest(range(0, len(cv))) AS i
              |  FROM pqcents),
              |d AS (
              |  SELECT u.vec_id, cu.cid, u.i // 16 AS sub,
              |    CAST(SUM((u.c - cu.cc) * (u.c - cu.cc)) AS BIGINT) AS dist
              |  FROM u JOIN cu ON cu.i = u.i GROUP BY 1, 2, 3),
              |pqbest AS (
              |  SELECT vec_id, sub, cid, dist,
              |    row_number() OVER (PARTITION BY vec_id, sub
              |      ORDER BY dist, cid) AS rn
              |  FROM d),
              |codes AS (SELECT vec_id, sub, cid AS code FROM pqbest WHERE rn = 1),
              |lut AS (
              |  SELECT vec_id AS q_id, cid, sub, dist FROM d
              |  WHERE vec_id < 10),
              |adc AS (
              |  SELECT l.q_id, c.vec_id,
              |    CAST(SUM(l.dist) AS BIGINT) AS adc_dist
              |  FROM codes c JOIN lut l
              |    ON l.sub = c.sub AND l.cid = c.code
              |    AND l.q_id <> c.vec_id
              |  GROUP BY 1, 2),
              |adctop AS (
              |  SELECT q_id, vec_id,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY adc_dist, vec_id) AS rn
              |  FROM adc),
              |fused AS (
              |  SELECT COALESCE(i.q_id, a.q_id) AS q_id,
              |    COALESCE(i.vec_id, a.vec_id) AS vec_id,
              |    COALESCE(1.0 / (60 + i.rn), 0)
              |      + COALESCE(1.0 / (60 + a.rn), 0) AS rrf
              |  FROM ivf i
              |  FULL JOIN (SELECT * FROM adctop WHERE rn <= 5) a
              |    ON a.q_id = i.q_id AND a.vec_id = i.vec_id)
              |SELECT q_id, vec_id, rrf, rn FROM (
              |  SELECT q_id, vec_id, rrf,
              |    row_number() OVER (PARTITION BY q_id
              |      ORDER BY rrf DESC, vec_id) AS rn
              |  FROM fused) t
              |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin)),

    // EXT — mutual-KNN degree distribution: how many reciprocated
    // neighbours each vector keeps, as a degree histogram plus each
    // degree's share — the connectivity audit behind the q108
    // clustering (a heavy tail here means the mutual filter isn't
    // pruning hub noise). Reads the SHARED reciprocated-edge frame;
    // the histogram is two keyed aggregations.
    EngineQuery("q149_knn_degree_histogram",
      (s, dir) => {
        val deg = preparedShared(s, dir).select(col("vec_id"))
          .join(mutualShared(s, dir).groupBy("vec_id")
            .agg(count(lit(1)).as("degree")), Seq("vec_id"), "left")
          .select(coalesce(col("degree"), lit(0L)).as("degree"))
        val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_vecs"))
        val tot = hist.agg(sum("n_vecs").as("total"))
        hist.crossJoin(broadcast(tot))
          .select(col("degree"), col("n_vecs"),
            (col("n_vecs").cast("double") / col("total")).as("share"))
          .orderBy("degree")
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |deg AS (
              |  SELECT n.vec_id,
              |    CAST(COUNT(m.dst) AS BIGINT) AS degree
              |  FROM n LEFT JOIN mutual m ON m.src = n.vec_id
              |  GROUP BY 1),
              |hist AS (
              |  SELECT degree, COUNT(*) AS n_vecs FROM deg GROUP BY 1),
              |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total FROM hist)
              |SELECT degree, n_vecs,
              |  CAST(n_vecs AS DOUBLE) / total AS share
              |FROM hist CROSS JOIN t ORDER BY degree""".stripMargin)),

    // EXT — centroid-based silhouette score: per vector, cosine
    // distance to its own label centroid (a) vs the nearest OTHER
    // centroid (b), silhouette = (b−a)/max(a,b) — the clustering-
    // quality report for the label space (the O(n·k) centroid variant;
    // true silhouette's O(n²) pairwise pass is exactly what it exists
    // to avoid at scale). Centroids use the q71 exact fixed-point
    // construction (1e6-scaled BIGINT sums → one double division per
    // component), the k-row centroid frame broadcasts, and the per-
    // vector min over other centroids is an order-independent
    // reduction. The degenerate a=b=0 case guards via an exact float
    // compare mirrored in both engines.
    EngineQuery("q159_silhouette",
      (s, dir) => {
        val scaled = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1e6).cast("long")).as("sv"))
        val cents = scaled
          .select(col("label"), posexplode(col("sv")))
          .groupBy("label", "pos")
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .select(col("label"), col("pos"),
            (col("s").cast("double") / col("n").cast("double")).as("c"))
          .groupBy("label")
          .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
            .as("pc"))
          .select(col("label").as("label2"),
            transform(col("pc"), p => p.getField("c")).as("cent"))
        val svd = transform(col("sv"), x => x.cast("double"))
        val dist = lit(1.0) - Similarity.dot(svd, col("cent")) /
          (sqrt(Similarity.dot(svd, svd)) *
            sqrt(Similarity.dot(col("cent"), col("cent"))))
        val ab = scaled.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("label"), col("label2"),
            dist.as("dist"))
          .groupBy("vec_id", "label")
          .agg(max(when(col("label2") === col("label"), col("dist")))
            .as("a_dist"),
            min(when(col("label2") =!= col("label"), col("dist")))
              .as("b_dist"))
        ab.select(col("vec_id"), col("label"), col("a_dist"),
            col("b_dist"),
            when(greatest(col("a_dist"), col("b_dist")) === 0.0, lit(0.0))
              .otherwise((col("b_dist") - col("a_dist")) /
                greatest(col("a_dist"), col("b_dist"))).as("sil"))
          .orderBy("vec_id")
      },
      Some("""WITH sv AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
             |      AS sv
             |  FROM embeddings),
             |comps AS (
             |  SELECT label, unnest(sv) AS s,
             |    unnest(range(1, len(sv) + 1)) AS pos
             |  FROM sv),
             |cent AS (
             |  SELECT label, pos,
             |    CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
             |  FROM comps GROUP BY 1, 2),
             |centl AS (
             |  SELECT label AS label2, list(c ORDER BY pos) AS cent
             |  FROM cent GROUP BY label),
             |pv AS (
             |  SELECT v.vec_id, v.label, c.label2,
             |    1.0 - list_dot_product(
             |        list_transform(v.sv, x -> CAST(x AS DOUBLE)), c.cent)
             |      / (sqrt(list_dot_product(
             |            list_transform(v.sv, x -> CAST(x AS DOUBLE)),
             |            list_transform(v.sv, x -> CAST(x AS DOUBLE))))
             |         * sqrt(list_dot_product(c.cent, c.cent))) AS dist
             |  FROM sv v CROSS JOIN centl c),
             |ab AS (
             |  SELECT vec_id, label,
             |    MAX(CASE WHEN label2 = label THEN dist END) AS a_dist,
             |    MIN(CASE WHEN label2 <> label THEN dist END) AS b_dist
             |  FROM pv GROUP BY 1, 2)
             |SELECT vec_id, label, a_dist, b_dist,
             |  CASE WHEN greatest(a_dist, b_dist) = 0.0 THEN 0.0
             |  ELSE (b_dist - a_dist) / greatest(a_dist, b_dist) END AS sil
             |FROM ab ORDER BY vec_id""".stripMargin)),

    // EXT — embedding norm profile per label: min/max/RMS L2 norms —
    // the "are these vectors normalized?" sanity gate before any
    // cosine-vs-dot decision. Squared norms are EXACT BIGINTs in the
    // q71 1e-6 fixed point (component² ≤ 1e12 × 64 dims — no overflow),
    // so min/max/mean are integer reductions and the only doubles are
    // final sqrt's of exact values. One keyed aggregation.
    EngineQuery("q170_norm_profile",
      (s, dir) => {
        val scaled = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1e6).cast("long")).as("sv"))
        val norms = scaled.select(col("label"),
          expr("aggregate(sv, 0L, (a, x) -> a + x * x)").as("norm2"))
        norms.groupBy("label")
          .agg(count(lit(1)).as("n_vecs"),
            min(col("norm2")).as("min_n2"),
            max(col("norm2")).as("max_n2"),
            sum(col("norm2")).as("sum_n2"))
          .select(col("label"), col("n_vecs"),
            (sqrt(col("min_n2").cast("double")) / lit(1e6)).as("min_norm"),
            (sqrt(col("max_n2").cast("double")) / lit(1e6)).as("max_norm"),
            (sqrt(col("sum_n2").cast("double") /
              col("n_vecs").cast("double")) / lit(1e6)).as("rms_norm"))
          .orderBy("label")
      },
      Some("""WITH sv AS (
             |  SELECT vec_id, label,
             |    list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
             |      AS sv
             |  FROM embeddings),
             |n2 AS (
             |  SELECT label,
             |    CAST(list_sum(list_transform(sv, x -> x * x)) AS BIGINT)
             |      AS norm2
             |  FROM sv),
             |agg AS (
             |  SELECT label, COUNT(*) AS n_vecs,
             |    MIN(norm2) AS min_n2, MAX(norm2) AS max_n2,
             |    CAST(SUM(norm2) AS BIGINT) AS sum_n2
             |  FROM n2 GROUP BY 1)
             |SELECT label, n_vecs,
             |  sqrt(CAST(min_n2 AS DOUBLE)) / 1000000.0 AS min_norm,
             |  sqrt(CAST(max_n2 AS DOUBLE)) / 1000000.0 AS max_norm,
             |  sqrt(CAST(sum_n2 AS DOUBLE) / CAST(n_vecs AS DOUBLE))
             |    / 1000000.0 AS rms_norm
             |FROM agg ORDER BY label""".stripMargin)),

    // EXT — dominant principal direction via two power iterations of
    // XᵀX, ENTIRELY in exact BIGINT fixed point (the q104 integer-
    // PageRank discipline applied to spectral analysis): vectors are
    // 1e-6-scaled longs, each iteration is two keyed aggregations
    // (t = Xv by vec, u = Xᵀt by dim — 64 keys), and magnitudes are
    // kept in range by EXACT data-adaptive rescales between steps
    // (divisor = max|·| div 2²⁰ + 1, a BIGINT both engines derive
    // identically — see rescale's scaladoc for why fixed worst-case
    // divisors are wrong). Only the final unit-normalization touches
    // doubles (sqrt of an exact BIGINT). Spark's `div` and DuckDB's
    // BIGINT `//` both truncate toward zero (verified), so the
    // downscales need no floor/trunc shim. Init is the all-ones
    // vector; 2 fixed iterations (oracle-unrollable, the q83 rule).
    // Scale: |dims| keys shuffle, nothing to the driver. Chain shared
    // with q185's projection histogram via powerComps/powerDirection/
    // powerIterSql.
    EngineQuery("q181_power_iteration",
      (s, dir) => {
        val w = powerShared(s, dir)
        // exact squared norm over the bounded 64-row frame
        val wAll = Window.partitionBy()
        w.withColumn("norm2", sum(col("wq") * col("wq")).over(wAll))
          .select(col("pos").cast("long").as("dim"),
            col("wq").as("w_fixed"),
            (col("wq").cast("double") /
              sqrt(col("norm2").cast("double"))).as("component"))
          .orderBy("dim")
      },
      Some(s"""WITH $powerIterSql,
              |n2 AS (
              |  SELECT pos, wq,
              |    CAST(SUM(wq * wq) OVER () AS BIGINT) AS norm2
              |  FROM wq)
              |SELECT CAST(pos AS BIGINT) AS dim, wq AS w_fixed,
              |  CAST(wq AS DOUBLE) / sqrt(CAST(norm2 AS DOUBLE))
              |    AS component
              |FROM n2 ORDER BY dim""".stripMargin)),

    // EXT — projection histogram along the principal direction: each
    // vector's exact fixed-point projection onto the q181 dominant
    // direction, bucketed over fixed-width bins — the one-dimensional
    // shape report that surfaces multimodality (two embedding
    // populations) which mean/variance summaries hide. Projections are
    // exact BIGINTs (|proj| ≤ 64·1e6·2²⁰ ≈ 6.7e13 < 2⁶³); the bin
    // width adapts to the data exactly like the chain's rescales
    // (max|proj| div 8 + 1 — a BIGINT both engines derive identically,
    // truncating division on both sides), so bins span [-8, 8]
    // whatever the spectrum's scale.
    EngineQuery("q185_projection_histogram",
      (s, dir) => {
        val proj = projShared(s, dir)
        val mx = proj.agg(max(abs(col("proj"))).as("mx"))
        val binned = proj.crossJoin(broadcast(mx))
          .select(col("vec_id"),
            expr("proj div (mx div 8 + 1)").as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("n_vecs"))
        val wAll = Window.partitionBy()
        binned.withColumn("total", sum(col("n_vecs")).over(wAll))
          .select(col("bin"), col("n_vecs"),
            (col("n_vecs").cast("double") / col("total").cast("double"))
              .as("share"))
          .orderBy("bin")
      },
      Some(s"""WITH $powerIterSql,
              |proj AS (
              |  SELECT c.vec_id, CAST(SUM(c.x * w.wq) AS BIGINT) AS proj
              |  FROM comps c JOIN wq w ON w.pos = c.pos GROUP BY 1),
              |binned AS (
              |  SELECT proj // ((SELECT MAX(ABS(proj)) FROM proj) // 8
              |      + 1) AS bin,
              |    COUNT(*) AS n_vecs
              |  FROM proj GROUP BY 1),
              |tot AS (
              |  SELECT bin, n_vecs,
              |    CAST(SUM(n_vecs) OVER () AS BIGINT) AS total
              |  FROM binned)
              |SELECT bin, n_vecs,
              |  CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS share
              |FROM tot ORDER BY bin""".stripMargin)),

    // EXT — explained-variance share of the principal direction:
    // Σ(x·ŵ)² / Σ|x|² — how much of the embedding energy the q181
    // direction captures (the rank-1 adequacy test; ~1/dims means "no
    // dominant direction, PCA won't help"). Every aggregate is an
    // exact BIGINT: projections rescale once more (q181's adaptive
    // rule) so their squares stay in range, and the final share is ONE
    // fixed-shape double expression over the exact sums and the exact
    // divisor — no order-dependent double summation anywhere.
    EngineQuery("q186_explained_variance",
      (s, dir) => {
        val proj = projShared(s, dir)
        val mx = proj.agg(max(abs(col("proj"))).as("mx"))
        val pq = proj.crossJoin(broadcast(mx))
          .select(col("vec_id"),
            expr("proj div (mx div 1048576 + 1)").as("pq"),
            expr("mx div 1048576 + 1").as("d"))
        val sums = pq.groupBy("d")
          .agg(count(lit(1)).as("n_vecs"), sum(col("pq") * col("pq"))
            .as("spq2"))
        val wq2 = powerShared(s, dir)
          .agg(sum(col("wq") * col("wq")).as("w2"))
        val e2 = powerComps(s, dir).agg(sum(col("x") * col("x")).as("sx2"))
        sums.crossJoin(broadcast(wq2)).crossJoin(broadcast(e2))
          .select(col("n_vecs"),
            ((col("spq2").cast("double") *
              (col("d").cast("double") * col("d").cast("double"))) /
              (col("w2").cast("double") * col("sx2").cast("double")))
              .as("explained_share"))
          .orderBy("n_vecs")
      },
      Some(s"""WITH $powerIterSql,
              |proj AS (
              |  SELECT c.vec_id, CAST(SUM(c.x * w.wq) AS BIGINT) AS proj
              |  FROM comps c JOIN wq w ON w.pos = c.pos GROUP BY 1),
              |pq AS (
              |  SELECT vec_id,
              |    proj // ((SELECT MAX(ABS(proj)) FROM proj) // 1048576
              |      + 1) AS pq,
              |    (SELECT MAX(ABS(proj)) FROM proj) // 1048576 + 1 AS d
              |  FROM proj),
              |sums AS (
              |  SELECT d, COUNT(*) AS n_vecs,
              |    CAST(SUM(pq * pq) AS BIGINT) AS spq2
              |  FROM pq GROUP BY 1),
              |w2 AS (SELECT CAST(SUM(wq * wq) AS BIGINT) AS w2 FROM wq),
              |e2 AS (SELECT CAST(SUM(x * x) AS BIGINT) AS sx2 FROM comps)
              |SELECT n_vecs,
              |  (CAST(spq2 AS DOUBLE)
              |    * (CAST(d AS DOUBLE) * CAST(d AS DOUBLE)))
              |  / (CAST(w2 AS DOUBLE) * CAST(sx2 AS DOUBLE))
              |    AS explained_share
              |FROM sums CROSS JOIN w2 CROSS JOIN e2
              |ORDER BY n_vecs""".stripMargin)),

    // EXT — inter-centroid separation matrix: pairwise cosine between
    // label centroids (the q71 exact fixed-point construction) — the
    // between-cluster complement of q159's within/nearest silhouette.
    // k centroids → k(k−1)/2 rows; both sides of the join are the same
    // broadcast k-row frame, so this never shuffles the corpus.
    EngineQuery("q182_centroid_separation",
      (s, dir) => {
        val scaled = Tables.table(s, dir, "embeddings")
          .select(col("label"),
            transform(col("embedding"),
              x => round(x.cast("double") * 1e6).cast("long")).as("sv"))
        val cents = scaled
          .select(col("label"), posexplode(col("sv")))
          .groupBy("label", "pos")
          .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
          .select(col("label"), col("pos"),
            (col("s").cast("double") / col("n").cast("double")).as("c"))
          .groupBy("label")
          .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
            .as("pc"))
          .select(col("label"),
            transform(col("pc"), p => p.getField("c")).as("cent"))
        val a = cents.select(col("label").as("label_a"),
          col("cent").as("ca"))
        val b = cents.select(col("label").as("label_b"),
          col("cent").as("cb"))
        a.crossJoin(broadcast(b))
          .filter(col("label_a") < col("label_b"))
          .select(col("label_a"), col("label_b"),
            round(Similarity.dot(col("ca"), col("cb")) /
              (sqrt(Similarity.dot(col("ca"), col("ca"))) *
                sqrt(Similarity.dot(col("cb"), col("cb")))), 6)
              .as("centroid_cos"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH sv AS (
             |  SELECT label,
             |    list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
             |      AS sv
             |  FROM embeddings),
             |comps AS (
             |  SELECT label, unnest(sv) AS s,
             |    unnest(range(1, len(sv) + 1)) AS pos
             |  FROM sv),
             |cent AS (
             |  SELECT label, pos,
             |    CAST(SUM(s) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
             |  FROM comps GROUP BY 1, 2),
             |centl AS (
             |  SELECT label, list(c ORDER BY pos) AS cent
             |  FROM cent GROUP BY label)
             |SELECT a.label AS label_a, b.label AS label_b,
             |  round(list_dot_product(a.cent, b.cent)
             |    / (sqrt(list_dot_product(a.cent, a.cent))
             |      * sqrt(list_dot_product(b.cent, b.cent))), 6)
             |    AS centroid_cos
             |FROM centl a JOIN centl b ON a.label < b.label
             |ORDER BY label_a, label_b""".stripMargin)),

    // EXT — IVF list label purity: per inverted list, the majority-label
    // share and member count — the "do the clusters mean anything"
    // agreement report between the unsupervised index and the labels.
    // Reuses the seeded assignment (the q103 blocking stage); majority
    // pick is an exact-integer argmax with a lowest-label tie-break
    // (max over (count, −label) structs — order-independent).
    EngineQuery("q183_list_purity",
      (s, dir) => {
        val prep = preparedShared(s, dir)
        val assigned = Similarity.assignToLists(prep,
          Similarity.seedCentroids(prep, 16))
          .select(col("vec_id"), col("list_id"))
          .join(Tables.table(s, dir, "embeddings")
            .select(col("vec_id"), col("label")), "vec_id")
        val byLabel = assigned.groupBy("list_id", "label")
          .agg(count(lit(1)).as("c"))
        val top = byLabel.groupBy("list_id")
          .agg(sum(col("c")).as("n_members"),
            max(struct(col("c"), (-col("label")).as("nl")))
              .as("m"))
        top.select(col("list_id"), col("n_members"),
            (-col("m.nl")).as("majority_label"),
            col("m.c").as("majority_count"),
            (col("m.c").cast("double") /
              col("n_members").cast("double")).as("purity"))
          .orderBy("list_id")
      },
      Some(s"""WITH $prepSql,
              |$assignedCteSql,
              |lab AS (
              |  SELECT a.vec_id, a.list_id, e.label
              |  FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id),
              |bl AS (
              |  SELECT list_id, label, COUNT(*) AS c
              |  FROM lab GROUP BY 1, 2),
              |top AS (
              |  SELECT list_id,
              |    CAST(SUM(c) AS BIGINT) AS n_members,
              |    MAX(struct_pack(c := c, nl := -label)) AS m
              |  FROM bl GROUP BY 1)
              |SELECT list_id, n_members,
              |  CAST(-m.nl AS INT) AS majority_label,
              |  CAST(m.c AS BIGINT) AS majority_count,
              |  CAST(m.c AS DOUBLE) / CAST(n_members AS DOUBLE) AS purity
              |FROM top ORDER BY list_id""".stripMargin)),

    // EXT — KNN-classifier evaluation: predict each vector's label by
    // majority vote over its (shared) IVF-blocked top-5 neighbours and
    // score against the true labels, per label — the standard
    // embedding-quality probe (kNN accuracy tracks representation
    // quality better than loss). Majority pick is the q183 exact
    // struct-argmax (count, lowest-label tie-break); vectors whose
    // list yielded no neighbours are excluded (n_scored reports the
    // coverage). Steady cost: two keyed aggs over |V|·k edges.
    EngineQuery("q184_knn_accuracy",
      (s, dir) => {
        val labels = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"))
        val votes = knnShared(s, dir)
          .select(col("vec_id"), col("nbr_id"))
          .join(labels.select(col("vec_id").as("nbr_id"),
            col("label").as("nbr_label")), "nbr_id")
          .groupBy("vec_id", "nbr_label")
          .agg(count(lit(1)).as("c"))
        val pred = votes.groupBy("vec_id")
          .agg(max(struct(col("c"), (-col("nbr_label")).as("nl"))).as("m"))
          .select(col("vec_id"), (-col("m.nl")).as("pred_label"))
        pred.join(labels, "vec_id")
          .groupBy("label")
          .agg(count(lit(1)).as("n_scored"),
            sum(when(col("pred_label") === col("label"), 1L)
              .otherwise(0L)).as("n_correct"))
          .select(col("label"), col("n_scored"), col("n_correct"),
            (col("n_correct").cast("double") /
              col("n_scored").cast("double")).as("accuracy"))
          .orderBy("label")
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |votes AS (
              |  SELECT k.vec_id, e.label AS nbr_label, COUNT(*) AS c
              |  FROM knn k JOIN embeddings e ON e.vec_id = k.nbr_id
              |  GROUP BY 1, 2),
              |pred AS (
              |  SELECT vec_id,
              |    MAX(struct_pack(c := c, nl := -nbr_label)) AS m
              |  FROM votes GROUP BY 1)
              |SELECT e.label, COUNT(*) AS n_scored,
              |  CAST(SUM(CASE WHEN CAST(-p.m.nl AS INT) = e.label
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
              |  CAST(SUM(CASE WHEN CAST(-p.m.nl AS INT) = e.label
              |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS accuracy
              |FROM pred p JOIN embeddings e ON e.vec_id = p.vec_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — triplet-margin embedding quality: for each probe vector
    // (vec_id < 50, a bounded query side), the nearest SAME-label
    // cosine minus the nearest OTHER-label cosine — positive margin
    // means the embedding separates its class. Per-label aggregate:
    // mean margin in fixed-point 1e-6 (exact BIGINT accumulation over
    // the round-6 cosines, order-free) and the separated fraction.
    // The probe side is bounded and broadcastable; the scan side
    // reuses the shared prepared frame — never an unbounded cartesian.
    EngineQuery("q216_triplet_margin",
      (s, dir) => {
        val labels = Tables.table(s, dir, "embeddings")
          .select(col("vec_id").as("lid"), col("label"))
        val base = preparedShared(s, dir)
          .join(labels, col("vec_id") === col("lid")).drop("lid")
        val probes = base.filter(col("vec_id") < 50)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qnrm"), col("label").as("q_label"))
        val cos = round(Similarity.dot(col("qv"), col("v")) /
          (col("qnrm") * col("nrm")), 6)
        // limit = no-op under the <50 unique-id slice, but it makes the
        // broadcast build side structurally bounded (PlanLintSpec BNLJ)
        val perProbe = broadcast(probes.limit(50)).join(base,
            col("vec_id") =!= col("q_id"))
          .groupBy("q_id", "q_label")
          .agg(max(when(col("label") === col("q_label"), cos))
            .as("best_same"),
            max(when(col("label") =!= col("q_label"), cos))
              .as("best_other"))
          .withColumn("margin_fp",
            round((col("best_same") - col("best_other")) * 1e6)
              .cast("long"))
        perProbe.groupBy(col("q_label").as("label"))
          .agg(count(lit(1)).as("n_probes"),
            sum(col("margin_fp")).as("margin_fp_sum"),
            sum(when(col("margin_fp") > 0L, 1L).otherwise(0L))
              .as("n_separated"))
          .select(col("label"), col("n_probes"),
            (col("margin_fp_sum").cast("double") / lit(1.0e6) /
              col("n_probes").cast("double")).as("mean_margin"),
            (col("n_separated").cast("double") /
              col("n_probes").cast("double")).as("separated_frac"))
          .orderBy("label")
      },
      Some(s"""WITH $prepSql,
              |lbl AS (
              |  SELECT n.vec_id, n.v, n.nrm, e2.label
              |  FROM n JOIN embeddings e2 ON e2.vec_id = n.vec_id),
              |probes AS (
              |  SELECT vec_id AS q_id, v AS qv, nrm AS qnrm,
              |    label AS q_label
              |  FROM lbl WHERE vec_id < 50),
              |per AS (
              |  SELECT p.q_id, p.q_label,
              |    MAX(CASE WHEN t.label = p.q_label
              |      THEN round(list_dot_product(p.qv, t.v)
              |        / (p.qnrm * t.nrm), 6) END) AS best_same,
              |    MAX(CASE WHEN t.label <> p.q_label
              |      THEN round(list_dot_product(p.qv, t.v)
              |        / (p.qnrm * t.nrm), 6) END) AS best_other
              |  FROM probes p JOIN lbl t ON t.vec_id <> p.q_id
              |  GROUP BY 1, 2),
              |fp AS (
              |  SELECT q_id, q_label,
              |    CAST(round((best_same - best_other) * 1000000.0)
              |      AS BIGINT) AS margin_fp
              |  FROM per)
              |SELECT q_label AS label, COUNT(*) AS n_probes,
              |  CAST(CAST(SUM(margin_fp) AS BIGINT) AS DOUBLE)
              |    / 1000000.0 / CAST(COUNT(*) AS DOUBLE) AS mean_margin,
              |  CAST(SUM(CASE WHEN margin_fp > 0 THEN 1 ELSE 0 END)
              |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
              |    AS separated_frac
              |FROM fp GROUP BY 1 ORDER BY label""".stripMargin)),

    // EXT — HITS hubs & authorities over the KNN graph
    // (operators.Hits): the link-analysis complement of q104's
    // PageRank — authorities mark densely-cited neighbourhood centres
    // (coreset candidates), hubs mark broad connectors whose edge
    // lists touch many centres. Scores live entirely in the ×1e9
    // BIGINT domain with exact L1 renormalization each half-step
    // (`raw · 1e9 div total`, totals as 1-row broadcasts), so the
    // 3-iteration unrolled oracle reproduces every bit. Per
    // iteration: two edge⋈score shuffle joins + two keyed sums — the
    // q104 scale shape exactly.
    EngineQuery("q284_knn_hits",
      (s, dir) => {
        val edges = knnShared(s, dir).select(col("vec_id"), col("nbr_id"))
        graft.operators.Hits
          .scoresFp(edges, preparedShared(s, dir).select("vec_id"),
            iterations = 3)
          .select(col("vec_id"), col("hub_fp"), col("auth_fp"),
            round(col("hub_fp").cast("double") / 1e9, 6).as("hub"),
            round(col("auth_fp").cast("double") / 1e9, 6).as("authority"))
          .orderBy("vec_id")
      },
      Some(materializeKnnCtes(s"""WITH $prepSql,
              |$knnCteSql,
              |ha0 AS (
              |  SELECT vec_id AS id,
              |    CAST(1000000000 // (SELECT COUNT(*) FROM n) AS BIGINT)
              |      AS h
              |  FROM n),
              |${(1 to 3).map(hitsIterSql).mkString(",\n")}
              |SELECT n.vec_id, h.h AS hub_fp, a.a AS auth_fp,
              |  round(CAST(h.h AS DOUBLE) / 1000000000.0, 6) AS hub,
              |  round(CAST(a.a AS DOUBLE) / 1000000000.0, 6) AS authority
              |FROM n JOIN ha3 h ON h.id = n.vec_id
              |JOIN aa3 a ON a.id = n.vec_id
              |ORDER BY n.vec_id""".stripMargin))),

    // EXT — density triage (DBSCAN core/border/noise) on a cheap 2-D
    // projection of the embedding space (operators.GridDbscan): CORE
    // points sit in dense regions, BORDER points hang off a core
    // neighbour, NOISE is isolated — the embedding-space outlier
    // screen that complements q104/q284's graph centrality with pure
    // geometric density. The projection is two FIXED ±1-signed
    // component sums (Achlioptas-style; sign = Knuth-hash parity of
    // the component index, exact integer arithmetic both engines can
    // compute), on the ×1e6 fixed-point components — so coordinates,
    // the eps=200000 ball test and every classification bit are exact
    // integers. Execution is the spatial-grid decomposition: eps-cells,
    // 3×3 neighbour-cell probes, pair enumeration EXACTLY ONCE per
    // qualifying pair, one semi-join for border detection — never
    // all-pairs (the oracle states the same semantics with the same
    // grid in SQL).
    EngineQuery("q290_dbscan_triage",
      (s, dir) => {
        val comps = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), (col("pos") + 1).as("p"),
            round(col("col").cast("double") * 1e6).cast("long").as("xq"))
        val proj = comps
          .select(col("vec_id"),
            (col("xq") * when(
              expr("(p * 2654435761) % 4294967296") < 2147483648L, 1L)
              .otherwise(-1L)).as("tx"),
            (col("xq") * when(
              expr("(p * 2246822519) % 4294967296") < 2147483648L, 1L)
              .otherwise(-1L)).as("ty"))
          .groupBy("vec_id")
          .agg(sum("tx").as("px"), sum("ty").as("py"))
        graft.operators.GridDbscan
          .classify(proj, "vec_id", "px", "py", eps = 200000L, minPts = 4)
          .select(col("vec_id"), col("px").as("x"), col("py").as("y"),
            col("n_neighbors"), col("pt_class"))
          .orderBy("vec_id")
      },
      Some("""WITH sv AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0)
             |      AS BIGINT)) AS sv
             |  FROM embeddings),
             |comp AS (
             |  SELECT vec_id, unnest(sv) AS xq,
             |    unnest(range(1, len(sv) + 1)) AS p
             |  FROM sv),
             |proj AS (
             |  SELECT vec_id,
             |    CAST(SUM(xq * (CASE WHEN (p * 2654435761) % 4294967296
             |      < 2147483648 THEN 1 ELSE -1 END)) AS BIGINT) AS px,
             |    CAST(SUM(xq * (CASE WHEN (p * 2246822519) % 4294967296
             |      < 2147483648 THEN 1 ELSE -1 END)) AS BIGINT) AS py
             |  FROM comp GROUP BY 1),
             |lo AS (SELECT MIN(px) AS lox, MIN(py) AS loy FROM proj),
             |cells AS (
             |  SELECT vec_id, px, py,
             |    (px - lox) // 200000 AS cx, (py - loy) // 200000 AS cy
             |  FROM proj CROSS JOIN lo),
             |off(ox, oy) AS (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1),
             |  (0, 0), (0, 1), (1, -1), (1, 0), (1, 1)),
             |prs AS (
             |  SELECT a.vec_id AS id, b.vec_id AS nid
             |  FROM cells a CROSS JOIN off o JOIN cells b
             |    ON b.cx = a.cx + o.ox AND b.cy = a.cy + o.oy
             |    AND b.vec_id <> a.vec_id
             |  WHERE (a.px - b.px) * (a.px - b.px)
             |    + (a.py - b.py) * (a.py - b.py)
             |    <= CAST(40000000000 AS BIGINT)),
             |cnt AS (SELECT id, COUNT(*) AS nn FROM prs GROUP BY 1),
             |cls AS (
             |  SELECT c.vec_id, c.px, c.py,
             |    CAST(COALESCE(n.nn, 0) AS BIGINT) AS nn,
             |    COALESCE(n.nn, 0) + 1 >= 4 AS is_core
             |  FROM cells c LEFT JOIN cnt n ON n.id = c.vec_id),
             |nearcore AS (
             |  SELECT DISTINCT p.id FROM prs p
             |  JOIN cls c ON c.vec_id = p.nid AND c.is_core)
             |SELECT vec_id, px AS x, py AS y, nn AS n_neighbors,
             |  CASE WHEN is_core THEN 'core'
             |    WHEN vec_id IN (SELECT id FROM nearcore) THEN 'border'
             |    ELSE 'noise' END AS pt_class
             |FROM cls ORDER BY vec_id""".stripMargin)),

    // EXT — label-propagation communities + Newman MODULARITY audit
    // (operators.LabelPropagation): synchronous LPA over the
    // mutual-KNN graph (deterministic: count-desc/label-asc vote
    // order, 2-cycle broken to the least label), then the standard
    // community-quality report Q = Σᵢ (eᵢ/m − (dᵢ/2m)²) — one row per
    // community with exact integer sufficient statistics (node count,
    // internal edges, degree mass) and its modularity contribution as
    // ONE fixed-shape double chain. Oracle exactness for the
    // data-dependent loop: a per-step FULL-STATE recursive CTE (the
    // q272 counter pattern) steps the identical synchronous vote to a
    // fixed horizon H=20 = the operator's maxIter; the final
    // per-node least(label_H, label_{H−1}) IS the operator's output
    // law in ALL THREE stop modes (converged ⇒ the two rounds agree;
    // 2-cycle ⇒ least of the alternating pair, phase-independent;
    // horizon exhausted ⇒ the operator applies the same damping —
    // see LabelPropagation scaladoc).
    // Scale shape: per LPA round one |E| join + one keyed count + a
    // max_by reduction (no window over edges); modularity adds two
    // keyed aggregations and a 1-row broadcast total.
    EngineQuery("q289_lpa_modularity",
      (s, dir) => {
        val m = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val comm = lpaShared(s, dir)
        val und = m.filter(col("src") < col("dst"))
        val tot = und.agg(count(lit(1)).as("m_edges"))
        val deg = m.groupBy(col("src").as("vec_id"))
          .agg(count(lit(1)).as("deg"))
        val ds = comm.join(deg, Seq("vec_id"), "left")
          .groupBy("community_id")
          .agg(count(lit(1)).as("n_nodes"),
            sum(coalesce(col("deg"), lit(0L))).as("deg_sum"))
        val ie = und
          .join(comm.select(col("vec_id").as("src"),
            col("community_id").as("ca")), "src")
          .join(comm.select(col("vec_id").as("dst"),
            col("community_id").as("cb")), "dst")
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("community_id"))
          .agg(count(lit(1)).as("in_edges"))
        ds.join(ie, Seq("community_id"), "left")
          .crossJoin(broadcast(tot))
          .select(col("community_id"), col("n_nodes"),
            coalesce(col("in_edges"), lit(0L)).as("in_edges"),
            col("deg_sum"),
            (coalesce(col("in_edges"), lit(0L)).cast("double") /
              col("m_edges").cast("double") -
              (col("deg_sum").cast("double") /
                (lit(2.0) * col("m_edges").cast("double"))) *
              (col("deg_sum").cast("double") /
                (lit(2.0) * col("m_edges").cast("double"))))
              .as("contribution"))
          .orderBy("community_id")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |lab AS (
              |  SELECT 0 AS i, vec_id AS id, vec_id AS label FROM n
              |  UNION ALL
              |  SELECT l.i + 1, l.id,
              |    COALESCE((
              |      SELECT l2.label
              |      FROM mutual m JOIN lab l2 ON l2.id = m.dst
              |      WHERE m.src = l.id
              |      GROUP BY l2.label
              |      ORDER BY COUNT(*) DESC, l2.label ASC
              |      LIMIT 1), l.label)
              |  FROM lab l WHERE l.i < 20),
              |comm AS (
              |  SELECT f.id AS vec_id, LEAST(f.label, p.label)
              |    AS community_id
              |  FROM (SELECT id, label FROM lab WHERE i = 20) f
              |  JOIN (SELECT id, label FROM lab WHERE i = 19) p
              |    ON p.id = f.id),
              |und AS (SELECT src, dst FROM mutual WHERE src < dst),
              |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS m_edges FROM und),
              |deg AS (SELECT src AS vec_id, COUNT(*) AS deg
              |  FROM mutual GROUP BY 1),
              |ds AS (
              |  SELECT c.community_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
              |    CAST(SUM(COALESCE(d.deg, 0)) AS BIGINT) AS deg_sum
              |  FROM comm c LEFT JOIN deg d ON d.vec_id = c.vec_id
              |  GROUP BY 1),
              |ie AS (
              |  SELECT ca.community_id,
              |    CAST(COUNT(*) AS BIGINT) AS in_edges
              |  FROM und u
              |  JOIN comm ca ON ca.vec_id = u.src
              |  JOIN comm cb ON cb.vec_id = u.dst
              |    AND cb.community_id = ca.community_id
              |  GROUP BY 1)
              |SELECT ds.community_id, ds.n_nodes,
              |  CAST(COALESCE(ie.in_edges, 0) AS BIGINT) AS in_edges,
              |  ds.deg_sum,
              |  CAST(COALESCE(ie.in_edges, 0) AS DOUBLE)
              |    / CAST(t.m_edges AS DOUBLE)
              |  - (CAST(ds.deg_sum AS DOUBLE)
              |      / (2.0 * CAST(t.m_edges AS DOUBLE)))
              |    * (CAST(ds.deg_sum AS DOUBLE)
              |      / (2.0 * CAST(t.m_edges AS DOUBLE))) AS contribution
              |FROM ds LEFT JOIN ie ON ie.community_id = ds.community_id
              |CROSS JOIN tot t
              |ORDER BY ds.community_id""".stripMargin)),

    // EXT — graph MIXING report over the mutual-KNN graph: Newman's
    // degree assortativity (do well-connected vectors link to other
    // well-connected vectors?) and categorical label assortativity
    // (homophily: do edges stay within an embedding label class?) —
    // the two standard mixing coefficients that tell a curator whether
    // the similarity graph is hub-stratified and how cleanly the label
    // classes separate (a near-1 homophily validates the labels; a
    // low one flags label noise). Both are computed from EXACT integer
    // sufficient statistics over the directed edge frame (Σjk, Σj,
    // Σj², same-label count, Σ per-label end-counts²) — two keyed
    // sums + 1-row broadcasts — with ONE fixed-shape double chain per
    // coefficient at the end (products taken in DOUBLE: at warehouse
    // edge counts M·Σjk exits int64, and the coefficient, unlike a
    // sum, tolerates the double — the chain is written identically in
    // both engines so the gate stays exact).
    EngineQuery("q291_graph_mixing",
      (s, dir) => {
        val m = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val deg = m.groupBy(col("src").as("id"))
          .agg(count(lit(1)).as("deg"))
        val j = m
          .join(deg.select(col("id").as("src"), col("deg").as("dj")), "src")
          .join(deg.select(col("id").as("dst"), col("deg").as("dk")), "dst")
        val degStats = j.agg(count(lit(1)).as("m_dir_edges"),
          sum(col("dj") * col("dk")).as("sum_jk"),
          sum(col("dj")).as("sum_j"),
          sum(col("dj") * col("dj")).as("sum_jj"))
        val lbl = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), col("label"))
        val le = m
          .join(lbl.select(col("vec_id").as("src"),
            col("label").as("la")), "src")
          .join(lbl.select(col("vec_id").as("dst"),
            col("label").as("lb")), "dst")
        val same = le.agg(
          sum(when(col("la") === col("lb"), 1L).otherwise(0L))
            .as("same_label_edges"))
        val ssq = le.groupBy("la").agg(count(lit(1)).as("cnt"))
          .agg(sum(col("cnt") * col("cnt")).as("label_ssq"))
        // NULL-guarded divisions (DuckDB's x/0.0 -> NULL; Spark's ANSI
        // double divide THROWS): a degenerate graph — zero degree
        // variance (regular, e.g. exact-clone corpora) or single-label
        // edges — makes the coefficient undefined, and both engines
        // must answer NULL, not error. Caught by the sf1 sweep: the
        // 10x-amplified clone corpus yields an exactly regular mutual
        // graph.
        def safeDiv(num: Column, den: Column): Column =
          when(den =!= lit(0.0), num / den)
        val degNum = col("m_dir_edges").cast("double") *
          col("sum_jk").cast("double") -
          col("sum_j").cast("double") * col("sum_j").cast("double")
        val degDen = col("m_dir_edges").cast("double") *
          col("sum_jj").cast("double") -
          col("sum_j").cast("double") * col("sum_j").cast("double")
        val mSq = col("m_dir_edges").cast("double") *
          col("m_dir_edges").cast("double")
        val lblNum = safeDiv(col("same_label_edges").cast("double"),
          col("m_dir_edges").cast("double")) -
          safeDiv(col("label_ssq").cast("double"), mSq)
        val lblDen = lit(1.0) - safeDiv(col("label_ssq").cast("double"), mSq)
        degStats.crossJoin(broadcast(same)).crossJoin(broadcast(ssq))
          .select(col("m_dir_edges"), col("sum_jk"), col("sum_j"),
            col("sum_jj"), col("same_label_edges"), col("label_ssq"),
            safeDiv(degNum, degDen).as("deg_assortativity"),
            safeDiv(lblNum, lblDen).as("label_assortativity"))
          .orderBy("m_dir_edges")
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |deg AS (SELECT src AS id, COUNT(*) AS deg
              |  FROM mutual GROUP BY 1),
              |ds AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS m_dir_edges,
              |    CAST(SUM(a.deg * b.deg) AS BIGINT) AS sum_jk,
              |    CAST(SUM(a.deg) AS BIGINT) AS sum_j,
              |    CAST(SUM(a.deg * a.deg) AS BIGINT) AS sum_jj
              |  FROM mutual m
              |  JOIN deg a ON a.id = m.src JOIN deg b ON b.id = m.dst),
              |le AS (
              |  SELECT la.label AS la, lb.label AS lb
              |  FROM mutual m
              |  JOIN embeddings la ON la.vec_id = m.src
              |  JOIN embeddings lb ON lb.vec_id = m.dst),
              |sm AS (
              |  SELECT CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END)
              |    AS BIGINT) AS same_label_edges FROM le),
              |sq AS (
              |  SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS label_ssq FROM (
              |    SELECT la, COUNT(*) AS cnt FROM le GROUP BY 1) x)
              |SELECT ds.m_dir_edges, ds.sum_jk, ds.sum_j, ds.sum_jj,
              |  sm.same_label_edges, sq.label_ssq,
              |  (CAST(ds.m_dir_edges AS DOUBLE) * CAST(ds.sum_jk AS DOUBLE)
              |    - CAST(ds.sum_j AS DOUBLE) * CAST(ds.sum_j AS DOUBLE))
              |  / (CAST(ds.m_dir_edges AS DOUBLE)
              |      * CAST(ds.sum_jj AS DOUBLE)
              |    - CAST(ds.sum_j AS DOUBLE) * CAST(ds.sum_j AS DOUBLE))
              |    AS deg_assortativity,
              |  (CAST(sm.same_label_edges AS DOUBLE)
              |      / CAST(ds.m_dir_edges AS DOUBLE)
              |    - CAST(sq.label_ssq AS DOUBLE)
              |      / (CAST(ds.m_dir_edges AS DOUBLE)
              |        * CAST(ds.m_dir_edges AS DOUBLE)))
              |  / (1.0 - CAST(sq.label_ssq AS DOUBLE)
              |      / (CAST(ds.m_dir_edges AS DOUBLE)
              |        * CAST(ds.m_dir_edges AS DOUBLE)))
              |    AS label_assortativity
              |FROM ds CROSS JOIN sm CROSS JOIN sq
              |ORDER BY m_dir_edges""".stripMargin)),

    // EXT — WEIGHTED shortest paths from the curated seeds
    // (operators/Sssp, frontier Bellman–Ford): minimum total
    // DISSIMILARITY (1 − cos, fixed-pointed ×1e6 per edge) from the 3
    // seed vectors along the mutual-KNN graph, over paths of ≤ 4
    // edges — the soft-distance refinement of q281's hop count: two
    // nodes 3 hops apart through near-identical intermediates score
    // closer than one 2 hops away through dissimilar ones. Every edge
    // weight is an exact BIGINT before any summation, so min() is
    // exact and the trajectory is bit-reproducible; the oracle
    // enumerates all ≤4-edge walks with cumulative cost as a
    // recursive CTE and takes MIN(cost) per (seed, node) — the same
    // function Bellman–Ford computes after 4 relaxation rounds
    // (branching ≤ k = 5 bounds the walk table at |S|·5⁴ rows).
    EngineQuery("q305_seed_shortest_paths",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .join(knnShared(s, dir)
              .select(col("vec_id"), col("nbr_id"), col("cos_sim")),
            Seq("vec_id", "nbr_id"))
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"),
            (lit(1000000L) -
              round(col("cos_sim") * 1e6).cast("long")).as("w_fp"))
        val seeds = preparedShared(s, dir).filter(col("vec_id") < 3)
          .select("vec_id")
        graft.operators.Sssp.distances(edges, seeds, maxRounds = 4)
          .select(col("sp_seed").as("seed"),
            col("sp_node").as("vec_id"),
            col("sp_cost").as("cost_fp"),
            round(col("sp_cost").cast("double") / 1e6, 6).as("cost"))
          .orderBy("seed", "vec_id")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst,
              |    1000000 - CAST(round(a.cos_sim * 1000000) AS BIGINT)
              |      AS w_fp
              |  FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |walk AS (
              |  SELECT vec_id AS seed, vec_id AS node, 0 AS d,
              |    CAST(0 AS BIGINT) AS cost
              |  FROM n WHERE vec_id < 3
              |  UNION
              |  SELECT w.seed, m.dst AS node, w.d + 1,
              |    CAST(w.cost + m.w_fp AS BIGINT) AS cost
              |  FROM walk w JOIN mutual m ON m.src = w.node
              |  WHERE w.d < 4)
              |SELECT seed, node AS vec_id,
              |  CAST(MIN(cost) AS BIGINT) AS cost_fp,
              |  round(CAST(MIN(cost) AS DOUBLE) / 1000000.0, 6) AS cost
              |FROM walk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // EXT — WEISFEILER–LEHMAN color refinement (operators/
    // WlRefinement): 2 rounds of 1-WL over the mutual-KNN graph,
    // seeded with degree — after round r two nodes share a label only
    // if their radius-r neighbourhoods are structurally
    // indistinguishable, the graph-fingerprint / WL-kernel primitive
    // (and the structural dual of q289's LPA: WL refines positions,
    // LPA coarsens communities). The label algebra is the oracle-
    // portable 60-bit sha256 of `old || '|' || sorted neighbour
    // labels`, so every round is HASH-gated: the oracle unrolls the
    // identical two rounds with string_agg(... ORDER BY) rebuilding
    // the identical pre-image strings. Per-node state is bounded by
    // degree (≤ k = 5 here), so shuffles carry O(k) longs per node.
    EngineQuery("q312_wl_refinement",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val deg = edges.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("lbl"))
        graft.operators.WlRefinement.relabel(edges, deg, rounds = 2)
          .join(deg.select(col("node").as("wl_node"),
            col("lbl").as("deg")), Seq("wl_node"))
          .select(col("wl_node").as("vec_id"), col("deg"),
            col("wl_label"))
          .orderBy("vec_id")
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |deg AS (
              |  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS lbl
              |  FROM mutual GROUP BY 1),
              |n1 AS (
              |  SELECT m.src AS node,
              |    string_agg(CAST(x.lbl AS VARCHAR), ','
              |      ORDER BY x.lbl) AS s
              |  FROM mutual m JOIN deg x ON x.node = m.dst GROUP BY 1),
              |l1 AS (
              |  SELECT d.node,
              |    CAST('0x' || substr(sha256(CAST(d.lbl AS VARCHAR)
              |      || '|' || COALESCE(n.s, '')), 1, 15) AS BIGINT)
              |      AS lbl
              |  FROM deg d LEFT JOIN n1 n ON n.node = d.node),
              |n2 AS (
              |  SELECT m.src AS node,
              |    string_agg(CAST(x.lbl AS VARCHAR), ','
              |      ORDER BY x.lbl) AS s
              |  FROM mutual m JOIN l1 x ON x.node = m.dst GROUP BY 1),
              |l2 AS (
              |  SELECT d.node,
              |    CAST('0x' || substr(sha256(CAST(d.lbl AS VARCHAR)
              |      || '|' || COALESCE(n.s, '')), 1, 15) AS BIGINT)
              |      AS lbl
              |  FROM l1 d LEFT JOIN n2 n ON n.node = d.node)
              |SELECT d.node AS vec_id, d.lbl AS deg, l2.lbl AS wl_label
              |FROM deg d JOIN l2 ON l2.node = d.node
              |ORDER BY vec_id""".stripMargin)),

    // EXT — k-SOURCE BETWEENNESS (operators/Betweenness, Brandes
    // dependency accumulation from 8 seeds, horizon 4): which vectors
    // do shortest paths FLOW THROUGH — the brokerage signal closeness
    // (q301) and PageRank (q104) both miss. σ (shortest-path counts)
    // sums layer-by-layer in exact integers; δ accumulates backward
    // as ×1e6 fixed-point BIGINTs with per-term floor division, so
    // partial aggregates ship associatively and the ranking key is
    // exact. The oracle rebuilds σ by ENUMERATING shortest paths (a
    // walk CTE carrying the path string — every length-dist walk is a
    // shortest path, branching ≤ k bounds it) and unrolls the
    // backward sweep as one CTE per layer with the identical integer
    // algebra — maximally different formulations, bit-equal δ.
    EngineQuery("q313_knn_betweenness",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val seeds = preparedShared(s, dir).filter(col("vec_id") < 8)
          .select("vec_id")
        graft.operators.Betweenness.dependencies(edges, seeds, maxHops = 4)
          // no round(): Spark rounds the decimal string, DuckDB the
          // binary double, and they split on exact .5 boundaries
          // (hit at sf0.1); the bare division of exact ints is
          // bit-identical in both engines
          .select(col("bt_node").as("vec_id"), col("bt_fp"),
            (col("bt_fp").cast("double") / lit(8000000.0)).as("bt_avg"))
          .orderBy(col("bt_fp").desc, col("vec_id"))
          .limit(30)
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |walk AS (
              |  SELECT vec_id AS seed, vec_id AS node, 0 AS d,
              |    CAST(vec_id AS VARCHAR) AS path
              |  FROM n WHERE vec_id < 8
              |  UNION
              |  SELECT w.seed, m.dst AS node, w.d + 1,
              |    w.path || '>' || CAST(m.dst AS VARCHAR) AS path
              |  FROM walk w JOIN mutual m ON m.src = w.node
              |  WHERE w.d < 4),
              |dist AS (SELECT seed, node, MIN(d) AS dist
              |         FROM walk GROUP BY 1, 2),
              |fs AS (
              |  SELECT w.seed, w.node, t.dist,
              |    CAST(COUNT(*) AS BIGINT) AS sigma
              |  FROM walk w JOIN dist t ON t.seed = w.seed
              |    AND t.node = w.node AND t.dist = w.d
              |  GROUP BY 1, 2, 3),
              |d3 AS (
              |  SELECT v.seed, v.node,
              |    CAST(SUM((v.sigma * 1000000) // g.sigma) AS BIGINT)
              |      AS delta
              |  FROM fs v JOIN mutual m ON m.src = v.node
              |  JOIN fs g ON g.seed = v.seed AND g.node = m.dst
              |    AND g.dist = 4
              |  WHERE v.dist = 3 GROUP BY 1, 2),
              |d2 AS (
              |  SELECT v.seed, v.node,
              |    CAST(SUM((v.sigma * (1000000 + COALESCE(x.delta, 0)))
              |      // g.sigma) AS BIGINT) AS delta
              |  FROM fs v JOIN mutual m ON m.src = v.node
              |  JOIN fs g ON g.seed = v.seed AND g.node = m.dst
              |    AND g.dist = 3
              |  LEFT JOIN d3 x ON x.seed = g.seed AND x.node = g.node
              |  WHERE v.dist = 2 GROUP BY 1, 2),
              |d1 AS (
              |  SELECT v.seed, v.node,
              |    CAST(SUM((v.sigma * (1000000 + COALESCE(x.delta, 0)))
              |      // g.sigma) AS BIGINT) AS delta
              |  FROM fs v JOIN mutual m ON m.src = v.node
              |  JOIN fs g ON g.seed = v.seed AND g.node = m.dst
              |    AND g.dist = 2
              |  LEFT JOIN d2 x ON x.seed = g.seed AND x.node = g.node
              |  WHERE v.dist = 1 GROUP BY 1, 2)
              |SELECT node AS vec_id, CAST(SUM(delta) AS BIGINT) AS bt_fp,
              |  CAST(SUM(delta) AS DOUBLE) / 8000000.0 AS bt_avg
              |FROM (SELECT * FROM d3 UNION ALL SELECT * FROM d2
              |      UNION ALL SELECT * FROM d1) u
              |WHERE node <> seed
              |GROUP BY 1 ORDER BY bt_fp DESC, vec_id LIMIT 30""".stripMargin)),

    // EXT — MINIMUM SPANNING FOREST of the mutual-KNN similarity graph
    // (operators/Mst, distributed Borůvka): the single-linkage
    // dendrogram backbone — the unique minimum-dissimilarity acyclic
    // edge set under the total order (w, u, v), with edge weight the
    // q305 ×1e6 fixed-point dissimilarity. Spark runs log-round
    // Borůvka (per-component min-edge + pointer-jump contraction, the
    // full-scale path); the ORACLE is maximally different — a
    // SEQUENTIAL Kruskal: edges ranked by (w, u, v), a recursive CTE
    // carrying the full component labeling per step (the q272
    // fold-pattern at graph scale — the per-step endpoint components
    // hoist as window maxima over the step's state, not correlated
    // rescans), acceptance = endpoints differ at step i−1. Distinct
    // composite weights make the forest UNIQUE, so exact edge-set
    // agreement between two unrelated algorithms is the strongest gate
    // available. The sequential oracle is O(E·V), so the gated slice
    // is the vec_id < 300 induced subgraph (the q313 bounded-seeds
    // discipline); MstSpec checks the operator against driver-side
    // Kruskal on unsliced random graphs.
    EngineQuery("q316_knn_mst",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .join(knnShared(s, dir)
              .select(col("vec_id"), col("nbr_id"), col("cos_sim")),
            Seq("vec_id", "nbr_id"))
          .filter(col("vec_id") < col("nbr_id") &&
            col("vec_id") < lit(300L * gateScale) &&
            col("nbr_id") < lit(300L * gateScale))
          .select(col("vec_id").as("u"), col("nbr_id").as("v"),
            (lit(1000000L) -
              round(col("cos_sim") * 1e6).cast("long")).as("w"))
        graft.operators.Mst.forest(edges)
          .select(col("mst_u"), col("mst_v"), col("mst_w").as("w_fp"))
          .orderBy("w_fp", "mst_u", "mst_v")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |me AS MATERIALIZED (
              |  SELECT a.vec_id AS u, a.nbr_id AS v,
              |    1000000 - CAST(round(a.cos_sim * 1000000) AS BIGINT)
              |      AS w
              |  FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id
              |  WHERE a.vec_id < a.nbr_id
              |    AND a.vec_id < ${300L * gateScale}
              |    AND a.nbr_id < ${300L * gateScale}),
              |nn AS MATERIALIZED (SELECT DISTINCT node FROM (
              |  SELECT u AS node FROM me
              |  UNION ALL SELECT v FROM me) z),
              |ed AS MATERIALIZED (SELECT u, v, w,
              |  row_number() OVER (ORDER BY w, u, v) AS i FROM me),
              |ne AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM ed),
              |st AS (
              |  SELECT 0 AS i, node, node AS comp FROM nn
              |  UNION ALL
              |  SELECT x.i + 1 AS i, x.node,
              |    CASE WHEN x.comp = x.cv AND x.cu <> x.cv THEN x.cu
              |         ELSE x.comp END AS comp
              |  FROM (
              |    SELECT s.i, s.node, s.comp,
              |      MAX(CASE WHEN s.node = ed.u THEN s.comp END)
              |        OVER () AS cu,
              |      MAX(CASE WHEN s.node = ed.v THEN s.comp END)
              |        OVER () AS cv
              |    FROM st s JOIN ed ON ed.i = s.i + 1) x
              |  WHERE x.i < (SELECT cnt FROM ne))
              |SELECT ed.u AS mst_u, ed.v AS mst_v, ed.w AS w_fp
              |FROM ed
              |JOIN st a ON a.i = ed.i - 1 AND a.node = ed.u
              |JOIN st b ON b.i = ed.i - 1 AND b.node = ed.v
              |WHERE a.comp <> b.comp
              |ORDER BY w_fp, mst_u, mst_v""".stripMargin)),

    // EXT — exact distributed GRAM MATRIX XᵀX of the embedding
    // corpus: the single-pass sufficient statistic behind PCA,
    // whitening, ridge regression and covariance — 64×64, reported as
    // the 2080-entry upper triangle. Coordinates quantize ×1e4 to
    // BIGINT (float→double widening is exact and ×1e4 can never land
    // on a representable .5, so both engines round identically), and
    // each row contributes its 2080 upper-triangle products via ONE
    // flatten/explode — no dim×dim self-join of the exploded frame —
    // so partial aggregation combines map-side to ≤ 2080 partials per
    // task and the only shuffle carries |tasks|·2080 rows regardless
    // of corpus size. |q|≤~2e4 ⇒ |p|≤4e8; int64 holds Σp for ~2·10¹⁰
    // vectors. The oracle is the maximally-different formulation: a
    // 1-based list-indexed dim×dim range join.
    EngineQuery("q319_embedding_gram",
      (s, dir) => {
        // r15 (guide §2 + §1 profile): the flatten/transform form built a
        // 2080-struct array PER ROW (≈50 KB allocated per vector) and the
        // single-split parquet scan ran the whole 2080× fan-out on ONE
        // task (3 tasks total, t_exec 5.1 s at local[32], cpu≈wall).
        // Spread the narrow |vecs|-row frame first (keyless — the
        // groupBy(i, j) re-keys anyway), then fan out with two chained
        // posexplodes over the SAME quantized array (j ≥ i filter), which
        // allocates nothing per pair. Partial aggregation still folds
        // map-side to ≤ 2080 rows per task; sums are exact BIGINTs, so
        // the result is bit-identical.
        val qv = graft.operators.Spread.wide(
          Tables.table(s, dir, "embeddings")
            .select(expr("""transform(cast(embedding as array<double>),
              x -> cast(round(x * 10000) as bigint))""").as("q")))
        qv.select(col("q"), posexplode(col("q")).as(Seq("i", "qi")))
          .select(col("qi"), col("i"), posexplode(col("q")).as(Seq("j", "qj")))
          .filter(col("j") >= col("i"))
          .select(col("i").cast("long").as("i"),
            col("j").cast("long").as("j"),
            (col("qi") * col("qj")).as("p"))
          .groupBy("i", "j").agg(sum("p").as("g"))
          .orderBy("i", "j")
      },
      Some("""WITH qv AS (
             |  SELECT list_transform(CAST(embedding AS DOUBLE[]),
             |    x -> CAST(round(x * 10000) AS BIGINT)) AS q
             |  FROM embeddings),
             |pr AS (
             |  SELECT gi.i AS i, gj.j AS j,
             |    q[gi.i + 1] * q[gj.j + 1] AS p
             |  FROM qv
             |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) gi
             |  CROSS JOIN (SELECT unnest(range(0, 64)) AS j) gj
             |  WHERE gj.j >= gi.i)
             |SELECT i, j, CAST(SUM(p) AS BIGINT) AS g
             |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // EXT — GRAPH DIAMETER lower bound by the classic 2-sweep BFS
    // (Magnien–Latapy–Habib): BFS from a deterministic anchor (the
    // minimum node id), re-BFS from the farthest node found — its
    // eccentricity is the standard near-tight diameter witness at two
    // BFS's cost instead of all-pairs. Both sweeps are the existing
    // level-synchronous [[graft.operators.Bfs]]; the argmax CHAINS as
    // a 1-row TakeOrdered frame feeding the second sweep's seed set —
    // no driver collect between stages. Horizon 12 bounds work on
    // adversarial diameters (documented: reported value is the
    // ≤12-hop eccentricity). The oracle chains two recursive walk
    // CTEs through the same argmax. Reach counts per sweep gate the
    // component census as data.
    EngineQuery("q322_graph_diameter",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val s0 = edges.agg(min("src").as("start_node"))
        val b1 = graft.operators.Bfs.distances(edges, s0, maxHops = 12)
        val far1 = b1
          .orderBy(col("bfs_dist").desc, col("bfs_node")).limit(1)
          .select(col("bfs_node").as("sweep1_far"),
            col("bfs_dist").as("sweep1_ecc"))
        val b2 = graft.operators.Bfs.distances(edges,
          far1.select("sweep1_far"), maxHops = 12)
        val far2 = b2
          .orderBy(col("bfs_dist").desc, col("bfs_node")).limit(1)
          .select(col("bfs_node").as("sweep2_far"),
            col("bfs_dist").as("diameter_lb"))
        val r1 = b1.agg(count(lit(1)).as("reach1"))
        val r2 = b2.agg(count(lit(1)).as("reach2"))
        broadcast(s0).crossJoin(broadcast(far1))
          .crossJoin(broadcast(far2))
          .crossJoin(broadcast(r1)).crossJoin(broadcast(r2))
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS MATERIALIZED (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |s0 AS MATERIALIZED (SELECT MIN(src) AS node FROM mutual),
              |w1 AS (
              |  SELECT node, CAST(0 AS BIGINT) AS d FROM s0
              |  UNION
              |  SELECT m.dst AS node, w.d + 1 AS d
              |  FROM w1 w JOIN mutual m ON m.src = w.node
              |  WHERE w.d < 12),
              |d1 AS MATERIALIZED (
              |  SELECT node, MIN(d) AS dist FROM w1 GROUP BY 1),
              |far1 AS MATERIALIZED (
              |  SELECT node, dist FROM d1 ORDER BY dist DESC, node
              |  LIMIT 1),
              |w2 AS (
              |  SELECT node, CAST(0 AS BIGINT) AS d FROM far1
              |  UNION
              |  SELECT m.dst AS node, w.d + 1 AS d
              |  FROM w2 w JOIN mutual m ON m.src = w.node
              |  WHERE w.d < 12),
              |d2 AS MATERIALIZED (
              |  SELECT node, MIN(d) AS dist FROM w2 GROUP BY 1),
              |far2 AS MATERIALIZED (
              |  SELECT node, dist FROM d2 ORDER BY dist DESC, node
              |  LIMIT 1)
              |SELECT s0.node AS start_node,
              |  f1.node AS sweep1_far, CAST(f1.dist AS BIGINT) AS sweep1_ecc,
              |  f2.node AS sweep2_far, CAST(f2.dist AS BIGINT) AS diameter_lb,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d1) AS reach1,
              |  (SELECT CAST(COUNT(*) AS BIGINT) FROM d2) AS reach2
              |FROM s0 CROSS JOIN far1 f1 CROSS JOIN far2 f2""".stripMargin)),

    // EXT — greedy MAXIMAL MATCHING of the mutual-KNN graph
    // (operators/Matching, locally-dominant-edge rounds): the
    // vertex-disjoint best-buddy pairing under the q316 composite
    // order — each vector pairs with at most one other, lightest
    // dissimilarity first; the ½-approximate matching primitive
    // behind dedup pairing and 1:1 linkage. Spark matches all locally
    // dominant edges per round (distributed); the ORACLE is the
    // sequential greedy scan it provably equals — the q316
    // recursive-CTE fold with a per-node USED flag instead of a
    // component label, acceptance = both endpoints free at step i−1.
    // Same vec_id < 300 gated slice (O(E·V) oracle), same exact
    // edge-set agreement between two unrelated formulations;
    // MatchingSpec checks the operator against driver-side greedy on
    // unsliced random graphs.
    EngineQuery("q324_knn_matching",
      (s, dir) => {
        val edges = mutualShared(s, dir)
          .join(knnShared(s, dir)
              .select(col("vec_id"), col("nbr_id"), col("cos_sim")),
            Seq("vec_id", "nbr_id"))
          .filter(col("vec_id") < col("nbr_id") &&
            col("vec_id") < lit(300L * gateScale) &&
            col("nbr_id") < lit(300L * gateScale))
          .select(col("vec_id").as("u"), col("nbr_id").as("v"),
            (lit(1000000L) -
              round(col("cos_sim") * 1e6).cast("long")).as("w"))
        graft.operators.Matching.matching(edges)
          .orderBy("m_w", "m_u", "m_v")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |me AS MATERIALIZED (
              |  SELECT a.vec_id AS u, a.nbr_id AS v,
              |    1000000 - CAST(round(a.cos_sim * 1000000) AS BIGINT)
              |      AS w
              |  FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id
              |  WHERE a.vec_id < a.nbr_id
              |    AND a.vec_id < ${300L * gateScale}
              |    AND a.nbr_id < ${300L * gateScale}),
              |nn AS MATERIALIZED (SELECT DISTINCT node FROM (
              |  SELECT u AS node FROM me
              |  UNION ALL SELECT v FROM me) z),
              |ed AS MATERIALIZED (SELECT u, v, w,
              |  row_number() OVER (ORDER BY w, u, v) AS i FROM me),
              |ne AS MATERIALIZED (SELECT COUNT(*) AS cnt FROM ed),
              |st AS (
              |  SELECT 0 AS i, node, FALSE AS used FROM nn
              |  UNION ALL
              |  SELECT x.i + 1 AS i, x.node,
              |    CASE WHEN NOT x.uu AND NOT x.uv
              |        AND (x.node = x.eu OR x.node = x.ev)
              |      THEN TRUE ELSE x.used END AS used
              |  FROM (
              |    SELECT s.i, s.node, s.used, ed.u AS eu, ed.v AS ev,
              |      MAX(CASE WHEN s.node = ed.u THEN s.used END)
              |        OVER () AS uu,
              |      MAX(CASE WHEN s.node = ed.v THEN s.used END)
              |        OVER () AS uv
              |    FROM st s JOIN ed ON ed.i = s.i + 1) x
              |  WHERE x.i < (SELECT cnt FROM ne))
              |SELECT ed.u AS m_u, ed.v AS m_v, ed.w AS m_w
              |FROM ed
              |JOIN st a ON a.i = ed.i - 1 AND a.node = ed.u
              |JOIN st b ON b.i = ed.i - 1 AND b.node = ed.v
              |WHERE NOT a.used AND NOT b.used
              |ORDER BY m_w, m_u, m_v""".stripMargin)),

    // EXT — grid HOTSPOT screen (Getis-Ord-flavored) over the q290
    // 2-D signed projection: which neighborhoods of embedding space
    // are denser than chance — 3×3-cell neighborhood mass vs the
    // uniform expectation over the occupied bounding grid, as the
    // exact integer lift S·|grid|·1e9 div (9·N). The scale shape is
    // the density-screen canon: ONE pass to cells (every vector
    // contributes its cell), ONE 9-way offset explode of the CELL
    // COUNTS frame (|occupied cells| rows, never the vectors) with
    // map-side combine, top-20 by TakeOrdered. Bounds: S ≤ N,
    // |grid| ≤ 4·10⁴ at these projections ⇒ S·|grid|·1e9 ≤ ~10¹⁷.
    EngineQuery("q326_grid_hotspots",
      (s, dir) => {
        val comps = Tables.table(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), (col("pos") + 1).as("p"),
            round(col("col").cast("double") * 1e6).cast("long").as("xq"))
        val proj = comps
          .select(col("vec_id"),
            (col("xq") * when(
              expr("(p * 2654435761) % 4294967296") < 2147483648L, 1L)
              .otherwise(-1L)).as("tx"),
            (col("xq") * when(
              expr("(p * 2246822519) % 4294967296") < 2147483648L, 1L)
              .otherwise(-1L)).as("ty"))
          .groupBy("vec_id")
          .agg(sum("tx").as("px"), sum("ty").as("py"))
        val lo = proj.agg(min("px").as("lox"), min("py").as("loy"),
          max("px").as("hix"), max("py").as("hiy"),
          count(lit(1)).as("n_total"))
        val cells = proj.crossJoin(broadcast(lo))
          .select(expr("(px - lox) div 200000").as("cx"),
            expr("(py - loy) div 200000").as("cy"))
          .groupBy("cx", "cy").agg(count(lit(1)).as("n_cell"))
        val offsets = (-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
          struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))))
        val hood = cells
          .select(col("cx"), col("cy"), col("n_cell"),
            explode(array(offsets: _*)).as("o"))
          .select((col("cx") + col("o.dx")).as("cx"),
            (col("cy") + col("o.dy")).as("cy"), col("n_cell"))
          .groupBy("cx", "cy").agg(sum("n_cell").as("n_hood"))
        cells.join(hood, Seq("cx", "cy"))
          .crossJoin(broadcast(lo))
          .select(col("cx"), col("cy"), col("n_cell"), col("n_hood"),
            expr("""((hix - lox) div 200000 + 1)
              |* ((hiy - loy) div 200000 + 1)""".stripMargin)
              .as("grid_cells"),
            expr("""n_hood * (((hix - lox) div 200000 + 1)
              |* ((hiy - loy) div 200000 + 1)) * 1000000000
              |div (9 * n_total)""".stripMargin).as("score_fp"))
          .orderBy(col("score_fp").desc, col("cx"), col("cy"))
          .limit(20)
      },
      Some("""WITH sv AS (
             |  SELECT vec_id, list_transform(embedding,
             |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0)
             |      AS BIGINT)) AS sv
             |  FROM embeddings),
             |comp AS (
             |  SELECT vec_id, unnest(sv) AS xq,
             |    unnest(range(1, len(sv) + 1)) AS p
             |  FROM sv),
             |proj AS (
             |  SELECT vec_id,
             |    CAST(SUM(xq * (CASE WHEN (p * 2654435761) % 4294967296
             |      < 2147483648 THEN 1 ELSE -1 END)) AS BIGINT) AS px,
             |    CAST(SUM(xq * (CASE WHEN (p * 2246822519) % 4294967296
             |      < 2147483648 THEN 1 ELSE -1 END)) AS BIGINT) AS py
             |  FROM comp GROUP BY 1),
             |lo AS (
             |  SELECT MIN(px) AS lox, MIN(py) AS loy,
             |    MAX(px) AS hix, MAX(py) AS hiy,
             |    CAST(COUNT(*) AS BIGINT) AS n_total
             |  FROM proj),
             |cells AS (
             |  SELECT (px - lo.lox) // 200000 AS cx,
             |    (py - lo.loy) // 200000 AS cy,
             |    CAST(COUNT(*) AS BIGINT) AS n_cell
             |  FROM proj CROSS JOIN lo GROUP BY 1, 2),
             |hood AS (
             |  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy,
             |    CAST(SUM(c.n_cell) AS BIGINT) AS n_hood
             |  FROM cells c
             |  CROSS JOIN (
             |    SELECT dx.d AS dx, dy.d AS dy
             |    FROM (SELECT unnest([-1, 0, 1]) AS d) dx
             |    CROSS JOIN (SELECT unnest([-1, 0, 1]) AS d) dy) o
             |  GROUP BY 1, 2)
             |SELECT c.cx, c.cy, c.n_cell, h.n_hood,
             |  ((lo.hix - lo.lox) // 200000 + 1)
             |    * ((lo.hiy - lo.loy) // 200000 + 1) AS grid_cells,
             |  h.n_hood * (((lo.hix - lo.lox) // 200000 + 1)
             |    * ((lo.hiy - lo.loy) // 200000 + 1)) * 1000000000
             |    // (9 * lo.n_total) AS score_fp
             |FROM cells c
             |JOIN hood h ON h.cx = c.cx AND h.cy = c.cy
             |CROSS JOIN lo
             |ORDER BY score_fp DESC, c.cx, c.cy LIMIT 20""".stripMargin)),

    // EXT — CLUSTERING AGREEMENT (Rand + Adjusted Rand) between the
    // two community structures the engine already computes on the
    // mutual-KNN graph: q289's LPA communities vs q108's connected
    // components — do the fast label-propagation communities recover
    // the exact component partition, the standard ensemble-agreement
    // audit before trusting a cheaper clustering at scale. Pair
    // counting never enumerates pairs: all four sufficient statistics
    // (Σ C(n_ij,2) over the contingency table, Σ C(a_i,2), Σ C(b_j,2),
    // C(N,2)) come from ONE |labels_a|×|labels_b| contingency
    // aggregate — n·(n−1) div 2 is exact (the product is even). The
    // two reported doubles are single divisions of exact int64
    // cross-products (2·CN2·Sij ≤ ~10¹⁷ at sf1). Oracle: the q289 LPA
    // recursion and the q108 min-label reach in one WITH RECURSIVE.
    EngineQuery("q327_clustering_agreement",
      (s, dir) => {
        val comm = lpaShared(s, dir)
        val cc = mutualClustersShared(s, dir)
          .select(col("vec_id"), col("cluster_id"))
        val ct = comm.join(cc, "vec_id")
          .groupBy(col("community_id").as("la"),
            col("cluster_id").as("lb"))
          .agg(count(lit(1)).as("nij"))
        val sij = ct.agg(sum(expr("nij * (nij - 1) div 2")).as("s_ij"),
          sum("nij").as("n_nodes"))
        val sa = ct.groupBy("la").agg(sum("nij").as("ai"))
          .agg(sum(expr("ai * (ai - 1) div 2")).as("s_a"))
        val sb = ct.groupBy("lb").agg(sum("nij").as("bj"))
          .agg(sum(expr("bj * (bj - 1) div 2")).as("s_b"))
        sij.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
          .select(col("n_nodes"),
            expr("n_nodes * (n_nodes - 1) div 2").as("n_pairs"),
            col("s_ij"), col("s_a"), col("s_b"))
          .select(col("n_nodes"), col("n_pairs"), col("s_ij"),
            col("s_a"), col("s_b"),
            (expr("n_pairs + 2 * s_ij - s_a - s_b").cast("double") /
              col("n_pairs").cast("double")).as("rand_idx"),
            (expr("2 * n_pairs * s_ij - 2 * s_a * s_b").cast("double") /
              expr("n_pairs * (s_a + s_b) - 2 * s_a * s_b")
                .cast("double")).as("ari"))
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |lab AS (
              |  SELECT 0 AS i, vec_id AS id, vec_id AS label FROM n
              |  UNION ALL
              |  SELECT l.i + 1, l.id,
              |    COALESCE((
              |      SELECT l2.label
              |      FROM mutual m JOIN lab l2 ON l2.id = m.dst
              |      WHERE m.src = l.id
              |      GROUP BY l2.label
              |      ORDER BY COUNT(*) DESC, l2.label ASC
              |      LIMIT 1), l.label)
              |  FROM lab l WHERE l.i < 20),
              |comm AS (
              |  SELECT f.id AS vec_id, LEAST(f.label, p.label)
              |    AS community_id
              |  FROM (SELECT id, label FROM lab WHERE i = 20) f
              |  JOIN (SELECT id, label FROM lab WHERE i = 19) p
              |    ON p.id = f.id),
              |reach AS (
              |  SELECT vec_id AS id, vec_id AS label FROM n
              |  UNION
              |  SELECT m.dst AS id, r.label
              |  FROM reach r JOIN mutual m ON m.src = r.id),
              |labels AS (
              |  SELECT id AS vec_id, MIN(label) AS cluster_id
              |  FROM reach GROUP BY id),
              |ct AS (
              |  SELECT c.community_id AS la, l.cluster_id AS lb,
              |    CAST(COUNT(*) AS BIGINT) AS nij
              |  FROM comm c JOIN labels l ON l.vec_id = c.vec_id
              |  GROUP BY 1, 2),
              |sij AS (
              |  SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS s_ij,
              |    CAST(SUM(nij) AS BIGINT) AS n_nodes
              |  FROM ct),
              |sa AS (
              |  SELECT CAST(SUM(ai * (ai - 1) // 2) AS BIGINT) AS s_a
              |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS ai
              |        FROM ct GROUP BY la) x),
              |sb AS (
              |  SELECT CAST(SUM(bj * (bj - 1) // 2) AS BIGINT) AS s_b
              |  FROM (SELECT CAST(SUM(nij) AS BIGINT) AS bj
              |        FROM ct GROUP BY lb) x)
              |SELECT n_nodes,
              |  n_nodes * (n_nodes - 1) // 2 AS n_pairs,
              |  s_ij, s_a, s_b,
              |  CAST(n_nodes * (n_nodes - 1) // 2 + 2 * s_ij
              |      - s_a - s_b AS DOUBLE)
              |    / CAST(n_nodes * (n_nodes - 1) // 2 AS DOUBLE)
              |    AS rand_idx,
              |  CAST(2 * (n_nodes * (n_nodes - 1) // 2) * s_ij
              |      - 2 * s_a * s_b AS DOUBLE)
              |    / CAST((n_nodes * (n_nodes - 1) // 2) * (s_a + s_b)
              |      - 2 * s_a * s_b AS DOUBLE) AS ari
              |FROM sij CROSS JOIN sa CROSS JOIN sb""".stripMargin)),

    // EXT — exact SILHOUETTE per cluster on the vec_id < 300 slice:
    // the geometric quality score for q108's components that q327's
    // label-agreement audit cannot see (ARI compares PARTITIONS;
    // silhouette asks whether the geometry actually separates). Per
    // node: a = mean ×1e6 cosine dissimilarity to its own cluster's
    // other slice members, b = min over other clusters of the mean
    // dissimilarity, s = (b−a)·1e9 div max(a,b) — every mean is an
    // exact floor division, ties in the min are value-ties, and the
    // degenerate max(a,b)=0 case is an explicit CASE (DuckDB raises
    // on //0 where Spark div yields null — never rely on it).
    // Singleton-in-slice clusters have no a-side and drop (inner
    // join), documented. The all-pairs frame is the BOUNDED slice
    // (≤300², broadcast nested loop) — silhouette is quadratic by
    // definition; the scale path samples per cluster first.
    EngineQuery("q331_cluster_silhouette",
      (s, dir) => {
        val pts = preparedShared(s, dir).filter(col("vec_id") < 300)
          .join(mutualClustersShared(s, dir)
            .select(col("vec_id"), col("cluster_id")), "vec_id")
        val a = pts.select(col("vec_id").as("ia"), col("v").as("va"),
          col("nrm").as("na"), col("cluster_id").as("ca"))
        val b = pts.select(col("vec_id").as("ib"), col("v").as("vb"),
          col("nrm").as("nb"), col("cluster_id").as("cb"))
        // limit = no-op under the <300 unique-id slice (structural
        // bound for the BNLJ build side, the q216 pattern)
        val pairs = a.join(broadcast(b.limit(300)),
          col("ia") =!= col("ib"))
          .select(col("ia"), col("ca"), col("cb"),
            (lit(1000000L) - round(graft.operators.Similarity
                .dot(col("va"), col("vb")) / (col("na") * col("nb"))
              * 1e6).cast("long")).as("d_fp"))
        val means = pairs.groupBy("ia", "ca", "cb")
          .agg(expr("sum(d_fp) div count(1)").as("mean_fp"))
        val own = means.filter(col("ca") === col("cb"))
          .select(col("ia"), col("ca"), col("mean_fp").as("a_fp"))
        val other = means.filter(col("ca") =!= col("cb"))
          .groupBy("ia").agg(min("mean_fp").as("b_fp"))
        own.join(other, "ia")
          .select(col("ia"), col("ca"), col("a_fp"), col("b_fp"),
            expr("""CASE WHEN greatest(a_fp, b_fp) = 0
              |THEN CAST(0 AS BIGINT)
              |ELSE (b_fp - a_fp) * 1000000000
              |  div greatest(a_fp, b_fp) END""".stripMargin)
              .as("sil_fp"))
          .groupBy(col("ca").as("cluster_id"))
          .agg(count(lit(1)).as("n_scored"),
            expr("sum(sil_fp) div count(1)").as("mean_sil_fp"),
            min("sil_fp").as("min_sil_fp"),
            max("sil_fp").as("max_sil_fp"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |reach AS (
              |  SELECT vec_id AS id, vec_id AS label FROM n
              |  UNION
              |  SELECT m.dst AS id, r.label
              |  FROM reach r JOIN mutual m ON m.src = r.id),
              |labels AS (
              |  SELECT id AS vec_id, MIN(label) AS cluster_id
              |  FROM reach GROUP BY id),
              |pts AS (
              |  SELECT n.vec_id, n.v, n.nrm, l.cluster_id
              |  FROM n JOIN labels l ON l.vec_id = n.vec_id
              |  WHERE n.vec_id < 300),
              |pairs AS (
              |  SELECT a.vec_id AS ia, a.cluster_id AS ca,
              |    b.cluster_id AS cb,
              |    1000000 - CAST(round(list_dot_product(a.v, b.v)
              |      / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS d_fp
              |  FROM pts a JOIN pts b ON b.vec_id <> a.vec_id),
              |means AS (
              |  SELECT ia, ca, cb,
              |    CAST(SUM(d_fp) AS BIGINT) // COUNT(*) AS mean_fp
              |  FROM pairs GROUP BY 1, 2, 3),
              |own AS (
              |  SELECT ia, ca, mean_fp AS a_fp FROM means
              |  WHERE ca = cb),
              |oth AS (
              |  SELECT ia, CAST(MIN(mean_fp) AS BIGINT) AS b_fp
              |  FROM means WHERE ca <> cb GROUP BY 1),
              |sil AS (
              |  SELECT o.ia, o.ca, o.a_fp, t.b_fp,
              |    CASE WHEN greatest(o.a_fp, t.b_fp) = 0
              |      THEN CAST(0 AS BIGINT)
              |      ELSE (t.b_fp - o.a_fp) * 1000000000
              |        // greatest(o.a_fp, t.b_fp) END AS sil_fp
              |  FROM own o JOIN oth t ON t.ia = o.ia)
              |SELECT ca AS cluster_id,
              |  CAST(COUNT(*) AS BIGINT) AS n_scored,
              |  CAST(SUM(sil_fp) AS BIGINT) // COUNT(*) AS mean_sil_fp,
              |  CAST(MIN(sil_fp) AS BIGINT) AS min_sil_fp,
              |  CAST(MAX(sil_fp) AS BIGINT) AS max_sil_fp
              |FROM sil GROUP BY 1 ORDER BY cluster_id""".stripMargin)),

    // EXT — STABLE MATCHING (operators/StableMatching, round-parallel
    // deferred acceptance) on a two-sided similarity market: even
    // vec_ids < 60 propose, odd vec_ids < 60 accept, both sides
    // ranking by ×1e6 fixed-point cosine with id tie-breaks. The
    // proposer-optimal stable matching is UNIQUE and proposal-order-
    // independent (McVitie–Wilson), so the oracle re-derives it with
    // the classical SEQUENTIAL Gale–Shapley — one proposal per step
    // in a recursive-CTE fold (the q316/q324 pattern: the step's
    // chosen proposer, its pointer, the proposal target and the
    // incumbent's rank all hoist as window extrema / one-row pref
    // joins over the working table) — two genuinely different
    // algorithms agreeing exactly on a provably unique object.
    // StableMatchingSpec additionally pins the operator to driver
    // GS + the no-blocking-pair property on random markets.
    EngineQuery("q332_stable_pairing",
      (s, dir) => {
        val pe = preparedShared(s, dir)
          .filter(col("vec_id") < lit(60L * gateScale))
        val props = pe.filter(col("vec_id") % 2 === 0)
          .select(col("vec_id").as("p"), col("v").as("vp"),
            col("nrm").as("np"))
        val accs = pe.filter(col("vec_id") % 2 === 1)
          .select(col("vec_id").as("a"), col("v").as("va"),
            col("nrm").as("na"))
        val cells = props.crossJoin(broadcast(accs))
          .select(col("p"), col("a"),
            round(graft.operators.Similarity.dot(col("vp"), col("va"))
              / (col("np") * col("na")) * 1e6).cast("long").as("s_fp"))
        val prefs = cells.select(col("p"), col("a"),
          row_number().over(Window.partitionBy("p")
            .orderBy(col("s_fp").desc, col("a"))).cast("long").as("rp"),
          row_number().over(Window.partitionBy("a")
            .orderBy(col("s_fp").desc, col("p"))).cast("long").as("ra"))
        graft.operators.StableMatching.matching(prefs)
          .orderBy("proposer")
      },
      Some(s"""WITH RECURSIVE $prepSql,
              |cells AS MATERIALIZED (
              |  SELECT p.vec_id AS p, a.vec_id AS a,
              |    CAST(round(list_dot_product(p.v, a.v)
              |      / (p.nrm * a.nrm) * 1000000) AS BIGINT) AS s_fp
              |  FROM n p, n a
              |  WHERE p.vec_id < ${60L * gateScale} AND p.vec_id % 2 = 0
              |    AND a.vec_id < ${60L * gateScale} AND a.vec_id % 2 = 1),
              |prefs AS MATERIALIZED (
              |  SELECT p, a,
              |    CAST(row_number() OVER (PARTITION BY p
              |      ORDER BY s_fp DESC, a) AS BIGINT) AS rp,
              |    CAST(row_number() OVER (PARTITION BY a
              |      ORDER BY s_fp DESC, p) AS BIGINT) AS ra
              |  FROM cells),
              |plen AS MATERIALIZED (
              |  SELECT p, CAST(COUNT(*) AS BIGINT) AS len
              |  FROM prefs GROUP BY 1),
              |st AS (
              |  SELECT 0 AS i, p, CAST(1 AS BIGINT) AS ptr,
              |    CAST(NULL AS BIGINT) AS ma
              |  FROM plen
              |  UNION ALL
              |  SELECT y.i + 1 AS i, y.p,
              |    CASE WHEN y.p = y.c THEN y.ptr + 1 ELSE y.ptr END
              |      AS ptr,
              |    CASE
              |      WHEN y.p = y.c AND y.ra_c
              |        < COALESCE(y.ra_i, 9223372036854775807)
              |        THEN y.t
              |      WHEN y.ma = y.t AND y.ra_c
              |        < COALESCE(y.ra_i, 9223372036854775807)
              |        THEN CAST(NULL AS BIGINT)
              |      ELSE y.ma END AS ma
              |  FROM (
              |    SELECT l3.*,
              |      MAX(CASE WHEN l3.ma = l3.t THEN po.ra END)
              |        OVER () AS ra_i
              |    FROM (
              |      SELECT l2.i, l2.p, l2.ptr, l2.ma, l2.c,
              |        pr.a AS t, pr.ra AS ra_c
              |      FROM (
              |        SELECT l1.*,
              |          MAX(CASE WHEN l1.p = l1.c THEN l1.ptr END)
              |            OVER () AS ptrc
              |        FROM (
              |          SELECT s.i, s.p, s.ptr, s.ma,
              |            MIN(CASE WHEN s.ma IS NULL
              |              AND s.ptr <= pl.len THEN s.p END)
              |              OVER () AS c
              |          FROM st s JOIN plen pl ON pl.p = s.p) l1) l2
              |      JOIN prefs pr ON pr.p = l2.c AND pr.rp = l2.ptrc)
              |      l3
              |    JOIN prefs po ON po.p = l3.p AND po.a = l3.t) y)
              |SELECT f.p AS proposer, f.ma AS acceptor,
              |  pr.rp AS rank_p, pr.ra AS rank_a
              |FROM st f
              |JOIN (SELECT MAX(i) AS li FROM st) m ON f.i = m.li
              |JOIN prefs pr ON pr.p = f.p AND pr.a = f.ma
              |WHERE f.ma IS NOT NULL
              |ORDER BY proposer""".stripMargin)),

    // EXT — TRIANGLE-COUNT ESTIMATE by deterministic wedge sampling,
    // gated against the exact count: the graph-approximation axis of
    // the estimate-vs-exact battery (HLL q260, AMS q317, KMV q321 are
    // its set/moment/cardinality axes). Wedges (center, lo-nbr,
    // hi-nbr) sample at 1/8 by sha256-prefix parity — the
    // deterministic replacement for coin flips everywhere in this
    // engine — and the ratio estimator Ĉ = C_s·W div W_s rescales
    // closed sampled wedges by the exact wedge total (W is a free
    // by-product of degree counts; only CLOSURE checking costs a
    // join, which is the point of sampling). exact = C div 3, every
    // triangle closing 3 wedges. All counts exact BIGINTs; the ×1e9
    // error row asserts the bound as data.
    EngineQuery("q333_triangle_estimate",
      (s, dir) => {
        val m = mutualShared(s, dir)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst"))
        val und = m.filter(col("src") < col("dst"))
          .select(col("src").as("wa"), col("dst").as("wb"))
        val wedges = m.select(col("src").as("u"), col("dst").as("wa"))
          .join(m.select(col("src").as("u"), col("dst").as("wb")), "u")
          .filter(col("wa") < col("wb"))
          .withColumn("samp", pmod(graft.functions.CoreFunctions.sha256PrefixLong(
            concat(lit("wg:"), col("u").cast("string"), lit(":"),
              col("wa").cast("string"), lit(":"),
              col("wb").cast("string"))), lit(8L)) === 0L)
        val tot = wedges.agg(count(lit(1)).as("n_wedges"),
          sum(when(col("samp"), 1L).otherwise(0L)).as("n_sampled"))
        val cls = wedges.join(und, Seq("wa", "wb"), "left_semi")
          .agg(count(lit(1)).as("n_closed"),
            sum(when(col("samp"), 1L).otherwise(0L))
              .as("n_closed_sampled"))
        tot.crossJoin(broadcast(cls))
          .select(col("n_wedges"), col("n_sampled"), col("n_closed"),
            col("n_closed_sampled"),
            expr("n_closed div 3").as("exact_tri"),
            expr("(n_closed_sampled * n_wedges div n_sampled) div 3")
              .as("est_tri"))
          .withColumn("abs_rel_err_fp", expr(
            """CASE WHEN exact_tri = 0 THEN CAST(0 AS BIGINT)
              |ELSE abs(est_tri - exact_tri) * 1000000000
              |  div exact_tri END""".stripMargin))
          .withColumn("bound_ok", col("abs_rel_err_fp") <= 250000000L)
      },
      Some(s"""WITH $prepSql,
              |$knnCteSql,
              |mutual AS (
              |  SELECT a.vec_id AS src, a.nbr_id AS dst FROM knn a
              |  JOIN knn b ON b.vec_id = a.nbr_id AND b.nbr_id = a.vec_id),
              |und AS (
              |  SELECT src AS wa, dst AS wb FROM mutual
              |  WHERE src < dst),
              |wedges AS (
              |  SELECT m1.src AS u, m1.dst AS wa, m2.dst AS wb,
              |    CAST('0x' || substr(sha256(
              |      'wg:' || CAST(m1.src AS VARCHAR) || ':' ||
              |      CAST(m1.dst AS VARCHAR) || ':' ||
              |      CAST(m2.dst AS VARCHAR)), 1, 8) AS BIGINT) % 8 = 0
              |      AS samp
              |  FROM mutual m1 JOIN mutual m2 ON m2.src = m1.src
              |    AND m1.dst < m2.dst),
              |tot AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_wedges,
              |    CAST(SUM(CASE WHEN samp THEN 1 ELSE 0 END) AS BIGINT)
              |      AS n_sampled
              |  FROM wedges),
              |cls AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_closed,
              |    CAST(SUM(CASE WHEN w.samp THEN 1 ELSE 0 END)
              |      AS BIGINT) AS n_closed_sampled
              |  FROM wedges w
              |  WHERE EXISTS (SELECT 1 FROM und e
              |                WHERE e.wa = w.wa AND e.wb = w.wb))
              |SELECT t.n_wedges, t.n_sampled, c.n_closed,
              |  c.n_closed_sampled,
              |  c.n_closed // 3 AS exact_tri,
              |  (c.n_closed_sampled * t.n_wedges // t.n_sampled) // 3
              |    AS est_tri,
              |  CASE WHEN c.n_closed // 3 = 0 THEN CAST(0 AS BIGINT)
              |    ELSE abs((c.n_closed_sampled * t.n_wedges
              |        // t.n_sampled) // 3 - c.n_closed // 3)
              |      * 1000000000 // (c.n_closed // 3) END
              |    AS abs_rel_err_fp,
              |  CASE WHEN c.n_closed // 3 = 0 THEN CAST(0 AS BIGINT)
              |    ELSE abs((c.n_closed_sampled * t.n_wedges
              |        // t.n_sampled) // 3 - c.n_closed // 3)
              |      * 1000000000 // (c.n_closed // 3) END
              |    <= 250000000 AS bound_ok
              |FROM tot t CROSS JOIN cls c""".stripMargin))
  )
}
