package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.{Shared, Tables}
import graft.functions.CoreFunctions._
import graft.operators.{ConnectedComponents, TextDedup}

/** Training-data text operators over `documents` (SURVEY §2C Q25–Q26,
  * Q28 + the EXT battery: SimHash, n-gram Jaccard, language ID, quality
  * scoring, token counting, winnowing fingerprints).
  *
  * Scale notes (the 100 TB design point):
  *   - near-dup candidate generation is BANDED (MinHash bands / SimHash
  *     chunks) — never all-pairs; the only self-joins are on band keys.
  *   - all operators are shuffle-on-key aggregations of exploded tokens /
  *     shingles; no driver-side state anywhere.
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String) = Tables.table(s, dir, "documents")

  /** Docs pre-spread on doc_id for the ~300×-amplifying shingle/token
    * explodes ([[graft.operators.Spread.byKey]]): the shuffle moves raw
    * doc text (narrowest point), and the hashpartitioning(doc_id) it
    * leaves behind is what every per-doc aggregation and window
    * downstream requires — they plan NO second exchange. */
  private[graft] def docsSpread(s: SparkSession, dir: String) =
    graft.operators.Spread.byKey(docs(s, dir), col("doc_id"))

  /** 8-char shingles at every position (1-based), as (doc_id, i, gram). */
  private[queries] def gramsDf(s: SparkSession, dir: String) =
    docsSpread(s, dir)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("text")) - 7)).as("i"),
        col("text"))
      .select(col("doc_id"), col("i"), expr("substring(text, i, 8)").as("gram"))

  /** DuckDB twin of gramsDf (bounded cross join + length filter).
    * Under SPARK_GRAFT_ORACLE_SHARED_DIR the body swaps for a read of
    * the once-materialized frame ([[OracleShared]]). */
  private[queries] val gramsFullSql =
    """SELECT doc_id, i, substr(text, CAST(i AS INT), 8) AS gram
      |FROM documents CROSS JOIN (SELECT unnest(range(1, 1024)) AS i) pos
      |WHERE i <= length(text) - 7""".stripMargin
  private[queries] val gramsSql = OracleShared.swap(gramsFullSql,
    Seq("grams" -> gramsFullSql))(OracleShared.read("grams"))

  /** uint32 hash of a gram, remixed per band with cheap arithmetic — one
    * sha256 per gram instead of one per (gram, band): 8× fewer digest
    * calls on the hot path, identical algebra in DuckDB. */
  private def bandHash(band: Column, gram: Column): Column = {
    val h = sha256PrefixLong(gram)
    (h * (band * 2 + 1) + band * lit(2654435761L)) % lit(4294967296L)
  }

  private def bandHashSql(band: String, gram: String): String =
    s"((CAST('0x' || substr(sha256($gram), 1, 8) AS BIGINT) * ($band * 2 + 1) + $band * 2654435761) % 4294967296)"

  /** MinHash signatures (graft.operators.TextDedup.minhashSignatures):
    * band mins fold map-side, shuffle is |docs| rows.
    *
    * One shared materialization per (session, table dir): candidate
    * generation (q26), Jaccard verification (q31) and the bucket census
    * (q66) all consume the same signature frame — in a real curation run
    * signatures are computed once (at 100 TB: a checkpointed table) and
    * fanned out, so the gram explode + sha256 pipeline executes once per
    * verify/bench run here too (the q41–q43 shared-ingest-cache pattern,
    * `OperatorQueries.pipeline`). The frame is |docs|×bands rows — tiny
    * relative to what it derives from. Verify/Bench call
    * [[Shared.reset]] on teardown. */
  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "minhashSigs")(
      TextDedup.minhashSignatures(gramsDf(s, dir))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared cluster-edge frame per (session, table dir): the
    * band-floored candidate pairs that seed BOTH transitive-clustering
    * formulations — the one-shot labeling ([[dupClusterLabels]], q75's
    * family) and the incremental star-collapse gate (q335, which folds
    * the SAME edges in two batches). The upstream minhash-signature
    * band join is the heaviest text subplan; a real curation run scans
    * it once and fans the edge table out, so recomputing it per
    * consumer would double-charge the bench for evidence q335 already
    * pays for deliberately (its double CC fold IS the incremental ≡
    * full proof — the redundant part was only this upstream scan).
    * |edges| rows of two longs, persisted; [[Shared.reset]] evicts. */
  private[graft] def clusterEdges(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "clusterEdges")(
      TextDedup.candidatePairs(minhashSigs(s, dir))
        .filter(col("n_shared_bands") >= ClusterMinBands)
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared duplicate-cluster labeling per (session, table dir),
    * like [[minhashSigs]]: the propagation loop is a multi-job iteration
    * whose per-round overhead dwarfs its data at test SF, and a real
    * curation run computes cluster labels ONCE and fans them out to
    * every consumer (q75's census and q76's keep-best here). |docs|
    * rows, persisted; [[Shared.reset]] evicts. */
  private def dupClusterLabels(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "dupClusterLabels")(
      ConnectedComponents.labels(
          clusterEdges(s, dir),
          docs(s, dir).select("doc_id"))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared exact-Jaccard frame per (session, table dir), like
    * [[minhashSigs]]: verification (q31) and band calibration (q82) both
    * consume the scored candidate pairs, and the gram explode + distinct
    * + sorted-array build + pair joins behind them are the single most
    * expensive subplan in the engine — a real curation run scores each
    * candidate pair ONCE and derives every report from the scored table.
    * |candidate pairs| rows (6 small columns), persisted;
    * [[Shared.reset]] evicts. */
  private def jaccardScores(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "jaccardScores")(
      TextDedup.jaccard(gramsDf(s, dir),
          TextDedup.candidatePairs(minhashSigs(s, dir)))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared SimHash fingerprint frame per (session, table dir), like
    * [[minhashSigs]]: the fingerprint report (q29), near-dup pairing
    * (q30) and the curation pipeline (q61) all consume the same per-doc
    * 60-bit fingerprints, and the sha256-per-token pass behind them is
    * the single heaviest repeated subplan left in the bench — a real
    * curation run fingerprints the corpus ONCE (at 100 TB: a
    * checkpointed table) and fans it out. Fingerprints are a pure
    * per-document function, so consumers over a doc SUBSET (q61 after
    * exact dedup) reuse the frame via a semi-join instead of refolding
    * their own. |docs| rows of (doc_id, long); [[Shared.reset]]
    * evicts. */
  private def simhashFps(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "simhashFps")(
      TextDedup.simhashFingerprints(tokens(s, dir))
        .persist(StorageLevel.MEMORY_AND_DISK))

  /** One shared EXACT Jaccard-≥3/5 pair frame per (session, dir): the
    * AllPairs truth set (prefix-filter candidates + codegen'd verify)
    * feeds both the exact self-join report (q309) and the LSH-recall
    * QA (q334) — the verify pass over the candidate join is the
    * heaviest text subplan after the signature builds, and a real
    * curation run computes the truth set ONCE. [[Shared.reset]] evicts. */
  private def exactPairsShared(s: SparkSession, dir: String): DataFrame =
    Shared.frame(s, dir, "exactPairs") {
      val grams = gramsDf(s, dir)
      TextDedup.jaccard(grams,
          TextDedup.prefixFilterCandidates(grams, tauNum = 3L,
            tauDen = 5L))
        .filter(col("n_inter") * 5L >=
          lit(3L) * (col("na") + col("nb") - col("n_inter")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }

  private val sigsPartSql = {
    val mins = (0 until 8).map(b =>
      s"MIN((h * ${b * 2 + 1} + $b * 2654435761) % 4294967296) AS m$b")
      .mkString(", ")
    val unions = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, m$b AS minhash FROM sigs_wide")
      .mkString(" UNION ALL ")
    s"""hashed_grams AS (
       |  SELECT doc_id, CAST('0x' || substr(sha256(gram), 1, 8) AS BIGINT) AS h
       |  FROM grams),
       |sigs_wide AS (
       |  SELECT doc_id, $mins FROM hashed_grams GROUP BY doc_id),
       |sigs AS ($unions)""".stripMargin
  }
  private val sigsCappedPartSql =
    s"""sigs_capped AS (
       |  SELECT doc_id, band, minhash FROM (
       |    SELECT doc_id, band, minhash,
       |      row_number() OVER (PARTITION BY band, minhash ORDER BY doc_id) AS bucket_rk
       |    FROM sigs) t
       |  WHERE bucket_rk <= ${TextDedup.DefaultMaxBucketSize})""".stripMargin
  private val minhashSigsSql = OracleShared.swap(
    sigsPartSql + ",\n" + sigsCappedPartSql,
    Seq(
      "sigs" -> (s"WITH grams AS (${OracleShared.read("grams")}),\n" +
        s"$sigsPartSql SELECT * FROM sigs"),
      "sigs_capped" -> (s"WITH sigs AS (${OracleShared.read("sigs")}),\n" +
        s"$sigsCappedPartSql SELECT * FROM sigs_capped")))(
    s"""sigs AS (${OracleShared.read("sigs")}),
       |sigs_capped AS (${OracleShared.read("sigs_capped")})""".stripMargin)

  /** DuckDB twin of TextDedup.jaccard over the capped candidate pairs,
    * ending in a `jac` CTE carrying the band count alongside the exact
    * score — shared by q31 and q82. Requires grams + [[minhashSigsSql]].
    * (Oracle intersects raw grams; engine uses xxhash64 keys — counts
    * only, collision odds documented in README.) */
  private val gsetPartSql =
    """gset AS (SELECT DISTINCT doc_id, gram FROM grams),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM gset GROUP BY doc_id)""".stripMargin
  private val jacPartSql =
    """cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    COUNT(DISTINCT a.band) AS n_shared_bands
      |  FROM sigs_capped a JOIN sigs_capped b
      |    ON a.band = b.band AND a.minhash = b.minhash
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      |  FROM cand c
      |  JOIN gset ga ON ga.doc_id = c.doc_a
      |  JOIN gset gb ON gb.doc_id = c.doc_b AND gb.gram = ga.gram
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT c.doc_a, c.doc_b, c.n_shared_bands,
      |    coalesce(i.n_inter, 0) AS n_inter, sa.n AS na, sb.n AS nb,
      |    CAST(coalesce(i.n_inter, 0) AS DOUBLE)
      |      / CAST(sa.n + sb.n - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard
      |  FROM cand c
      |  LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      |  JOIN sizes sa ON sa.doc_id = c.doc_a
      |  JOIN sizes sb ON sb.doc_id = c.doc_b)""".stripMargin
  private val jaccardCoreSql = OracleShared.swap(
    gsetPartSql + ",\n" + jacPartSql,
    {
      // equivalence gate (ADVICE r13): the inline gset⋈gset join form of
      // jac, over the SAME materialized upstream frames — verify_local.py
      // EXCEPTs this against the list-intersect build at small SF on
      // every --shared sweep, so the structural divergence can't drift
      OracleShared.gate("jac",
        s"""WITH gset AS (${OracleShared.read("gset")}),
           |sizes AS (${OracleShared.read("jac_sizes")}),
           |sigs_capped AS (${OracleShared.read("sigs_capped")}),
           |$jacPartSql
           |SELECT * FROM jac""".stripMargin)
      Seq(
      "gset" -> (s"WITH grams AS (${OracleShared.read("grams")}),\n" +
        s"$gsetPartSql SELECT * FROM gset"),
      "jac_sizes" -> (s"WITH gset AS (${OracleShared.read("gset")}) " +
        "SELECT doc_id, COUNT(*) AS n FROM gset GROUP BY doc_id"),
      // the MATERIALIZATION build uses a per-doc sorted-gram-list
      // intersection instead of the inline twin's gset⋈gset join: the
      // join form streams |pairs|·|grams/doc| matched rows into an
      // 85M-group aggregate (~14e9 rows at sf1 — it OOM-killed a 42GB
      // /28GB-spill DuckDB), while the list form emits exactly one row
      // per candidate pair (85M at sf1, built in 28 min, near-zero
      // spill). Proven cell-identical to the join form at sf0.01
      // (EXCEPT in both directions = 0 over all 27,030 rows, doubles
      // included — identical final expressions)
      "jac" -> (s"WITH gset AS (${OracleShared.read("gset")}),\n" +
        s"sizes AS (${OracleShared.read("jac_sizes")}),\n" +
        s"sigs_capped AS (${OracleShared.read("sigs_capped")}),\n" +
        "gl AS (SELECT doc_id, list(gram ORDER BY gram) AS gs\n" +
        "  FROM gset GROUP BY 1),\n" +
        """cand AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          |    COUNT(DISTINCT a.band) AS n_shared_bands
          |  FROM sigs_capped a JOIN sigs_capped b
          |    ON a.band = b.band AND a.minhash = b.minhash
          |    AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)
          |SELECT c.doc_a, c.doc_b, c.n_shared_bands,
          |  CAST(len(list_intersect(ga.gs, gb.gs)) AS BIGINT) AS n_inter,
          |  sa.n AS na, sb.n AS nb,
          |  CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
          |    / CAST(sa.n + sb.n - len(list_intersect(ga.gs, gb.gs))
          |        AS DOUBLE) AS jaccard
          |FROM cand c
          |JOIN gl ga ON ga.doc_id = c.doc_a
          |JOIN gl gb ON gb.doc_id = c.doc_b
          |JOIN sizes sa ON sa.doc_id = c.doc_a
          |JOIN sizes sb ON sb.doc_id = c.doc_b""".stripMargin))
    })(
    s"""gset AS (${OracleShared.read("gset")}),
       |sizes AS (${OracleShared.read("jac_sizes")}),
       |jac AS (${OracleShared.read("jac")})""".stripMargin)

  /** Materialization-only build of the exact Jaccard-≥3/5 pair frame
    * (doc_a, doc_b, n_inter, na, nb) over ALL doc pairs sharing ≥1
    * gram — the oracle twin of the engine's `exactPairsShared`
    * (q309/q334). The one-shot form is intractable at sf1: the gram
    * equijoin feeds ~14e9 matched rows (a hot gram is shared by 38,590
    * docs) into a billions-of-groups aggregate — OOM at any spill cap
    * this box allows. Built SHARDED instead: 16 hash-shards of doc_a,
    * each shard's aggregate filtered to QUALIFYING pairs before
    * accumulating (the 3/5 filter needs only per-doc sizes, known at
    * shard time), so peak spill is ~1/16 and the accumulated table is
    * near-dup-sized, not all-pairs-sized. `;;`-separated statements —
    * verify_local.py executes all but the last, then COPYs the last. */
  // def, not val: the body reads OracleShared.dir and must only
  // evaluate inside swap's by-name mats argument (i.e. when the
  // materialization env is actually set)
  private def exactPairs35Mat: String = {
    def gsetRead = OracleShared.read("gset")
    def sizesRead = OracleShared.read("jac_sizes")
    // equivalence gate (ADVICE r13): the ONE-SHOT unsharded form over
    // the same upstream frames — verify_local.py EXCEPTs it against the
    // 16-way sharded accumulator at small SF on every --shared sweep
    OracleShared.gate("exact_pairs_35",
      s"""WITH gset AS ($gsetRead),
         |sizes AS ($sizesRead),
         |pair AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM gset a JOIN gset b
         |    ON b.gram = a.gram AND b.doc_id > a.doc_id
         |  GROUP BY 1, 2)
         |SELECT p.doc_a, p.doc_b, p.n_inter, la.n AS na, lb.n AS nb
         |FROM pair p
         |JOIN sizes la ON la.doc_id = p.doc_a
         |JOIN sizes lb ON lb.doc_id = p.doc_b
         |WHERE p.n_inter * 5 >= 3 * (la.n + lb.n - p.n_inter)""".stripMargin)
    val shards = (0 until 16).map { i =>
      s"""INSERT INTO ex_acc
         |SELECT x.doc_a, x.doc_b, x.n_inter, la.n AS na, lb.n AS nb FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(COUNT(*) AS BIGINT) AS n_inter
         |  FROM ($gsetRead) a JOIN ($gsetRead) b
         |    ON b.gram = a.gram AND b.doc_id > a.doc_id
         |  WHERE hash(a.doc_id) % 16 = $i
         |  GROUP BY 1, 2) x
         |JOIN ($sizesRead) la ON la.doc_id = x.doc_a
         |JOIN ($sizesRead) lb ON lb.doc_id = x.doc_b
         |WHERE x.n_inter * 5 >= 3 * (la.n + lb.n - x.n_inter)""".stripMargin
    }
    (("CREATE OR REPLACE TEMP TABLE ex_acc (doc_a BIGINT, doc_b BIGINT, " +
      "n_inter BIGINT, na BIGINT, nb BIGINT)") +: shards)
      .mkString("", "\n;;\n", "\n;;\n") +
      "SELECT doc_a, doc_b, n_inter, na, nb FROM ex_acc"
  }

  /** Band-agreement floor for DUP-CLUSTER edges (q75/q76/q81): a
    * candidate pair becomes a cluster edge only when ≥ this many of the
    * 8 bands agree. Clustering on "shares any band" over-merges — on a
    * dup-heavy corpus nearly every document lands in one giant cluster
    * (sf0.1: 3.18M ≥1-band pairs over 5k docs) — and a transitive
    * closure over a near-complete graph is quadratic in component size
    * in ANY engine. The floor is CALIBRATED by q82 (band agreement vs
    * exact Jaccard): on this corpus pairs agreeing on 7–8 bands average
    * exact Jaccard ≈ 0.98 while 4–5-band pairs average ≈ 0.07 — true
    * near-duplicates sit at ≥ 6, everything below is bucket noise.
    * Interpolated into BOTH the engine filter and the oracle HAVING so
    * the twins cannot drift. */
  private[graft] val ClusterMinBands = 6

  /** DuckDB twin of ConnectedComponents.labels over the MinHash candidate
    * pairs: symmetrize the edges, enumerate reachable labels with a
    * recursive CTE (UNION-distinct delta evaluation terminates), take the
    * per-node minimum. Appended after [[minhashSigsSql]] under a
    * `WITH RECURSIVE` header (q75/q76). */
  private val ccPairsPartSql =
    s"""cc_pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sigs_capped a JOIN sigs_capped b
      |    ON a.band = b.band AND a.minhash = b.minhash
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |  HAVING COUNT(DISTINCT a.band) >= $ClusterMinBands)""".stripMargin
  private val ccLabelsPartSql =
    """cc_edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM cc_pairs
      |  UNION SELECT doc_b AS src, doc_a AS dst FROM cc_pairs),
      |cc_reach AS (
      |  SELECT doc_id AS id, doc_id AS label FROM documents
      |  UNION
      |  SELECT e.dst AS id, r.label
      |  FROM cc_reach r JOIN cc_edges e ON e.src = r.id),
      |cc_labels AS (
      |  SELECT id AS doc_id, MIN(label) AS cluster_id
      |  FROM cc_reach GROUP BY id)""".stripMargin
  private val ccLabelsSql = OracleShared.swap(
    ccPairsPartSql + ",\n" + ccLabelsPartSql,
    Seq(
      "cc_pairs" -> (s"WITH sigs_capped AS (${
        OracleShared.read("sigs_capped")}),\n" +
        s"$ccPairsPartSql SELECT * FROM cc_pairs"),
      "cc_labels" -> (s"WITH RECURSIVE cc_pairs AS (${
        OracleShared.read("cc_pairs")}),\n" +
        s"$ccLabelsPartSql SELECT * FROM cc_labels")))(
    s"""cc_pairs AS (${OracleShared.read("cc_pairs")}),
       |cc_labels AS (${OracleShared.read("cc_labels")})""".stripMargin)

  /** 60-bit token hash (15 hex chars — stays positive in a signed long). */
  private val tokHash60Sql =
    "CAST('0x' || substr(sha256(tok), 1, 15) AS BIGINT)"

  private[queries] def tokens(s: SparkSession, dir: String) =
    docsSpread(s, dir).select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("tok"))

  private val tokensSql =
    "SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents"

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")
  private val stopwordsSqlList = stopwords.map(w => s"'$w'").mkString(", ")

  /** The q32 language-ID classifier (stopword-hit argmax, fixed
    * tie-break order), shared by the per-doc report (q32) and the
    * confusion-matrix evaluation (q132). */
  private def langIdPredictions(s: SparkSession, dir: String): DataFrame = {
    def hits(ws: Seq[String]) =
      sum(when(col("tok").isin(ws: _*), 1L).otherwise(0L))
    tokens(s, dir)
      .groupBy("doc_id", "lang")
      .agg(hits(LangId.en).as("en_hits"), hits(LangId.es).as("es_hits"),
        hits(LangId.de).as("de_hits"), hits(LangId.fr).as("fr_hits"))
      .withColumn("predicted_lang",
        when(col("en_hits") >= col("es_hits") &&
          col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("fr_hits"), lit("en"))
          .when(col("es_hits") >= col("de_hits") &&
            col("es_hits") >= col("fr_hits"), lit("es"))
          .when(col("de_hits") >= col("fr_hits"), lit("de"))
          .otherwise(lit("fr")))
  }

  /** One shared entity-resolution labeling per (session, dir) — the
    * dupClusterLabels precedent applied to the q148 fuzzy-match closure:
    * the pointer-jumping loop's per-round fixed cost dominates at test
    * SF and a real run resolves entities ONCE. |customers| rows;
    * [[Shared.reset]] evicts. */
  private def entityLabelsShared(s: SparkSession, dir: String,
      build: => DataFrame): DataFrame =
    Shared.frame(s, dir, "entityLabels")(
      build.persist(StorageLevel.MEMORY_AND_DISK))

  /** The q33 quality scorer (bounded blend of token-count, non-stopword
    * ratio, token-length), shared by the per-doc report (q33) and the
    * quality/duplication calibration (q145). */
  private def qualityScores(s: SparkSession, dir: String): DataFrame =
    tokens(s, dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("sum_len"),
        sum(when(col("tok").isin(stopwords: _*), 1L).otherwise(0L))
          .as("n_stop"))
      .select(col("doc_id"), col("n_tokens"),
        (least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.3 +
          (lit(1.0) - col("n_stop").cast("double") /
            col("n_tokens").cast("double")) * 0.4 +
          least(lit(1.0), (col("sum_len").cast("double") /
            col("n_tokens").cast("double")) / 8.0) * 0.3)
          .as("quality_score"))

  /** Oracle twin of [[qualityScores]] as a CTE body (no ORDER BY). */
  private lazy val qualitySql =
    s"""SELECT doc_id, n_tokens,
       |  least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
       |  + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.4
       |  + least(1.0, (CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 8.0) * 0.3 AS quality_score
       |FROM (
       |  SELECT doc_id, COUNT(*) AS n_tokens,
       |    CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
       |    CAST(SUM(CASE WHEN tok IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
       |  FROM ($tokensSql) toks GROUP BY 1) t""".stripMargin

  /** Oracle twin of [[langIdPredictions]] (the q32 oracle body, no
    * ORDER BY — embeddable as a CTE). */
  private lazy val langIdSql =
    s"""SELECT doc_id, lang, en_hits, es_hits, de_hits, fr_hits,
       |  CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
       |       WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
       |       WHEN de_hits >= fr_hits THEN 'de'
       |       ELSE 'fr' END AS predicted_lang
       |FROM (
       |  SELECT doc_id, lang,
       |    CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.en)}) THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
       |    CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.es)}) THEN 1 ELSE 0 END) AS BIGINT) AS es_hits,
       |    CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.de)}) THEN 1 ELSE 0 END) AS BIGINT) AS de_hits,
       |    CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.fr)}) THEN 1 ELSE 0 END) AS BIGINT) AS fr_hits
       |  FROM ($tokensSql) toks GROUP BY 1, 2) t""".stripMargin

  val all: Seq[EngineQuery] = Seq(

    // Q25 — exact text dedup: hash-groupBy, keep min doc_id. One shuffle
    // on the 256-bit content hash; trivially scale-safe.
    EngineQuery("q25_exact_dedup",
      (s, dir) => TextDedup.exactDuplicates(docs(s, dir))
        .orderBy("text_hash"),
      Some("""SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
             |  COUNT(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin)),

    // Q26 — MinHash+LSH near-dup candidates: shingle → min-hash per band
    // → band-key self-join (banded, NOT all-pairs).
    EngineQuery("q26_minhash_candidates",
      (s, dir) => TextDedup.candidatePairs(minhashSigs(s, dir))
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH grams AS ($gramsSql),
              |$minhashSigsSql
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  COUNT(DISTINCT a.band) AS n_shared_bands
              |FROM sigs_capped a JOIN sigs_capped b
              |  ON a.band = b.band AND a.minhash = b.minhash
              |  AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Q28 — per-document token statistics.
    EngineQuery("q28_text_stats",
      (s, dir) => tokens(s, dir)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_unique"),
          sum(length(col("tok"))).as("sum_tok_len"),
          sum(when(col("tok").isin(stopwords: _*), 1L).otherwise(0L))
            .as("n_stopwords"))
        .select(col("doc_id"), col("n_tokens"), col("n_unique"),
          (col("sum_tok_len").cast("double") / col("n_tokens").cast("double"))
            .as("avg_token_len"),
          (col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
            .as("stopword_ratio"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_tokens, n_unique,
              |  CAST(sum_tok_len AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
              |  CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio
              |FROM (
              |  SELECT doc_id, COUNT(*) AS n_tokens,
              |    COUNT(DISTINCT tok) AS n_unique,
              |    CAST(SUM(length(tok)) AS BIGINT) AS sum_tok_len,
              |    CAST(SUM(CASE WHEN tok IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stopwords
              |  FROM ($tokensSql) toks GROUP BY doc_id) t
              |ORDER BY doc_id""".stripMargin)),

    // Q29 — SimHash 60-bit fingerprint per document.
    EngineQuery("q29_simhash_fingerprint",
      (s, dir) => simhashFps(s, dir)
        .orderBy("doc_id"),
      Some(s"""WITH th AS (
              |  SELECT doc_id, $tokHash60Sql AS h FROM ($tokensSql) toks),
              |bits AS (
              |  SELECT doc_id, bit,
              |    CAST(SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_score
              |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
              |  GROUP BY doc_id, bit)
              |SELECT doc_id,
              |  CAST(SUM(CASE WHEN bit_score > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
              |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Q30 — SimHash near-dup pairs via 15-bit chunk banding (4 chunks)
    // then Hamming distance <= 12 on candidates. Banded, not all-pairs.
    EngineQuery("q30_simhash_neardup",
      (s, dir) => TextDedup.simhashNearDups(
          simhashFps(s, dir), maxHamming = 12)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH th AS (
              |  SELECT doc_id, $tokHash60Sql AS h FROM ($tokensSql) toks),
              |bits AS (
              |  SELECT doc_id, bit,
              |    CAST(SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_score
              |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
              |  GROUP BY doc_id, bit),
              |fp AS (
              |  SELECT doc_id,
              |    CAST(SUM(CASE WHEN bit_score > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
              |  FROM bits GROUP BY doc_id),
              |chunks AS (
              |  SELECT doc_id, simhash, chunk, ((simhash >> (chunk * 15)) & 32767) AS chunk_val
              |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk) c),
              |chunks_capped AS (
              |  SELECT doc_id, simhash, chunk, chunk_val FROM (
              |    SELECT doc_id, simhash, chunk, chunk_val,
              |      row_number() OVER (PARTITION BY chunk, chunk_val ORDER BY doc_id) AS bucket_rk
              |    FROM chunks) t
              |  WHERE bucket_rk <= ${TextDedup.DefaultMaxBucketSize})
              |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |FROM chunks_capped a JOIN chunks_capped b
              |  ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
              |  AND a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // Q31 — exact n-gram Jaccard on the MinHash candidate pairs (integer
    // intersection/union counts: no float drift).
    EngineQuery("q31_ngram_jaccard",
      (s, dir) => jaccardScores(s, dir)
        .orderBy("doc_a", "doc_b"),
      Some(s"""WITH grams AS ($gramsSql),
              |$minhashSigsSql,
              |$jaccardCoreSql
              |SELECT doc_a, doc_b, n_shared_bands, n_inter, na, nb, jaccard
              |FROM jac ORDER BY 1, 2""".stripMargin)),

    // EXT — band/Jaccard calibration: mean exact Jaccard per shared-band
    // count — the curve that justifies the q75/q76 cluster threshold
    // (ClusterMinBands) empirically instead of by folklore. The average
    // is an exact fixed-point integer sum (the q71 float discipline), so
    // the cross-row fold is order-independent in both engines.
    EngineQuery("q82_band_jaccard_calibration",
      (s, dir) => jaccardScores(s, dir)
        .groupBy("n_shared_bands")
        .agg(count(lit(1)).as("n_pairs"),
          sum(round(col("jaccard") * 1e6).cast("long")).as("jac_sum_fp"),
          round(min(col("jaccard")), 6).as("min_jaccard"),
          round(max(col("jaccard")), 6).as("max_jaccard"))
        .select(col("n_shared_bands"), col("n_pairs"),
          round(col("jac_sum_fp").cast("double") / 1e6 /
            col("n_pairs").cast("double"), 6).as("avg_jaccard"),
          col("min_jaccard"), col("max_jaccard"))
        .orderBy("n_shared_bands"),
      Some(s"""WITH grams AS ($gramsSql),
              |$minhashSigsSql,
              |$jaccardCoreSql
              |SELECT n_shared_bands, COUNT(*) AS n_pairs,
              |  round(CAST(SUM(CAST(round(jaccard * 1000000.0) AS BIGINT)) AS DOUBLE)
              |    / 1000000.0 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_jaccard,
              |  round(MIN(jaccard), 6) AS min_jaccard,
              |  round(MAX(jaccard), 6) AS max_jaccard
              |FROM jac GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q49 — collection aggregates: per-language sorted distinct source
    // sets (collect_set → sort_array) with membership/size checks. The
    // set itself crosses the gate serialized (array_join) because the
    // driver's pandas compare cannot sort array cells; the membership /
    // size checks still run on the pre-joined array.
    EngineQuery("q49_collection_agg",
      (s, dir) => docs(s, dir)
        .groupBy("lang")
        .agg(sort_array(collect_set(col("source"))).as("sources_arr"),
          countDistinct(col("source")).as("n_sources"))
        .select(col("lang"),
          array_join(col("sources_arr"), ",").as("sources"),
          size(col("sources_arr")).cast("long").as("n_sources_arr"),
          col("n_sources"),
          array_contains(col("sources_arr"), "src1").as("has_src1"))
        .orderBy("lang"),
      Some("""SELECT lang,
             |  array_to_string(sources_arr, ',') AS sources,
             |  CAST(len(sources_arr) AS BIGINT) AS n_sources_arr,
             |  n_sources,
             |  list_contains(sources_arr, 'src1') AS has_src1
             |FROM (
             |  SELECT lang,
             |    list_sort(list(DISTINCT source)) AS sources_arr,
             |    COUNT(DISTINCT source) AS n_sources
             |  FROM documents GROUP BY 1) t
             |ORDER BY lang""".stripMargin)),

    // Q50 — dedup keep-best composition: exact duplicate groups resolved
    // by quality score (argmax via deterministic rank), the canonical-
    // document selection a training-data pipeline actually runs.
    EngineQuery("q50_dedup_keep_best",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val quality = tokens(s, dir)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("tok").isin(stopwords: _*), 1L).otherwise(0L))
              .as("n_stop"))
          .select(col("doc_id"),
            (lit(1.0) - col("n_stop").cast("double") /
              col("n_tokens").cast("double")).as("quality"))
        val hashed = docs(s, dir)
          .select(col("doc_id"), sha2(col("text"), 256).as("text_hash"))
          .join(quality, Seq("doc_id"))
        val w = Window.partitionBy(col("text_hash"))
          .orderBy(col("quality").desc, col("doc_id"))
        hashed.withColumn("rk", row_number().over(w))
          .groupBy("text_hash")
          .agg(count(lit(1)).as("group_size"),
            max(when(col("rk") === 1, col("doc_id"))).as("keep_doc_id"),
            round(max(when(col("rk") === 1, col("quality"))), 6)
              .as("keep_quality"))
          .orderBy("text_hash")
      },
      Some(s"""WITH quality AS (
              |  SELECT doc_id,
              |    1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS quality
              |  FROM (
              |    SELECT doc_id, COUNT(*) AS n_tokens,
              |      CAST(SUM(CASE WHEN tok IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
              |    FROM ($tokensSql) toks GROUP BY doc_id) t),
              |ranked AS (
              |  SELECT d.doc_id, sha256(d.text) AS text_hash, q.quality,
              |    row_number() OVER (PARTITION BY sha256(d.text)
              |      ORDER BY q.quality DESC, d.doc_id) AS rk
              |  FROM documents d JOIN quality q ON q.doc_id = d.doc_id)
              |SELECT text_hash, COUNT(*) AS group_size,
              |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
              |  round(MAX(CASE WHEN rk = 1 THEN quality END), 6) AS keep_quality
              |FROM ranked GROUP BY 1 ORDER BY text_hash""".stripMargin)),

    // Q32 — language ID by stopword-hit heuristic (argmax with a fixed
    // tie-break order).
    EngineQuery("q32_language_id",
      (s, dir) => langIdPredictions(s, dir).orderBy("doc_id"),
      Some(s"""SELECT * FROM ($langIdSql) p
              |ORDER BY doc_id""".stripMargin)),

    // Q33 — document quality score: bounded blend of token-count, non-
    // stopword ratio, and token-length signals (identical scalar float
    // expression in both engines).
    EngineQuery("q33_quality_score",
      (s, dir) => qualityScores(s, dir).orderBy("doc_id"),
      Some(s"""SELECT * FROM ($qualitySql) q
              |ORDER BY doc_id""".stripMargin)),

    // Q34 — token counting: whitespace tokens + a BPE-ish regex count.
    EngineQuery("q34_token_count",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"),
          size(split(col("text"), " ")).as("n_ws_tokens"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"))
            .cast("int").as("n_bpe_tokens"),
          length(col("text")).as("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS INT) AS n_bpe_tokens,
             |  CAST(length(text) AS INT) AS n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Q35 — winnowing fingerprints: rolling min over 4 consecutive 8-gram
    // hashes, per-document distinct fingerprint count.
    EngineQuery("q35_winnow_fingerprint",
      (s, dir) => {
        val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(-3, 0)
        gramsDf(s, dir)
          .withColumn("h", bandHash(lit(0), col("gram")))
          .withColumn("wmin", min(col("h")).over(w))
          .filter(col("i") >= 4)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"),
            countDistinct(col("wmin")).as("n_fingerprints"),
            min(col("h")).as("min_gram_hash"))
          .orderBy("doc_id")
      },
      Some(s"""WITH grams AS ($gramsSql),
              |hashed AS (
              |  SELECT doc_id, i, ${bandHashSql("0", "gram")} AS h FROM grams),
              |winnowed AS (
              |  SELECT doc_id, i, h,
              |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
              |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
              |  FROM hashed)
              |SELECT doc_id, COUNT(*) AS n_windows,
              |  COUNT(DISTINCT wmin) AS n_fingerprints,
              |  MIN(h) AS min_gram_hash
              |FROM winnowed WHERE i >= 4
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Q61 — the full corpus-curation pipeline a training-data run actually
    // executes, composed from the engine's own operators: exact dedup
    // (keep min doc_id per content hash) → SimHash near-dup removal
    // (drop the larger id of every hamming<=12 pair) → quality floor →
    // per-doc language + token metadata. Every stage is the shuffle-on-
    // key/banded shape proven scale-safe by its standalone entry
    // (q25/q29/q30/q32-q34).
    EngineQuery("q61_corpus_curation",
      (s, dir) => {
        // spread the scan once (docsSpread): the semi-join keys on doc_id
        // so the survivors inherit usable partitioning for the token
        // explode and every per-doc groupBy after it
        val d = docsSpread(s, dir)
        val keepers = d.groupBy(sha2(col("text"), 256).as("text_hash"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        val kept = d.join(keepers, Seq("doc_id"), "left_semi")
        val toks = kept.select(col("doc_id"),
          explode(split(col("text"), " ")).as("tok"))
        def hits(ws: Seq[String]) =
          sum(when(col("tok").isin(ws: _*), 1L).otherwise(0L))
        // ONE pass over the token explode for the quality/lang metrics;
        // fingerprints come from the SHARED per-doc frame ([[simhashFps]]
        // — a pure per-document function, so restricting the all-docs
        // frame to the exact-dedup keepers via semi-join is identical to
        // refolding them over the kept tokens, minus the second
        // sha256-per-token pass)
        val perDoc = toks
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(length(col("tok"))).as("sum_len"),
            hits(stopwords).as("n_stop"),
            hits(LangId.en).as("en_hits"), hits(LangId.es).as("es_hits"),
            hits(LangId.de).as("de_hits"), hits(LangId.fr).as("fr_hits"))
        val fingerprints = simhashFps(s, dir)
          .join(keepers, Seq("doc_id"), "left_semi")
        val nearDupDrop = TextDedup.simhashNearDups(fingerprints,
            maxHamming = 12)
          .select(col("doc_b").as("doc_id")).distinct()
        val metrics = perDoc
          .select(col("doc_id"), col("n_tokens"),
            (least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.3 +
              (lit(1.0) - col("n_stop").cast("double") /
                col("n_tokens").cast("double")) * 0.4 +
              least(lit(1.0), (col("sum_len").cast("double") /
                col("n_tokens").cast("double")) / 8.0) * 0.3)
              .as("quality_score"),
            when(col("en_hits") >= col("es_hits") &&
              col("en_hits") >= col("de_hits") &&
              col("en_hits") >= col("fr_hits"), lit("en"))
              .when(col("es_hits") >= col("de_hits") &&
                col("es_hits") >= col("fr_hits"), lit("es"))
              .when(col("de_hits") >= col("fr_hits"), lit("de"))
              .otherwise(lit("fr")).as("predicted_lang"))
        kept.join(nearDupDrop, Seq("doc_id"), "left_anti")
          .select("doc_id")
          .join(metrics, Seq("doc_id"))
          .filter(col("quality_score") >= 0.5)
          .select(col("doc_id"), col("predicted_lang"),
            round(col("quality_score"), 6).as("quality_score"),
            col("n_tokens"))
          .orderBy("doc_id")
      },
      Some(s"""WITH keepers AS (
              |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
              |kept AS (
              |  SELECT d.doc_id, d.text FROM documents d
              |  JOIN keepers k ON k.doc_id = d.doc_id),
              |toks AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM kept),
              |th AS (
              |  SELECT doc_id, $tokHash60Sql AS h FROM toks),
              |bits AS (
              |  SELECT doc_id, bit,
              |    CAST(SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS bit_score
              |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS bit) b
              |  GROUP BY doc_id, bit),
              |fp AS (
              |  SELECT doc_id,
              |    CAST(SUM(CASE WHEN bit_score > 0 THEN (CAST(1 AS BIGINT) << CAST(bit AS INT)) ELSE 0 END) AS BIGINT) AS simhash
              |  FROM bits GROUP BY doc_id),
              |chunks AS (
              |  SELECT doc_id, simhash, chunk, ((simhash >> (chunk * 15)) & 32767) AS chunk_val
              |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS chunk) c),
              |chunks_capped AS (
              |  SELECT doc_id, simhash, chunk, chunk_val FROM (
              |    SELECT doc_id, simhash, chunk, chunk_val,
              |      row_number() OVER (PARTITION BY chunk, chunk_val ORDER BY doc_id) AS bucket_rk
              |    FROM chunks) t
              |  WHERE bucket_rk <= ${TextDedup.DefaultMaxBucketSize}),
              |near_dup_drop AS (
              |  SELECT DISTINCT b.doc_id
              |  FROM chunks_capped a JOIN chunks_capped b
              |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
              |    AND a.doc_id < b.doc_id
              |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 12),
              |metrics AS (
              |  SELECT doc_id, n_tokens,
              |    least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
              |    + (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.4
              |    + least(1.0, (CAST(sum_len AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / 8.0) * 0.3 AS quality_score,
              |    CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits THEN 'en'
              |         WHEN es_hits >= de_hits AND es_hits >= fr_hits THEN 'es'
              |         WHEN de_hits >= fr_hits THEN 'de'
              |         ELSE 'fr' END AS predicted_lang
              |  FROM (
              |    SELECT doc_id, COUNT(*) AS n_tokens,
              |      CAST(SUM(length(tok)) AS BIGINT) AS sum_len,
              |      CAST(SUM(CASE WHEN tok IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
              |      CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.en)}) THEN 1 ELSE 0 END) AS BIGINT) AS en_hits,
              |      CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.es)}) THEN 1 ELSE 0 END) AS BIGINT) AS es_hits,
              |      CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.de)}) THEN 1 ELSE 0 END) AS BIGINT) AS de_hits,
              |      CAST(SUM(CASE WHEN tok IN (${LangId.sqlList(LangId.fr)}) THEN 1 ELSE 0 END) AS BIGINT) AS fr_hits
              |    FROM toks GROUP BY doc_id) t)
              |SELECT k.doc_id, m.predicted_lang,
              |  round(m.quality_score, 6) AS quality_score, m.n_tokens
              |FROM kept k
              |JOIN metrics m ON m.doc_id = k.doc_id
              |WHERE k.doc_id NOT IN (SELECT doc_id FROM near_dup_drop)
              |  AND m.quality_score >= 0.5
              |ORDER BY k.doc_id""".stripMargin)),

    // Q66 — guaranteed-delivery LSH bucket diagnostics (the operability
    // side of q26's candidate generation): per-band bucket census with
    // overflow counts vs the cap. Unlike the best-effort observed metrics
    // on the candidate query (dropped by AQE when the result is empty),
    // this is its own always-delivering aggregate — and strictly cheaper
    // than the query it monitors (count-per-key, no member lists).
    EngineQuery("q66_lsh_bucket_stats",
      (s, dir) => TextDedup.bucketStats(minhashSigs(s, dir))
        .orderBy("band"),
      Some(s"""WITH grams AS ($gramsSql),
              |$minhashSigsSql
              |SELECT band, COUNT(*) AS n_buckets,
              |  CAST(SUM(CASE WHEN n_bucket > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_buckets,
              |  MAX(n_bucket) AS max_bucket_size,
              |  CAST(SUM(CASE WHEN n_bucket > ${TextDedup.DefaultMaxBucketSize} THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow_buckets
              |FROM (
              |  SELECT band, minhash, COUNT(*) AS n_bucket
              |  FROM sigs GROUP BY 1, 2) b
              |GROUP BY band ORDER BY band""".stripMargin)),

    // Q67 — TF-IDF term weighting: term frequency per (doc, term), document
    // frequency per term, idf = ln((N+1)/(df+1)) + 1. Scale shape: tf is a
    // shuffle on (doc_id, tok) with map-side partial counts; df reuses the
    // tf frame (one more shuffle on tok); the 1-row corpus count joins as
    // a broadcast. At 100 TB the tf frame would be checkpointed instead of
    // recomputed for the df branch — here the token explode is cheap
    // relative to one materialization. Scores are round(·, 6) so the two
    // engines' ln() agree on the hash.
    EngineQuery("q67_tfidf",
      (s, dir) => {
        val tf = tokens(s, dir).groupBy("doc_id", "tok")
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
        tf.join(dfreq, Seq("tok"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("tok"), col("tf"), col("df"),
            round(col("tf").cast("double") *
              (log((col("n_docs").cast("double") + 1.0) /
                (col("df").cast("double") + 1.0)) + 1.0), 6).as("tfidf"))
          .orderBy("doc_id", "tok")
      },
      Some(s"""WITH toks AS ($tokensSql),
              |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
              |dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT COUNT(*) AS n_docs FROM documents)
              |SELECT doc_id, tok, tf, df,
              |  round(CAST(tf AS DOUBLE) *
              |    (ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0), 6) AS tfidf
              |FROM tf JOIN dfreq USING (tok) CROSS JOIN n
              |ORDER BY doc_id, tok""".stripMargin)),

    // Q68 — stratified deterministic sampling: one sampling rate per
    // language stratum (en is over-represented in the corpus, so it gets
    // the lower rate), decided by the same sha256 hash bucket as the
    // reference's sampling.js — reproducible across runs AND engines,
    // which `sampleBy`'s RNG is not. Pure column expr: the filter reaches
    // the scan and no shuffle happens at all.
    EngineQuery("q68_stratified_sample",
      (s, dir) => docs(s, dir)
        .select(col("doc_id"), col("lang"),
          hashBucket(concat(lit("doc-"), col("doc_id"))).as("hash_bucket"))
        .filter(col("hash_bucket") <
          when(col("lang") === "en", 0.1).otherwise(0.3))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, hash_bucket FROM (
             |  SELECT doc_id, lang,
             |    CAST('0x' || substr(sha256('doc-' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967295.0 AS hash_bucket
             |  FROM documents) t
             |WHERE hash_bucket < CASE WHEN lang = 'en' THEN 0.1 ELSE 0.3 END
             |ORDER BY doc_id""".stripMargin)),

    // Q69 — benchmark-contamination check (decontamination pass of a
    // training-data pipeline): per corpus document, how many of its
    // distinct 8-grams appear anywhere in the held-out benchmark slice
    // (doc_id % 20 == 0 here). Candidate shape: distinct grams semi-join
    // the benchmark gram set on a 64-bit hash — the benchmark side is
    // small so AQE broadcasts it; at 100 TB it becomes a shuffle join on
    // the hash, never an explosion. Same counts-only xxhash64 trick as
    // q31 (the oracle intersects raw grams; a collision needs two distinct
    // grams of one doc to collide in 64 bits, ~1e-11).
    EngineQuery("q69_contamination",
      (s, dir) => {
        val g = gramsDf(s, dir)
          .select(col("doc_id"), xxhash64(col("gram")).as("g")).distinct()
        val bench = g.filter(col("doc_id") % 20 === 0)
          .select("g").distinct()
        val corpus = g.filter(col("doc_id") % 20 =!= 0)
        val hits = corpus.join(bench, Seq("g"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
        corpus.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            round(coalesce(col("n_hit"), lit(0L)).cast("double") /
              col("n_grams").cast("double"), 6).as("contamination"))
          .orderBy("doc_id")
      },
      Some(s"""WITH grams AS ($gramsSql),
              |g AS (SELECT DISTINCT doc_id, gram FROM grams),
              |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
              |corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % 20 <> 0),
              |hits AS (
              |  SELECT doc_id, COUNT(*) AS n_hit FROM corpus
              |  WHERE gram IN (SELECT gram FROM bench) GROUP BY 1),
              |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY 1)
              |SELECT t.doc_id, t.n_grams,
              |  COALESCE(h.n_hit, 0) AS n_hit,
              |  round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6) AS contamination
              |FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
              |ORDER BY t.doc_id""".stripMargin)),

    // Q70 — per-source reputation: the aggregate a web-corpus curator
    // ranks domains by — volume, language spread, exact-duplicate share
    // (docs whose content hash repeats anywhere in the corpus), average
    // length. One hash shuffle for dup groups + one groupBy(source).
    EngineQuery("q70_source_reputation",
      (s, dir) => {
        val hashed = docs(s, dir).select(col("doc_id"), col("source"),
          col("lang"), col("n_chars"), sha2(col("text"), 256).as("text_hash"))
        val dup = hashed.groupBy("text_hash")
          .agg(count(lit(1)).as("n_copies"))
        hashed.join(dup, Seq("text_hash"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("lang")).as("n_langs"),
            sum(when(col("n_copies") > 1, 1L).otherwise(0L))
              .as("n_dup_docs"),
            round(sum(col("n_chars")).cast("double") /
              count(lit(1)).cast("double"), 6).as("avg_chars"))
          .orderBy("source")
      },
      Some("""WITH hashed AS (
             |  SELECT doc_id, source, lang, n_chars, sha256(text) AS text_hash
             |  FROM documents),
             |dup AS (SELECT text_hash, COUNT(*) AS n_copies FROM hashed GROUP BY 1)
             |SELECT source, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT lang) AS n_langs,
             |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
             |  round(CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_chars
             |FROM hashed JOIN dup USING (text_hash)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // Q75 — duplicate clustering: connected components over the MinHash
    // candidate pairs, so transitive near-dup chains (A~B, B~C) land in
    // ONE cluster. Engine side is iterative min-label propagation
    // (diameter-bounded rounds, one keyed shuffle each); the oracle walks
    // the same edges with a recursive CTE.
    EngineQuery("q75_dup_clusters",
      (s, dir) => {
        val lbl = dupClusterLabels(s, dir)
        val sizes = lbl.groupBy("cluster_id")
          .agg(count(lit(1)).as("cluster_size"))
        lbl.join(sizes, "cluster_id")
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$ccLabelsSql
              |SELECT l.doc_id, l.cluster_id, sz.cluster_size
              |FROM cc_labels l
              |JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
              |      FROM cc_labels GROUP BY 1) sz USING (cluster_id)
              |ORDER BY doc_id""".stripMargin)),

    // Q76 — near-dup dedup keep-best: q50's quality-argmax canonical
    // selection, but over TRANSITIVE duplicate clusters (q75's labels)
    // instead of exact-hash groups — the full curation chain a training
    // pipeline runs (candidates → clusters → one best doc per cluster).
    EngineQuery("q76_cluster_keep_best",
      (s, dir) => {
        val quality = tokens(s, dir)
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("tok").isin(stopwords: _*), 1L).otherwise(0L))
              .as("n_stop"))
          .select(col("doc_id"),
            (lit(1.0) - col("n_stop").cast("double") /
              col("n_tokens").cast("double")).as("quality"))
        val lbl = dupClusterLabels(s, dir)
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality").desc, col("doc_id"))
        lbl.join(quality, Seq("doc_id"))
          .withColumn("rk", row_number().over(w))
          .groupBy("cluster_id")
          .agg(count(lit(1)).as("n_members"),
            max(when(col("rk") === 1, col("doc_id"))).as("keep_doc_id"),
            round(max(when(col("rk") === 1, col("quality"))), 6)
              .as("keep_quality"))
          .orderBy("cluster_id")
      },
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$ccLabelsSql,
              |quality AS (
              |  SELECT doc_id,
              |    1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS quality
              |  FROM (
              |    SELECT doc_id, COUNT(*) AS n_tokens,
              |      CAST(SUM(CASE WHEN tok IN ($stopwordsSqlList) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
              |    FROM ($tokensSql) toks GROUP BY doc_id) t),
              |ranked AS (
              |  SELECT l.cluster_id, l.doc_id, q.quality,
              |    row_number() OVER (PARTITION BY l.cluster_id
              |      ORDER BY q.quality DESC, l.doc_id) AS rk
              |  FROM cc_labels l JOIN quality q ON q.doc_id = l.doc_id)
              |SELECT cluster_id, COUNT(*) AS n_members,
              |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc_id,
              |  round(MAX(CASE WHEN rk = 1 THEN quality END), 6) AS keep_quality
              |FROM ranked GROUP BY 1 ORDER BY cluster_id""".stripMargin)),

    // Q80 — incremental dedup: flag an INCOMING batch (doc_id % 5 = 0)
    // against the already-ingested corpus (the rest) — the production
    // shape is dedup-new-against-seen, not dedup-within-batch. Exact
    // hits join on the content hash; near-dup hits semi-join the
    // corpus's distinct (band, minhash) buckets — both shard on their
    // key, and the corpus side arrives pre-aggregated (distinct), so at
    // 100 TB this is |incoming| + |corpus buckets|, never all-pairs.
    EngineQuery("q80_incremental_dedup",
      (s, dir) => {
        val isIncoming = col("doc_id") % 5 === 0
        val hashes = docs(s, dir)
          .select(col("doc_id"), sha2(col("text"), 256).as("th"))
        val corpusHashes = hashes.filter(!isIncoming)
          .select(col("th")).distinct().withColumn("exact_hit", lit(true))
        val sigs = minhashSigs(s, dir)
        val corpusBuckets = sigs.filter(!isIncoming)
          .select("band", "minhash").distinct()
        val shared = sigs.filter(isIncoming)
          .join(corpusBuckets, Seq("band", "minhash"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        hashes.filter(isIncoming)
          .join(corpusHashes, Seq("th"), "left")
          .join(shared, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("exact_hit"), lit(false)).as("exact_dup"),
            coalesce(col("n_shared"), lit(0L)).as("n_shared_buckets"),
            (coalesce(col("exact_hit"), lit(false)) ||
              coalesce(col("n_shared"), lit(0L)) > 0).as("near_dup"))
          .orderBy("doc_id")
      },
      Some(s"""WITH grams AS ($gramsSql),
              |$minhashSigsSql,
              |hashes AS (SELECT doc_id, sha256(text) AS th FROM documents),
              |corpus_th AS (
              |  SELECT DISTINCT th, true AS exact_hit FROM hashes
              |  WHERE doc_id % 5 <> 0),
              |corpus_buckets AS (
              |  SELECT DISTINCT band, minhash FROM sigs WHERE doc_id % 5 <> 0),
              |shared AS (
              |  SELECT s.doc_id, COUNT(*) AS n_shared
              |  FROM sigs s JOIN corpus_buckets cb
              |    ON cb.band = s.band AND cb.minhash = s.minhash
              |  WHERE s.doc_id % 5 = 0 GROUP BY 1)
              |SELECT h.doc_id,
              |  coalesce(c.exact_hit, false) AS exact_dup,
              |  coalesce(sh.n_shared, 0) AS n_shared_buckets,
              |  (coalesce(c.exact_hit, false) OR coalesce(sh.n_shared, 0) > 0) AS near_dup
              |FROM hashes h
              |LEFT JOIN corpus_th c ON c.th = h.th
              |LEFT JOIN shared sh ON sh.doc_id = h.doc_id
              |WHERE h.doc_id % 5 = 0
              |ORDER BY h.doc_id""".stripMargin)),

    // Q81 — leakage-safe train/validation split: the split decision
    // hashes the duplicate CLUSTER id (q75's labels), never the doc id,
    // so a whole near-dup cluster lands in one split — otherwise a
    // near-copy of a training document leaks into validation and the
    // eval is contaminated. Same deterministic sha256 bucket as the
    // sampling operators (q03/q68); 90/10 by cluster.
    EngineQuery("q81_leakage_safe_split",
      (s, dir) => dupClusterLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          when(hashBucket(concat(lit("split:"),
              col("cluster_id").cast("string"))) < 0.9, "train")
            .otherwise("val").as("split"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$ccLabelsSql
              |SELECT doc_id, cluster_id,
              |  CASE WHEN CAST('0x' || substr(sha256('split:' || CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT)
              |      / 4294967295.0 < 0.9
              |    THEN 'train' ELSE 'val' END AS split
              |FROM cc_labels
              |ORDER BY doc_id""".stripMargin)),

    // EXT — fuzzy entity matching (record linkage): customer-name pairs
    // within edit distance 1, found SymSpell-style — each name buckets
    // under itself plus its single-character deletions, candidates are
    // bucket collisions, and the (codegen'd) levenshtein verifies
    // candidates ONLY. The deletion neighbourhood covers every
    // distance-1 pair (deletion/insertion pairs share the shorter
    // string's key; substitution pairs share the deletion at the edited
    // position), so this is the all-pairs-free scale path: work is
    // |entities|·(len+1) bucket rows + |candidates| verifications,
    // never the |entities|² cross join an all-pairs levenshtein would
    // cost at warehouse scale.
    EngineQuery("q107_entity_fuzzy_match",
      (s, dir) => {
        val cust = Tables.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"))
        val variants = cust
          .select(col("c_custkey"), col("c_name"),
            explode(sequence(lit(0), length(col("c_name")))).as("i"))
          .select(col("c_custkey"), col("c_name"),
            when(col("i") === 0, col("c_name"))
              .otherwise(concat(expr("substring(c_name, 1, i - 1)"),
                expr("substring(c_name, i + 1, length(c_name))"))).as("key"))
          // dedupe BEFORE the join: deleting any character of a run of
          // identical characters yields the same key (digit blocks like
          // 000000123 produce ~7 copies), and every duplicate key row
          // multiplies the join output that the candidate DISTINCT then
          // has to collapse — measured 2× join-input reduction
          .distinct()
        // join on the xxhash64 of the variant (8-byte key vs an
        // 18-char string — the q31 width discipline); a hash collision
        // can only ADD a candidate, and the levenshtein verification
        // removes it like any other bucket-noise pair
        val hashed = variants.select(xxhash64(col("key")).as("hkey"),
          col("c_custkey"), col("c_name"))
        hashed.select(col("hkey"), col("c_custkey").as("key_a"),
            col("c_name").as("name_a"))
          .join(hashed.select(col("hkey"), col("c_custkey").as("key_b"),
            col("c_name").as("name_b")), Seq("hkey"))
          .filter(col("key_a") < col("key_b"))
          // names are functionally dependent on the keys, so max() is
          // deterministic — and the distinct collapses 8-byte pairs,
          // not 4-string rows
          .groupBy("key_a", "key_b")
          .agg(max(col("name_a")).as("name_a"),
            max(col("name_b")).as("name_b"))
          .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
          .orderBy("key_a", "key_b")
      },
      Some("""WITH vars AS (
             |  SELECT DISTINCT c_custkey, c_name,
             |    CASE WHEN i = 0 THEN c_name
             |      ELSE substr(c_name, 1, CAST(i AS INT) - 1) ||
             |        substr(c_name, CAST(i AS INT) + 1, length(c_name)) END AS key
             |  FROM customer CROSS JOIN (SELECT unnest(range(0, 64)) AS i) pos
             |  WHERE i <= length(c_name)),
             |cand AS (
             |  SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b,
             |    a.c_name AS name_a, b.c_name AS name_b
             |  FROM vars a JOIN vars b ON b.key = a.key
             |    AND a.c_custkey < b.c_custkey)
             |SELECT key_a, key_b, name_a, name_b
             |FROM cand WHERE levenshtein(name_a, name_b) <= 1
             |ORDER BY key_a, key_b""".stripMargin)),

    // EXT — duplicate-cluster size histogram: the dedup observability
    // report (how much of the corpus sits in clusters of size 1, 2,
    // 3, … — the number a curation run quotes as "duplication factor").
    // Reuses the SHARED q75 labels, so steady-state cost is two keyed
    // aggregations over |docs| then |clusters| rows; the corpus-total
    // window runs over the |distinct sizes|-row aggregate frame only
    // (the q110 discipline). The fraction denominator is cast BIGINT →
    // DOUBLE on both sides (DuckDB window SUM promotes to HUGEINT).
    EngineQuery("q115_cluster_size_histogram",
      (s, dir) => {
        val sizes = dupClusterLabels(s, dir)
          .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        val h = sizes.groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"))
          .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
        h.withColumn("total_docs",
            sum(col("n_docs")).over(Window.partitionBy()))
          .select(col("cluster_size"), col("n_clusters"), col("n_docs"),
            round(col("n_docs").cast("double") /
              col("total_docs").cast("double"), 6).as("frac_docs"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$ccLabelsSql,
              |sz AS (
              |  SELECT cluster_id, COUNT(*) AS cluster_size
              |  FROM cc_labels GROUP BY 1),
              |h AS (
              |  SELECT cluster_size,
              |    CAST(COUNT(*) AS BIGINT) AS n_clusters,
              |    CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
              |  FROM sz GROUP BY 1)
              |SELECT cluster_size, n_clusters, n_docs,
              |  round(CAST(n_docs AS DOUBLE) /
              |    CAST(CAST(SUM(n_docs) OVER () AS BIGINT) AS DOUBLE), 6)
              |    AS frac_docs
              |FROM h ORDER BY cluster_size""".stripMargin)),

    // EXT — prefix-containment candidates: documents sharing an
    // identical 32-token PREFIX but (possibly) differing afterwards —
    // the truncation/continuation duplicate class (re-crawls cut at
    // different lengths, page + boilerplate tail) that shingle-set
    // methods under-weight when the shared prefix is a small fraction
    // of the longer doc. Blocking key = sha256 of the prefix, so the
    // only shuffle carries |docs| (key, id, len) rows; pair generation
    // is bucket-local (buckets are near-dup groups — bounded; the q26
    // cap pattern applies if a degenerate corpus ever floods one).
    // exact_dup then separates true re-crawls from prefix-only hits
    // via the full-text hash, all inside the same join.
    EngineQuery("q116_prefix_containment",
      (s, dir) => {
        val p = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"),
            sha2(col("text"), 256).as("full_hash"))
          .select(col("doc_id"),
            size(col("toks")).cast("long").as("n_toks"),
            sha2(concat_ws(" ", slice(col("toks"), 1, 32)), 256).as("pk"),
            col("full_hash"))
        p.as("a").join(p.as("b"),
            col("a.pk") === col("b.pk") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.n_toks").as("n_toks_a"), col("b.n_toks").as("n_toks_b"),
            (col("a.full_hash") === col("b.full_hash")).as("exact_dup"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             |    sha256(array_to_string(string_split(text, ' ')[1:32], ' '))
             |      AS pk,
             |    sha256(text) AS full_hash
             |  FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  a.n_toks AS n_toks_a, b.n_toks AS n_toks_b,
             |  a.full_hash = b.full_hash AS exact_dup
             |FROM p a JOIN p b ON b.pk = a.pk AND a.doc_id < b.doc_id
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // EXT — language-ID confusion matrix: the q32 classifier evaluated
    // against the labeled lang column — per (true, predicted) cell
    // counts plus per-true-lang accuracy, the report that says whether
    // the heuristic is safe to gate a corpus on. One extra |docs|-row
    // aggregation over the shared classifier body.
    EngineQuery("q132_langid_confusion",
      (s, dir) => {
        val pred = langIdPredictions(s, dir)
        val cells = pred.groupBy(col("lang"), col("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"))
        val totals = pred.groupBy("lang")
          .agg(count(lit(1)).as("n_lang"),
            sum(when(col("predicted_lang") === col("lang"), 1L)
              .otherwise(0L)).as("n_correct"))
        cells.join(broadcast(totals), "lang")
          .select(col("lang"), col("predicted_lang"), col("n_docs"),
            col("n_lang"),
            round(col("n_correct").cast("double") / col("n_lang"), 6)
              .as("lang_accuracy"))
          .orderBy("lang", "predicted_lang")
      },
      Some(s"""WITH p AS ($langIdSql),
              |cells AS (
              |  SELECT lang, predicted_lang, COUNT(*) AS n_docs
              |  FROM p GROUP BY 1, 2),
              |tot AS (
              |  SELECT lang, COUNT(*) AS n_lang,
              |    CAST(SUM(CASE WHEN predicted_lang = lang THEN 1 ELSE 0
              |      END) AS BIGINT) AS n_correct
              |  FROM p GROUP BY 1)
              |SELECT c.lang, c.predicted_lang, c.n_docs, t.n_lang,
              |  round(CAST(t.n_correct AS DOUBLE) / t.n_lang, 6)
              |    AS lang_accuracy
              |FROM cells c JOIN tot t ON t.lang = c.lang
              |ORDER BY c.lang, c.predicted_lang""".stripMargin)),

    // EXT — the dedup funnel: every stage of the near-dup pipeline as
    // one row — raw docs → exact-unique texts → LSH candidate pairs →
    // Jaccard-verified pairs (≥ 0.8) → cluster edges (the calibrated
    // ≥ ClusterMinBands floor) → dedup survivors (one keeper per
    // cluster, singletons included). The operational one-pager for a
    // curation run. Every stage reads a SHARED frame (scored pairs,
    // cluster labels) — the funnel itself adds six 1-row aggregates.
    EngineQuery("q135_dedup_funnel",
      (s, dir) => {
        val d = docs(s, dir)
        val jac = jaccardScores(s, dir)
        def stage(id: Long, name: String, n: DataFrame) =
          n.select(lit(id).as("stage_id"), lit(name).as("stage"), col("n"))
        stage(1, "raw_docs", d.agg(count(lit(1)).as("n")))
          .unionAll(stage(2, "exact_unique",
            d.agg(countDistinct(sha2(col("text"), 256)).as("n"))))
          .unionAll(stage(3, "candidate_pairs",
            jac.agg(count(lit(1)).as("n"))))
          .unionAll(stage(4, "verified_pairs",
            jac.filter(col("jaccard") >= 0.8).agg(count(lit(1)).as("n"))))
          .unionAll(stage(5, "cluster_edges",
            jac.filter(col("n_shared_bands") >= ClusterMinBands)
              .agg(count(lit(1)).as("n"))))
          .unionAll(stage(6, "dedup_survivors",
            dupClusterLabels(s, dir)
              .agg(countDistinct(col("cluster_id")).as("n"))))
          .orderBy("stage_id")
      },
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$jaccardCoreSql,
              |$ccLabelsSql,
              |stages AS (
              |  SELECT 1 AS stage_id, 'raw_docs' AS stage,
              |    (SELECT COUNT(*) FROM documents) AS n
              |  UNION ALL SELECT 2, 'exact_unique',
              |    (SELECT COUNT(DISTINCT sha256(text)) FROM documents)
              |  UNION ALL SELECT 3, 'candidate_pairs',
              |    (SELECT COUNT(*) FROM jac)
              |  UNION ALL SELECT 4, 'verified_pairs',
              |    (SELECT COUNT(*) FROM jac WHERE jaccard >= 0.8)
              |  UNION ALL SELECT 5, 'cluster_edges',
              |    (SELECT COUNT(*) FROM cc_pairs)
              |  UNION ALL SELECT 6, 'dedup_survivors',
              |    (SELECT COUNT(DISTINCT cluster_id) FROM cc_labels))
              |SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
              |  CAST(n AS BIGINT) AS n
              |FROM stages ORDER BY stage_id""".stripMargin)),

    // EXT — winnowing-overlap pairs (the plagiarism-detection pairing,
    // Schleimer et al. 2003): documents sharing ≥ 2 distinct RARE
    // winnow fingerprints (q35's rolling-min prints). "Rare" = document
    // frequency ≤ 8 — MOSS's over-common-fingerprint skip, and the
    // scale guard: on this boilerplate-heavy corpus unfiltered
    // fingerprint buckets pair quadratically (11.2M pairs at sf0.1; the
    // df cap bounds each bucket to ≤ 28 pairs and leaves 1.1k true
    // overlap pairs). Pairing reuses the banded-LSH generator —
    // fingerprints become single-band bucket keys, bucket-local, never
    // all-pairs.
    EngineQuery("q136_winnow_pairs",
      (s, dir) => {
        val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
          .rowsBetween(-3, 0)
        val fp = gramsDf(s, dir)
          .withColumn("h", bandHash(lit(0), col("gram")))
          .withColumn("wmin", min(col("h")).over(w))
          .filter(col("i") >= 4)
          .select(col("doc_id"), col("wmin")).distinct()
        // r15 (guide §2.4/§3): the rare-df filter is FUSED into the
        // bucket aggregation — one groupBy(wmin) collects each
        // fingerprint's doc list and the bucket size IS the document
        // frequency, so `2 ≤ size ≤ 8` ≡ (rare: nd ≤ 8) ∧ (pairable:
        // nd ≥ 2). The previous shape — a separate df aggregate joined
        // back onto fp, then candidatePairs' own groupBy — referenced
        // fp twice, and Spark plans each reference as its own full
        // subtree: the explode + sha256 + per-doc sort + window
        // pipeline (the dominant cost) executed TWICE per run
        // (plans/r15/q136_winnow_pairs_before.txt nodes 1–10 vs
        // 11–23). Fused, the pipeline runs once and two whole
        // exchanges (the df aggregate's + the broadcast) disappear.
        // Pair generation mirrors TextDedup.candidatePairs' chained
        // posexplodes (sorted bucket, pos_b > pos_a ⇒ doc_a < doc_b,
        // each unordered pair once); no bucket cap is needed — the
        // rare filter bounds buckets at 8 members by definition.
        fp.groupBy("wmin")
          .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
          .filter(size(col("docs")).between(2, 8))
          .select(col("docs"),
            posexplode(col("docs")).as(Seq("pos_a", "doc_a")))
          .select(col("doc_a"), col("pos_a"),
            posexplode(col("docs")).as(Seq("pos_b", "doc_b")))
          .filter(col("pos_b") > col("pos_a"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared_fps"))
          .filter(col("n_shared_fps") >= 2)
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH grams AS ($gramsSql),
              |hashed AS (
              |  SELECT doc_id, i, ${bandHashSql("0", "gram")} AS h FROM grams),
              |winnowed AS (
              |  SELECT doc_id, i,
              |    MIN(h) OVER (PARTITION BY doc_id ORDER BY i
              |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wmin
              |  FROM hashed),
              |fp AS (
              |  SELECT DISTINCT doc_id, wmin FROM winnowed WHERE i >= 4),
              |df AS (
              |  SELECT wmin FROM fp GROUP BY wmin HAVING COUNT(*) <= 8)
              |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |  COUNT(*) AS n_shared_fps
              |FROM fp a JOIN df ON df.wmin = a.wmin
              |JOIN fp b ON b.wmin = a.wmin AND a.doc_id < b.doc_id
              |GROUP BY 1, 2 HAVING COUNT(*) >= 2
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // EXT — verified near-dup source matrix: where do the TRUE
    // (Jaccard ≥ 0.8) duplicate pairs live, by source pair? The
    // contract-level companion to q117's raw gram overlap — this one
    // counts verified duplicates, the number a licensing / provenance
    // audit wants. Reads the shared scored-pair frame plus two
    // broadcast-able id→source lookups.
    EngineQuery("q137_neardup_source_matrix",
      (s, dir) => {
        val src = docs(s, dir).select(col("doc_id"), col("source"))
        jaccardScores(s, dir)
          .filter(col("jaccard") >= 0.8)
          .join(src.select(col("doc_id").as("doc_a"),
            col("source").as("sa")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"),
            col("source").as("sb")), "doc_b")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_dup_pairs"))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH grams AS ($gramsSql),
              |$minhashSigsSql,
              |$jaccardCoreSql
              |SELECT least(da.source, db.source) AS source_a,
              |  greatest(da.source, db.source) AS source_b,
              |  COUNT(*) AS n_dup_pairs
              |FROM jac
              |JOIN documents da ON da.doc_id = jac.doc_a
              |JOIN documents db ON db.doc_id = jac.doc_b
              |WHERE jac.jaccard >= 0.8
              |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // EXT — BM25 top-20 retrieval (Robertson/Spärck Jones, k1=1.2,
    // b=0.75): the query is the corpus's own 3 most frequent
    // non-stopword tokens (deterministic, data-driven), idf is the
    // standard ln((N−df+0.5)/(df+0.5)+1), and each per-(doc, term)
    // score is computed by the identical expression in both engines
    // then fixed-pointed (×1e9, BIGINT) BEFORE the cross-term sum —
    // so the ranking key is an exact integer and float addition order
    // can never flip ranks. Scale shape: tf/df are keyed aggregations
    // with map-side partials; the 3-term query, N, and avg length all
    // join back as broadcasts; top-20 is TakeOrdered.
    EngineQuery("q143_bm25_topk",
      (s, dir) => {
        val (k1, b) = (1.2, 0.75)
        val toks = tokens(s, dir)
        val tf = toks.groupBy("doc_id", "tok")
          .agg(count(lit(1)).as("tf"))
        val docLen = toks.groupBy("doc_id")
          .agg(count(lit(1)).as("len"))
        val corpus = docLen.agg(count(lit(1)).as("n_docs"),
          (sum("len").cast("double") / count(lit(1))).as("avg_len"))
        val df = tf.groupBy("tok")
          .agg(count(lit(1)).as("df"), sum("tf").as("occ"))
        val terms = df.filter(!col("tok").isin(stopwords: _*))
          .orderBy(col("occ").desc, col("tok")).limit(3)
          .select(col("tok"), col("df"))
        val scored = tf.join(broadcast(terms), "tok")
          .join(docLen, "doc_id")
          .crossJoin(broadcast(corpus))
          .select(col("doc_id"),
            // 2.2 as a LITERAL, not (k1 + 1): the fold 1.2 + 1 sits
            // exactly on a binary rounding tie, so the compiled
            // constant could differ from the oracle's parsed 2.2
            round(
              log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
                * (col("tf") * lit(2.2))
                / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("avg_len")))
                * lit(1e9)).cast("long").as("score_fp"))
        val top = scored.groupBy("doc_id")
          .agg(sum("score_fp").as("bm25_fp"), count(lit(1)).as("n_terms"))
          .orderBy(col("bm25_fp").desc, col("doc_id")).limit(20)
        top.withColumn("rank", row_number().over(
            Window.orderBy(col("bm25_fp").desc, col("doc_id"))).cast("long"))
          .select(col("rank"), col("doc_id"), col("bm25_fp"), col("n_terms"))
          .orderBy("rank")
      },
      Some(s"""WITH toks AS ($tokensSql),
              |tf AS (
              |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
              |dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
              |corpus AS (
              |  SELECT COUNT(*) AS n_docs,
              |    CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avg_len FROM dl),
              |df AS (
              |  SELECT tok, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS occ
              |  FROM tf GROUP BY 1),
              |terms AS (
              |  SELECT tok, df FROM df
              |  WHERE tok NOT IN ($stopwordsSqlList)
              |  ORDER BY occ DESC, tok LIMIT 3),
              |scored AS (
              |  SELECT tf.doc_id,
              |    CAST(round(
              |      ln((corpus.n_docs - terms.df + 0.5) / (terms.df + 0.5) + 1.0)
              |        * (tf.tf * 2.2)
              |        / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / corpus.avg_len))
              |        * 1000000000.0) AS BIGINT) AS score_fp
              |  FROM tf JOIN terms ON terms.tok = tf.tok
              |  JOIN dl ON dl.doc_id = tf.doc_id
              |  CROSS JOIN corpus)
              |SELECT row_number() OVER (ORDER BY bm25_fp DESC, doc_id)
              |    AS rank, doc_id, bm25_fp, n_terms
              |FROM (
              |  SELECT doc_id, CAST(SUM(score_fp) AS BIGINT) AS bm25_fp,
              |    COUNT(*) AS n_terms
              |  FROM scored GROUP BY 1
              |  ORDER BY bm25_fp DESC, doc_id LIMIT 20) t
              |ORDER BY rank""".stripMargin)),

    // EXT — quality × duplication calibration: exact-dup rate per
    // quality bin — the curve that says whether the quality score is a
    // usable dedup prior (low-quality boilerplate usually duplicates
    // more). Bins are FIXED-WIDTH (floor(score·10), clamped), not
    // ntile deciles: deciles need a global rank over |docs|, fixed
    // bins are a pure per-row function — the scale-safe calibration
    // shape. The dup flag rides a window over the content-hash key.
    EngineQuery("q145_quality_dup_calibration",
      (s, dir) => {
        val dup = docs(s, dir)
          .select(col("doc_id"),
            (count(lit(1)).over(Window.partitionBy(sha2(col("text"), 256)))
              > 1).as("is_dup"))
        qualityScores(s, dir).join(dup, "doc_id")
          .select(least(lit(9L),
            floor(col("quality_score") * 10).cast("long")).as("q_bin"),
            col("is_dup"))
          .groupBy("q_bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"))
          .select(col("q_bin"), col("n_docs"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_docs"))
              .as("dup_rate"))
          .orderBy("q_bin")
      },
      Some(s"""WITH q AS ($qualitySql),
              |dup AS (
              |  SELECT doc_id,
              |    COUNT(*) OVER (PARTITION BY sha256(text)) > 1 AS is_dup
              |  FROM documents)
              |SELECT least(9, CAST(floor(q.quality_score * 10) AS BIGINT))
              |    AS q_bin,
              |  COUNT(*) AS n_docs,
              |  CAST(SUM(CASE WHEN dup.is_dup THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_dup,
              |  CAST(SUM(CASE WHEN dup.is_dup THEN 1 ELSE 0 END) AS DOUBLE)
              |    / COUNT(*) AS dup_rate
              |FROM q JOIN dup ON dup.doc_id = q.doc_id
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — sampling-bias audit of the deterministic 20% sampler: per
    // language, the population share vs the share inside the sample,
    // and the absolute bias — the fairness check a sampling stage
    // ships with (a hash sampler is unbiased in expectation; this
    // measures the realized skew). Two keyed aggregations over one
    // scan; the two 1-row totals broadcast back.
    EngineQuery("q147_sampling_bias_audit",
      (s, dir) => {
        val base = docs(s, dir).select(col("doc_id"), col("lang"),
          (hashBucket(concat(lit("doc-"), col("doc_id"))) < 0.2)
            .as("in_sample"))
        val byLang = base.groupBy("lang")
          .agg(count(lit(1)).as("n_pop"),
            sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sample"))
        val tot = byLang.agg(sum("n_pop").as("pop_total"),
          sum("n_sample").as("sample_total"))
        byLang.crossJoin(broadcast(tot))
          .select(col("lang"), col("n_pop"), col("n_sample"),
            (col("n_pop").cast("double") / col("pop_total"))
              .as("pop_share"),
            (col("n_sample").cast("double") / col("sample_total"))
              .as("sample_share"),
            abs(col("n_sample").cast("double") / col("sample_total")
              - col("n_pop").cast("double") / col("pop_total"))
              .as("abs_bias"))
          .orderBy("lang")
      },
      Some("""WITH b AS (
             |  SELECT lang,
             |    CAST('0x' || substr(sha256('doc-' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) / 4294967295.0 < 0.2 AS in_sample
             |  FROM documents),
             |l AS (
             |  SELECT lang, COUNT(*) AS n_pop,
             |    CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_sample
             |  FROM b GROUP BY 1),
             |t AS (
             |  SELECT CAST(SUM(n_pop) AS BIGINT) AS pop_total,
             |    CAST(SUM(n_sample) AS BIGINT) AS sample_total FROM l)
             |SELECT lang, n_pop, n_sample,
             |  CAST(n_pop AS DOUBLE) / pop_total AS pop_share,
             |  CAST(n_sample AS DOUBLE) / sample_total AS sample_share,
             |  abs(CAST(n_sample AS DOUBLE) / sample_total
             |    - CAST(n_pop AS DOUBLE) / pop_total) AS abs_bias
             |FROM l CROSS JOIN t ORDER BY lang""".stripMargin)),

    // EXT — entity-resolution clusters: connected components over the
    // q107 fuzzy-match pairs, with the smallest key as the canonical
    // entity — the full dedup-entities composition (blocking →
    // verification → transitive closure → canonical pick). The engine
    // walks the same pointer-jumping loop as q75; the oracle replays
    // the closure with a recursive CTE over levenshtein-verified
    // variant pairs.
    EngineQuery("q148_entity_clusters",
      (s, dir) => {
        val cust = Tables.table(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"))
        val variants = cust
          .select(col("c_custkey"), col("c_name"),
            explode(sequence(lit(0), length(col("c_name")))).as("i"))
          .select(col("c_custkey"), col("c_name"),
            when(col("i") === 0, col("c_name"))
              .otherwise(concat(expr("substring(c_name, 1, i - 1)"),
                expr("substring(c_name, i + 1, length(c_name))"))).as("key"))
          .distinct()
        val hashed = variants.select(xxhash64(col("key")).as("hkey"),
          col("c_custkey"), col("c_name"))
        val edges = hashed.select(col("hkey"), col("c_custkey").as("key_a"),
            col("c_name").as("name_a"))
          .join(hashed.select(col("hkey"), col("c_custkey").as("key_b"),
            col("c_name").as("name_b")), Seq("hkey"))
          .filter(col("key_a") < col("key_b"))
          .groupBy("key_a", "key_b")
          .agg(max(col("name_a")).as("name_a"),
            max(col("name_b")).as("name_b"))
          .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
          .select("key_a", "key_b")
        entityLabelsShared(s, dir,
            graft.operators.ConnectedComponents.labels(edges,
              cust.select(col("c_custkey"))))
          .groupBy(col("cluster_id").as("entity_id"))
          .agg(count(lit(1)).as("n_members"))
          .filter(col("n_members") > 1)
          .orderBy("entity_id")
      },
      Some(s"""WITH RECURSIVE vars AS (
              |  SELECT DISTINCT c_custkey, c_name,
              |    CASE WHEN i = 0 THEN c_name
              |      ELSE substr(c_name, 1, CAST(i AS INT) - 1) ||
              |        substr(c_name, CAST(i AS INT) + 1, length(c_name)) END AS key
              |  FROM customer CROSS JOIN (SELECT unnest(range(0, 64)) AS i) pos
              |  WHERE i <= length(c_name)),
              |cand AS (
              |  SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b,
              |    a.c_name AS name_a, b.c_name AS name_b
              |  FROM vars a JOIN vars b ON b.key = a.key
              |    AND a.c_custkey < b.c_custkey),
              |er_pairs AS (
              |  SELECT key_a, key_b FROM cand
              |  WHERE levenshtein(name_a, name_b) <= 1),
              |er_edges AS (
              |  SELECT key_a AS src, key_b AS dst FROM er_pairs
              |  UNION SELECT key_b AS src, key_a AS dst FROM er_pairs),
              |er_reach AS (
              |  SELECT c_custkey AS id, c_custkey AS label FROM customer
              |  UNION
              |  SELECT e.dst AS id, r.label
              |  FROM er_reach r JOIN er_edges e ON e.src = r.id),
              |er_labels AS (
              |  SELECT id, MIN(label) AS entity_id FROM er_reach GROUP BY id)
              |SELECT entity_id, COUNT(*) AS n_members
              |FROM er_labels GROUP BY 1 HAVING COUNT(*) > 1
              |ORDER BY entity_id""".stripMargin)),

    // EXT — sorted-neighborhood candidate pairs (Hernández/Stolfo SNM):
    // the OTHER classic entity-resolution candidate discipline next to
    // q107/q148's equality blocking — sort records by a key, slide a
    // fixed window, verify adjacent pairs. The engine partitions the
    // sort by a blocking key (noun + first letter of the name) so each
    // window is a bounded per-block task, never a global single-
    // partition sort; pairs crossing block boundaries are out of scope
    // by design (the standard SNM blocking trade-off — documented, not
    // hidden). One window pass emits BOTH window offsets via a single
    // explode; levenshtein (exact integer) verifies.
    EngineQuery("q154_sorted_neighborhood",
      (s, dir) => {
        val blocked = Tables.table(s, dir, "part")
          .select(col("p_partkey"), col("p_name"),
            concat_ws("|", element_at(split(col("p_name"), " "), 2),
              substring(col("p_name"), 1, 1)).as("blk"))
        val w = Window.partitionBy(col("blk"))
          .orderBy(col("p_name"), col("p_partkey"))
        blocked
          .withColumn("key_a1", lag(col("p_partkey"), 1).over(w))
          .withColumn("name_a1", lag(col("p_name"), 1).over(w))
          .withColumn("key_a2", lag(col("p_partkey"), 2).over(w))
          .withColumn("name_a2", lag(col("p_name"), 2).over(w))
          .select(col("p_partkey"), col("p_name"), explode(array(
            struct(col("key_a1").as("key_a"), col("name_a1").as("name_a"),
              lit(1).as("gap")),
            struct(col("key_a2").as("key_a"), col("name_a2").as("name_a"),
              lit(2).as("gap")))).as("pp"))
          .select(col("pp.key_a"), col("p_partkey").as("key_b"),
            col("pp.name_a"), col("p_name").as("name_b"), col("pp.gap"))
          .filter(col("key_a").isNotNull)
          .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
          .filter(col("lev") <= 3)
          .orderBy("key_a", "key_b")
      },
      Some("""WITH blocked AS (
             |  SELECT p_partkey, p_name,
             |    string_split(p_name, ' ')[2] || '|' || substr(p_name, 1, 1)
             |      AS blk
             |  FROM part),
             |lagged AS (
             |  SELECT p_partkey, p_name,
             |    lag(p_partkey, 1) OVER w AS key_a1,
             |    lag(p_name, 1) OVER w AS name_a1,
             |    lag(p_partkey, 2) OVER w AS key_a2,
             |    lag(p_name, 2) OVER w AS name_a2
             |  FROM blocked
             |  WINDOW w AS (PARTITION BY blk ORDER BY p_name, p_partkey)),
             |pairs AS (
             |  SELECT key_a1 AS key_a, p_partkey AS key_b,
             |    name_a1 AS name_a, p_name AS name_b, CAST(1 AS INT) AS gap
             |  FROM lagged WHERE key_a1 IS NOT NULL
             |  UNION ALL
             |  SELECT key_a2, p_partkey, name_a2, p_name, CAST(2 AS INT)
             |  FROM lagged WHERE key_a2 IS NOT NULL)
             |SELECT key_a, key_b, name_a, name_b, gap,
             |  CAST(levenshtein(name_a, name_b) AS INT) AS lev
             |FROM pairs WHERE levenshtein(name_a, name_b) <= 3
             |ORDER BY key_a, key_b""".stripMargin)),

    // EXT — leakage-safe k-fold assignment: q81's train/val discipline
    // generalized to cross-validation — the fold is a deterministic
    // hash of the duplicate CLUSTER, never the document, so near-
    // duplicates can never straddle folds and inflate eval scores.
    // Reuses the shared q75 labels frame; the fold id is one fused
    // sha256-prefix expression, exactly mirrored by the oracle.
    EngineQuery("q160_kfold_split",
      (s, dir) => dupClusterLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          pmod(sha256PrefixLong(concat(lit("fold:"),
            col("cluster_id").cast("string"))), lit(5L)).as("fold"))
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$ccLabelsSql
              |SELECT doc_id, cluster_id,
              |  CAST('0x' || substr(sha256('fold:' ||
              |    CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 5
              |    AS fold
              |FROM cc_labels
              |ORDER BY doc_id""".stripMargin)),

    // EXT — effective training tokens per source: raw vs dedup-surviving
    // docs/tokens and the token-savings fraction, per source — the
    // number a curation run quotes when it says "source X is 40%
    // redundant". Survivors keep the LOWEST doc_id per duplicate
    // cluster (the q111 SemDeDup canonical-pick rule, deterministic);
    // clusters come from the SHARED q75 labels frame, so steady-state
    // cost is two keyed aggregations over |docs| rows plus the
    // |clusters|-row min-join.
    EngineQuery("q169_effective_tokens",
      (s, dir) => {
        val toks = docs(s, dir).select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val keep = dupClusterLabels(s, dir)
          .groupBy("cluster_id").agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        val joined = toks.join(keep.withColumn("survives", lit(1L)),
          Seq("doc_id"), "left")
        joined.groupBy("source")
          .agg(count(lit(1)).as("raw_docs"),
            sum(col("n_tokens")).as("raw_tokens"),
            sum(coalesce(col("survives"), lit(0L))).as("kept_docs"),
            sum(when(col("survives").isNotNull, col("n_tokens"))
              .otherwise(0L)).as("kept_tokens"))
          .select(col("source"), col("raw_docs"), col("raw_tokens"),
            col("kept_docs"), col("kept_tokens"),
            (lit(1.0) - col("kept_tokens").cast("double") /
              col("raw_tokens").cast("double")).as("token_savings"))
          .orderBy("source")
      },
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$ccLabelsSql,
              |keep AS (
              |  SELECT MIN(doc_id) AS doc_id FROM cc_labels
              |  GROUP BY cluster_id),
              |toks AS (
              |  SELECT d.doc_id, d.source,
              |    CAST(len(string_split(d.text, ' ')) AS BIGINT)
              |      AS n_tokens,
              |    CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END
              |      AS survives
              |  FROM documents d LEFT JOIN keep k ON k.doc_id = d.doc_id)
              |SELECT source, COUNT(*) AS raw_docs,
              |  CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
              |  CAST(SUM(survives) AS BIGINT) AS kept_docs,
              |  CAST(SUM(CASE WHEN survives = 1 THEN n_tokens ELSE 0 END)
              |    AS BIGINT) AS kept_tokens,
              |  1.0 - CAST(SUM(CASE WHEN survives = 1 THEN n_tokens
              |      ELSE 0 END) AS DOUBLE)
              |    / CAST(SUM(n_tokens) AS DOUBLE) AS token_savings
              |FROM toks GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — cross-document duplicate SPANS (the train-data dedup unit
    // of Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better": repeated substrings, not whole-doc dups): an
    // 8-token gram is "duplicated" when it appears in ≥2 distinct
    // docs; consecutive duplicated positions within a doc merge into
    // MAXIMAL spans (the lag/running-sum islands trick), and each doc
    // reports its span count, duplicated-token mass, and longest
    // span. Scale shape: gram→doc-count is one shuffle keyed on the
    // 8-byte xxhash64 of the gram (q117/q31 width discipline — the
    // DuckDB twin keys on the raw string; a collision would surface
    // as a gate mismatch), the positions join is a semi-join on the
    // same key, and the island window is partitioned by doc_id —
    // frame bounded by doc length. No pair explosion anywhere: cost
    // is linear in total grams.
    EngineQuery("q269_duplicate_spans",
      (s, dir) => {
        val g = docsSpread(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("toks"))
          .filter(size(col("toks")) >= 8)
          .select(col("doc_id"),
            explode(sequence(lit(1), size(col("toks")) - 7)).as("pos"),
            col("toks"))
          .select(col("doc_id"), col("pos"),
            // NOTE (r15 A/B): variadic xxhash64 over 8 element_at
            // fields measured SLOWER (1.27 → 1.52 s) than the single
            // concat+hash pass — kept as-is (see q117's twin note)
            xxhash64(concat_ws(" ", slice(col("toks"), col("pos"), lit(8))))
              .as("gram"))
        val dup = g.groupBy("gram")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select("gram")
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val spans = g.join(dup, Seq("gram"))
          .select("doc_id", "pos")
          .withColumn("prev", lag("pos", 1).over(w))
          .withColumn("brk",
            when(col("prev").isNull || col("pos") - col("prev") > 1, 1L)
              .otherwise(0L))
          .withColumn("span_id", sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("doc_id", "span_id")
          .agg(min("pos").as("s"), (max("pos") + 7).as("e"))
        spans.groupBy("doc_id")
          .agg(count(lit(1)).as("n_dup_spans"),
            sum(col("e") - col("s") + 1).as("dup_tokens"),
            max(col("e") - col("s") + 1).cast("long").as("max_span_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (
             |  SELECT doc_id, string_split(text, ' ') AS toks
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i AS pos,
             |    array_to_string(toks[i : i + 7], ' ') AS gram
             |  FROM t CROSS JOIN (SELECT unnest(range(1, 1024)) AS i) p
             |  WHERE i <= len(toks) - 7),
             |dup AS (
             |  SELECT gram FROM g
             |  GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
             |x AS (
             |  SELECT doc_id, pos,
             |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
             |  FROM (SELECT doc_id, pos FROM g JOIN dup USING (gram)) dp),
             |sp AS (
             |  SELECT doc_id, pos,
             |    SUM(CASE WHEN prev IS NULL OR pos - prev > 1
             |      THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS span_id
             |  FROM x),
             |spans AS (
             |  SELECT doc_id, span_id, MIN(pos) AS s, MAX(pos) + 7 AS e
             |  FROM sp GROUP BY 1, 2)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             |  CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens,
             |  CAST(MAX(e - s + 1) AS BIGINT) AS max_span_tokens
             |FROM spans GROUP BY 1 ORDER BY 1""".stripMargin)),

    // EXT — EXACT Jaccard-threshold self-join by PREFIX FILTERING
    // (TextDedup.prefixFilterCandidates — the AllPairs/PPJoin family):
    // every doc pair with shingle-Jaccard ≥ 3/5, with GUARANTEED
    // completeness — the deterministic complement of q26's MinHash
    // (probabilistic recall) and q31's verify-what-LSH-found. Spark
    // generates candidates from df-ascending token prefixes
    // (completeness holds under ANY global token order — see the
    // operator proof — so Spark orders by 8-byte xxhash64 while the
    // oracle never builds prefixes at all), verifies with the
    // codegen'd sorted-merge intersect, and thresholds in exact
    // integers (5·inter ≥ 3·union). The oracle is the BRUTE-FORCE
    // definition — every pair sharing any gram, counted and
    // thresholded — so the gate proves the filter theorem's
    // completeness on real data, not just the happy path.
    EngineQuery("q309_prefix_filter_join",
      (s, dir) => exactPairsShared(s, dir)
        .select(col("doc_a"), col("doc_b"), col("n_inter"),
          col("na"), col("nb"), col("jaccard"))
        .orderBy("doc_a", "doc_b"),
      Some(OracleShared.swap(
        s"""WITH grams AS ($gramsSql),
           |g AS (SELECT DISTINCT doc_id, gram FROM grams),
           |len AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS l
           |  FROM g GROUP BY 1),
           |pair AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |    CAST(COUNT(*) AS BIGINT) AS n_inter
           |  FROM g a JOIN g b
           |    ON b.gram = a.gram AND b.doc_id > a.doc_id
           |  GROUP BY 1, 2)
           |SELECT p.doc_a, p.doc_b, p.n_inter,
           |  la.l AS na, lb.l AS nb,
           |  CAST(p.n_inter AS DOUBLE)
           |    / CAST(la.l + lb.l - p.n_inter AS DOUBLE) AS jaccard
           |FROM pair p
           |JOIN len la ON la.doc_id = p.doc_a
           |JOIN len lb ON lb.doc_id = p.doc_b
           |WHERE p.n_inter * 5 >= 3 * (la.l + lb.l - p.n_inter)
           |ORDER BY doc_a, doc_b""".stripMargin,
        Seq("exact_pairs_35" -> exactPairs35Mat))(
        s"""SELECT doc_a, doc_b, n_inter, na, nb,
           |  CAST(n_inter AS DOUBLE)
           |    / CAST(na + nb - n_inter AS DOUBLE) AS jaccard
           |FROM (${OracleShared.read("exact_pairs_35")})
           |ORDER BY doc_a, doc_b""".stripMargin))),

    // EXT — LSH CANDIDATE RECALL/PRECISION against the exact
    // Jaccard-≥3/5 truth set: the dedup-QA report that ties the
    // engine's two near-dup paths together — q26's MinHash bands are
    // PROBABILISTIC recall, q309's prefix filter is GUARANTEED
    // complete, so joining the two measures exactly what the banded
    // sketch misses (and what fraction of its candidates are real),
    // overall and at the calibrated ≥6-band cluster floor (the q82
    // calibration, asserted here as recall data instead of averages).
    // The report is the production go/no-go for trusting banded LSH
    // at a given τ on a given corpus — recall too low means more
    // bands or a lower floor, precision too low means wasted verify
    // compute. All ratios are exact ×1e9 integer divisions of counts
    // both engines compute from their own independent formulations.
    EngineQuery("q334_lsh_recall",
      (s, dir) => {
        import graft.operators.TextDedup
        val exact = exactPairsShared(s, dir).select("doc_a", "doc_b")
        val cand = TextDedup.candidatePairs(minhashSigs(s, dir))
          .select(col("doc_a"), col("doc_b"), col("n_shared_bands"))
        // merge-join hint: both sides are corpus-sized pair frames, but
        // Catalyst's static size estimate after candidatePairs' two
        // aggregations reads tiny, so the planner picks a broadcast of
        // the candidate side — which BUILT 9.7 GiB at the sf1 probe
        // before erroring (caught by the round-12 sf1 sweep). A sort-
        // merge join on the pair key is the plan that survives 100 TB.
        val hits = exact.join(cand.hint("merge"),
            Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("n_exact"),
            sum(when(col("n_shared_bands").isNotNull, 1L)
              .otherwise(0L)).as("n_hit_any"),
            sum(when(col("n_shared_bands") >= ClusterMinBands, 1L)
              .otherwise(0L)).as("n_hit_floor"))
        hits.crossJoin(broadcast(
            cand.agg(count(lit(1)).as("n_candidates"))))
          .select(col("n_exact"), col("n_candidates"),
            col("n_hit_any"), col("n_hit_floor"),
            expr("n_hit_any * 1000000000 div n_exact")
              .as("recall_any_fp"),
            expr("n_hit_floor * 1000000000 div n_exact")
              .as("recall_floor_fp"),
            expr("n_hit_any * 1000000000 div n_candidates")
              .as("precision_any_fp"))
      },
      Some(s"""WITH grams AS ($gramsSql),
              |$minhashSigsSql,
              |${OracleShared.swap(
                 """g AS (SELECT DISTINCT doc_id, gram FROM grams),
                   |len AS (
                   |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS l
                   |  FROM g GROUP BY 1),
                   |pair AS (
                   |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   |    CAST(COUNT(*) AS BIGINT) AS n_inter
                   |  FROM g a JOIN g b
                   |    ON b.gram = a.gram AND b.doc_id > a.doc_id
                   |  GROUP BY 1, 2),
                   |ex AS (
                   |  SELECT p.doc_a, p.doc_b
                   |  FROM pair p
                   |  JOIN len la ON la.doc_id = p.doc_a
                   |  JOIN len lb ON lb.doc_id = p.doc_b
                   |  WHERE p.n_inter * 5 >= 3 * (la.l + lb.l - p.n_inter))""".stripMargin,
                 Seq("exact_pairs_35" -> exactPairs35Mat))(
                 s"""ex AS (SELECT doc_a, doc_b FROM (${
                   OracleShared.read("exact_pairs_35")}))""")},
              |cand AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    COUNT(DISTINCT a.band) AS n_shared_bands
              |  FROM sigs_capped a JOIN sigs_capped b
              |    ON a.band = b.band AND a.minhash = b.minhash
              |    AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |hits AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
              |    CAST(SUM(CASE WHEN c.n_shared_bands IS NOT NULL
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_any,
              |    CAST(SUM(CASE WHEN c.n_shared_bands
              |        >= $ClusterMinBands
              |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_floor
              |  FROM ex e
              |  LEFT JOIN cand c ON c.doc_a = e.doc_a
              |    AND c.doc_b = e.doc_b),
              |nc AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
              |  FROM cand)
              |SELECT h.n_exact, nc.n_candidates, h.n_hit_any,
              |  h.n_hit_floor,
              |  h.n_hit_any * 1000000000 // h.n_exact AS recall_any_fp,
              |  h.n_hit_floor * 1000000000 // h.n_exact
              |    AS recall_floor_fp,
              |  h.n_hit_any * 1000000000 // nc.n_candidates
              |    AS precision_any_fp
              |FROM hits h CROSS JOIN nc""".stripMargin)),

    // EXT — INCREMENTAL connected components gated as data: fold the
    // candidate-pair edges through the star-collapse incremental form
    // (the StreamingClusters operator's maintenance step — state
    // components re-enter the next phase as node→label star edges)
    // in two batches split by a pair hash, and emit the resulting
    // labeling. The oracle computes plain one-shot CC over ALL edges
    // (q75's recursive CTE) — the hash gate IS the proof that the
    // incremental fold equals the full recompute (label = component
    // min in both), i.e. the streaming dedup-clustering monitor
    // maintains exactly the batch view. Cross-algorithm on top: Spark
    // runs two pointer-jump folds, DuckDB one recursive closure.
    EngineQuery("q335_incremental_cc",
      (s, dir) => {
        // the SHARED cluster-edge frame (one upstream band-join scan
        // for the whole q26/q75/q335 family); the deliberate double CC
        // fold below is untouched — it is the incremental ≡ full proof
        val edges = clusterEdges(s, dir)
        val h = xxhash64(col("doc_a"), col("doc_b")) % 2 === 0
        val batch0 = edges.filter(h)
        val batch1 = edges.filter(!h)
        val nodes0 = batch0.select(col("doc_a").as("id"))
          .union(batch0.select(col("doc_b").as("id"))).distinct()
        val state1 = graft.operators.ConnectedComponents
          .labels(batch0, nodes0)
        val stars = state1.select(col("id").as("doc_a"),
          col("cluster_id").as("doc_b"))
        val state2 = graft.operators.ConnectedComponents.labels(
          stars.union(batch1),
          docs(s, dir).select(col("doc_id").as("id")))
        val sizes = state2.groupBy("cluster_id")
          .agg(count(lit(1)).as("cluster_size"))
        state2.join(sizes, "cluster_id")
          .select(col("id").as("doc_id"), col("cluster_id"),
            col("cluster_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE grams AS ($gramsSql),
              |$minhashSigsSql,
              |$ccLabelsSql
              |SELECT l.doc_id, l.cluster_id, sz.cluster_size
              |FROM cc_labels l
              |JOIN (SELECT cluster_id, COUNT(*) AS cluster_size
              |      FROM cc_labels GROUP BY 1) sz USING (cluster_id)
              |ORDER BY doc_id""".stripMargin))
  )

  /** Stopword lists for the language-ID heuristic. */
  object LangId {
    val en = Seq("the", "and", "of", "to", "in", "is", "a")
    val es = Seq("el", "la", "de", "que", "y", "en")
    val de = Seq("der", "die", "und", "das", "ist")
    val fr = Seq("le", "les", "des", "et", "un")
    def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")
  }
}
