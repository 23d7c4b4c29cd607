package graft.queries

/** Oracle-side shared-frame materialization (round-12 VERDICT ask #1).
  *
  * The DuckDB twins of the heavy text/graph families inline the SAME
  * shared pipeline CTEs — shingle grams, MinHash signatures, the exact
  * Jaccard verify, dup-cluster labels, the IVF KNN graph. On the engine
  * side those are persisted shared frames built once per session; the
  * single-node oracle recomputing each from scratch per query is why 34
  * of 336 entries had no sf1 adjudication (16 DuckDB OOM + 18 timeouts,
  * `sf1_sweep_r12.json` — all named, all oracle-side cost).
  *
  * When `SPARK_GRAFT_ORACLE_SHARED_DIR` is set, every registered macro
  * swaps its CTE body for a parquet read of a frame materialized ONCE,
  * and [[graft.Verify]] dumps a dependency-ordered manifest
  * (`oracle_shared.json`) of standalone SQL that builds each frame —
  * `tools/verify_local.py --shared` COPYs the manifest to parquet
  * before the sweep. Engine independence is unchanged: the frames are
  * built BY DUCKDB from the same raw tables with the byte-identical CTE
  * text the inline twins carry; only the per-query recompute is
  * amortized — exactly what the engine's own minhashSigs/preparedShared
  * persists do. With the env unset (the driver's sf0.01 gate), every
  * twin is byte-identical to round 12's.
  */
private[graft] object OracleShared {

  /** Set ⇒ twins read shared frames from `<dir>/<frame>.parquet`. */
  val dir: Option[String] = sys.env.get("SPARK_GRAFT_ORACLE_SHARED_DIR")

  // dependency-ordered: macros register at object init in declaration
  // order, and each materialization SQL only reads frames registered
  // before it — verify_local.py runs the manifest in order
  private val frames =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Parquet read of a materialized frame (only valid when [[dir]] set). */
  def read(frame: String): String =
    s"SELECT * FROM '${dir.get}/$frame.parquet'"

  /** Return `full` normally; when materialization is on, register each
    * frame's standalone build SQL and return `swapped` instead. */
  def swap(full: String, mats: => Seq[(String, String)])(
      swapped: => String): String =
    dir match {
      case Some(_) =>
        frames.synchronized {
          mats.foreach { case (n, sql) =>
            if (!frames.contains(n)) frames.update(n, sql)
          }
        }
        swapped
      case None => full
    }

  /** The ordered manifest, for Verify's oracle_shared.json dump. */
  def manifest: Seq[(String, String)] =
    frames.synchronized(frames.toSeq)

  // Equivalence gates (ADVICE r13): a frame whose MATERIALIZATION build
  // uses a structurally different algorithm than the inline twin (e.g.
  // jac's sorted-gram-list intersection vs the inline gset⋈gset join;
  // the 16-way sharded exact-pairs accumulator) registers the inline
  // algorithm here as standalone SQL over the SAME upstream frames.
  // Verify dumps these as oracle_shared_gates.json and
  // tools/verify_local.py asserts EXCEPT-both-directions emptiness at
  // small SF on every --shared sweep — the equivalence is machine-gated
  // per sweep instead of proven once manually and trusted thereafter.
  private val gateChecks =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** Register the inline-algorithm twin of a structurally-different
    * materialized frame (only meaningful when [[dir]] is set). */
  def gate(frame: String, inlineSql: String): Unit =
    gateChecks.synchronized {
      if (!gateChecks.contains(frame)) gateChecks.update(frame, inlineSql)
    }

  /** Registered gates, for Verify's oracle_shared_gates.json dump. */
  def gates: Seq[(String, String)] =
    gateChecks.synchronized(gateChecks.toSeq)
}
