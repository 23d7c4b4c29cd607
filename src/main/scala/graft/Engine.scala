package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session + table access layer.
  *
  * All readers return plain DataFrames over the driver-generated parquet
  * star schema (TESTDATA.md): region, nation, customer, supplier, part,
  * orders, lineitem, events, documents, embeddings.
  *
  * The `events` table's `ts` column has shipped in two physical parquet
  * encodings across driver testdata generations: TIMESTAMP(NANOS) (which
  * Spark's vectorized reader rejects — [PARQUET_TYPE_ILLEGAL] — so we
  * read it as a raw long via spark.sql.legacy.parquet.nanosAsLong and
  * divide to microseconds) and plain TIMESTAMP(MICROS). The reader
  * branches on the type it actually finds; both paths surface the same
  * microsecond-precision TIMESTAMP_NTZ `ts` that DuckDB 1.x sees for the
  * same file (it truncates ns → us on read), so oracle comparisons line
  * up bit-for-bit either way.
  */
object Tables {
  val starTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")

  /** Reader entries of [[Shared]]: `spark.read.parquet` pays a
    * driver-side file listing plus a footer schema read on every call
    * (~60–120 ms warm per table), and the registry builds each table
    * reference inside every query function. The memo keeps the analyzed
    * plan (never data: no `.persist`, every action still scans parquet),
    * so each (session, dir, table) pays that metadata work once. After
    * rewriting a dir read here, call [[Shared.invalidate]] (the
    * `WarehouseWriter` write paths do). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else Shared.frame(spark, dir, name)(
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Events stream table with `ts` as microsecond TIMESTAMP_NTZ
    * (DuckDB-equivalent) regardless of the file's physical encoding. */
  def events(spark: SparkSession, dir: String): DataFrame =
    Shared.frame(spark, dir, "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // timestamp_ntz keeps parquet output isAdjustedToUTC=false, the same
      // physical annotation DuckDB writes/reads — so oracle compares line up.
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // legacy TIMESTAMP(NANOS) file read as raw long: truncate ns → us
          raw.withColumn("ts",
            expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
        case _ =>
          raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    }
}

/** The session-scoped memo of DataFrames: table readers ([[Tables]]) and
  * the shared intermediate frames the registry reuses across the queries
  * of one session (MinHash signatures, KNN graphs, cluster labelings, the
  * ingest pipeline frame). One entry per (session, dir, name); `dir` is
  * the table dir a frame is built over, `name` tells frames apart.
  * [[replace]] keeps one entry per (session, name) instead: the latest
  * ingest batch ([[graft.ingest.IngestPipeline.run]]) and the
  * [[Catalog]] registration.
  *
  * The build runs outside any lock (`TrieMap.getOrElseUpdate`), so a
  * build may run Spark jobs and call [[frame]] itself, and sessions build
  * concurrently. Two callers racing on one key may both build; the first
  * insert wins and both get it.
  *
  * Callers persist what they want kept; the memo only holds the frame,
  * and every eviction unpersists it. Spark's cache is shared by all
  * sessions of a context and matches frames by plan, so sibling
  * sessions' frames with the same plan share one cache entry and
  * evicting either drops it (the other recomputes).
  *
  * Entries live until one of: their session's context stops (swept on
  * the next [[frame]] or [[replace]] call), [[reset]] of their session,
  * [[invalidate]] of their dir, or a [[replace]] of their name in their
  * session. */
object Shared {
  private type Key = (SparkSession, String, String)
  private val memo = scala.collection.concurrent.TrieMap.empty[Key, DataFrame]

  /** The frame memoized under (spark, dir, name); `build` runs only when
    * there is none. */
  def frame(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    evict(k => stopped(k._1))
    memo.getOrElseUpdate((spark, dir, name), build)
  }

  /** Memoizes `build` as the session's one `name` entry: first evicts
    * every `name` entry of `spark`, whatever its dir, then stores the
    * new frame under (spark, dir, name). The eviction comes before the
    * build because Spark's cache matches frames by plan: a frame
    * persisted while an identical plan is still cached joins that cache
    * entry, and evicting the old frame afterwards would drop both. */
  def replace(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame = {
    evict(k => stopped(k._1) || (k._1 eq spark) && k._3 == name)
    val df = build
    // a concurrent replace in the same session may have stored first
    memo.put((spark, dir, name), df).filter(_ ne df)
      .foreach(_.unpersist(blocking = false))
    df
  }

  /** Whether (spark, dir, name) has an entry. */
  def contains(spark: SparkSession, dir: String, name: String): Boolean =
    memo.contains((spark, dir, name))

  /** Evict every entry of `spark`: teardown of a bench or verify run. */
  def reset(spark: SparkSession): Unit = evict(_._1 eq spark)

  /** Evict, in every session, the entries built over `path` or over a
    * dir containing it: call after rewriting `path`. */
  def invalidate(path: String): Unit =
    evict(k => k._2 == path || path.startsWith(k._2 + "/"))

  private def stopped(s: SparkSession): Boolean = s.sparkContext.isStopped

  /** A stopped context's storage is gone with it: those entries are only
    * dropped. */
  private def evict(p: Key => Boolean): Unit =
    memo.keys.filter(p).foreach(k => memo.remove(k).foreach(df =>
      if (!stopped(k._1)) df.unpersist(blocking = false)))
}
