package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Lifecycle of the session-scoped memo ([[Shared]]): memoization, the
  * per-session reset, per-dir invalidation and builds that call the memo
  * themselves. Each test works in fresh sibling sessions of the suite
  * session, so resetting them leaves other suites' entries alone. */
class SharedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tempDir() = Files.createTempDirectory("graft-shared").toString

  /** A frame memoized under (s, dir, name) whose build bumps `builds`. */
  private def counted(s: SparkSession, dir: String, name: String,
      builds: AtomicInteger, rows: Long = 10L): DataFrame =
    Shared.frame(s, dir, name) {
      builds.incrementAndGet()
      s.range(rows).toDF("id").persist(StorageLevel.MEMORY_AND_DISK)
    }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a second call with the same key returns the memoized frame without building") {
    val s = spark.newSession()
    val dir = tempDir()
    val builds = new AtomicInteger
    val a = counted(s, dir, "f", builds)
    val b = counted(s, dir, "f", builds)
    assert(a eq b)
    assert(builds.get === 1)
    // any part of the key tells entries apart
    assert(counted(s, dir, "g", builds) ne a)
    assert(counted(s, tempDir(), "f", builds) ne a)
    val sibling = spark.newSession()
    assert(counted(sibling, dir, "f", builds) ne a)
    assert(builds.get === 4)
    Shared.reset(s)
    Shared.reset(sibling)
  }

  test("reset(s) unpersists only s's frames; a sibling session keeps its own") {
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val dir = tempDir()
    val builds = new AtomicInteger
    // distinct plans: Spark's cache matches frames by plan across sessions
    val before = persistedIds
    assert(counted(s1, dir, "f", builds, rows = 100L).count() === 100L)
    val own1 = persistedIds -- before
    assert(counted(s2, dir, "f", builds, rows = 200L).count() === 200L)
    val own2 = persistedIds -- before -- own1
    assert(own1.size === 1 && own2.size === 1)

    val nBefore = spark.sparkContext.getPersistentRDDs.size
    Shared.reset(s1)
    assert(spark.sparkContext.getPersistentRDDs.size === nBefore - 1)
    assert((persistedIds & own1).isEmpty)
    assert(own2.subsetOf(persistedIds))

    val kept = counted(s2, dir, "f", builds)
    assert(builds.get === 2, "the sibling's entry survives the reset")
    assert(kept.storageLevel === StorageLevel.MEMORY_AND_DISK)
    counted(s1, dir, "f", builds)
    assert(builds.get === 3, "the reset session builds afresh")
    Shared.reset(s1)
    Shared.reset(s2)
    assert((persistedIds & own2).isEmpty)
  }

  test("invalidate(dir) drops reader and shared entries over that dir and no other") {
    val s = spark.newSession()
    val (dirA, dirB) = (tempDir(), tempDir())
    import s.implicits._
    for (d <- Seq(dirA, dirB))
      Seq(1, 2, 3).toDF("x").write.parquet(s"$d/t.parquet")
    val builds = new AtomicInteger
    val (readerA, readerB) = (Tables.table(s, dirA, "t"), Tables.table(s, dirB, "t"))
    val (sharedA, sharedB) =
      (counted(s, dirA, "f", builds), counted(s, dirB, "f", builds))
    assert(Tables.table(s, dirA, "t") eq readerA)

    Shared.invalidate(dirA)
    assert(Tables.table(s, dirA, "t") ne readerA)
    assert(counted(s, dirA, "f", builds) ne sharedA)
    assert(Tables.table(s, dirB, "t") eq readerB)
    assert(counted(s, dirB, "f", builds) eq sharedB)
    assert(builds.get === 3)

    // a rewrite of one table file inside the dir, as WarehouseWriter
    // reports it: the memoized reader holds the old file listing until
    // the path is invalidated
    assert(Tables.table(s, dirA, "t").count() === 3L)
    Seq(1, 2, 3, 4, 5).toDF("x").write.mode("overwrite").parquet(s"$dirA/t.parquet")
    Shared.invalidate(s"$dirA/t.parquet")
    assert(Tables.table(s, dirA, "t").count() === 5L)
    assert(Tables.table(s, dirB, "t") eq readerB)
    Shared.reset(s)
  }

  test("Catalog views read a table rewritten and invalidated after registration") {
    val s = spark.newSession()
    val (dirA, dirB) = (tempDir(), tempDir())
    import s.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    for (d <- Seq(dirA, dirB); t <- Catalog.tableNames)
      if (t == "events") Seq((1, ts)).toDF("x", "ts").write.parquet(s"$d/$t.parquet")
      else Seq(1, 2, 3).toDF("x").write.parquet(s"$d/$t.parquet")
    Seq(1, 2).toDF("x").write.mode("overwrite").parquet(s"$dirB/region.parquet")
    def regions(dir: String) =
      Catalog.sql(s, dir, "SELECT count(*) FROM region").as[Long].head()
    assert(regions(dirA) === 3L)

    Seq(1, 2, 3, 4, 5).toDF("x").write.mode("overwrite").parquet(s"$dirA/region.parquet")
    Shared.invalidate(s"$dirA/region.parquet")
    assert(regions(dirA) === 5L)
    // another dir replaces the views; coming back re-registers the first
    assert(regions(dirB) === 2L)
    assert(regions(dirA) === 5L)
    Shared.reset(s)
  }

  test("a build that itself calls the memo memoizes both frames") {
    val s = spark.newSession()
    val dir = tempDir()
    val builds = new AtomicInteger
    def outer() = Shared.frame(s, dir, "outer") {
      builds.incrementAndGet()
      counted(s, dir, "inner", builds).selectExpr("id * 2 AS id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    assert(outer().count() === 10L)
    assert(outer() eq outer())
    assert(builds.get === 2)
    counted(s, dir, "inner", builds)
    assert(builds.get === 2, "the inner frame was memoized by the outer build")
    Shared.reset(s)
  }
}
