package graft

import java.util.concurrent.CyclicBarrier
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ConnectedComponents, LoopTuning}

/** LoopTuning conf scoping: nested tuned loops restore their parent's
  * width and only the outermost exit restores the session's original
  * width + AQE flag — two stacked loops (e.g. an operator calling
  * another tuned operator) can never leave the session
  * mis-configured (round-11 ADVICE finding on session-conf
  * mutation). Tuned loops on two sessions of one context
  * (`spark.newSession()`, the documented concurrency prescription) run
  * at the same time without touching each other's conf. */
class LoopTuningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def width: String = spark.conf.get("spark.sql.shuffle.partitions")
  private def aqe: String = spark.conf.get("spark.sql.adaptive.enabled")

  test("nested loops restore parent width, outermost restores session conf") {
    val w0 = width
    val a0 = aqe
    LoopTuning.withLoopConf(spark, 1L) {
      assert(width === "1")
      assert(aqe === "false")
      LoopTuning.withLoopConf(spark, 100001L) {
        assert(width === "3") // 100k/50k + 1, still < session width
        // inner exit must restore the OUTER loop's width, not the
        // session's
      }
      assert(width === "1")
      assert(aqe === "false")
    }
    assert(width === w0)
    assert(aqe === a0)
  }

  test("session conf restores even when the loop body throws") {
    val w0 = width
    val a0 = aqe
    intercept[RuntimeException] {
      LoopTuning.withLoopConf(spark, 1L) {
        LoopTuning.withLoopConf(spark, 1L) {
          throw new RuntimeException("boom")
        }
      }
    }
    assert(width === w0)
    assert(aqe === a0)
  }

  test("updateWidth resizes only inside an active loop and caps at session width") {
    val w0 = width
    // outside any loop: a stray call must not narrow the session
    LoopTuning.updateWidth(spark, 1L)
    assert(width === w0)
    LoopTuning.withLoopConf(spark, 1L) {
      assert(width === "1")
      // growth-aware resize mid-loop (the Closure doubling pattern)
      LoopTuning.updateWidth(spark, 50001L)
      assert(width === "2")
      // capped at the TRUE session width even though the live conf is
      // currently narrowed
      LoopTuning.updateWidth(spark, Long.MaxValue / 2)
      assert(width === w0)
    }
    assert(width === w0)
  }

  test("tuned loops on two concurrent sessions match their sequential runs and keep each session's conf") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.codegen.wholeStage")
    def conf(s: SparkSession) = keys.map(s.conf.get)
    // two chains of n + 1 nodes each: 0-1-…-n and 1000-…-(1000 + n)
    def labels(s: SparkSession, n: Long): Map[Long, Long] = {
      import s.implicits._
      val edges = (0L until n).map(i => (i, i + 1)) ++
        (1000L until 1000L + n).map(i => (i, i + 1))
      val nodes = (0L to n) ++ (1000L to 1000L + n)
      ConnectedComponents.labels(edges.toDF("src", "dst"), nodes.toDF("id"))
        .as[(Long, Long)].collect().toMap
    }
    val sessions = Seq(spark.newSession(), spark.newSession())
    // distinct widths, so a conf that bled from one session shows
    sessions(1).conf.set("spark.sql.shuffle.partitions", "3")
    val sizes = Seq(12L, 16L)
    val sequential = sessions.zip(sizes).map { case (s, n) => labels(s, n) }
    val before = (spark +: sessions).map(conf)
    val start = new CyclicBarrier(sessions.size)
    val concurrent = Await.result(Future.sequence(
      sessions.zip(sizes).map { case (s, n) =>
        Future { start.await(); labels(s, n) }
      }), 5.minutes)
    assert(concurrent === sequential)
    assert((spark +: sessions).map(conf) === before)
  }
}
