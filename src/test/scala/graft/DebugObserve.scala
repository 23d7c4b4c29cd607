package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.TextDedup

/** Debug tool: demonstrates WHY a
  * zero-candidate corpus never delivers the LSH observed metrics under
  * AQE. Finding: when the pair-generation stage materializes empty, AQE's
  * empty-relation propagation replaces the downstream plan — including
  * the already-executed stage holding CollectMetricsExec — with
  * EmptyRelation, so `qe.observedMetrics` can't find the node (its
  * accumulator DID run). With AQE off the same query reads (0, 1).
  * TextDedup.bucketStats is the guaranteed-delivery alternative.
  */
object DebugObserve {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("debug-observe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")

    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit =
        println(s"== onSuccess($funcName) observedMetrics=${qe.observedMetrics}")
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        println(s"== onFailure($funcName): $e")
    }
    spark.listenerManager.register(listener)

    val unique = (0L to 3L).map(i =>
      (i, ("" + ('a' + i.toInt).toChar) * 60)).toDF("doc_id", "text")
    val sigs = TextDedup.minhashSignatures(TextDedup.shingles(unique))
    val pairs = TextDedup.candidatePairs(sigs)
    println("== count action ==")
    println("count = " + pairs.count())
    println("post-action qe.observedMetrics = " +
      pairs.queryExecution.observedMetrics)
    println("== collect action ==")
    val pairs2 = TextDedup.candidatePairs(sigs)
    println("collect n = " + pairs2.collect().length)
    println("post-action qe.observedMetrics = " +
      pairs2.queryExecution.observedMetrics)
    println("executedPlan after collect:")
    println(pairs2.queryExecution.executedPlan.toString.linesIterator
      .map("    " + _).mkString("\n"))
    println("== AQE off, count ==")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val pairs3 = TextDedup.candidatePairs(sigs)
    println("count = " + pairs3.count())
    println("post-action qe.observedMetrics = " +
      pairs3.queryExecution.observedMetrics)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    Thread.sleep(3000)
    spark.stop()
  }
}
