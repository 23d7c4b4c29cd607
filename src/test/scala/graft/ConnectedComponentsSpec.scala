package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ConnectedComponents

/** Semantic tests of the min-label-propagation connected components —
  * the q75/q76 oracle gate proves cross-engine equality on the LSH
  * candidate graph; these prove the labeling on planted graph shapes,
  * including the long-chain case LSH never produces. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def label(edges: Seq[(Long, Long)], nodes: Seq[Long],
      maxIter: Int = 50): Map[Long, Long] =
    ConnectedComponents.labels(
        edges.toDF("src", "dst"), nodes.toDF("id"), maxIter)
      .as[(Long, Long)].collect().toMap

  test("two components plus a singleton get their minimum ids") {
    // {1,2,3} via 1-2, 2-3 (transitive); {10,11}; 99 isolated
    val got = label(Seq((1L, 2L), (2L, 3L), (10L, 11L)), Seq(1L, 2L, 3L, 10L, 11L, 99L))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 99L -> 99L))
  }

  test("a long chain converges to one component (diameter-bound rounds)") {
    // path 0-1-2-...-19: worst case for min propagation, diameter 19
    val chain = (0L until 19L).map(i => (i, i + 1))
    val got = label(chain, 0L to 19L)
    assert(got.values.toSet === Set(0L))
  }

  test("self-loops and duplicate edges are harmless") {
    val got = label(Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L)), Seq(5L, 6L))
    assert(got === Map(5L -> 5L, 6L -> 5L))
  }

  test("maxIter too small for the diameter throws instead of mislabeling") {
    val chain = (0L until 19L).map(i => (i, i + 1))
    assertThrows[IllegalStateException] {
      label(chain, 0L to 19L, maxIter = 3)
    }
  }

  test("no edges at all: every node is its own singleton cluster") {
    val got = label(Seq.empty, Seq(7L, 8L, 9L))
    assert(got === Map(7L -> 7L, 8L -> 8L, 9L -> 9L))
  }

  test("dupClusters sizes singletons at 1 and groups transitively") {
    val docs = Seq(0L, 1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("doc_a", "doc_b")
    val got = ConnectedComponents.dupClusters(docs, pairs)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 0L, 3L), (1L, 0L, 3L), (2L, 0L, 3L), (3L, 3L, 1L)))
  }

  test("durable checkpoints survive a simulated executor-state loss") {
    // The cluster-deployment seam: with a checkpoint dir set, each
    // round's lineage cut (Frames.cut) goes to reliable checkpoint
    // storage instead of executor-local blocks. Simulate losing ALL
    // executor state after the loop (clearCache drops every
    // persisted/localCheckpoint block) and assert the result is still
    // recomputable — its lineage must bottom out in checkpoint FILES,
    // not evicted cache. Without a dir the cut is a localCheckpoint,
    // whose blocks cannot be recomputed once lost — which is why
    // clusters set the dir.
    TestSpark.withCheckpointDir { dir =>
      val chain = (0L until 19L).map(i => (i, i + 1))
      val lbl = ConnectedComponents.labels(
        chain.toDF("src", "dst"), (0L to 19L).toDF("id"))
      assert(lbl.as[(Long, Long)].collect().toMap.values.toSet === Set(0L))
      // reliable checkpoint files exist on disk
      import scala.jdk.CollectionConverters._
      val found = java.nio.file.Files.walk(dir).iterator().asScala
        .exists(_.getFileName.toString.startsWith("part-"))
      assert(found, s"no checkpoint part files under $dir")
      // lose every executor-cached block, then recompute from lineage
      spark.catalog.clearCache()
      assert(lbl.as[(Long, Long)].collect().toMap.values.toSet === Set(0L))
    }
  }
}
