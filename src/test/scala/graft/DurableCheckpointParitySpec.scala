package graft

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.queries.QueryRegistry

/** The cut policy (`Frames.cut`) is COST-ONLY at every cut site:
  * reliable `checkpoint()` (a checkpoint dir is set) and
  * `localCheckpoint()` (none is) differ in where the cut frame's bytes
  * live (checkpoint-dir files an executor loss cannot destroy vs
  * executor-local blocks that die with their host), never in the rows
  * returned. Each case below runs one cut site without a checkpoint dir
  * and then with one, and asserts identical rows and that the second
  * run wrote reliable checkpoint files — every loop operator, the q274
  * card audit, and the registry entries whose one-off cuts follow the
  * policy. ConnectedComponentsSpec checks the reliable run survives a
  * simulated executor-state loss. StreamingClusters' intra-batch cut is
  * the one documented exemption (its durability is the streaming state
  * table — see the call-site comment in StreamingClusters.processBatch).
  *
  * Three cases close the file: a cut, in either mode, delivers the
  * `observe()` metrics of the frame it materializes (what
  * `Fixpoint.observedCut` relies on), and every loop operator frees the
  * cuts its result does not read — the checkpoint-dir files of reliable
  * cuts, the cached blocks of local ones.
  */
class DurableCheckpointParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def wroteReliable(dir: java.nio.file.Path): Boolean = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator().asScala
      .exists(_.getFileName.toString.startsWith("part-"))
  }

  /** Run `op` without (local) and then with a checkpoint dir (durable);
    * assert row-identical output and that the second run actually wrote
    * reliable checkpoint files. */
  private def parity(name: String)(op: () => DataFrame): Unit = {
    val local = op().collect().map(_.toString).sorted
    TestSpark.withCheckpointDir { dir =>
      val reliable = op().collect().map(_.toString).sorted
      assert(reliable === local, s"$name: reliable cuts changed the output")
      assert(wroteReliable(dir), s"$name: no reliable checkpoint part " +
        s"files under $dir — the cut never followed the checkpoint dir")
    }
  }

  private def sym(edges: Seq[(Long, Long)]): DataFrame =
    (edges ++ edges.map { case (a, b) => (b, a) }).toDF("src", "dst")

  private def query(name: String): (String, () => DataFrame) =
    s"$name: durable ≡ local" ->
      (() => QueryRegistry.byName(name).run(spark, sf))

  private lazy val cases: Seq[(String, () => DataFrame)] = Seq(
    "BpeTrainer.train: durable ≡ local, and the merge table too" -> { () =>
      val vocab = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
        ("widest", 3L), ("west", 4L)).toDF("token", "freq")
      // merges are driver-side state — fold them into every row
      val t = BpeTrainer.train(vocab, 6)
      t.vocab.withColumn("merges", lit(t.merges.mkString(";")))
    },
    "Hits.scoresFp: durable ≡ lazy (integer fixed-point scores)" -> { () =>
      Hits.scoresFp(Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
        .toDF("src", "dst"), (1L to 5L).toDF("id"), iterations = 3)
    },
    "Isotonic.fit: durable ≡ local on a violating series" -> { () =>
      val pts = Seq((1L, 5L), (2L, 3L), (3L, 8L), (4L, 2L), (5L, 9L),
          (6L, 9L), (7L, 1L))
        .flatMap { case (x, y) => Seq(("a", x, y), ("b", x, 10L - y)) }
        .toDF("k", "x", "y")
      Isotonic.fit(pts, "k", "x", "y")
    },
    "LabelPropagation.communities: durable ≡ local" -> { () =>
      // two triangles bridged by one edge — the planted LPA shape
      LabelPropagation.communities(Seq((1L, 2L), (2L, 3L), (1L, 3L),
        (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst"),
        (1L to 7L).toDF("id"))
    },
    "cardAuditFrame (q274): durable ≡ local" -> { () =>
      graft.queries.StatsQueries.cardAuditFrame(spark, sf, "orders",
        "o_custkey", "customer", "c_custkey", "orders_customer")
    },
    "Mmr.select: durable ≡ local" -> { () =>
      val cand = Seq((1L, 10L, 900L), (1L, 11L, 880L), (1L, 12L, 500L),
        (2L, 20L, 700L), (2L, 21L, 650L)).toDF("q_id", "vec_id", "rel_fp")
      val pairs = Seq(
        (1L, 10L, 11L, 870L), (1L, 11L, 10L, 870L),
        (1L, 10L, 12L, 100L), (1L, 12L, 10L, 100L),
        (1L, 11L, 12L, 120L), (1L, 12L, 11L, 120L),
        (2L, 20L, 21L, 300L), (2L, 21L, 20L, 300L))
        .toDF("q_id", "a", "b", "sim_fp")
      Mmr.select(cand, pairs, 2)
    },
    "Mst.forest: durable ≡ local" -> { () =>
      Mst.forest(Seq((0L, 1L, 4L), (1L, 2L, 1L), (2L, 0L, 3L), (2L, 3L, 2L),
        (3L, 4L, 5L), (5L, 6L, 1L)).toDF("u", "v", "w"))
    },
    "Bfs.distances: durable ≡ local" -> { () =>
      Bfs.distances(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 1L))
        .toDF("src", "dst"), Seq(1L, 4L).toDF("id"), maxHops = 5)
    },
    "Sssp.distances: durable ≡ local" -> { () =>
      Sssp.distances(Seq((0L, 3L, 10L), (0L, 1L, 1L), (1L, 2L, 1L),
        (2L, 3L, 1L)).toDF("src", "dst", "w"), Seq(0L, 2L).toDF("id"), 4)
    },
    "Closure.sccIds: durable ≡ local (via transitiveClosure)" -> { () =>
      Closure.sccIds(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
        (0L, 1L)).toDF("src", "dst"))
    },
    "Closure.dagLayers: durable ≡ local" -> { () =>
      Closure.dagLayers(Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L),
        (0L, 4L), (4L, 5L), (5L, 3L)).toDF("src", "dst"),
        (0L to 6L).toDF("id"))
    },
    "KCore.coreNodes: durable ≡ local" -> { () =>
      KCore.coreNodes(sym(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
        (4L, 5L), (6L, 7L))), k = 2)
    },
    "Matching.matching: durable ≡ local" -> { () =>
      Matching.matching((0L until 6L).map(i => (i, i + 1, 10L + i))
        .toDF("u", "v", "w"))
    },
    "StableMatching.matching: durable ≡ local (compacting)" -> { () =>
      val prefs = for (p <- 0L until 4L; a <- 100L until 104L)
        yield (p, a, (p * 3 + a) % 4 + 1, (a * 5 + p) % 4 + 1)
      // distinct ranks per proposer and per acceptor: Latin squares
      StableMatching.matching(prefs.toDF("p", "a", "rp", "ra"),
        compactEvery = 1, compactMinRows = 0L)
    },
    "Betweenness.dependencies: durable ≡ local" -> { () =>
      Betweenness.dependencies(sym(Seq((0L, 1L), (1L, 2L), (2L, 3L),
        (3L, 4L))), Seq(0L, 1L, 2L, 3L, 4L).toDF("id"), 4)
    },
    "WlRefinement.relabel: durable ≡ local" -> { () =>
      WlRefinement.relabel(sym(Seq((1L, 2L), (2L, 3L), (3L, 4L))),
        Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("node", "lbl"), 2)
    },
    query("q310_apriori_triples"),
    query("q133_ivf_probe_sweep"),
    query("q252_newsvendor_quantiles")
  )

  cases.foreach { case (name, op) => test(name)(parity(name)(op)) }

  test("a cut delivers its frame's observe() metrics in both modes") {
    // Fixpoint.observedCut reads its metric off the cut job; the
    // recomputation it falls back to must not be what answers here
    def observedCount(df: DataFrame): Long = {
      val obs = Observation()
      val cut = Frames.cut(df.observe(obs, count(lit(1)).as("n")))
      val n = Fixpoint.delivered(obs).getOrElse(
        fail("the observed metric never arrived from the cut job")).getLong(0)
      assert(cut.count() === n)
      val (driverCut, driverN) =
        new Fixpoint(spark).observedCut(df, count(lit(1)))
      assert(driverN === n)
      assert(driverCut.count() === n)
      n
    }
    def bothCases(): Unit = {
      val df = spark.range(0, 1000).toDF("id")
      assert(observedCount(df.filter(col("id") % 3 === 0)) === 334L)
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try assert(observedCount(df.filter(col("id") < 0)) === 0L)
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
    bothCases()
    TestSpark.withCheckpointDir { dir =>
      bothCases()
      assert(wroteReliable(dir))
    }
  }

  private val MmrCase = "Mmr.select"
  private val MmrPicks = 3

  /** One call of every loop operator, mostly on chain-shaped inputs:
    * every round cuts and supersedes the previous round's cut. Each
    * case carries the row count of its result. */
  private lazy val loopCases: Seq[(String, Long, () => DataFrame)] = {
    val chain = (0L until 11L).map(i => (i, i + 1))
    val nodes = (0L to 11L).toDF("id")
    val weighted = chain.map { case (a, b) => (a, b, 10L + a) }
      .toDF("src", "dst", "w")
    Seq(
      // a 200-edge chain: ~8 propagation rounds, one component of 201
      ("ConnectedComponents.labels", 201L, () =>
        ConnectedComponents.labels(
          sym((0L until 200L).map(i => (i, i + 1))), (0L to 200L).toDF("id"))),
      // 60 hops: one level per hop, then one empty level at exhaustion
      ("Bfs.distances", 61L, () =>
        Bfs.distances((0L until 60L).map(i => (i, i + 1)).toDF("src", "dst"),
          Seq(0L).toDF("seed"), maxHops = 100)),
      ("Sssp.distances", 12L, () =>
        Sssp.distances(weighted, Seq(0L).toDF("seed"), 100)),
      // a tail peeled one node per round onto the triangle 9-10-11,
      // whose 3 edges are the 2-core (6 rows, symmetric)
      ("KCore.coreEdges", 6L, () =>
        KCore.coreEdges(sym(chain :+ ((9L, 11L))), k = 2)),
      ("LabelPropagation.communities", 12L, () =>
        LabelPropagation.communities(chain.toDF("src", "dst"), nodes)),
      // every (u, v) with u < v on the 12-node chain
      ("Closure.transitiveClosure", 66L, () =>
        Closure.transitiveClosure(chain.toDF("src", "dst"))),
      ("Closure.dagLayers", 12L, () =>
        Closure.dagLayers(chain.toDF("src", "dst"), nodes)),
      // ascending weights: one dominant edge per round, (10,11) down
      // to (0,1)
      ("Matching.matching", 6L, () => Matching.matching(weighted)),
      ("Mst.forest", 11L, () => Mst.forest(weighted)),
      ("Hits.scoresFp", 12L, () =>
        Hits.scoresFp(chain.toDF("src", "dst"), nodes, iterations = 3)),
      // a falling series pools a little more every round
      ("Isotonic.fit", 12L, () =>
        Isotonic.fit((0L until 12L).map(x => ("a", x, 100L - x * x))
          .toDF("k", "x", "y"), "k", "x", "y")),
      // nodes 1..10 lie inside a shortest path from seed 0 or seed 5
      ("Betweenness.dependencies", 10L, () =>
        Betweenness.dependencies(sym(chain), Seq(0L, 5L).toDF("id"), 11)),
      ("StableMatching.matching", 4L, { () =>
        val prefs = for (p <- 0L until 4L; a <- 100L until 104L)
          yield (p, a, (p * 3 + a) % 4 + 1, (a * 5 + p) % 4 + 1)
        StableMatching.matching(prefs.toDF("p", "a", "rp", "ra"),
          compactEvery = 1, compactMinRows = 0L)
      }),
      // k = 3 picks for group 1, group 2 exhausts after its 2
      (MmrCase, 5L, { () =>
        val cand = Seq((1L, 10L, 900L), (1L, 11L, 880L), (1L, 12L, 500L),
          (2L, 20L, 700L), (2L, 21L, 650L)).toDF("q_id", "vec_id", "rel_fp")
        val pairs = Seq((1L, 10L, 11L, 870L), (1L, 11L, 10L, 870L),
            (1L, 10L, 12L, 100L), (1L, 12L, 10L, 100L),
            (1L, 11L, 12L, 120L), (1L, 12L, 11L, 120L),
            (2L, 20L, 21L, 300L), (2L, 21L, 20L, 300L))
          .toDF("q_id", "a", "b", "sim_fp")
        Mmr.select(cand, pairs, MmrPicks)
      }))
  }

  private def leafRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  test("loops delete the reliable cuts they supersede") {
    import scala.jdk.CollectionConverters._
    def rddDirs(dir: java.nio.file.Path): Int =
      java.nio.file.Files.walk(dir).iterator().asScala
        .count(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
    val leaks = loopCases.flatMap { case (name, rows, op) =>
      TestSpark.withCheckpointDir { dir =>
        val out = op()
        assert(out.count() === rows, name)
        val leaves = leafRdds(out).flatMap(_.getCheckpointFile).distinct.size
        // Mmr's result is the union of its picks' cuts: one leaf per
        // pick round, and none for the empty seed or the input cuts
        if (name == MmrCase) assert(leaves === MmrPicks, name)
        val dirs = rddDirs(dir)
        if (dirs <= leaves) None
        else Some(s"$name left $dirs rdd dirs for $leaves checkpointed " +
          "leaves of its result")
      }
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  test("loops free the local cuts they supersede") {
    // every RDD a call leaves persisted must be a cut its result reads:
    // superseded local cuts and the loops' own persists are all freed
    val sc = spark.sparkContext
    val leaks = loopCases.flatMap { case (name, rows, op) =>
      val before = sc.getPersistentRDDs.keySet
      val out = op()
      assert(out.count() === rows, name)
      val left = sc.getPersistentRDDs.keySet -- before --
        leafRdds(out).map(_.id)
      if (left.isEmpty) None
      else Some(s"$name left ${left.size} persisted RDDs its result " +
        "does not read")
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
