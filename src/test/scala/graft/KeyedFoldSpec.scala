package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Encoder, SparkSession}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** The property every [[graft.streaming.KeyedFold]] operator relies on:
  * its state must not depend on how the stream is cut into micro-batches
  * — the mergeability of streaming sketches. For random events over at
  * most 3 keys, sorted by the fold's order and cut at random points into
  * 1–6 contiguous batches, folding the batches in sequence must end in
  * the same per-key state as folding all events as one batch (arrays by
  * content, doubles bit-exact: the operation order is identical). The
  * per-event emitters must also emit the same rows in the same order. A
  * fold whose state is the mean of its last batch must fail the same
  * property, and three folds run through Spark must match the pure
  * driver twice from fresh checkpoints. */
class KeyedFoldSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  /** The reference driver: per batch and key, sort the key's events,
    * step from its stored state (or zero) and keep what it emits. Ends
    * with each key's state and its outputs in emission order. */
  private def drive[E, K, S, O](f: KeyedFold[E, K, S, O],
      batches: Seq[Seq[E]]): Map[K, (S, Vector[O])] =
    batches.foldLeft(Map.empty[K, (S, Vector[O])]) { (acc, batch) =>
      batch.groupBy(f.key).foldLeft(acc) { case (acc, (k, evs)) =>
        val (st, out) = acc.getOrElse(k, (f.zero, Vector.empty[O]))
        val (next, emitted) = f.step(k, st, evs.sorted(f.order))
        acc.updated(k, (next, out ++ emitted))
      }
    }

  /** Structural form for comparison: arrays by content, doubles by bits. */
  private def canon(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case a: Array[_] => a.toSeq.map(canon)
    case m: Map[_, _] => m.map { case (k, x) => canon(k) -> canon(x) }
    case s: Iterable[_] => s.map(canon).toList
    case p: Product => p.productPrefix -> p.productIterator.map(canon).toList
    case x => x
  }

  private final case class Case[E, K, S, O](name: String,
      fold: KeyedFold[E, K, S, O], event: Gen[Long => E],
      perEvent: Boolean = false)

  /** Events sorted by the fold's order, and the same events cut into
    * 1–6 contiguous batches. */
  private def splitEvents[E](c: Case[E, _, _, _]): Gen[(Seq[E], Seq[Seq[E]])] =
    for {
      mk <- Gen.listOf(c.event)
      evs = mk.zipWithIndex.map { case (f, i) => f(i.toLong) }
        .sorted(c.fold.order)
      n <- Gen.choose(1, 6)
      cuts <- Gen.listOfN(n - 1, Gen.choose(0, evs.length))
    } yield {
      val bounds = 0 +: cuts.sorted :+ evs.length
      (evs, bounds.zip(bounds.tail).map { case (a, b) => evs.slice(a, b) })
    }

  private def splitInvariant[E, K, S, O](c: Case[E, K, S, O]): Prop =
    Prop.forAllNoShrink(splitEvents(c)) { case (evs, batches) =>
      val whole = drive(c.fold, Seq(evs))
      val cut = drive(c.fold, batches)
      canon(whole.map { case (k, (s, _)) => k -> s }) ==
        canon(cut.map { case (k, (s, _)) => k -> s }) &&
        (!c.perEvent || canon(whole.map { case (k, (_, o)) => k -> o }) ==
          canon(cut.map { case (k, (_, o)) => k -> o }))
    }

  private val params = Test.Parameters.default
    .withMinSuccessfulTests(100).withMaxSize(40)

  private val key = Gen.oneOf("a", "b", "c")
  private val ts = Gen.choose(0L, 8L)
  private val texts = Seq("alpha beta gamma", "delta epsilon zeta", "eta theta")

  private val ewma = Case("StreamingEwma", StreamingEwma.fold(0.5, 3.0, 2L),
    for (k <- key; t <- ts; v <- Gen.choose(-1e3, 1e3))
      yield (id: Long) => StreamingEwma.ValueEvent(id, t, k, v))
  private val hll = Case("StreamingHll", StreamingHll.fold,
    for (k <- key; v <- Gen.choose(0, 60))
      yield (_: Long) => StreamingHll.KeyedValue(k, s"v$v"))
  private val exact = Case("StreamingDedup.exactVerdicts",
    StreamingDedup.exactFold,
    for (text <- Gen.oneOf(texts); d <- Gen.choose(0L, 30L))
      yield (_: Long) => StreamingDedup.DocEvent(d, text),
    perEvent = true)

  private val cases: Seq[Case[_, _, _, _]] = Seq(ewma,
    Case("StreamingFreshness", StreamingFreshness.fold(500L),
      for (k <- key; a <- Gen.choose(0L, 2000L); lag <- Gen.choose(-50L, 900L))
        yield (id: Long) => StreamingFreshness.TimedEvent(id, k, a - lag, a)),
    Case("StreamingPageHinkley", StreamingPageHinkley.fold(100L),
      for (k <- key; t <- ts; c <- Gen.choose(-200000L, 200000L))
        yield (id: Long) => StreamingPageHinkley.CentsEvent(id, t, k, c)),
    Case("StreamingAnomaly", StreamingAnomaly.fold(1.0, 3L),
      for (k <- key; t <- ts; v <- Gen.choose(-100.0, 100.0))
        yield (id: Long) =>
          StreamingAnomaly.ValueEvent(id, k, new Timestamp(t * 1000L), v),
      perEvent = true),
    Case("StreamingDrift", StreamingDrift.fold(Array(1.0, 0.0, 0.0), 0.8, 2L),
      for (k <- key; v <- Gen.listOfN(3, Gen.choose(-10.0, 10.0)))
        yield (id: Long) => StreamingDrift.VecEvent(id, k, v.toArray)),
    Case("StreamingPsi",
      StreamingPsi.fold(Array(0.25, 0.25, 0.25, 0.25), 0.2, 2L),
      for (k <- key; c <- Gen.choose(0L, 25000L))
        yield (id: Long) => StreamingPsi.ValueEvent(id, k, c)),
    Case("StreamingQuantile", StreamingQuantile.fold(0.9),
      for (k <- key; t <- ts; v <- Gen.choose(0.0, 1000.0))
        yield (id: Long) => StreamingQuantile.ValueEvent(id, t, k, v)),
    Case("StreamingHeavyHitters", StreamingHeavyHitters.fold(3, 2),
      for (k <- key; it <- Gen.oneOf("p", "q", "r", "s", "t"))
        yield (id: Long) => StreamingHeavyHitters.Item(id, k, it)),
    hll,
    Case("StreamingKmv", StreamingKmv.fold,
      for (k <- key; t <- ts; it <- Gen.choose(0L, 80L))
        yield (id: Long) => StreamingKmv.IdEvent(id, t, k, it)),
    Case("StreamingAmsF2", StreamingAmsF2.fold,
      for (k <- key; t <- ts; it <- Gen.choose(0L, 20L))
        yield (id: Long) => StreamingAmsF2.IdEvent(id, t, k, it)),
    exact,
    Case("StreamingDedup.candidatePairs", StreamingDedup.bucketFold(3),
      for ((band, mh) <- Gen.oneOf((0, 7L), (1, 7L), (1, 9L));
           d <- Gen.choose(0L, 12L))
        yield (_: Long) => StreamingDedup.BucketEvent(band, mh, d),
      perEvent = true))

  cases.foreach { c =>
    test(s"${c.name}: the fold's state does not depend on the batch split") {
      val r = Test.check(params, splitInvariant(c))
      assert(r.passed, s"${c.name}: ${r.status}")
    }
  }

  test("a split-sensitive fold (state = mean of the last batch) fails the property") {
    val lastMean = KeyedFold[(String, Double), String, Double, Double](
      _._1, Ordering.by(_._2), 0.0,
      (_, _, batch) => (batch.map(_._2).sum / batch.size, Iterator.empty))
    val control = Case("last-batch mean", lastMean,
      for (k <- key; v <- Gen.choose(0.0, 100.0)) yield (_: Long) => (k, v))
    val r = Test.check(params, splitInvariant(control))
    assert(!r.passed && r.status.isInstanceOf[Test.Failed], s"${r.status}")
  }

  /** One seeded random split into at least two non-empty batches, each
    * shuffled (`run` must sort it), through `MemoryStream` → `run`, twice
    * from fresh checkpoints: both runs and the pure driver emit the same
    * rows (compared as multisets; Spark does not order rows across keys). */
  private def sparkMatchesDriver[E: Encoder, K: Encoder, S: Encoder,
      O: Encoder](c: Case[E, K, S, O]): Unit = {
    val (_, batches) = splitEvents(c)
      .suchThat(_._2.count(_.nonEmpty) >= 2)
      .pureApply(Gen.Parameters.default.withSize(40), Seed(20261019L))
    def counts(rows: Seq[O]) = rows.groupBy(canon).map { case (r, g) =>
      r -> g.size }
    val want = counts(drive(c.fold, batches).values.flatMap(_._2).toSeq)
    val rng = new scala.util.Random(7L)
    val shuffled = batches.map(rng.shuffle(_))
    val first = StreamDriver.run(shuffled)(c.fold.run(_))
    val second = StreamDriver.run(shuffled)(c.fold.run(_))
    assert(counts(first.toSeq) === counts(second.toSeq),
      s"${c.name}: a replay from a fresh checkpoint emitted different rows")
    assert(counts(first.toSeq) === want,
      s"${c.name}: Spark's rows differ from the pure driver's")
  }

  test("Spark wiring: StreamingEwma, StreamingHll and exact dedup match the pure driver") {
    sparkMatchesDriver(ewma)
    sparkMatchesDriver(hll)
    sparkMatchesDriver(exact)
  }
}
