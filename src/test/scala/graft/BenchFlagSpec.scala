package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Bench.adjudicate]]'s acceptance constants (r12 VERDICT
  * residual nit: the 1.5× steal threshold and the loadavg rule were
  * shipped unvalidated). The measured calibration points become
  * executable: the clean-run envelope must stay canonical, each
  * measured contamination regime must flag, and the two rules must be
  * independent (either alone flips the verdict).
  *
  * The last two cases run a live [[Bench.Sentinel]] window: the load
  * rule reads the cores OTHER processes keep busy, so external busy
  * loops flag a window and the same load on this JVM's own threads does
  * not.
  */
class BenchFlagSpec extends AnyFunSuite {
  private val cleanLoads = Seq("a" -> 2.2, "b" -> 7.0, "c" -> 8.6)
  private val threshold = 16.0 // cores/2 at local[32], the default

  test("clean-run envelope is canonical (measured spread <=1.11x, loadavg 2.2-8.6)") {
    // the probe's measured CLEAN spread across a full run was <=1.11x;
    // the clean loadavg envelope spans both recorded canonical runs
    val samples = Seq("a" -> 0.40, "b" -> 0.42, "c" -> 0.444)
    val (med, steal, load, verdict) =
      Bench.adjudicate(samples, cleanLoads, threshold)
    assert(med === 0.42)
    assert(steal.isEmpty && load.isEmpty && verdict === "canonical")
  }

  test("measured steal regime flags: 64 background hogs pushed a window to 1.84x") {
    val samples = Seq("a" -> 0.40, "b" -> 0.42, "hog" -> 0.42 * 1.84)
    val (_, steal, _, verdict) =
      Bench.adjudicate(samples, cleanLoads, threshold)
    assert(steal === Seq("hog"))
    assert(verdict === "contended")
  }

  test("steal threshold sits between the clean and loaded regimes") {
    // 1.11x clean worst-case must NOT flag; 1.84x loaded must
    val clean = Seq("a" -> 1.0, "b" -> 1.0, "c" -> 1.11)
    assert(Bench.adjudicate(clean, cleanLoads, threshold)._4 === "canonical")
    val loaded = Seq("a" -> 1.0, "b" -> 1.0, "c" -> 1.84)
    assert(Bench.adjudicate(loaded, cleanLoads, threshold)._4 === "contended")
  }

  test("loadavg rule flags independently of a stable sentinel (the r12 blind spot)") {
    // the measured contamination demo: sentinel spread ~1.13x (stable),
    // loadavg 21.3-24.8 — only the loadavg rule can catch it
    val samples = Seq("a" -> 0.539, "b" -> 0.543, "c" -> 0.609)
    val loads = Seq("a" -> 24.8, "b" -> 21.3, "c" -> 23.1)
    val (_, steal, load, verdict) = Bench.adjudicate(samples, loads, 16.0)
    assert(steal.isEmpty, "single-thread probe must stay blind here")
    assert(load === Seq("a", "b", "c"))
    assert(verdict === "contended")
  }

  test("loadavg threshold sits between the bench's own load and a competitor's") {
    // bench's own worst measured between-pass loadavg: 8.6 — canonical;
    // one 32-thread competitor adds tens — contended
    assert(Bench.adjudicate(Seq("a" -> 0.4), Seq("a" -> 8.6), 16.0)._4
      === "canonical")
    assert(Bench.adjudicate(Seq("a" -> 0.4), Seq("a" -> 17.0), 16.0)._4
      === "contended")
  }

  test("empty sample set degrades to median -1 and canonical") {
    val (med, steal, load, verdict) =
      Bench.adjudicate(Seq.empty, Seq.empty, 16.0)
    assert(med === -1.0 && steal.isEmpty && load.isEmpty)
    assert(verdict === "canonical")
  }

  private val cores = Runtime.getRuntime.availableProcessors

  /** One live sentinel window while `load` runs; the load-flagged tags. */
  private def flaggedUnder(load: => (() => Unit)): (Seq[String], Double) = {
    val sentinel = new Bench.Sentinel("bench-flag-spec")
    val stop = load
    try {
      Thread.sleep(300)
      sentinel.window("w")
    } finally stop()
    val (_, _, flagged, _) = Bench.adjudicate(sentinel.samples.toSeq,
      sentinel.foreign.toSeq, cores / 2.0)
    (flagged, sentinel.foreign.head._2)
  }

  test("cores external busy loops flag the window by the load rule") {
    val (flagged, foreign) = flaggedUnder {
      val hogs = (1 to cores).map(_ => new ProcessBuilder("timeout", "10",
        "sh", "-c", "while :; do :; done").start())
      () => hogs.foreach { p =>
        p.descendants().forEach(c => { c.destroy(); () })
        p.destroy()
        p.waitFor(5, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
    assert(flagged === Seq("w"), s"foreign cores $foreign of $cores")
  }

  test("cores busy threads inside this JVM do not flag the window") {
    val (flagged, foreign) = flaggedUnder {
      @volatile var running = true
      val threads = (1 to cores).map { _ =>
        val t = new Thread(() => {
          var h = 1L
          while (running) h = java.lang.Long.rotateLeft(h * 31L + 7L, 13)
          if (h == 42L) println(h)
        })
        t.setDaemon(true)
        t.start()
        t
      }
      () => { running = false; threads.foreach(_.join()) }
    }
    assert(flagged.isEmpty, s"foreign cores $foreign of $cores")
  }
}
