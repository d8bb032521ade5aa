package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Ensemble

/** T13 — the ensemble sampler recovers injected box-transit parameters
  * (the reference's 100×100-walker fit volume, main.py:12131–12133,
  * on a collected fit window). Driver-side only: no Spark needed. */
class EnsembleSpec extends AnyFunSuite {

  test("sampleQ (cross-engine-exact path) recovers an injected box at t13 volume") {
    val nb = 200; val period = 7.0
    val t = Array.tabulate(nb)(b => (b + 0.5) * period / nb)
    val trueDepth = 0.03
    val box = Ensemble.boxModel(t, 0.0, period, 1.0, trueDepth)
    // deterministic integer-hash noise, the t13 fixture's scale
    val y = Array.tabulate(nb)(i =>
      box(i) + ((Ensemble.draw(99L, i) + 1).toDouble / 2147483649.0 - 0.5) * 0.0008)
    val yq = y.map(v => graft.expr.VecExprs.roundHalfAway(v * 1e9))
    val guess = Ensemble.boxGuessQ(t, yq, period, 1.0)
    val llq = Ensemble.boxLlq(t, y, scale = 3.125e12, period = period) _
    val (samples, acc) = Ensemble.sampleQ(llq,
      lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0),
      nWalkers = 100, nSteps = 100, burnFrac = 0.3, seed = 42L,
      init = guess, ballFrac = 0.005)
    assert(acc > 0.1 && acc < 0.9, s"acceptance $acc unhealthy")
    val pct = Ensemble.percentiles(samples)
    assert(math.abs(pct(0)(1) - trueDepth) < 0.003, s"depth ${pct(0)(1)}")
    assert(math.abs(pct(1)(1)) < 0.2, s"epoch ${pct(1)(1)}")
    assert(math.abs(pct(2)(1) - 1.0) < 0.3, s"dur ${pct(2)(1)}")
    // bit-reproducible: the exactness contract, not just statistics
    val (s2, acc2) = Ensemble.sampleQ(llq,
      lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0),
      nWalkers = 100, nSteps = 100, burnFrac = 0.3, seed = 42L,
      init = guess, ballFrac = 0.005)
    assert(acc == acc2)
    assert(samples.length == 7000 && samples.zip(s2).forall {
      case (a, b) => a.sameElements(b) })
  }

  /** Walker-ball center for a box fit on a phase-binned curve: slide a
    * `durGuess`-wide CIRCULAR window over the bins (a mini-BLS) and
    * take the deepest window's center as the epoch and its deficit
    * below the global mean as the depth — robust where the single
    * deepest bin sits on a transit edge (which strands the ball in a
    * no-overlap local optimum). Deterministic: first index wins ties.
    * Returns Array(depth0, epoch0 ∈ [−P/2, P/2), durGuess). */
  private def boxGuess(t: Array[Double], y: Array[Double],
                       period: Double, durGuess: Double): Array[Double] = {
    val nb = y.length
    val h = math.max(1, math.rint(nb * durGuess / period).toInt / 2)
    def winMean(c: Int): Double = {
      var s = 0.0; var k = -h
      while (k <= h) { s += y(((c + k) % nb + nb) % nb); k += 1 }
      s / (2 * h + 1)
    }
    val best = (0 until nb).minBy(winMean)
    val eRaw = t(best)
    val epoch0 = if (eRaw >= period / 2) eRaw - period else eRaw
    Array(y.sum / nb - winMean(best), epoch0, durGuess)
  }

  test("boxGuessQ matches boxGuess semantics on integer-quantized flux") {
    val nb = 200; val period = 7.0
    val t = Array.tabulate(nb)(b => (b + 0.5) * period / nb)
    val box = Ensemble.boxModel(t, 0.5, period, 1.0, 0.02)
    val y = box.clone(); y(30) -= 0.004
    val g = boxGuess(t, y, period, 1.0)
    val yq = y.map(v => graft.expr.VecExprs.roundHalfAway(v * 1e9))
    val gq = Ensemble.boxGuessQ(t, yq, period, 1.0)
    // same window argmin (integer vs float sums agree off the
    // degenerate-tie case), same epoch; depth within the 1e-9 quantum
    assert(gq(1) == g(1), s"epoch ${gq(1)} vs ${g(1)}")
    assert(math.abs(gq(0) - g(0)) < 1e-7, s"depth ${gq(0)} vs ${g(0)}")
    assert(gq(2) == g(2))
  }

  test("indexed draws are uniform-ish and decorrelated across channels") {
    val n = 30000
    val us = Array.tabulate(n)(i => (Ensemble.draw(42L, i) + 1).toDouble / 2147483649.0)
    val mean = us.sum / n
    assert(math.abs(mean - 0.5) < 0.01, s"mean $mean")
    // adjacent-index correlation (the degenerate-LCG failure mode the
    // xorshift mixing rounds exist to kill)
    val c = (0 until n - 1).map(i => (us(i) - 0.5) * (us(i + 1) - 0.5)).sum / (n - 1)
    assert(math.abs(c) < 0.005, s"lag-1 covariance $c")
  }

  test("boxGuess centers the deepest circular window, not an edge bin") {
    val nb = 200; val period = 7.0
    val t = Array.tabulate(nb)(b => (b + 0.5) * period / nb)
    // dip straddling the fold boundary; deepest single bin forced onto
    // the dip EDGE by a noise spike there
    val box = Ensemble.boxModel(t, 0.0, period, 1.0, 0.02)
    val y = box.clone()
    y(nb - 15) -= 0.005 // spike near the trailing edge
    val yq = y.map(v => graft.expr.VecExprs.roundHalfAway(v * 1e9))
    val g = Ensemble.boxGuessQ(t, yq, period, 1.0)
    assert(math.abs(g(1)) < 0.3, s"epoch guess ${g(1)} should be ~0")
    assert(g(0) > 0.01 && g(0) < 0.03, s"depth guess ${g(0)}")
  }

  test("gpInnovSteady: truncated innovation filter tracks the exact Kalman GP likelihood") {
    // On a uniform grid, llq differences between two residual vectors
    // must match the EXACT sequential Kalman marginal likelihood
    // (Detrend.gpLogLik) up to the additive log-det constant and the
    // truncation/quantization tail — this pins the steady-state
    // + lag-truncation derivation against the recurrence it replaces.
    val nb = 200; val dt = 7.0 / 200
    val t = Array.tabulate(nb)(b => (b + 0.5) * dt)
    val sigma = 0.001; val rho = 0.15; val yerr = 4e-4
    val (cw, sInn) = graft.ops.Detrend.gpInnovSteady(sigma, rho, dt, yerr, 32)
    val cq = cw.map(c => graft.expr.VecExprs.roundHalfAway(c * 1e6))
    val scale = 1e6 / (2 * sInn)
    def mkR(seed: Int): Array[Double] = {
      val rng = new scala.util.Random(seed)
      // correlated-ish residuals at the fixture's magnitude
      val w = Array.fill(nb)(rng.nextGaussian() * 0.001)
      Array.tabulate(nb)(i => w(math.max(0, i - 1)) * 0.5 + w(i) * 0.5)
    }
    val ye = Array.fill(nb)(yerr)
    def llqOf(r: Array[Double]): Long = {
      // gpBoxLlq with a zero model: y = r, depth 0 box
      Ensemble.gpBoxLlq(t, r.map(_ + 1.0), cq, scale, 7.0)(Array(0.0, 0.0, 0.5))
    }
    val r1 = mkR(7); val r2 = mkR(8)
    val dLlq = (llqOf(r1) - llqOf(r2)).toDouble / 1e6 // nats
    val dExact = graft.ops.Detrend.gpLogLik(t, r1, ye, sigma, rho) -
      graft.ops.Detrend.gpLogLik(t, r2, ye, sigma, rho)
    // exact path carries the first bins' transient (non-steady gains)
    // and no truncation; agreement to ~1% of the difference magnitude
    assert(math.abs(dLlq - dExact) < 0.02 * math.abs(dExact) + 2.0,
      s"innovation-filter delta $dLlq vs exact Kalman delta $dExact")
  }

  test("t13c fixture-volume GP fit recovers the injection through the correlated wiggle") {
    // mirrors the declared query's construction driver-side (no Spark):
    // box + white LCG noise + the 8-bin moving-sum wiggle, then the
    // 50x60 sampleQ walk under the GP innovation likelihood
    val nb = 200
    val t = Array.tabulate(nb)(b => (b + 0.5) * 7.0 / 200)
    val y = Array.tabulate(nb) { b =>
      val box = Ensemble.boxModel(Array(t(b)), 0.0, 7.0, 1.0, 0.03)(0)
      val wigq = (0 until 8).map(k =>
        ((((b + 200 - k) % 200).toLong * 1103515245L + 54321L) % 2147483648L) % 1000L).sum
      box + (wigq - 4000L).toDouble * 1.25e-6
    }
    val (cw, sInn) = graft.ops.Detrend.gpInnovSteady(0.001, 0.15, 7.0 / 200, 4e-4, 32)
    val cq = cw.map(c => graft.expr.VecExprs.roundHalfAway(c * 1e6))
    val llq = Ensemble.gpBoxLlq(t, y, cq, 1e6 / (2 * sInn), 7.0) _
    val yq = y.map(v => graft.expr.VecExprs.roundHalfAway(v * 1e9))
    val guess = Ensemble.boxGuessQ(t, yq, 7.0, 1.0)
    val (samples, acc) = Ensemble.sampleQ(llq,
      lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0),
      nWalkers = 50, nSteps = 60, seed = 42L, init = guess, ballFrac = 0.005)
    val pct = Ensemble.percentiles(samples)
    assert(acc > 0.1 && acc < 0.9, s"acceptance $acc")
    assert(math.abs(pct(0)(1) - 0.03) < 0.006, s"depth p50 ${pct(0)(1)}")
    assert(math.abs(pct(1)(1)) < 0.1, s"epoch p50 ${pct(1)(1)}")
    assert(math.abs(pct(2)(1) - 1.0) < 0.15, s"dur p50 ${pct(2)(1)}")
  }

  test("r10: the declared exp reduction tracks libm exp to ~1e-4 relative on [0, 40]") {
    var x = 0.0
    while (x <= 40.0) {
      val got = graft.model.Flare.expNegCore(x)
      val want = math.exp(-x)
      val rel = math.abs(got - want) / want
      assert(rel < 1.5e-4, s"expNegCore($x) = $got vs $want (rel $rel)")
      x += 0.0137
    }
  }

  test("r10: nelderMeadQ climbs a smooth integer likelihood to its optimum deterministically") {
    // quadratic bowl with optimum at (0.3, -1.2, 5.0), integer llq
    def llq(p: Array[Double]): Long = {
      val d0 = p(0) - 0.3; val d1 = p(1) + 1.2; val d2 = p(2) - 5.0
      -graft.expr.VecExprs.roundHalfAway(
        (d0 * d0 + d1 * d1 * 0.1 + d2 * d2 * 0.01) * 1e12)
    }
    val (v1, l1) = Ensemble.nelderMeadQ(llq,
      lo = Array(0.0, -3.0, 0.0), hi = Array(1.0, 3.0, 10.0),
      init = Array(0.5, 0.0, 2.0), nIter = 200)
    assert(math.abs(v1(0) - 0.3) < 1e-4, s"x0 ${v1(0)}")
    assert(math.abs(v1(1) + 1.2) < 1e-3, s"x1 ${v1(1)}")
    assert(math.abs(v1(2) - 5.0) < 1e-2, s"x2 ${v1(2)}")
    // determinism: a second run is bit-identical
    val (v2, l2) = Ensemble.nelderMeadQ(llq,
      lo = Array(0.0, -3.0, 0.0), hi = Array(1.0, 3.0, 10.0),
      init = Array(0.5, 0.0, 2.0), nIter = 200)
    assert(l1 == l2 && v1.zip(v2).forall { case (a, b) =>
      java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b) })
  }

  /** A t13-volume box fit (the fixture of the sampleQ recovery test). */
  private def boxFit(seed: Long, llq: Array[Double] => Long) =
    Ensemble.sampleQ(llq, lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0),
      nWalkers = 50, nSteps = 60, seed = seed, init = Array(0.03, 0.0, 1.0))
  private lazy val boxLlq = {
    val nb = 200; val period = 7.0
    val t = Array.tabulate(nb)(b => (b + 0.5) * period / nb)
    val box = Ensemble.boxModel(t, 0.0, period, 1.0, 0.03)
    val y = Array.tabulate(nb)(i =>
      box(i) + ((Ensemble.draw(99L, i) + 1).toDouble / 2147483649.0 - 0.5) * 0.0008)
    Ensemble.boxLlq(t, y, scale = 3.125e12, period = period) _
  }

  test("sampleQ from 4 threads at once (the fitPerKey shape) equals a single call") {
    val seeds = Seq(42L, 43L, 44L, 45L)
    val single = seeds.map(s => boxFit(s, boxLlq))
    val ex = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val concurrent = seeds.map(s => ex.submit(() => boxFit(s, boxLlq))).map(_.get())
      single.zip(concurrent).foreach { case ((s1, a1), (s2, a2)) =>
        assert(a1 == a2)
        assert(s1.length == s2.length && s1.zip(s2).forall { case (x, y) =>
          x.map(java.lang.Double.doubleToLongBits).sameElements(
            y.map(java.lang.Double.doubleToLongBits)) })
      }
    } finally ex.shutdown()
  }

  test("a throwing llq surfaces its own exception type and message") {
    val calls = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[IllegalArgumentException](boxFit(42L, p => {
      require(calls.incrementAndGet() < 120, s"llq gave up at depth ${p(0)}")
      boxLlq(p)
    }))
    assert(e.getMessage.startsWith("requirement failed: llq gave up at depth"))
  }

  test("the walker pool runs on at most Session.cpus daemon threads") {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    boxFit(42L, p => { seen.add(Thread.currentThread()); boxLlq(p) })
    assert(!seen.isEmpty && !seen.contains(Thread.currentThread()))
    seen.forEach(t => assert(t.isDaemon, s"${t.getName} is not a daemon thread"))
    assert(seen.size <= graft.core.Session.cpus)
  }
}
