package graft

import graft.expr.VecExprs.roundHalfAway

/** t13m — the TTV FIT mode (PlanetarySystemWithTTVs with
  * typemodlttvr='indilineuser', ref main.py:12284–12316: one fit per
  * transit, numbiterfitt = numbtran at 12286–12290, that transit's
  * mid-time free). Pure-Scala fidelity tests over the t13m fixture
  * (the oracle gate covers the Spark/DuckDB plumbing; one test pins
  * the replica to the shipped query; the rest encode what the numbers
  * must MEAN):
  *
  *   - the injected sinusoid ttv_k = A·sin(2πk/5), A = 63 min, is
  *     recovered BOTH by the per-transit MCMC epoch fits and by the
  *     t21-style depth-weighted measurement on the same fixture, and
  *     the two agree;
  *   - the MCMC epoch posterior is bin-quantized (~20-min bins: the
  *     box model is evaluated at bin centers, so the likelihood is a
  *     step function of epoch) — tolerances encode that, while the
  *     continuous weighted measurement resolves ~1 min.
  */
class TtvFitSpec extends SparkSpec {

  val PDAY = 86400000000L; val P7 = 7L * PDAY; val HP = P7 / 2
  val Step = 604800000L; val N = 4500; val Nb = 500
  val AUs = 3780000000L // 63 min

  test("TtvInjUs literals are round(A sin(2 pi k/5))") {
    val expect = (1 to 4).map(k =>
      roundHalfAway(AUs * math.sin(2.0 * math.Pi * k / 5)))
    assert(graft.queries.Advanced.TtvInjUs == expect)
  }

  /** The fixture rows, closed form from i (t0 cancels):
    * (k, off µs, fc µflux). */
  lazy val rows: Seq[(Int, Long, Long)] = (0 until N).flatMap { i =>
    val tl = i.toLong * Step
    val k = ((tl + HP) / P7).toInt
    if (k < 1 || k > 4) None
    else {
      val off = tl - k * P7
      val r = (i % 65536L * 1103515245L + 12345L) % 2147483648L
      val noise = (r.toDouble / 2147483648.0 - 0.5) * 0.004
      val dip =
        if (math.abs(off - graft.queries.Advanced.TtvInjUs(k - 1)) < PDAY / 2)
          0.03 else 0.0
      Some((k, off, roundHalfAway((1.0 - dip + noise) * 1e6)))
    }
  }

  /** t21's measurement on this fixture: baseline mean from samples
    * outside a ±0.55 d window, clamped weights w = max(bm − fc, 0)
    * inside it, center = Σw·off / Σw. */
  lazy val measuredOcMin: Map[Int, Double] = {
    val W = 47520000000L // 0.55 d — covers the dip at every injected shift
    val out = rows.filter { case (_, off, _) => math.abs(off) >= W }
    val bm = out.map(_._3).sum / out.size // integer floor mean, as t21
    (1 to 4).map { k =>
      val in = rows.filter { case (kk, off, _) => kk == k && math.abs(off) < W }
      val w = in.map { case (_, off, fc) => (math.max(bm - fc, 0L), off) }
      val sw = w.map(_._1).sum
      val swt = w.map { case (wi, off) => wi * off }.sum
      k -> swt.toDouble / sw / 6e7
    }.toMap
  }

  test("depth-weighted measured O-C recovers the injected sinusoid") {
    // tolerance 5 min (8% of the 63-min amplitude): the weights are
    // bm − fc, so the fixture's LCG noise ANTI-correlates with weight
    // and the center picks up sum(noise·off)/sum(w) ≈ ±3 min of
    // deterministic sampling covariance (k=2 measures +3.2)
    for (k <- 1 to 4) {
      val inj = graft.queries.Advanced.TtvInjUs(k - 1).toDouble / 6e7
      info(f"k=$k inj=$inj%8.2f min  measured=${measuredOcMin(k)}%8.2f min")
      assert(math.abs(measuredOcMin(k) - inj) < 5.0,
        s"k=$k measured ${measuredOcMin(k)} vs injected $inj")
    }
  }

  /** The declared query's per-transit fit, replicated driver-side. */
  lazy val fittedOcMin: Map[Int, Double] = (1 to 4).map { k =>
    val binned = rows.filter(_._1 == k)
      .groupBy { case (_, off, _) => ((off + P7 + P7 / 4) % P7) * Nb / P7 }
      .toSeq.sortBy(_._1)
    val t = binned.map { case (b, _) => (b.toDouble + 0.5) * 7.0 / Nb }.toArray
    val y = binned.map { case (_, rs) =>
      rs.map(_._3).sum.toDouble / rs.size / 1e6 }.toArray
    val llq = graft.model.Ensemble.boxLlq(t, y, scale = 7.5e11, period = 7.0) _
    val yq = y.map(v => roundHalfAway(v * 1e9))
    val guess = graft.model.Ensemble.boxGuessQ(t, yq, 7.0, 1.0)
    val (samples, acc) = graft.model.Ensemble.sampleQ(llq,
      lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0),
      nWalkers = 100, nSteps = 100, burnFrac = 0.3, seed = 42L + k,
      init = guess, ballFrac = 0.005)
    assert(acc > 0.1 && acc < 0.9, s"k=$k acceptance $acc out of band")
    val pct = graft.model.Ensemble.percentiles(samples)
    k -> (pct(1)(1) - 1.75) * 1440.0
  }.toMap

  test("per-transit MCMC epoch fits recover the injection within a bin") {
    val binMin = 7.0 * 1440 / Nb // 20.16
    for (k <- 1 to 4) {
      val inj = graft.queries.Advanced.TtvInjUs(k - 1).toDouble / 6e7
      info(f"k=$k inj=$inj%8.2f min  fitted=${fittedOcMin(k)}%8.2f min")
      assert(math.abs(fittedOcMin(k) - inj) < binMin,
        s"k=$k fitted ${fittedOcMin(k)} vs injected $inj")
    }
    // the sinusoid's shape: positive half then negative half
    assert(fittedOcMin(1) > fittedOcMin(2) && fittedOcMin(2) > 0)
    assert(0 > fittedOcMin(3) && fittedOcMin(3) > fittedOcMin(4))
  }

  test("replicated fits equal the shipped t13m oc_min") {
    val rows = graft.queries.Advanced.queries("t13m_mcmc_ttv")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 4L))
    for (r <- rows) {
      val k = r.getLong(0).toInt
      assert(r.getAs[Double]("oc_min") == fittedOcMin(k), s"k=$k")
    }
  }

  test("fit and measurement agree on every transit") {
    val binMin = 7.0 * 1440 / Nb
    for (k <- 1 to 4)
      assert(math.abs(fittedOcMin(k) - measuredOcMin(k)) < binMin,
        s"k=$k fit ${fittedOcMin(k)} vs measured ${measuredOcMin(k)}")
  }
}
