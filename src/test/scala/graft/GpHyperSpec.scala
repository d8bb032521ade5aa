package graft

import org.apache.spark.sql.Row
import graft.model.{Ensemble, GpHyper}
import graft.expr.VecExprs.roundHalfAway

/** t13l — GP hyperparameters join the walk (ref main.py:320–322,
  * 4588–4594: sigmgprobase/rhoogprobase are sampled parameters; the
  * Matérn-3/2 kernel is rebuilt per likelihood call at 716/778).
  *
  * Fixture facts these tests encode (measured in r11):
  *   - a t13c-style single-round LCG draw over a counter is a Weyl
  *     sequence (lag-1 serial corr −0.29) — unusable as the MA input
  *     for a KNOWN-covariance injection; Ensemble.draw is white
  *     (corr1 = +0.08 over 200 draws);
  *   - the transit edges must land on BIN boundaries (half-dur = 15
  *     bins = 0.525 d): a partially-dipped edge bin leaves a ~4σ_wig
  *     one-bin residual spike that maximum-likelihood explains as
  *     ρ → 0 (measured: ML ρ collapsed to the 0.08 grid edge until
  *     aligned, then landed at 0.26 for injected 0.25).
  */
class GpHyperSpec extends SparkSpec {

  /** Injected truth: a correlated wiggle with KNOWN hyperparameters
    * DIFFERENT from t13c's fixed literals (σ=1e-3, ρ=0.15). */
  val SigInj = 2e-3
  val RhoInj = 0.25
  val InjLags = 64
  val DurInj = 1.05 // 30 bins — edges exactly on bin boundaries

  lazy val wq: Array[(Long, Long)] =
    GpHyper.injectionWeights(SigInj, RhoInj, InjLags)

  /** Pure-Scala replica of the t13l fixture (t13's grid + bin-aligned
    * box dip + LCG noise, binned, plus the MA-form Matérn wiggle) —
    * the Spark fixture's arithmetic bit-for-bit (t0 cancels out of t
    * and y). */
  lazy val fixture: (Array[Double], Array[Double]) = {
    val nb = 200
    val cnt = new Array[Long](nb); val sv = new Array[Long](nb)
    var i = 0L
    while (i < 4000) {
      val r = (i % 65536 * 1103515245L + 12345L) % 2147483648L
      val ph = (i * 648000000L) % 604800000000L
      val dip = if (ph < 45360000000L || ph > 559440000000L) 0.03 else 0.0
      val flux = 1.0 - dip + (r.toDouble / 2147483648.0 - 0.5) * 0.004
      val b = (ph * 200 / 604800000000L).toInt
      cnt(b) += 1; sv(b) += roundHalfAway(flux * 1e6)
      i += 1
    }
    val t = Array.tabulate(nb)(b => (b + 0.5) * 7.0 / 200)
    val y = Array.tabulate(nb)(b =>
      sv(b).toDouble / cnt(b) / 1e6 + GpHyper.wigQ(b, wq).toDouble * 1e-9)
    (t, y)
  }

  def joint(nSteps: Int): (Array[Array[Double]], Double) = {
    val (t, y) = fixture
    val llq = GpHyper.llq(t, y, 7.0) _
    val yq = y.map(v => roundHalfAway(v * 1e9))
    val g = Ensemble.boxGuessQ(t, yq, 7.0, DurInj)
    val guess = Array(g(0), g(1), g(2), 1.5e-3, 0.3)
    val (samples, acc) = Ensemble.sampleQ(llq,
      lo = Array(-0.2, -3.5, 0.2, 2e-4, 0.06),
      hi = Array(0.2, 3.5, 2.0, 6e-3, 1.2),
      nWalkers = 50, nSteps = nSteps, burnFrac = 0.3, seed = 42L,
      init = guess, ballFrac = 0.005)
    (Ensemble.percentiles(samples, Seq(0.16, 0.5, 0.84)), acc)
  }

  /** The t13c-style FIXED-hyperparameter GP fit on the SAME fixture:
    * lag weights frozen at the t13c literals (σ=1e-3, ρ=0.15) — the
    * wrong noise model for this data. 3-dim walk (depth, epoch, dur). */
  def fixedWrong(nSteps: Int): (Array[Array[Double]], Double) = {
    val (t, y) = fixture
    val (cw, sInn) = graft.ops.Detrend.gpInnovSteady(
      sigma = 0.001, rho = 0.15, dt = 7.0 / 200, yerr = 4e-4, nLags = 32)
    val cq = cw.map(c => roundHalfAway(c * 1e6))
    val llq = Ensemble.gpBoxLlq(t, y, cq, 1e6 / (2 * sInn), 7.0) _
    val yq = y.map(v => roundHalfAway(v * 1e9))
    val guess = Ensemble.boxGuessQ(t, yq, 7.0, DurInj)
    val (samples, acc) = Ensemble.sampleQ(llq,
      lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0),
      nWalkers = 50, nSteps = nSteps, burnFrac = 0.3, seed = 42L,
      init = guess, ballFrac = 0.005)
    (Ensemble.percentiles(samples, Seq(0.16, 0.5, 0.84)), acc)
  }

  test("joint walk recovers the injected GP hyperparameters") {
    val (pct, acc) = joint(150)
    info(f"acc=$acc%.3f")
    info(f"depth = ${pct(0)(0)}%.5f ${pct(0)(1)}%.5f ${pct(0)(2)}%.5f")
    info(f"epoch = ${pct(1)(0)}%.4f ${pct(1)(1)}%.4f ${pct(1)(2)}%.4f")
    info(f"dur   = ${pct(2)(0)}%.4f ${pct(2)(1)}%.4f ${pct(2)(2)}%.4f")
    info(f"sigma = ${pct(3)(0)}%.6f ${pct(3)(1)}%.6f ${pct(3)(2)}%.6f")
    info(f"rho   = ${pct(4)(0)}%.4f ${pct(4)(1)}%.4f ${pct(4)(2)}%.4f")
    assert(acc > 0.1 && acc < 0.9)
    // σ posterior covers the injected value; the t13c literal 1e-3
    // lies BELOW the interval (the data reject the fixed fit's σ)
    assert(pct(3)(0) < SigInj && SigInj < pct(3)(2))
    assert(1e-3 < pct(3)(0))
    // ρ posterior covers the injected correlation length and rejects
    // the t13c literal 0.15 from above... the interval is data-tight
    assert(pct(4)(0) < RhoInj && RhoInj < pct(4)(2))
    assert(0.15 < pct(4)(0))
    // the transit parameters stay centered under the joint fit
    assert(math.abs(pct(0)(1) - 0.03) < 0.01)
    assert(math.abs(pct(2)(1) - DurInj) < 0.1)
  }

  test("fixture replica and joint walk equal the shipped t13l rows") {
    val (pct, acc) = joint(150)
    val rows = graft.queries.Advanced.queries("t13l_mcmc_gphyper")(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val dims = Seq("depth" -> 0, "epoch" -> 1, "dur" -> 2, "sigma" -> 3, "rho" -> 4)
    assert(rows.keySet == dims.map(_._1).toSet + "acceptance")
    assert(rows("acceptance") == Seq(acc, acc, acc))
    for ((p, d) <- dims) assert(rows(p) == pct(d).toSeq, p)
  }

  test("fixed-wrong hyperparameters vs the joint fit") {
    val (pj, _) = joint(150)
    val (pf, accF) = fixedWrong(150)
    info(f"fixed acc=$accF%.3f depth = ${pf(0)(0)}%.5f ${pf(0)(1)}%.5f ${pf(0)(2)}%.5f")
    info(f"joint depth = ${pj(0)(0)}%.5f ${pj(0)(1)}%.5f ${pj(0)(2)}%.5f")
    val wF = pf(0)(2) - pf(0)(0)
    val wJ = pj(0)(2) - pj(0)(0)
    info(f"depth interval width fixed=$wF%.5f joint=$wJ%.5f")
    // The fixed fit assumes σ=1e-3, half the injected correlated
    // noise: it is OVERCONFIDENT about depth — its interval is
    // narrower than the joint fit's, which pays for the walked
    // hyperparameters with honest width.
    assert(wF < wJ)
  }

  test("weights chain SQL in Spark bit-equals the Scala mirror") {
    val grid = for {
      s <- Seq(2e-4, 7e-4, 1.5e-3, 3.3e-3, 6e-3)
      r <- Seq(0.06, 0.13, 0.25, 0.61, 1.2)
    } yield (s, r)
    val vals = grid.zipWithIndex
      .map { case ((s, r), i) =>
        s"($i, CAST($s AS DOUBLE), CAST($r AS DOUBLE))" }
      .mkString(", ")
    val inner = s"SELECT id, sg, rho FROM (VALUES $vals) AS t(id, sg, rho)"
    val sql = GpHyper.chainSql(inner, keep = Seq("id"))
    val rows = spark.sql(s"SELECT * FROM ($sql) q ORDER BY id").collect()
    assert(rows.length == grid.length)
    rows.foreach { row: Row =>
      val id = row.getInt(0)
      val (s, r) = grid(id)
      val (w, sInn) = GpHyper.weights(s, r)
      assert(java.lang.Double.doubleToLongBits(row.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(sInn),
        s"sinn mismatch at ($s, $r): ${row.getDouble(1)} vs $sInn")
      var l = 0
      while (l < GpHyper.NLags) {
        assert(java.lang.Double.doubleToLongBits(row.getDouble(2 + l)) ==
          java.lang.Double.doubleToLongBits(w(l)),
          s"w${l + 1} mismatch at ($s, $r): ${row.getDouble(2 + l)} vs ${w(l)}")
        l += 1
      }
    }
  }

  test("declared llq agrees with the exact Kalman likelihood at the grid ML") {
    val (t, _) = fixture
    val wig = (0 until 200).map(b => GpHyper.wigQ(b, wq).toDouble * 1e-9).toArray
    val yerr = Array.fill(200)(4e-4)
    var bq = (0.0, 0.0, Long.MinValue)
    var bx = (0.0, 0.0, Double.NegativeInfinity)
    for (si <- 8 to 35; ri <- 4 to 30) {
      val s = si * 1e-4; val r = ri * 0.02
      val vq = GpHyper.llq(t, wig.map(_ + 1.0), 7.0)(Array(0.0, 0.0, 1.0, s, r))
      if (vq > bq._3) bq = (s, r, vq)
      val vx = graft.ops.Detrend.gpLogLik(t, wig, yerr, s, r)
      if (vx > bx._3) bx = (s, r, vx)
    }
    info(s"declared-llq ML: sigma=${bq._1} rho=${bq._2}")
    info(s"exact-Kalman ML: sigma=${bx._1} rho=${bx._2}")
    // the declared (48-iter Riccati, 40-lag, steady-state) likelihood
    // ranks the hyperparameter grid like the exact Kalman filter
    assert(bq._1 == bx._1 && bq._2 == bx._2)
    // and the grid ML sits at the injected values (±1 grid step)
    assert(math.abs(bq._1 - SigInj) <= 3e-4)
    assert(math.abs(bq._2 - RhoInj) <= 0.08)
  }
}
