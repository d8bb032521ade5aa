package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** T3 `bdtr_tser` full modes (ref main.py:6653–6904): per gap-delimited
  * region, fit a smooth baseline and divide/subtract it out.
  *
  * - 'medi'  : rolling median (window/aggregation path, see TsOps /
  *             t3_detrend_median — stays in whole-stage codegen).
  * - 'Spline': least-squares cubic smoothing per region
  *             (LSQUnivariateSpline analog, knots every `timescale`
  *             days, main.py:6834–6891).
  * - 'GaussianProcess': Matérn-3/2 GP posterior mean via its exact
  *             state-space (Kalman) form — O(n) like celerite
  *             (main.py:6797–6833), no O(n³) dense solve.
  *
  * Regions are group-local and bounded (a few ×10⁴ rows — one TESS
  * sector), so the kernels run per-group inside `flatMapGroups`: the
  * shuffle key is (chunk, region), exactly the reference's per-region
  * loop made parallel.
  */
object Detrend {

  /** Least-squares cubic polynomial pieces per knot interval with
    * continuity at knots is overkill for a baseline; the reference's
    * default is a smoothing spline with knots every `timescale`. We fit
    * a cubic B-spline-like basis via ridge-regularized normal equations
    * on a truncated power basis — small dense system, one per region.
    *
    * ORACLE-REPRODUCIBLE arithmetic (the e3 k-means / t4b contract):
    * basis values and y are quantized at 1e6 (roundHalfAway == both
    * engines' SQL round), the normal equations accumulate as exact
    * integer sums — order-free across any partitioning — and the solve
    * is FIXED-ORDER Gauss–Jordan with no pivoting (A'A + ridge is
    * symmetric positive definite, so elimination in index order is
    * stable), making every coefficient a fixed IEEE operation sequence
    * a SQL oracle can restate term by term. Exactness contract:
    * |y| ≲ 100 and n ≲ 3·10⁴ per region keep the integer sums far from
    * Long overflow (normalized-flux regions are O(1)·10⁴). */
  def splineBaseline(t: Array[Double], y: Array[Double], timescale: Double): Array[Double] = {
    import graft.expr.VecExprs.roundHalfAway
    val n = t.length
    if (n < 8) return Array.fill(n)(mean(y))
    val t0 = t.head; val t1 = t.last
    val nKnots = math.max(1, math.min(20, ((t1 - t0) / timescale).toInt))
    val knots = Array.tabulate(nKnots)(i => t0 + (t1 - t0) * (i + 1) / (nKnots + 1.0))
    // basis: [1, t, t², t³, (t−k₁)³₊, …], quantized at 1e6
    val nb = 4 + nKnots
    val basisQ = (ti: Double) => {
      val b = new Array[Long](nb)
      val x = (ti - t0) / (t1 - t0)
      b(0) = 1000000L
      b(1) = roundHalfAway(x * 1e6)
      b(2) = roundHalfAway(x * x * 1e6)
      b(3) = roundHalfAway(x * x * x * 1e6)
      var k = 0
      while (k < nKnots) {
        val d = (ti - knots(k)) / (t1 - t0)
        b(4 + k) = if (d > 0) roundHalfAway(d * d * d * 1e6) else 0L
        k += 1
      }
      b
    }
    // normal equations A'A c = A'y as exact integer sums at 1e12
    val ata = Array.ofDim[Long](nb, nb)
    val aty = new Array[Long](nb)
    var i = 0
    while (i < n) {
      val b = basisQ(t(i))
      val yq = roundHalfAway(y(i) * 1e6)
      var r = 0
      while (r < nb) {
        aty(r) += b(r) * yq
        var c = 0
        while (c < nb) { ata(r)(c) += b(r) * b(c); c += 1 }
        r += 1
      }
      i += 1
    }
    val a = Array.tabulate(nb, nb)((r, c) =>
      ata(r)(c) / 1e12 + (if (r == c) 1e-9 else 0.0))
    val rhs = Array.tabulate(nb)(r => aty(r) / 1e12)
    val coef = solveGaussJordan(a, rhs)
    t.map { ti =>
      val b = basisQ(ti)
      var s = 0.0; var r = 0
      while (r < nb) { s += b(r) / 1e6 * coef(r); r += 1 }
      s
    }
  }

  /** Matérn-3/2 GP marginal log-likelihood of residuals `r` at times
    * `t` — the same exact state-space form as [[gpBaseline]], forward
    * pass only: the Kalman innovations give the marginal likelihood
    * Σ −½(ν²/S + log(2πS)) in O(n) (ref retr_llik_mile main.py:735–850,
    * GP-baseline branch; kernel main.py:6797–6833). Used as the T13
    * fit likelihood so correlated baseline wiggle is marginalized out
    * instead of absorbed into the transit depth. */
  def gpLogLik(t: Array[Double], r: Array[Double], yerr: Array[Double],
               sigma: Double, rho: Double): Double = {
    val n = t.length
    if (n == 0) return 0.0
    val lam = math.sqrt(3.0) / rho
    val s2 = sigma * sigma
    val p11 = s2; val p22 = s2 * lam * lam
    var m0 = 0.0; var m1 = 0.0
    var c00 = p11; var c01 = 0.0; var c11 = p22
    var ll = 0.0
    var i = 0
    while (i < n) {
      if (i > 0) {
        val dt = t(i) - t(i - 1)
        val e = math.exp(-lam * dt)
        val a00 = e * (1 + lam * dt); val a01 = e * dt
        val a10 = -e * lam * lam * dt; val a11 = e * (1 - lam * dt)
        val nm0 = a00 * m0 + a01 * m1
        val nm1 = a10 * m0 + a11 * m1
        val q00 = p11 - (a00 * (a00 * p11) + a01 * (a01 * p22))
        val q01 = -(a10 * (a00 * p11) + a11 * (a01 * p22))
        val q11 = p22 - (a10 * (a10 * p11) + a11 * (a11 * p22))
        val t00 = a00 * c00 + a01 * c01; val t01 = a00 * c01 + a01 * c11
        val t10 = a10 * c00 + a11 * c01; val t11 = a10 * c01 + a11 * c11
        c00 = t00 * a00 + t01 * a01 + q00
        c01 = t00 * a10 + t01 * a11 + q01
        c11 = t10 * a10 + t11 * a11 + q11
        m0 = nm0; m1 = nm1
      }
      val rv = yerr(i) * yerr(i)
      val sInn = c00 + rv
      val nu = r(i) - m0
      ll += -0.5 * (nu * nu / sInn + math.log(2.0 * math.Pi * sInn))
      val k0 = c00 / sInn; val k1 = c01 / sInn
      m0 += k0 * nu; m1 += k1 * nu
      val nc00 = (1 - k0) * c00
      val nc01 = (1 - k0) * c01
      val nc11 = c11 - k1 * c01
      c00 = nc00; c01 = nc01; c11 = nc11
      i += 1
    }
    ll
  }

  /** Steady-state innovation representation of [[gpLogLik]]'s
    * Matérn-3/2 Kalman filter on a REGULAR grid (constant dt): with a
    * constant transition the covariance recursion converges to the
    * Riccati fixpoint, where the gains K and innovation variance S
    * are CONSTANT and the innovation becomes a constant-coefficient
    * lag filter on the residuals:
    *   ν_i = r_i − Σ_{l≥1} c_l · r_{i−l},  c_l = e₀ᵀ A Ã^{l−1} K,
    *   Ã = (I − K e₀ᵀ) A,
    * with |eig(Ã)| < 1 so c_l decays geometrically — the celerite/
    * ARMA form of Matérn-3/2 on a uniform grid. Truncating at nLags
    * (the w8_ewma discipline: the dropped tail is below the weight
    * quantum) turns the GP marginal likelihood into an ORDER-FREE
    * integer-expressible sum both engines can evaluate identically —
    * what makes the t13c GP-likelihood MCMC walk SQL-replayable.
    * Returns (lag weights c_1..c_nLags, steady innovation variance S).
    */
  def gpInnovSteady(sigma: Double, rho: Double, dt: Double, yerr: Double,
                    nLags: Int): (Array[Double], Double) = {
    val lam = math.sqrt(3.0) / rho
    val s2 = sigma * sigma
    val p11 = s2; val p22 = s2 * lam * lam
    val e = math.exp(-lam * dt)
    val a00 = e * (1 + lam * dt); val a01 = e * dt
    val a10 = -e * lam * lam * dt; val a11 = e * (1 - lam * dt)
    val q00 = p11 - (a00 * (a00 * p11) + a01 * (a01 * p22))
    val q01 = -(a10 * (a00 * p11) + a11 * (a01 * p22))
    val q11 = p22 - (a10 * (a10 * p11) + a11 * (a11 * p22))
    val rv = yerr * yerr
    // predicted-covariance recursion to the fixpoint: geometric
    // convergence, fixed iteration count for determinism (the weights
    // ship as shared literals, so this runs driver-side only)
    var c00 = p11; var c01 = 0.0; var c11 = p22
    var it = 0
    while (it < 512) {
      val sInn = c00 + rv
      val k0 = c00 / sInn; val k1 = c01 / sInn
      val pc00 = (1 - k0) * c00; val pc01 = (1 - k0) * c01
      val pc11 = c11 - k1 * c01
      val t00 = a00 * pc00 + a01 * pc01; val t01 = a00 * pc01 + a01 * pc11
      val t10 = a10 * pc00 + a11 * pc01; val t11 = a10 * pc01 + a11 * pc11
      c00 = t00 * a00 + t01 * a01 + q00
      c01 = t00 * a10 + t01 * a11 + q01
      c11 = t10 * a10 + t11 * a11 + q11
      it += 1
    }
    val sInn = c00 + rv
    val k0 = c00 / sInn; val k1 = c01 / sInn
    val at00 = (1 - k0) * a00; val at01 = (1 - k0) * a01
    val at10 = a10 - k1 * a00; val at11 = a11 - k1 * a01
    var v0 = k0; var v1 = k1 // v_1 = K
    val out = new Array[Double](nLags)
    var l = 0
    while (l < nLags) {
      out(l) = a00 * v0 + a01 * v1 // e₀ᵀ A v_l
      val nv0 = at00 * v0 + at01 * v1; val nv1 = at10 * v0 + at11 * v1
      v0 = nv0; v1 = nv1
      l += 1
    }
    (out, sInn)
  }

  /** Matérn-3/2 GP posterior mean by Kalman filtering + RTS smoothing
    * of its exact state-space representation (state = [f, f']):
    * kernel k(τ) = σ²(1 + λτ)e^(−λτ), λ = √3/ρ. O(n), numerically
    * benign — the same complexity class as celerite's semiseparable
    * solve (ref main.py:716, 6797–6833). */
  def gpBaseline(t: Array[Double], y: Array[Double], yerr: Array[Double],
                 sigma: Double, rho: Double): Array[Double] = {
    val n = t.length
    if (n == 0) return Array.empty
    val lam = math.sqrt(3.0) / rho
    val s2 = sigma * sigma
    // stationary covariance of the state
    val p11 = s2; val p22 = s2 * lam * lam
    // filtered means/covs
    val mf = Array.ofDim[Double](n, 2)
    val pf = Array.ofDim[Double](n, 3) // packed symmetric (p00,p01,p11)
    val mp = Array.ofDim[Double](n, 2)
    val pp = Array.ofDim[Double](n, 3)
    var m0 = 0.0; var m1 = 0.0
    var c00 = p11; var c01 = 0.0; var c11 = p22
    var i = 0
    while (i < n) {
      if (i > 0) {
        val dt = t(i) - t(i - 1)
        val e = expQ(lam, dt)
        // transition for Matérn-3/2: A = e^{−λdt} [[1+λdt, dt], [−λ²dt, 1−λdt]]
        val a00 = e * (1 + lam * dt); val a01 = e * dt
        val a10 = -e * lam * lam * dt; val a11 = e * (1 - lam * dt)
        val nm0 = a00 * m0 + a01 * m1
        val nm1 = a10 * m0 + a11 * m1
        // P' = A P A' + Q with Q = Pinf − A Pinf A'
        val q00 = p11 - (a00 * (a00 * p11) + a01 * (a01 * p22))
        val q01 = -(a10 * (a00 * p11) + a11 * (a01 * p22))
        val q11 = p22 - (a10 * (a10 * p11) + a11 * (a11 * p22))
        val t00 = a00 * c00 + a01 * c01; val t01 = a00 * c01 + a01 * c11
        val t10 = a10 * c00 + a11 * c01; val t11 = a10 * c01 + a11 * c11
        c00 = t00 * a00 + t01 * a01 + q00
        c01 = t00 * a10 + t01 * a11 + q01
        c11 = t10 * a10 + t11 * a11 + q11
        m0 = nm0; m1 = nm1
      }
      mp(i)(0) = m0; mp(i)(1) = m1
      pp(i)(0) = c00; pp(i)(1) = c01; pp(i)(2) = c11
      // measurement update: z = y(i), H = [1, 0]
      val r = yerr(i) * yerr(i)
      val sInn = c00 + r
      val k0 = c00 / sInn; val k1 = c01 / sInn
      val resid = y(i) - m0
      m0 += k0 * resid; m1 += k1 * resid
      val nc00 = (1 - k0) * c00
      val nc01 = (1 - k0) * c01
      val nc11 = c11 - k1 * c01
      c00 = nc00; c01 = nc01; c11 = nc11
      mf(i)(0) = m0; mf(i)(1) = m1
      pf(i)(0) = c00; pf(i)(1) = c01; pf(i)(2) = c11
      i += 1
    }
    // Rauch–Tung–Striebel backward smoother on the mean
    val ms = Array.ofDim[Double](n, 2)
    ms(n - 1)(0) = mf(n - 1)(0); ms(n - 1)(1) = mf(n - 1)(1)
    i = n - 2
    while (i >= 0) {
      val dt = t(i + 1) - t(i)
      val e = expQ(lam, dt)
      val a00 = e * (1 + lam * dt); val a01 = e * dt
      val a10 = -e * lam * lam * dt; val a11 = e * (1 - lam * dt)
      // G = Pf A' Pp⁻¹  (2×2 inverse of predicted cov at i+1)
      val det = pp(i + 1)(0) * pp(i + 1)(2) - pp(i + 1)(1) * pp(i + 1)(1)
      if (math.abs(det) < 1e-300) { ms(i)(0) = mf(i)(0); ms(i)(1) = mf(i)(1) }
      else {
        val i00 = pp(i + 1)(2) / det; val i01 = -pp(i + 1)(1) / det
        val i11 = pp(i + 1)(0) / det
        val pa00 = pf(i)(0) * a00 + pf(i)(1) * a01
        val pa01 = pf(i)(0) * a10 + pf(i)(1) * a11
        val pa10 = pf(i)(1) * a00 + pf(i)(2) * a01
        val pa11 = pf(i)(1) * a10 + pf(i)(2) * a11
        val g00 = pa00 * i00 + pa01 * i01
        val g01 = pa00 * i01 + pa01 * i11
        val g10 = pa10 * i00 + pa11 * i01
        val g11 = pa10 * i01 + pa11 * i11
        val d0 = ms(i + 1)(0) - mp(i + 1)(0)
        val d1 = ms(i + 1)(1) - mp(i + 1)(1)
        ms(i)(0) = mf(i)(0) + g00 * d0 + g01 * d1
        ms(i)(1) = mf(i)(1) + g10 * d0 + g11 * d1
      }
      i -= 1
    }
    Array.tabulate(n)(j => ms(j)(0))
  }

  /** Distributed detrend: regions via TsOps.withRegion(+Disc), then one
    * spline/GP kernel per (parts..., region) group. Input columns:
    * parts ++ (tUs: long, id: long, value: double, err: double).
    * Output: input rows + baseline + detr (value − baseline + 1).
    *
    * `discBreaks` defaults ON, matching the reference: `bdtr_tser`
    * passes `booladdddiscbdtr=True` by default (main.py:6683, used at
    * 6739), so the baseline is re-fit on each side of a 20σ flux
    * glitch instead of bridging it (TsOps.withRegionDisc has the full
    * break semantics). The value column is quantized at 1e6 for the
    * break statistics — the engine's standard reproducibility
    * quantum (splineBaseline's basis, meanQ/stddevQ), far below any
    * glitch the 20σ gate can see. */
  def detrend(df: DataFrame, parts: Seq[String], tUs: String, id: String,
              value: String, err: String, gapUs: Long, mode: String,
              timescaleDays: Double, discBreaks: Boolean = true): DataFrame = {
    val withReg =
      if (discBreaks)
        TsOps.withRegionDisc(
          // primitive half-away round (Tables.roundAway): this runs per
          // series row — the BigDecimal round() costs ~1 µs/row
          df.withColumn("_vq",
            graft.core.Tables.roundAway(col(value) * 1e6).cast("long")),
          parts, tUs, id, "_vq", gapUs).drop("_vq")
      else TsOps.withRegion(df, parts, tUs, id, gapUs)
    val keyCols = parts :+ "region"
    val schema = StructType(
      keyCols.map(c => withReg.schema(c)) ++ Seq(
        StructField(id, LongType), StructField(tUs, LongType),
        StructField(value, DoubleType), StructField(err, DoubleType),
        StructField("baseline", DoubleType), StructField("detr", DoubleType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    withReg
      .groupByKey(r => keyCols.map(c => r.get(r.fieldIndex(c)).toString).mkString("|"))(
        org.apache.spark.sql.Encoders.STRING)
      .flatMapGroups { (_, it) =>
        val rows = it.toArray.sortBy(r => (r.getAs[Long](tUs), r.getAs[Long](id)))
        if (rows.isEmpty) Iterator.empty
        else {
          val t = rows.map(_.getAs[Long](tUs).toDouble / 86400e6)
          val y = rows.map(_.getAs[Double](value))
          val e = rows.map(_.getAs[Double](err))
          val base = mode match {
            case "Spline" => splineBaseline(t, y, timescaleDays)
            case "GaussianProcess" =>
              // center on the integerized mean: the state-space prior is
              // zero-mean, so fitting raw ~1.0-level flux would shrink
              // the baseline toward 0 instead of the lightcurve level.
              val yb = meanQ(y)
              gpBaseline(t, y.map(_ - yb), e, stddevQ(y), timescaleDays)
                .map(_ + yb)
            case _ => Array.fill(t.length)(mean(y))
          }
          rows.iterator.zipWithIndex.map { case (r, i) =>
            // Seq[Any]: a plain Seq would widen the Longs to Double
            Row.fromSeq(keyCols.map(c => r.get(r.fieldIndex(c))) ++ Seq[Any](
              r.getAs[Long](id), r.getAs[Long](tUs), y(i), e(i),
              base(i), y(i) - base(i) + 1.0))
          }
        }
      }(enc)
  }

  private def mean(a: Array[Double]): Double = if (a.isEmpty) 0.0 else a.sum / a.length

  /** Transition decay e^(−λ·dt), quantized at 1e9 — the ONE
    * transcendental in the GP recurrence. Java and C libm exp differ
    * at 1 ulp, which a 500-step Kalman recurrence would amplify past
    * any output rounding; quantizing the decay before use makes the
    * whole recurrence an engine-neutral fixed IEEE sequence (SQL:
    * round(exp(−λ·dt)·1e9)/1e9). The 1e-9 perturbation of the decay
    * is far below the fit's noise floor.
    *
    * Caveat: quantization closes the 1-ulp gap only when exp(−λ·dt)
    * does not land within ~1 ulp of a .5e-9 rounding boundary — there
    * the two engines can still round apart. The bit-exact claim is
    * therefore EMPIRICAL, not analytic: the t3c fixture's uniform
    * 30-min cadence yields a single dt, so exactly one exp value is
    * ever evaluated, and CORRECTNESS_r05 verified it rounds
    * identically in both engines at both SFs. A new fixture with a
    * different λ·dt set re-rolls that (low-probability, ~1e-7 per
    * distinct dt) dice — if t3c ever hash-mismatches with every other
    * detrend green, check this boundary first. */
  private[graft] def expQ(lam: Double, dt: Double): Double =
    graft.expr.VecExprs.roundHalfAway(math.exp(-lam * dt) * 1e9) / 1e9

  /** Mean from integer sums of y quantized at 1e6 (SQL:
    * CAST(sq AS DOUBLE)/n/1e6) — order-free, engine-neutral. */
  private[graft] def meanQ(a: Array[Double]): Double = {
    import graft.expr.VecExprs.roundHalfAway
    var sq = 0L
    a.foreach { v => sq += roundHalfAway(v * 1e6) }
    sq.toDouble / math.max(1, a.length) / 1e6
  }

  /** σ from integer sums of y quantized at 1e6 — order-free across
    * partitionings and restated exactly in SQL as
    * sqrt((qq − CAST(sq AS DOUBLE)·sq/n)/n)/1e6. */
  private[graft] def stddevQ(a: Array[Double]): Double = {
    import graft.expr.VecExprs.roundHalfAway
    var sq = 0L; var qq = 0L
    a.foreach { v => val yq = roundHalfAway(v * 1e6); sq += yq; qq += yq * yq }
    val n = math.max(1, a.length)
    math.sqrt((qq - sq.toDouble * sq / n) / n) / 1e6
  }

  /** Fixed-order Gauss–Jordan elimination, NO pivoting: step k
    * eliminates column k from every other row with
    * f = m(r,k)/m(k,k); m(r,c) −= f·m(k,c), then x(r) = rhs(r)/m(r,r).
    * Safe because callers pass SPD (normal-equation + ridge) systems;
    * the fixed operation order is what lets a SQL oracle replay the
    * identical IEEE sequence step by step. */
  private[graft] def solveGaussJordan(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = Array.tabulate(n)(i => a(i) :+ b(i))
    var k = 0
    while (k < n) {
      var r = 0
      while (r < n) {
        if (r != k) {
          val f = m(r)(k) / m(k)(k)
          var c = 0
          while (c <= n) { m(r)(c) -= f * m(k)(c); c += 1 }
        }
        r += 1
      }
      k += 1
    }
    Array.tabulate(n)(r => m(r)(n) / m(r)(r))
  }
}
