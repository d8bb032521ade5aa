package graft.model

import scala.jdk.CollectionConverters._

/** T13 — inference driver (ref proc_modl main.py:3928–4170; tdpy.samp
  * is an emcee-style affine-invariant ensemble sampler, 100 walkers ×
  * 100 steps, 30% burn-in, main.py:12131–12133).
  *
  * Spark division of labor mirrors the reference's: the fit window is
  * small (it was collect()ed after Spark-side cleaning/folding), so
  * the walker loop runs on the driver; Spark parallelizes ACROSS fits
  * (per energy bin / per target, ref main.py:12301–12316) — not per
  * step, where task latency would dominate. Within one [[sampleQ]]
  * step the walkers' likelihoods run on one pool of `Session.cpus`
  * daemon threads that this object owns (emcee's thread boundary,
  * Foreman-Mackey et al., PASP 2013): the proposals are independent
  * given the previous step, so they are built serially, evaluated on
  * the pool, and accepted serially in walker order. Fits inside
  * executor tasks (`fitPerKey`) share the same pool, so the CPU in
  * use stays at `Session.cpus`.
  */
object Ensemble {

  /** The walker pool: a fixed `Session.cpus` daemon threads, so a JVM
    * that still holds it exits on its own. */
  private lazy val pool: java.util.concurrent.ExecutorService = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    java.util.concurrent.Executors.newFixedThreadPool(graft.core.Session.cpus, r => {
      val t = new Thread(r, s"ensemble-walker-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
  }

  /** `llq` of every vector in `ps`, evaluated on [[pool]]: at most
    * `Session.cpus` workers claim the next unevaluated index until none
    * is left, so a worker on a busy core holds no fixed share. A failing
    * evaluation rethrows its own exception, the lowest failing index's,
    * as a serial loop would. */
  private def evalAll(llq: Array[Double] => Long, ps: Array[Array[Double]]): Array[Long] = {
    val out = new Array[Long](ps.length)
    val failed = new Array[Throwable](ps.length)
    val next = new java.util.concurrent.atomic.AtomicInteger()
    val worker: java.util.concurrent.Callable[Unit] = () => {
      var k = next.getAndIncrement()
      while (k < ps.length) {
        try out(k) = llq(ps(k)) catch { case e: Throwable => failed(k) = e }
        k = next.getAndIncrement()
      }
    }
    pool.invokeAll(Seq.fill(math.min(graft.core.Session.cpus, ps.length))(worker).asJava)
    failed.find(_ != null).foreach(e => throw e)
    out
  }

  // ---------------------------------------------------------------
  // Cross-engine-exact sampler (the t13 oracle path)
  // ---------------------------------------------------------------
  // [[sampleQ]] below is a bit-reproducible ensemble sampler whose
  // ENTIRE walk a SQL engine can replay: every draw is a stateless
  // integer hash (order-free — each (step, walker, channel) indexes its
  // own draw, so SQL needs no sequential RNG state), every float op is
  // plain IEEE +−×÷ / min/max/fmod (bit-identical across engines), the
  // likelihood is an order-free INTEGER sum, and the accept/reject
  // comparison is pure integer arithmetic over ln-values quantized at
  // 1e6 ("micro-nats"). ln is the ONE transcendental; Java vs C libm
  // may differ in the last ulp, so lnQ6 asserts every evaluation sits
  // ≥1e-7 quanta away from a rounding boundary (worst-case libm
  // disagreement moves the scaled value by ~5e-9 quanta — 20× margin),
  // turning "empirically exact" into a runtime-verified guarantee (the
  // t3c/expQ lesson, hardened).

  private val M31 = 2147483648L // 2^31

  /** Stateless indexed draw in [0, 2^31): two LCG rounds with xorshift
    * mixing between them (pure 64-bit-safe integer arithmetic — max
    * intermediate 2^31·1103515245 < 2^63, so a BIGINT engine computes
    * it without overflow). Not crypto — statistically adequate for a
    * 3-parameter box-fit ensemble, and trivially SQL-expressible. */
  private[graft] def draw(seed: Long, idx: Long): Long = {
    val x0 = (seed + idx) % M31
    val x1 = (x0 * 1103515245L + 12345L) % M31
    val x2 = x1 ^ (x1 >> 15)
    val x3 = (x2 * 69069L + 1L) % M31
    val x4 = x3 ^ (x3 >> 13)
    (x4 * 1103515245L + 12345L) % M31
  }

  /** Uniform draw in (0, 1]: (r+1)/(2^31+1) — an exact IEEE division
    * of exact integers, so both engines produce the identical double.
    * Never 0 (ln-safe). */
  private[graft] def uni(seed: Long, idx: Long): Double =
    (draw(seed, idx) + 1).toDouble / 2147483649.0

  /** ln(x) quantized to integer micro-nats: round(ln(x)·1e6),
    * half-away (SQL: CAST(round(ln(x)*1e6) AS BIGINT)). The margin
    * `require` proves the fixed fixture never evaluates ln within
    * 1e-7 quanta of a .5 boundary, so ANY libm within 1 ulp of the
    * true value rounds to the same integer. */
  private[graft] def lnQ6(x: Double): Long = {
    val v = math.log(x) * 1e6
    val r = graft.expr.VecExprs.roundHalfAway(v)
    require(math.abs(v - r.toDouble) < 0.5 - 1e-7,
      s"lnQ6($x) = $v sits within 1e-7 of a rounding boundary — " +
      "cross-engine exactness unprovable; bump the fixture seed")
    r
  }

  /** Order-free integer log-likelihood for a box-transit fit under
    * iid Gaussian noise (ref retr_llik_mile main.py:735–850,
    * white-noise branch), in micro-nats up to an additive constant:
    * −Σ_i round((y_i − model_i)²·scale) with scale = 1e6/(2σ²).
    * Every per-bin term is the same IEEE double in any engine
    * (products of exact inputs), so the rounded integers — and their
    * order-free sum — are bit-identical. */
  def boxLlq(t: Array[Double], y: Array[Double], scale: Double,
             period: Double)(p: Array[Double]): Long = {
    val model = boxModel(t, p(1), period, p(2), p(0))
    var s = 0L; var i = 0
    while (i < y.length) {
      val r = y(i) - model(i)
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** Order-free integer micro-nat log-likelihood for a LIMB-DARKENED
    * transit fit under iid Gaussian noise (ref retr_llik_mile
    * main.py:735–850 evaluating the ephesos.eval_modl limb-darkened
    * model, main.py:497–528) — [[boxLlq]] with the box swapped for
    * [[LimbDark.flux]]. p = (rrat, epoch, t14); the model chain is
    * IEEE-exact (√/min/max/±×÷ only, identical shapes in the SQL
    * replay), so the rounded integers — and their order-free sum —
    * are bit-identical across engines. */
  def ldBoxLlq(t: Array[Double], y: Array[Double], scale: Double,
               period: Double)(p: Array[Double]): Long = {
    val half = period / 2
    var s = 0L; var i = 0
    while (i < y.length) {
      // same wrap as boxModel; t−epoch+half ≥ 0 on the t13d fixture,
      // so % == the SQL fmod bit-for-bit
      val m0 = (t(i) - p(1) + half) % period
      val m1 = if (m0 < 0) m0 + period else m0
      val aph = math.abs(m1 - half)
      val r = y(i) - LimbDark.flux(aph, p(0), p(2))
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** r10: likelihood under the EXACT quadratic-LD occultation
    * (t12e's declared model — the reference's likelihood evaluates
    * `ephesos.eval_modl` with typelmdk='quadkipp', main.py:497–528
    * via retr_llik_mile 735–850, i.e. it FITS under the exact form;
    * t13d/g fit the small-planet factorization that t12e measures
    * 8.4e-3 wrong at p = 0.25). [[ldBoxLlq]] with the model swapped
    * for [[LimbDarkExact.fluxAphN]] at the declared fit node count
    * `n` — the whole chain stays IEEE ±×÷/√/min/max plus the
    * literal-table atan, and the node Σ is an order-free integer, so
    * raw doubles replay in the SQL oracle with no model
    * quantization. */
  def ldxLlq(t: Array[Double], y: Array[Double], scale: Double,
             period: Double, n: Int)(p: Array[Double]): Long = {
    val half = period / 2
    var s = 0L; var i = 0
    while (i < y.length) {
      val m0 = (t(i) - p(1) + half) % period
      val m1 = if (m0 < 0) m0 + period else m0
      val aph = math.abs(m1 - half)
      val r = y(i) - LimbDarkExact.fluxAphN(aph, p(0), p(2), n)
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** r9: limb-darkened likelihood with the LD COEFFICIENTS in the
    * walk — p = (rrat, epoch, t14, u1, u2) (the reference fits
    * coeflmdklinr/coeflmdkquad via setp_para, ref main.py:440–447,
    * 3821–3831; t13d holds them constant). Same IEEE-exact chain as
    * [[ldBoxLlq]] with [[LimbDark.fluxU]] instead of the fixed-LD
    * flux. */
  def ldFitLlq(t: Array[Double], y: Array[Double], scale: Double,
               period: Double)(p: Array[Double]): Long = {
    val half = period / 2
    var s = 0L; var i = 0
    while (i < y.length) {
      val m0 = (t(i) - p(1) + half) % period
      val m1 = if (m0 < 0) m0 + period else m0
      val aph = math.abs(m1 - half)
      val r = y(i) - LimbDark.fluxU(aph, p(0), p(2), p(3), p(4))
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** r10: StarFlaring model-fit likelihood — p = (A, t0, τ) under
    * F(t) = 1 + A·exp(−(t−t0)/τ) for t ≥ t0 (ref: flare model
    * component main.py:362–382, registry main.py:4231, 4517–4518;
    * the engine evaluates this model in t12 and detects flares in
    * t8/t9/st10 but t13k is the first FIT). exp on the walked
    * argument goes through [[Flare.expNegCore]] (range reduction +
    * fixed Taylor + 6 squarings — IEEE-only, the Kepler.scala
    * discipline), with dt < 0 / x > 40 declared 0 by explicit
    * branches both engines share. */
  def flareLlq(t: Array[Double], y: Array[Double], scale: Double)
              (p: Array[Double]): Long = {
    var s = 0L; var i = 0
    while (i < y.length) {
      val dt = t(i) - p(1)
      val xx = dt / p(2)
      val g = if (dt < 0.0) 0.0
              else if (xx > 40.0) 0.0
              else p(0) * Flare.expNegCore(xx)
      val r = y(i) - (1.0 + g)
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** Radial-velocity orbit likelihood in the LINEAR-HARMONIC
    * parametrization (ref: the RV model branch of eval_modl /
    * typemodl 'rvel' — a circular-orbit RV curve K·sin(2πφ+φ0) + γ,
    * refit here as γ + A·s(φ) + B·c(φ) with the trig basis FIXED and
    * quantized at 1e6, the t18 harmBasis technique): epoch enters
    * through (A, B), so no transcendental is ever evaluated at
    * proposal time and the whole walk replays cross-engine exactly.
    * p = (gamma, A, B); sq/cq are the shared integer basis at the
    * fold bins. */
  def rvLlq(y: Array[Double], sq: Array[Long], cq: Array[Long],
            scale: Double)(p: Array[Double]): Long = {
    var s = 0L; var i = 0
    while (i < y.length) {
      val m = p(0) + p(1) * (sq(i) / 1e6) + p(2) * (cq(i) / 1e6)
      val r = y(i) - m
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** r9: ECCENTRIC Keplerian RV likelihood — p = (γ, K, e, ω) (ref
    * `retr_rvel` takes eccecomp/argupericomp, main.py:646–647; t13f
    * covers only the e = 0 circular slice). The model solves Kepler's
    * equation with a FIXED count of Newton steps and polynomial trig
    * (model/Kepler.scala) — IEEE-only ops, so the walk replays
    * cross-engine with no model quantization. `m` = mean anomalies at
    * the fold bins (fixed; t_peri pinned at 0). */
  def rvEccLlq(y: Array[Double], m: Array[Double], scale: Double)
              (p: Array[Double]): Long = {
    var s = 0L; var i = 0
    while (i < y.length) {
      val r = y(i) - Kepler.rv(m(i), p(0), p(1), p(2), p(3))
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** Two-planet joint limb-darkened likelihood (ref PlanetarySystem
    * with numbcomp > 1, setp_modlbase main.py:4504–4887): additive
    * dips, F = flux_a + flux_b − 1, planet a at period 7 d
    * (T14 = 1.0 d), planet b at the COMMENSURATE period 3.5 d
    * (T14 = 0.5 d) — commensurability is what lets the joint fit run
    * on the 7-day fold (planet b appears twice per fold, exactly
    * periodic). p = (rrat_a, epoch_a, rrat_b, epoch_b); T14s fixed. */
  def ld2Llq(t: Array[Double], y: Array[Double], scale: Double)
            (p: Array[Double]): Long = {
    var s = 0L; var i = 0
    while (i < y.length) {
      val mA0 = (t(i) - p(1) + 3.5) % 7.0
      val mA = if (mA0 < 0) mA0 + 7.0 else mA0
      val aphA = math.abs(mA - 3.5)
      val mB0 = (t(i) - p(3) + 1.75) % 3.5
      val mB = if (mB0 < 0) mB0 + 3.5 else mB0
      val aphB = math.abs(mB - 1.75)
      val f = LimbDark.flux(aphA, p(0), 1.0) +
        LimbDark.flux(aphB, p(2), 0.5) - 1.0
      val r = y(i) - f
      s += graft.expr.VecExprs.roundHalfAway(r * r * scale)
      i += 1
    }
    -s
  }

  /** Order-free integer GP-marginal log-likelihood for a box-transit
    * fit under Matérn-3/2 correlated noise (ref retr_llik_mile
    * main.py:735–850, GP branch at 772–817; the reference default
    * typebdtr='GaussianProcess' main.py:7919) in micro-nats up to an
    * additive constant. The GP enters through the steady-state
    * Kalman innovation filter (Detrend.gpInnovSteady): with integer
    * residuals rq_i = round(r_i·1e8) and integer lag weights
    * cq_l = round(c_l·1e6), the innovation
    *   νq_i = rq_i·1e6 − Σ_l cq_l·rq_{i−l}
    * is EXACT int64 arithmetic — order-free, so a SQL engine's
    * unordered SUM reproduces it bit-for-bit (the reason this form,
    * not the sequential m0/m1 recurrence, is the declared t13c
    * likelihood; the log-det term is proposal-independent under fixed
    * hyperparameters and cancels in the accept ratio). Magnitudes,
    * bounded over the SAMPLER'S PRIOR BOX (not just the fixture's
    * typical residuals): depth may reach 0.2, so |r| ≤ ~0.23 and
    * |rq| ≤ ~2.4e7; with |cq| ≤ ~1e6 and 32 lags,
    * |νq| ≤ 2.4e7·1e6 + 32·1e6·2.4e7 ≈ 8e14 < 2^53, so the one double
    * conversion νq/1e14 is exact. Re-derive this bound if the prior
    * box or the quantization scales ever change. scale = 1e6/(2·S)
    * with S the steady innovation variance. */
  def gpBoxLlq(t: Array[Double], y: Array[Double], cq: Array[Long],
               scale: Double, period: Double)(p: Array[Double]): Long = {
    import graft.expr.VecExprs.roundHalfAway
    val model = boxModel(t, p(1), period, p(2), p(0))
    val n = y.length
    val rq = new Array[Long](n)
    var i = 0
    while (i < n) { rq(i) = roundHalfAway((y(i) - model(i)) * 1e8); i += 1 }
    var s = 0L
    i = 0
    while (i < n) {
      var nuq = rq(i) * 1000000L
      var l = 1
      while (l <= cq.length && l <= i) { nuq -= cq(l - 1) * rq(i - l); l += 1 }
      val nu = nuq.toDouble / 1e14
      s += roundHalfAway(nu * nu * scale)
      i += 1
    }
    -s
  }

  /** Walker-ball center for a box fit on a phase-binned curve of
    * PRE-QUANTIZED flux (yq = round(y·1e9)): slide a `durGuess`-wide
    * CIRCULAR window over the bins (a mini-BLS) and take the deepest
    * window's center as the epoch and its deficit below the global
    * mean as the depth — robust where the single deepest bin sits on a
    * transit edge (which strands the ball in a no-overlap local
    * optimum). Window sums are integer (order-free), argmin is an
    * integer compare with first-index tiebreak — the SQL replay is a
    * window-sum aggregate plus ORDER BY (sum, index) LIMIT 1. Returns
    * Array(depth0, epoch0 ∈ [−P/2, P/2), durGuess). */
  def boxGuessQ(t: Array[Double], yq: Array[Long],
                period: Double, durGuess: Double): Array[Double] = {
    val nb = yq.length
    val h = math.max(1,
      (graft.expr.VecExprs.roundHalfAway(nb * durGuess / period) / 2).toInt)
    def winSum(c: Int): Long = {
      var s = 0L; var k = -h
      while (k <= h) { s += yq(((c + k) % nb + nb) % nb); k += 1 }
      s
    }
    val best = (0 until nb).minBy(winSum)
    val eRaw = t(best)
    val epoch0 = if (eRaw >= period / 2) eRaw - period else eRaw
    var sall = 0L; var i = 0
    while (i < nb) { sall += yq(i); i += 1 }
    val depth0 = (sall.toDouble / nb - winSum(best).toDouble / (2 * h + 1)) / 1e9
    Array(depth0, epoch0, durGuess)
  }

  /** Draw-index layout shared with the SQL replay: 3 channels per
    * (step, walker) proposal; init draws live at a disjoint base. */
  private[graft] def stepIdx(step: Int, k: Int, c: Int, nWalkers: Int): Long =
    (step.toLong * nWalkers + k) * 3L + c
  private[graft] val InitIdxBase = 1000000L

  /** Affine-invariant "stretch move" ensemble sampler (Goodman & Weare
    * 2010, the algorithm under emcee; a = 2) made cross-engine-exact:
    * indexed integer draws, integer likelihood `llq` (micro-nats, see
    * [[boxLlq]]), and the accept rule
    * lnQ6(u) < (nd−1)·lnQ6(z) + (llq_prop − llq_k) — an integer
    * comparison. Walkers all move from the PREVIOUS ensemble state
    * (within a step, proposals are independent given step s−1), which
    * is what lets the SQL replay advance one whole step per recursion
    * round, and what lets each step's `llq` evaluations run on the
    * walker pool (see the object scaladoc) with bit-identical samples.
    * Returns (post-burn samples flattened across walkers, acceptance
    * rate). */
  def sampleQ(llq: Array[Double] => Long,
              lo: Array[Double], hi: Array[Double],
              nWalkers: Int = 100, nSteps: Int = 100, burnFrac: Double = 0.3,
              seed: Long = 42L,
              init: Array[Double], ballFrac: Double = 0.005)
      : (Array[Array[Double]], Double) = {
    require(lo.length == hi.length && init.length == lo.length)
    val nd = lo.length
    def clamp(v: Double, d: Int): Double = math.min(hi(d), math.max(lo(d), v))
    var walkers = Array.tabulate(nWalkers) { k =>
      Array.tabulate(nd) { d =>
        val u = uni(seed, InitIdxBase + k.toLong * nd + d)
        clamp(init(d) + (2 * u - 1) * ballFrac * (hi(d) - lo(d)), d)
      }
    }
    var lls = evalAll(llq, walkers)
    val burn = (nSteps * burnFrac).toInt
    val out = Array.newBuilder[Array[Double]]
    var accepted = 0L; var proposed = 0L
    for (step <- 0 until nSteps) {
      val next = walkers.map(_.clone); val nextLl = lls.clone
      val zs = Array.tabulate(nWalkers) { k =>
        val u1 = uni(seed, stepIdx(step, k, 1, nWalkers))
        (u1 + 1) * (u1 + 1) / 2 // stretch g(z) ∝ 1/√z, a = 2
      }
      val props = Array.tabulate(nWalkers) { k =>
        val rj = draw(seed, stepIdx(step, k, 0, nWalkers))
        val j0 = (rj % (nWalkers - 1)).toInt
        val j = if (j0 >= k) j0 + 1 else j0
        Array.tabulate(nd)(d =>
          clamp(walkers(j)(d) + zs(k) * (walkers(k)(d) - walkers(j)(d)), d))
      }
      val llps = evalAll(llq, props)
      for (k <- 0 until nWalkers) {
        proposed += 1
        val u2 = uni(seed, stepIdx(step, k, 2, nWalkers))
        if (lnQ6(u2) < (nd - 1) * lnQ6(zs(k)) + (llps(k) - lls(k))) {
          next(k) = props(k); nextLl(k) = llps(k); accepted += 1
        }
      }
      walkers = next; lls = nextLl
      if (step >= burn) walkers.foreach(w => out += w.clone)
    }
    (out.result(), accepted.toDouble / proposed)
  }

  /** r10: the OPTIMIZER inference mode (typeinfe='opti' — the
    * reference offers maximum-likelihood optimization as a peer of
    * sampling, declared main.py:7870–7875, Nelder–Mead branch
    * main.py:4071–4110 minimizing `retr_lliknega_mile` main.py:853;
    * the t13 family covers only 'samp'). A FIXED-ITERATION,
    * deterministic Nelder–Mead ascent of the integer micro-nat
    * likelihood with the standard coefficients α=1 (reflect), γ=2
    * (expand), ρ=0.5 (contract), σ=0.5 (shrink):
    *
    *  - initial simplex: the guess + one vertex per coordinate
    *    displaced by δ·(hi−lo), δ = 0.05, clamped to the prior box;
    *  - each iteration evaluates reflect/expand/outside/inside
    *    candidates (reflections clamped to the box) and replaces the
    *    worst vertex, or shrinks toward the best;
    *  - vertices are kept best-first under the total order
    *    (llq DESC, position ASC) — ties (possible on likelihood
    *    plateaus) break deterministically.
    *
    * Every float op is IEEE ±×÷/min/max over the same expression
    * shapes the SQL replay spells (centroid = left-associated sum of
    * the best nd vertices / nd), and every comparison is on integer
    * llq — so the whole simplex walk replays in a recursive CTE
    * bit-for-bit, exactly like the MCMC walks. Returns the best
    * vertex and its llq after `nIter` iterations. */
  def nelderMeadQ(llq: Array[Double] => Long,
                  lo: Array[Double], hi: Array[Double],
                  init: Array[Double], nIter: Int = 120,
                  deltaFrac: Double = 0.05): (Array[Double], Long) = {
    require(lo.length == hi.length && init.length == lo.length)
    val nd = lo.length
    def clamp(v: Double, d: Int): Double = math.min(hi(d), math.max(lo(d), v))
    // initial simplex, then best-first stable order
    var verts: Array[Array[Double]] = Array.tabulate(nd + 1) { k =>
      Array.tabulate(nd) { d =>
        if (k == d + 1) clamp(init(d) + deltaFrac * (hi(d) - lo(d)), d)
        else init(d)
      }
    }
    var lls: Array[Long] = verts.map(llq)
    def sortBestFirst(): Unit = {
      val order = (0 to nd).sortBy(i => (-lls(i), i))
      verts = order.map(verts).toArray
      lls = order.map(lls).toArray
    }
    sortBestFirst()
    var iter = 0
    while (iter < nIter) {
      val wv = verts(nd)
      // centroid of the best nd vertices, left-associated in list order
      val c = Array.tabulate(nd) { d =>
        var s = verts(0)(d); var i = 1
        while (i < nd) { s = s + verts(i)(d); i += 1 }
        s / nd
      }
      val xr = Array.tabulate(nd)(d => clamp(c(d) + (c(d) - wv(d)), d))
      val llr = llq(xr)
      var shrink = false
      if (llr > lls(0)) {
        val xe = Array.tabulate(nd)(d => clamp(c(d) + 2.0 * (c(d) - wv(d)), d))
        val lle = llq(xe)
        if (lle > llr) { verts(nd) = xe; lls(nd) = lle }
        else { verts(nd) = xr; lls(nd) = llr }
      } else if (llr > lls(nd - 1)) {
        verts(nd) = xr; lls(nd) = llr
      } else if (llr > lls(nd)) {
        val xco = Array.tabulate(nd)(d => clamp(c(d) + 0.5 * (c(d) - wv(d)), d))
        val llco = llq(xco)
        if (llco >= llr) { verts(nd) = xco; lls(nd) = llco } else shrink = true
      } else {
        val xci = Array.tabulate(nd)(d => clamp(c(d) - 0.5 * (c(d) - wv(d)), d))
        val llci = llq(xci)
        if (llci > lls(nd)) { verts(nd) = xci; lls(nd) = llci } else shrink = true
      }
      if (shrink) {
        val b1 = verts(0)
        var k = 1
        while (k <= nd) {
          verts(k) = Array.tabulate(nd)(d => b1(d) + 0.5 * (verts(k)(d) - b1(d)))
          lls(k) = llq(verts(k))
          k += 1
        }
      }
      sortBestFirst()
      iter += 1
    }
    (verts(0), lls(0))
  }

  /** Posterior 16/50/84 percentiles per parameter (ref A3,
    * main.py:1558–1571), linear interpolation. */
  def percentiles(samples: Array[Array[Double]], qs: Seq[Double] = Seq(0.16, 0.5, 0.84))
      : Array[Array[Double]] = {
    val nd = samples.head.length
    Array.tabulate(nd) { d =>
      val xs = samples.map(_(d)).sorted
      qs.map { q =>
        val idx = q * (xs.length - 1)
        val i = idx.toInt
        if (i + 1 >= xs.length) xs.last
        else xs(i) + (xs(i + 1) - xs(i)) * (idx - i)
      }.toArray
    }
  }

  /** T12-style box-transit model on a time axis (days):
    * flux(t) = 1 − depth·[|centered phase| < dur/2]. */
  def boxModel(t: Array[Double], epoch: Double, period: Double,
               dur: Double, depth: Double): Array[Double] = {
    // hot path: ~10⁴ calls per ensemble fit — primitive while loop, no
    // ArrayOps.map boxing
    val out = new Array[Double](t.length)
    val half = period / 2; val dhalf = dur / 2
    var i = 0
    while (i < t.length) {
      val m = (t(i) - epoch + half) % period
      val ph = (if (m < 0) m + period else m) - half
      out(i) = if (math.abs(ph) < dhalf) 1.0 - depth else 1.0
      i += 1
    }
    out
  }
}
