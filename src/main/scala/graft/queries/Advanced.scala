package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._
import graft.expr.VecExprs
import graft.model.{Ensemble, LimbDark}
import graft.model.Sql.D

/** A8 — BLS spectrum post-processing (ref main.py:5742–5801): signal =
  * depth − rolling median of the spectrum, noise = peak-cut rolling
  * std, SNR, argmax — composed over the pre-binned t6-style spectrum.
  * Plus the solver-kernel queries: spline detrend (t3b) and GP detrend
  * (t3c) — both oracle bit-exact since round 5 (integerized normal
  * equations / recursive-CTE Kalman replay) — multimodal decode (m2,
  * oracle-checked PNG/WAV/AVI round-trip), and the MCMC fits
  * (t13/t13b — oracle bit-exact since round 6: the cross-engine-exact
  * sampler Ensemble.sampleQ replayed step-by-step in a DuckDB
  * recursive CTE; every query in this file is now hash-checked).
  */
object Advanced {
  type Q = (SparkSession, String) => DataFrame

  /** t3b's synthetic lightcurve value — ONE expression string shared
    * verbatim between the Spark builder (expr) and the DuckDB oracle,
    * so the generation arithmetic cannot drift. Cubic trend with a
    * per-part slope, LCG noise at ±0.005, 2-day-ish periodic dip; no
    * transcendentals (Java vs C libm differ at 1 ulp). */
  private[queries] val t3bSimValue: String =
    "1.0 + (0.1 + 0.03 * p) * u - 0.15 * u * u + 0.08 * u * u * u" +
      " + (CAST((i % 65536 * 1103515245 + 12345 + p * 999331) % 2147483648" +
      " AS DOUBLE) / 2147483648.0 - 0.5) * 0.01" +
      " - CASE WHEN i % 97 < 5 THEN 0.02 ELSE 0.0 END"

  /** The shared t3b/t3c synthetic lightcurve: 8 parts × 500 samples at
    * 30-min cadence anchored at the events epoch (one gap-region per
    * part — the events fixture's own regions are all ≤4 rows at its
    * 7 h cadence, which would never exercise the detrend kernels). */
  private[graft] def t3Sim(s: SparkSession, d: String, err: Double): DataFrame =
    base(s, d).agg(min(col("t_us")).as("t0"))
      .withColumn("p", explode(sequence(lit(0), lit(7))))
      .withColumn("i", explode(sequence(lit(0L), lit(499L))))
      .withColumn("t_us", col("t0") + col("i") * 1800000000L)
      .withColumn("u", expr("CAST(i AS DOUBLE) / 499.0"))
      .withColumn("value", expr(t3bSimValue))
      .select(col("p").cast("string").as("part"),
        (col("p") * 1000L + col("i")).as("id"),
        col("t_us"), col("value"), lit(err).as("err"))

  /** The sim restated for DuckDB — shares [[t3bSimValue]] verbatim. */
  private val t3SimSql: String =
    s"""e0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
       |sim AS (SELECT p, i, CAST(p AS VARCHAR) AS part, p * 1000 + i AS id,
       |    t0 + i * 1800000000 AS t_us, CAST(i AS DOUBLE) / 499.0 AS u
       |  FROM e0, (SELECT unnest(generate_series(0, 7)) AS p),
       |       (SELECT unnest(generate_series(0, 499)) AS i)),
       |simv AS (SELECT part, id, i, t_us, $t3bSimValue AS value FROM sim),
       |td AS (SELECT *, CAST(t_us AS DOUBLE) / 86400e6 AS t_d FROM simv)""".stripMargin

  private val PDAY = 86400000000L
  private val P7 = 7L * PDAY

  /** The t13 fixture grid: 4000 points over 30 days anchored at the
    * events epoch, the integer LCG draw `r` (salted per energy bin
    * `ener` = 0..7 when `perEner`) and its unit draw `u` in [−0.5, 0.5),
    * the phase `ph` at 7 days and its 200-bin index `b`. Each fit adds
    * its own flux or RV column. */
  private def t13Grid(s: SparkSession, d: String, perEner: Boolean = false): DataFrame = {
    val n = 4000L
    val step = 30L * PDAY / n
    val e0 = base(s, d).agg(min(col("t_us")).as("t0"))
    val g = if (perEner) e0.withColumn("ener", explode(sequence(lit(0L), lit(7L)))) else e0
    val idx = if (perEner) col("i") + col("ener") * 7919L else col("i")
    g.withColumn("i", explode(sequence(lit(0L), lit(n - 1))))
      .withColumn("g_us", col("t0") + col("i") * step)
      .withColumn("r", (idx % 65536L * 1103515245L + 12345L) % 2147483648L)
      .withColumn("u", col("r").cast("double") / 2147483648.0 - 0.5)
      .withColumn("ph", pmod(col("g_us") - col("t0"), lit(P7)))
      .withColumn("b", expr(s"(ph * 200) div $P7"))
  }

  /** Box-dip flux on the t13 grid: 1 − `depth` within `half` of phase
    * 0, plus the ±0.002 noise. */
  private def boxFlux(depth: Column, half: Long = PDAY / 2): Column =
    lit(1.0) - when(col("ph") < half || col("ph") > P7 - half, depth).otherwise(0.0) +
      col("u") * 0.004

  /** The grid's phase in days `phd` and the LD transit's distance from
    * phase 0, `aph` (days, folded at 3.5). */
  private def ldPhase(g: DataFrame): DataFrame =
    g.withColumn("phd", expr("CAST(ph AS DOUBLE) / 86400e6"))
      .withColumn("aph", expr("CASE WHEN phd < 3.5 THEN phd ELSE 7.0 - phd END"))

  /** An injected limb-darkened transit (radius ratio `p`, duration
    * `t14` days) at distance `aph` as named layer columns ending in
    * `f`, all suffixed by `sfx` — the same per-layer SQL strings the
    * oracle fixtures spell. `u` = Some((u1, u2)) injects non-default
    * LD coefficients (t13g). */
  private def ldTransit(g: DataFrame, aph: String, p: Double, t14: Double,
                        sfx: String = "", u: Option[(Double, Double)] = None): DataFrame = {
    val pp = LimbDark.D(p)
    def c(x: String) = x + sfx
    val chord = g.withColumn(c("hu"), expr(LimbDark.huSql(aph, LimbDark.D(t14))))
      .withColumn(c("z"), expr(LimbDark.zSql(c("hu"), pp)))
      .withColumn(c("lam"), expr(LimbDark.lamSql(c("z"), pp)))
      .withColumn(c("mu"), expr(LimbDark.muSql(c("z"), pp)))
    u match {
      case None => chord
          .withColumn(c("iz"), expr(LimbDark.izSql(c("mu"))))
          .withColumn(c("f"), expr(LimbDark.fluxSql(c("hu"), pp, c("iz"), c("lam"))))
      case Some((u1, u2)) => chord
          .withColumn(c("iz"), expr(LimbDark.izSqlU(c("mu"), LimbDark.D(u1), LimbDark.D(u2))))
          .withColumn(c("om4"), expr(LimbDark.om4SqlU(LimbDark.D(u1), LimbDark.D(u2))))
          .withColumn(c("f"), expr(LimbDark.fluxSqlU(c("hu"), pp, c("iz"), c("lam"), c("om4"))))
    }
  }

  /** The t13 phase fold each fit collects once: `v` quantized at `q`
    * (1e6 for flux, 1e3 for RV) and summed into the 200 bins `b`.
    * `perBin` adds a per-bin double `w` after the aggregation that
    * joins each bin mean (t13c's wiggle, t13l's literal table).
    * Returns the bin centers t (days), the bin means y and y
    * quantized at 1e9 (the integer input of the walker-ball guesses). */
  private def t13Fold(grid: DataFrame, v: Column, q: Double,
                      perBin: Option[DataFrame => DataFrame] = None)
      : (Array[Double], Array[Double], Array[Long]) = {
    val binned = grid.withColumn("vq", round(v * q).cast("long"))
      .groupBy("b").agg(count(lit(1)).as("n"), sum(col("vq")).as("sv"))
    val rows = perBin.fold(binned)(_(binned)).orderBy("b").collect()
    val t = rows.map(r => (r.getLong(0).toDouble + 0.5) * 7.0 / 200)
    val y = rows.map { r =>
      val m = r.getLong(2).toDouble / r.getLong(1) / q
      if (perBin.isEmpty) m else m + r.getAs[Double]("w")
    }
    (t, y, y.map(v => VecExprs.roundHalfAway(v * 1e9)))
  }

  /** t13d's and t13j's fold: the injected quadratic-LD transit
    * (p=0.15, T14=1.0 d) plus the grid noise. */
  private def t13dFold(s: SparkSession, d: String) =
    t13Fold(ldTransit(ldPhase(t13Grid(s, d)), "aph", 0.15, 1.0),
      col("f") + col("u") * 0.004, 1e6)

  /** t13i's and t13k's fold: a true curve shipped as 1e9-quantized
    * bin-center literals (the fixture is data) plus the grid noise. */
  private def literalCurveFold(s: SparkSession, d: String, trueVals: Seq[(Long, Long)]) = {
    import s.implicits._
    val g = t13Grid(s, d)
      .join(broadcast(trueVals.toDF("bb", "fxq")), col("b") === col("bb"))
    t13Fold(g, expr("fxq / 1e9") + col("u") * 0.004, 1e6)
  }

  /** The LD fits' walker-ball center: boxGuessQ with its window depth
    * turned into a radius ratio, √(depth·KK) floored at 0.02. */
  private def ldGuess(t: Array[Double], yq: Array[Long]): Array[Double] = {
    val g = Ensemble.boxGuessQ(t, yq, 7.0, 1.0)
    Array(math.sqrt(math.max(g(0) * LimbDark.KK, 4e-4)), g(1), g(2))
  }

  /** The RV fits' exact Fourier projection on [[rvBasis]]: integer
    * (Σyq, Σyq·sq, Σyq·cq) over the 200 bins — order-free, so the SQL
    * replay is exact (yq·sq ≤ ~2.5e16, ×200 < 2^63). */
  private def rvProjection(yq: Array[Long]): (Long, Long, Long) = {
    var sa = 0L; var psu = 0L; var pcu = 0L
    rvBasis.foreach { case (b, sq, cq) =>
      val v = yq(b.toInt); sa += v; psu += v * sq; pcu += v * cq }
    (sa, psu, pcu)
  }

  /** The t13 posterior table: for each walk an `acceptance` row and
    * the p16/p50/p84 of each named dimension, the names suffixed by the
    * walk's tag (t13i puts two walks in one table), ordered by name. */
  private def posterior(s: SparkSession, dims: Seq[(String, Int)],
                        walks: (String, (Array[Array[Double]], Double))*): DataFrame = {
    import s.implicits._
    walks.flatMap { case (tag, (samples, acc)) =>
      val pct = Ensemble.percentiles(samples)
      (s"acceptance$tag", acc, acc, acc) +:
        dims.map { case (p, i) => (p + tag, pct(i)(0), pct(i)(1), pct(i)(2)) }
    }.toDF("param", "p16", "p50", "p84").orderBy("param")
  }

  /** One white-noise box fit per key (t13b's energy bins, t13m's
    * transits), each in its own task: AQE coalesces a groupByKey
    * exchange of a few thousand tiny rows to one partition, which runs
    * the CPU-bound fits serially (measured 3.9 s vs 0.43 s/fit);
    * repartitionByRange with an explicit count is exempt from that and
    * puts exactly one key in each of `nKeys` partitions — the fit
    * fan-out IS the partitioning, the right shape for ~10⁴ per-target
    * fits too. `bins` holds (key, b, n, sv) over `nb` bins; `row` maps
    * (key, percentiles, acceptance) onto an output row named `cols`.
    *
    * The fit rows are gathered into one partition before the output
    * sort: a range exchange over the fits would run the fit stage twice,
    * once for the RangePartitioner's sampling pass and once for the
    * shuffle write (two ~1.5 s stages per run). The sort of `nKeys` rows
    * then reads one partition, so the fits run once and nothing runs
    * while the frame is built. */
  private def fitPerKey[T <: Product : Encoder](
      bins: Dataset[(Long, Long, Long, Long)], key: String, nKeys: Int, nb: Int,
      scale: Double, cols: String*)(row: (Long, Array[Array[Double]], Double) => T): DataFrame =
    bins.repartitionByRange(nKeys, col(key))
      .mapPartitions(_.toArray.groupBy(_._1).toSeq.sortBy(_._1).iterator
        .map { case (k, rs0) =>
          val rs = rs0.sortBy(_._2)
          val t = rs.map(r => (r._2.toDouble + 0.5) * 7.0 / nb)
          val y = rs.map(r => r._4.toDouble / r._3 / 1e6)
          val llq = Ensemble.boxLlq(t, y, scale = scale, period = 7.0) _
          val yq = y.map(v => VecExprs.roundHalfAway(v * 1e9))
          val (samples, acc) = Ensemble.sampleQ(llq,
            lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0), seed = 42L + k,
            init = Ensemble.boxGuessQ(t, yq, 7.0, 1.0))
          row(k, Ensemble.percentiles(samples), acc)
        })
      .toDF(cols: _*)
      .repartition(1)
      .orderBy(cols.head)

  /** The a8 spectrum re-derived through the PRE-BINNED multi-resolution
    * path (t6's load-bearing scale trick — this was the one remaining
    * row-exact sample×trial explode in the suite): the 60 trials route
    * over 5 bin resolutions, so the only full-data pass is the level-0
    * binning aggregate. depth integerized at 1e6 for the windowed
    * post-processing. */
  private def blsDepths(s: SparkSession, d: String): DataFrame = {
    val b = base(s, d)
    // ONE driver stats pass serves both the trial grid and the
    // spectrum's global mean (passed through as `stats`) — previously
    // this was two full-data jobs at query-construction time.
    val r = b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"),
      count(lit(1)).as("n"), sum(col("vc")).as("sv")).collect()(0)
    val baseline = r.getLong(1) - r.getLong(0)
    val trials = (2L to 31L)
      .flatMap(kp => Seq(20L, 40L).map(m => (baseline / kp, m))).distinct
    graft.search.Bls.spectrumPrebinnedTrials(b, "t_us", "vc", trials, levels = 5,
        stats = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .select(col("p_us"), round(col("depth") * 1e6).cast("long").as("dc"))
  }

  val queries: Map[String, Q] = Map(
    // A8/A5/A4 — spectrum → signal → peak-cut noise → SNR, exact
    // integer pipeline over the 60-row period spectrum.
    "a8_bls_snr" -> ((s, d) => {
      val spec = blsDepths(s, d)
      val w = Window.orderBy("p_us")
      val fr = w.rowsBetween(-2, 2)
      val st = spec
        .withColumn("med", expr("percentile(dc, 0.5)").over(fr))
        .withColumn("sgnl", col("dc") - col("med"))
        .withColumn("sgnl_i", roundAway(col("sgnl")).cast("long"))
      val st2 = st
        .withColumn("n", count(lit(1)).over(fr))
        .withColumn("sv", sum(col("sgnl_i")).over(fr))
        .withColumn("q", sum(col("sgnl_i") * col("sgnl_i")).over(fr))
      st2
        .withColumn("noise",
          sqrt((col("q") - col("sv").cast("double") * col("sv") / col("n")) / col("n")))
        .withColumn("snr", col("sgnl") / nullif(col("noise"), lit(0.0)))
        .select(col("p_us"), col("sgnl"), round6(col("noise")).as("noise"),
          round6(col("snr")).as("snr"))
        .orderBy("p_us")
    }),

    // T3 spline mode, oracle-checked end to end. The events fixture's
    // gap-regions are all ≤4 rows (7 h cadence vs the 1 h gap split),
    // which would route every region to the n<8 mean fallback and
    // never run the spline — so the declared query detrends a
    // deterministic dense lightcurve instead (8 parts × 500 samples at
    // 30 min, anchored at the events epoch; cubic trend + LCG noise +
    // periodic dip, no transcendentals). One region per part, span
    // 10.4 d ⇒ 5 knots, a 9-dim truncated-power LSQ system. The
    // kernel's integerized normal equations + fixed-order Gauss–Jordan
    // (Detrend.splineBaseline) replay term by term in the DuckDB
    // oracle, so fit coefficients AND per-row baselines hash-match.
    "t3b_detrend_spline" -> ((s, d) => {
      graft.ops.Detrend.detrend(t3Sim(s, d, err = 1.0), Seq("part"),
          "t_us", "id", "value", "err",
          gapUs = 3600000000L, mode = "Spline", timescaleDays = 2.0)
        .select("part", "id", "baseline", "detr")
        .orderBy("part", "id")
    }),

    // T4 full fixpoint — detrend ⇄ sigma-clip coupled to a fixpoint,
    // final trend re-evaluated on ALL rows from the surviving fit
    // (ref main.py:10880–11138; final re-eval 11053–11067; clip
    // 10989–11002). Detrend mode here is the SQL-expressible rolling
    // ±1 h RANGE median (medi); 3 unrolled rounds stand in for the
    // data-dependent ≤5-iteration cap. All arithmetic is exact-integer
    // eighth-cents: vq = 4·cents, per-row residual d2 = 2·vq − 2·median
    // (integer, since a two-point median interpolation is k/2), clip
    // bounds from integer window sums — bit-reproducible across
    // engines and partitionings. Entirely window-based: no joins in
    // the iteration, so the shuffle is one exchange per round on
    // user_id.
    "t4b_detrend_clip" -> ((s, d) => {
      val W = 3600000000L
      val base0 = base(s, d).select(col("event_id"), col("user_id"),
        col("t_us"), (col("vc") * 4).as("vq"))
      def round1(df: DataFrame): DataFrame = {
        val wR = Window.partitionBy("user_id").orderBy("t_us").rangeBetween(-W, W)
        val wU = Window.partitionBy("user_id")
        // one select per window spec (the r14 disc-break lesson):
        // same-spec expressions issued together collapse into ONE
        // multi-function WindowExec; the withColumn-per-stat chain
        // planned one operator (and one partition re-buffer) each
        val d2 = df.withColumn("m2", (expr("percentile(vq, 0.5)").over(wR) * 2).cast("long"))
          .withColumn("d2", col("vq") * 2 - col("m2"))
        d2.select(col("*") +: Seq(
            count(lit(1)).over(wU).as("n"),
            sum(col("d2")).over(wU).as("sv"),
            sum(col("d2") * col("d2")).over(wU).as("q")): _*)
          .withColumn("mean", col("sv").cast("double") / col("n"))
          .withColumn("sd", sqrt((col("q") - col("sv").cast("double") * col("sv") / col("n")) / col("n")))
          .filter(col("d2") > col("mean") - lit(3) * col("sd") &&
                  col("d2") < col("mean") + lit(3) * col("sd"))
          .select("event_id", "user_id", "t_us", "vq")
      }
      val kept = round1(round1(round1(base0)))
      val flagged = base0.join(kept.select(col("event_id").as("kid")),
          col("event_id") === col("kid"), "left")
        .withColumn("kept", col("kid").isNotNull).drop("kid")
      val wR = Window.partitionBy("user_id").orderBy("t_us").rangeBetween(-W, W)
      val wU = Window.partitionBy("user_id")
      val keptMed = expr("percentile(CASE WHEN kept THEN CAST(vq AS DOUBLE) END, 0.5)")
      flagged
        .withColumn("tr2", coalesce((keptMed.over(wR) * 2).cast("long"),
          (keptMed.over(wU) * 2).cast("long")))
        .withColumn("trend", round6(col("tr2") / 800.0))
        .withColumn("detr", round(lit(1.0) + (col("vq") * 2 - col("tr2")) / 800.0, 6))
        .select("user_id", "event_id", "kept", "trend", "detr")
        .orderBy("user_id", "event_id")
    }),

    // T3 GaussianProcess mode — the reference's DEFAULT detrend
    // (main.py:7919; Matérn-3/2 kernel 6797–6833), the exact O(n)
    // state-space form (Kalman filter + RTS smoother) in a
    // flatMapGroups kernel per (part, region), over the same dense
    // sim as t3b (the events fixture's regions never reach the
    // kernel — see t3b). Oracle-checked: the recurrence is a fixed
    // IEEE sequence once the one transcendental (the transition decay
    // e^{−λΔt}) is quantized at 1e9 (Detrend.expQ) and σ comes from
    // integer sums (stddevQ), so DuckDB recursive CTEs replay the
    // forward filter and backward smoother state-by-state, bit-exact.
    "t3c_detrend_gp" -> ((s, d) => {
      graft.ops.Detrend.detrend(t3Sim(s, d, err = 0.01), Seq("part"),
          "t_us", "id", "value", "err",
          gapUs = 3600000000L, mode = "GaussianProcess", timescaleDays = 2.0)
        .select("part", "id", "baseline", "detr")
        .orderBy("part", "id")
    }),

    // T13 — seeded MCMC fit at REFERENCE fidelity (proc_modl settings
    // main.py:12131–12133: 100 walkers × 100 steps, 30% burn) of a
    // 3-parameter box model (depth, epoch, duration) on a collected
    // window. Driver runs the walker loop over the small collected
    // window — the reference's own division of labor; Spark
    // parallelizes ACROSS fits (t13b). EnsembleSpec pins recovery +
    // determinism; the DuckDB oracle replays the walk bit-exactly.
    "t13_mcmc_fit" -> ((s, d) => {
      // t6b-style injected fixture anchored at the data epoch (t13Grid):
      // a 3%-deep 1-d box at phase 0 — the events fixture carries no
      // transit, and a fit that provably RECOVERS a known signal is the
      // fidelity check (injection-recovery, same contract as t6b/t14).
      // Spark builds and phase-bins the series (one shuffle, exact
      // integer sums); the driver collects the 200-bin fit window and
      // runs the walker loop — the reference's division of labor.
      //
      // ORACLE-EXACT since r6: the walk runs through Ensemble.sampleQ —
      // indexed integer draws, integer micro-nat likelihood, integer
      // accept comparison (see Ensemble.scala) — so DuckDB replays all
      // 100 steps in a recursive CTE and the posterior percentiles
      // hash-match bit-for-bit. The likelihood is the white-noise
      // branch (ref retr_llik_mile main.py:735–850): the fixture's
      // noise IS white by construction, so it is the matched model
      // here; the GP-marginalized branch (gpLogLik) remains covered by
      // EnsembleSpec's correlated-baseline test and the t3c oracle.
      val (t, y, yq) = t13Fold(t13Grid(s, d), boxFlux(lit(0.03)), 1e6)
      // yerr = 4e-4 (the fixture's noise scale): micro-nat likelihood
      // scale = 1e6 / (2·yerr²) = 3.125e12
      val llq = Ensemble.boxLlq(t, y, scale = 3.125e12, period = 7.0) _
      // data-derived walker-ball center (the reference seeds walkers
      // around prior means): a mini-BLS — the deepest 1-day CIRCULAR
      // window of bins, not the single deepest bin, whose argmin can
      // sit on a transit edge and strand the ball in a no-overlap
      // local optimum. Integer window sums (boxGuessQ) so the SQL
      // replay is order-free.
      val guess = Ensemble.boxGuessQ(t, yq, 7.0, 1.0)
      val walk = Ensemble.sampleQ(llq,
        lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0), init = guess)
      posterior(s, Seq("depth" -> 0, "dur" -> 2, "epoch" -> 1), "" -> walk)
    }),

    // T13c — GP-LIKELIHOOD MCMC (the reference's DEFAULT inference
    // path restored to the oracle-gated surface: typebdtr=
    // 'GaussianProcess' main.py:7919, GP branch of retr_llik_mile
    // main.py:772–817): the same sampleQ integer proposal chain as
    // t13, but the likelihood marginalizes a Matérn-3/2 correlated
    // baseline instead of assuming white noise. The fixture ADDS that
    // nuisance: an 8-bin circular moving-sum LCG wiggle (rms ~1e-3,
    // 4× the binned white noise) rides on t13's box+noise curve — a
    // white-noise fit would absorb it into depth/epoch scatter; the
    // GP fit must recover the injected 3% depth through it.
    //
    // Cross-engine exactness: on the uniform 200-bin phase grid the
    // t3c Kalman recurrence has constant dt, so its covariances/gains
    // converge to the Riccati fixpoint — the likelihood is DECLARED
    // in that steady-state innovation form (Detrend.gpInnovSteady):
    // ν_i = r_i − Σ_l c_l·r_{i−l}, 32 lags, weights quantized at 1e6
    // and shared as literals with the oracle (the harmBasis
    // technique). With integer residuals (1e8) the whole filter is
    // exact int64 — order-free, so DuckDB's unordered SUM replays it
    // bit-for-bit inside the same recursive walk CTE as t13
    // (the log-det term is proposal-independent under fixed
    // hyperparameters and cancels in the accept ratio). Ensemble
    // geometry 50×60 keeps the oracle's 3050 GP evaluations
    // (200 bins × 32 lags each) tractable in DuckDB.
    "t13c_mcmc_gp" -> ((s, d) => {
      val (t, y, yq) = t13Fold(t13Grid(s, d), boxFlux(lit(0.03)), 1e6, Some(
        _.withColumn("w", (expr(t13cWigSql("b")) - 4000L).cast("double") * 1.25e-6)))
      val (cq, scale) = t13cGp
      val llq = Ensemble.gpBoxLlq(t, y, cq, scale, period = 7.0) _
      val walk = Ensemble.sampleQ(llq,
        lo = Array(-0.2, -3.5, 0.2), hi = Array(0.2, 3.5, 2.0),
        nWalkers = 50, nSteps = 60, init = Ensemble.boxGuessQ(t, yq, 7.0, 1.0))
      posterior(s, Seq("depth" -> 0, "dur" -> 2, "epoch" -> 1), "" -> walk)
    }),

    // T13d — LIMB-DARKENED MCMC fit (the reference's ACTUAL model
    // core restored to the fitted surface: every fit in init()
    // main.py:12178–12330 evaluates ephesos.eval_modl main.py:497–528,
    // a limb-darkened occultation curve — t13/t13c fit boxes). The
    // fixture INJECTS a real quadratic-LD transit (p=0.15, b=0.3,
    // u1=0.4, u2=0.25, T14=1.0 d — central depth p²·I(b)/Ω4 ≈ 2.68%)
    // plus t13's LCG noise; the same sampleQ integer proposal chain
    // then fits (rrat, epoch, T14) under the LD model itself — the
    // walker-ball guess converts boxGuessQ's window depth to a radius
    // ratio via p0 = √(depth·Ω4/I(b)).
    //
    // Cross-engine exactness WITHOUT quantizing the model: the LD
    // chain (model/LimbDark.scala) is √/min/max/±×÷ only — every op
    // IEEE correctly-rounded, so with identical expression shapes
    // (the layered columns here are the same per-layer SQL strings
    // the DuckDB fixture CTE and the oracle's correlated llq inline)
    // both engines produce bit-identical doubles, and the micro-nat
    // rounding + integer accept comparison replay exactly as in t13.
    "t13d_mcmc_ld" -> ((s, d) => {
      val (t, y, yq) = t13dFold(s, d)
      val llq = Ensemble.ldBoxLlq(t, y, scale = 3.125e12, period = 7.0) _
      val walk = Ensemble.sampleQ(llq,
        lo = Array(0.02, -3.5, 0.2), hi = Array(0.45, 3.5, 2.0), init = ldGuess(t, yq))
      posterior(s, Seq("dur" -> 2, "epoch" -> 1, "rrat" -> 0), "" -> walk)
    }),

    // T13e — TWO-PLANET joint limb-darkened fit (the reference's
    // multi-companion model: PlanetarySystem with numbcomp > 1,
    // setp_modlbase main.py:4504–4887 — every companion contributes
    // its own transit to one summed model, fitted JOINTLY): the
    // fixture injects planet a (p=0.15, T14=1.0 d, epoch 0, P=7 d)
    // AND planet b (p=0.11, T14=0.5 d, epoch 1.2, P=3.5 d — the
    // COMMENSURATE half period, so the 7-day fold carries b's two
    // dips exactly periodically) plus t13's noise; the sampleQ chain
    // then walks FOUR dimensions (rrat_a, epoch_a, rrat_b, epoch_b)
    // under the additive model F = flux_a + flux_b − 1. The
    // walker-ball guess finds planet a as the deepest 1-day circular
    // window and planet b as the deepest window at circular distance
    // > 28 bins from a (so b's guess can't land on a's dip); window
    // depths map to radius ratios via the t13d √(depth·KK) shape.
    // Cross-engine exactness: the r8 nd-generalized recursive CTE
    // replays all 4 walk dimensions; the model chain is the t13d
    // IEEE-exact LD DAG twice plus one subtraction. Geometry 50×300:
    // planet b's window-depth guess is diluted by the global-mean
    // depression of BOTH dips (measured pb0 ≈ 0.03 vs true 0.11), so
    // the 4-dim walk needs ~300 steps to converge from the ball —
    // measured recovery (0.150, 0.001, 0.110, 1.200) at 300 vs a
    // still-biased (0.142, 0.004, 0.037, 1.107) at 60.
    "t13e_mcmc_ld2" -> ((s, d) => {
      val grid = ldPhase(t13Grid(s, d))
        .withColumn("aph_b", expr("abs((phd - 1.2 + 1.75) % 3.5 - 1.75)"))
      val g = ldTransit(ldTransit(grid, "aph", 0.15, 1.0, "_a"), "aph_b", 0.11, 0.5, "_b")
      val (t, y, yq) = t13Fold(g, expr("f_a + f_b - 1.0") + col("u") * 0.004, 1e6)
      // two-window guess: mirror of the oracle's gx block (b1 = deepest
      // 29-bin circular window; b2 = deepest at circular distance > 28)
      val h = 14
      def winSum(c: Int): Long = {
        var s2 = 0L; var k = -h
        while (k <= h) { s2 += yq(((c + k) % 200 + 200) % 200); k += 1 }
        s2
      }
      val ws = Array.tabulate(200)(winSum)
      val c1 = (0 until 200).minBy(c => (ws(c), c))
      def circ(a: Int, b2: Int) = { val dd = math.abs(a - b2); math.min(dd, 200 - dd) }
      val c2 = (0 until 200).filter(c => circ(c, c1) > 28).minBy(c => (ws(c), c))
      var sall = 0L; yq.foreach(sall += _)
      val dA = (sall.toDouble / 200 - ws(c1).toDouble / 29) / 1e9
      val dB = (sall.toDouble / 200 - ws(c2).toDouble / 29) / 1e9
      val e1r = (c1 + 0.5) * 7.0 / 200
      val g1 = if (e1r >= 3.5) e1r - 7.0 else e1r
      val g3 = ((c2 + 0.5) * 7.0 / 200 + 1.75) % 3.5 - 1.75
      val guess = Array(
        math.sqrt(math.max(dA * LimbDark.KK, 4e-4)), g1,
        math.sqrt(math.max(dB * LimbDark.KK, 4e-4)), g3)
      val llq = Ensemble.ld2Llq(t, y, scale = 3.125e12) _
      val walk = Ensemble.sampleQ(llq,
        lo = Array(0.02, -3.5, 0.02, -1.75), hi = Array(0.45, 3.5, 0.45, 1.75),
        nWalkers = 50, nSteps = 300, init = guess)
      posterior(s, Seq("epoch_a" -> 1, "epoch_b" -> 3, "rrat_a" -> 0, "rrat_b" -> 2),
        "" -> walk)
    }),

    // T13f — RADIAL-VELOCITY orbit MCMC (the reference's RV model
    // axis: typemodl 'rvel', the K·sin(2πφ+φ0)+γ curve its RV branch
    // fits — t12 only EVALUATES an RV sinusoid; this FITS one): the
    // fixture injects γ=12.5, A=8, B=−5 (K≈9.43 m/s) on the 200-bin
    // fold plus ±2 m/s LCG noise, and sampleQ walks (γ, A, B) in the
    // LINEAR-HARMONIC parametrization — the trig basis is FIXED,
    // quantized at 1e6 and shared as literals with the oracle (the
    // t18 harmBasis technique), and epoch enters through (A, B), so
    // NO transcendental is evaluated at proposal time: every model
    // value is γ + A·(sq/1e6) + B·(cq/1e6), IEEE-exact in both
    // engines. The walker-ball guess is the exact Fourier projection
    // (integer sums of yq·sq / yq·cq — order-free, SQL-replayable).
    "t13f_mcmc_rv" -> ((s, d) => {
      import s.implicits._
      val g = t13Grid(s, d)
        .join(broadcast(rvBasis.toDF("bb", "sq", "cq")), col("b") === col("bb"))
      val (_, y, yq) = t13Fold(g, expr("CAST(12.5 AS DOUBLE) " +
          "+ CAST(8.0 AS DOUBLE) * (sq / 1e6) " +
          "+ CAST(-5.0 AS DOUBLE) * (cq / 1e6)") + col("u") * 4.0, 1e3)
      val (sa, psu, pcu) = rvProjection(yq)
      val guess = Array(
        sa.toDouble / 200 / 1e9,
        2.0 * (psu.toDouble / 200 / 1e15),
        2.0 * (pcu.toDouble / 200 / 1e15))
      // binned noise σ ≈ (2/√3)/√20 ≈ 0.26 m/s ⇒ scale = 1e6/(2σ²) ≈ 7.4e6
      val llq = Ensemble.rvLlq(y, rvBasis.map(_._2).toArray, rvBasis.map(_._3).toArray,
        scale = 7.4e6) _
      val walk = Ensemble.sampleQ(llq,
        lo = Array(0.0, -15.0, -15.0), hi = Array(25.0, 15.0, 15.0), init = guess)
      posterior(s, Seq("amp_cos" -> 2, "amp_sin" -> 1, "gamma" -> 0), "" -> walk)
    }),

    // T13g — the LD COEFFICIENTS join the walk (r9, verdict #3; the
    // reference registers coeflmdklinr/coeflmdkquad as fit parameters
    // via setp_para, ref main.py:440–447, 3821–3831, and fits them
    // per energy bin in spectral mode — t13d holds them constant).
    // The fixture injects a transit with NON-default LD (u1=0.6,
    // u2=0.1 vs the t13d model constants 0.4/0.25; p=0.15, T14=1.0 d,
    // b fixed): the LD profile information lives in the dip's SHAPE —
    // I(μ(z)) along the transit chord, steeper toward the limb for
    // larger u1 — so a 5-dim walk (rrat, epoch, T14, u1, u2) must
    // separate the coefficients from the overall depth (rrat). Same
    // cross-engine-exact machinery as t13d: the parametrized LD chain
    // (LimbDark.fluxU / fluxInlineSqlU) stays √/min/max/±×÷ only, so
    // raw doubles replay with NO model quantization; the walker ball
    // seeds u1/u2 at the MID-PRIOR constants (0.4, 0.25) and the
    // t13d depth→rrat conversion. Geometry 50×300 (the t13e lesson:
    // higher-dim walks need the longer chain to converge from the
    // tiny ball).
    "t13g_mcmc_ldfit" -> ((s, d) => {
      val g = ldTransit(ldPhase(t13Grid(s, d)), "aph", 0.15, 1.0, u = Some((0.6, 0.1)))
      val (t, y, yq) = t13Fold(g, col("f") + col("u") * 0.004, 1e6)
      val llq = Ensemble.ldFitLlq(t, y, scale = 3.125e12, period = 7.0) _
      val walk = Ensemble.sampleQ(llq,
        lo = Array(0.02, -3.5, 0.2, 0.0, -0.3),
        hi = Array(0.45, 3.5, 2.0, 1.2, 0.7),
        nWalkers = 50, nSteps = 300, init = ldGuess(t, yq) ++ Array(LimbDark.U1, LimbDark.U2))
      posterior(s, Seq("dur" -> 2, "epoch" -> 1, "rrat" -> 0, "u1" -> 3, "u2" -> 4),
        "" -> walk)
    }),

    // T13h — ECCENTRIC Keplerian RV fit (r9, verdict #4): extends
    // t13f's circular slice to the reference's full RV surface —
    // `retr_rvel` takes the companion's eccentricity and argument of
    // periastron (call site main.py:646–647, model 644–647; prior
    // defaults cover `ecce`, main.py:11543–11580). The walk is
    // (γ, K, e, ω); the model solves Kepler's equation with a FIXED
    // count of Newton steps from E₀ = M and polynomial quadrant trig
    // (model/Kepler.scala) — IEEE ±×÷/√ only, so raw doubles replay
    // across engines with NO model quantization (the LimbDark
    // discipline extended to a transcendental model; output-rounding
    // margins are unprovable for walked trig arguments, so libm never
    // runs at proposal time). The fixture injects (γ=12.5, K=9.0,
    // e=0.3, ω=1.0) through the SAME declared model (quantized as
    // data literals) plus t13f's LCG noise; the guess fixes (γ, K)
    // by exact Fourier projection and picks ω from an 8-candidate
    // grid by integer-llq argmax (atan2 is libm — banned).
    "t13h_mcmc_rvecc" -> ((s, d) => {
      import s.implicits._
      import graft.model.Kepler
      val g = t13Grid(s, d)
        .join(broadcast(t13hTrue.toDF("bb", "vq")), col("b") === col("bb"))
      val (t, y, yq) = t13Fold(g, expr("vq / 1e6") + col("u") * 4.0, 1e3)
      val llq = Ensemble.rvEccLlq(y, t.map(tb => Kepler.TWOPI * (tb / 7.0)), scale = 7.4e6) _
      val (sa, psu, pcu) = rvProjection(yq)
      // bounds (the r9 2^53 audit): |y| ≤ ~25 on the prior box so
      // |yq| ≤ 2.5e10, |yq·sq| ≤ 2.5e16, |Σ200| ≤ 5e18 < 2^63 (1.8×
      // headroom — re-derive if the prior box or scales change). The
      // int64 sums are exact; toDouble of a >2^53 sum rounds to
      // nearest IDENTICALLY to DuckDB's CAST(ps AS DOUBLE) (IEEE
      // int64→double is fully specified), and the guess is a
      // double-valued contract, so no integer exactness is claimed
      // past this line.
      val gamma0 = sa.toDouble / 200 / 1e9
      val ac = 2.0 * (pcu.toDouble / 200 / 1e15) //  ≈ K·cos ω
      val as0 = 2.0 * (psu.toDouble / 200 / 1e15) // ≈ −K·sin ω
      val k0 = math.sqrt(ac * ac + as0 * as0)
      val om0 = t13hOmegaGrid.maxBy(w => llq(Array(gamma0, k0, 0.1, w)))
      val walk = Ensemble.sampleQ(llq,
        lo = Array(0.0, 0.0, 0.0, -Kepler.PI),
        hi = Array(25.0, 20.0, 0.6, Kepler.PI),
        nWalkers = 50, nSteps = 300, init = Array(gamma0, k0, 0.1, om0))
      posterior(s, Seq("ecc" -> 2, "gamma" -> 0, "k_amp" -> 1, "omega" -> 3), "" -> walk)
    }),

    // T13i — MCMC fit under the EXACT occultation (r10, verdict #1):
    // t13d/g fit the small-planet factorization while t12e itself
    // measures that approximation 8.4e-3 wrong at p = 0.25 — the
    // reference's likelihood calls ephesos.eval_modl (main.py:497–528
    // via retr_llik_mile 735–850), i.e. it FITS under the exact
    // quadkipp form. The fixture injects the EXACT model's curve
    // (t12e's 256-node declared quadrature at p=0.25, T14=1.0 d,
    // epoch 0 — deep enough that the approximation error is ~20× the
    // binned noise) as bin-center literals (the t13h "fixture is
    // data" pattern) plus t13's LCG noise; then TWO walks of the same
    // (rrat, epoch, T14) geometry run side by side on the same data:
    // one under the exact fit model (Ensemble.ldxLlq —
    // LimbDarkExact.fluxAphN at the declared 64-node band, worst
    // model |Δ| ≈ 8e-5, 5× under the binned noise), one under t13d's
    // small-planet model. The output rows carry both posteriors
    // (param suffixes _exact/_approx): the rrat shift IS the
    // small-planet bias, now measured as a posterior displacement —
    // the exact fit recovers the injected 0.25, the approx fit sits
    // several binned-σ below it. Cross-engine exactness: the exact
    // chain is IEEE ±×÷/√/min/max + the literal-table atan with an
    // order-free integer node Σ per bin (the t12e argument), so both
    // walks replay raw-double in the oracle's correlated llq
    // (nested named layers, the t13h pattern; one 200-bin × 64-node
    // quadrature per proposal).
    "t13i_mcmc_ldx" -> ((s, d) => {
      val (t, y, yq) = literalCurveFold(s, d, t13iTrue)
      val guess = ldGuess(t, yq)
      val lo = Array(0.02, -3.5, 0.2); val hi = Array(0.45, 3.5, 2.0)
      val llqX = Ensemble.ldxLlq(t, y, scale = 3.125e12, period = 7.0,
        n = t13iNFit) _
      val llqA = Ensemble.ldBoxLlq(t, y, scale = 3.125e12, period = 7.0) _
      val walkX = Ensemble.sampleQ(llqX, lo, hi, nWalkers = 50, nSteps = 150, init = guess)
      val walkA = Ensemble.sampleQ(llqA, lo, hi, nWalkers = 50, nSteps = 150, init = guess)
      posterior(s, Seq("dur" -> 2, "epoch" -> 1, "rrat" -> 0),
        "_exact" -> walkX, "_approx" -> walkA)
    }),

    // T13j — the OPTIMIZER inference mode (r10, verdict #2): the
    // reference offers maximum-likelihood optimization as a peer of
    // sampling (typeinfe='opti', declared main.py:7870–7875; the
    // Nelder–Mead branch main.py:4071–4110 minimizes
    // retr_lliknega_mile main.py:853) — the t13 family implements
    // only 'samp'. Same fixture, guess, and LD likelihood as t13d;
    // the inference is a FIXED 120-iteration deterministic
    // Nelder–Mead ascent (Ensemble.nelderMeadQ: α=1, γ=2, ρ=0.5,
    // σ=0.5, initial simplex = guess + 0.05·(hi−lo) per coordinate)
    // — every float op IEEE, every comparison on integer micro-nat
    // llq, so the whole simplex walk replays in a recursive CTE
    // exactly like the MCMC walks (one row of state per iteration —
    // cheaper than the ensemble: ~8 200-bin likelihood evaluations
    // per round). Output: the ML point (vs t13d's posterior median —
    // the cheap mode lands on the same optimum), the final llq, and
    // the declared iteration count.
    "t13j_opti" -> ((s, d) => {
      import s.implicits._
      val (t, y, yq) = t13dFold(s, d)
      val llq = Ensemble.ldBoxLlq(t, y, scale = 3.125e12, period = 7.0) _
      val (bestV, bestLl) = Ensemble.nelderMeadQ(llq,
        lo = Array(0.02, -3.5, 0.2), hi = Array(0.45, 3.5, 2.0),
        init = ldGuess(t, yq), nIter = 120)
      Seq(
        ("dur", bestV(2)),
        ("epoch", bestV(1)),
        ("iters", 120.0),
        ("llq", bestLl.toDouble),
        ("rrat", bestV(0)))
        .toDF("param", "value")
        .orderBy("param")
    }),

    // T13k — StarFlaring model fit (r10, verdict #3): fit (A, t0, τ)
    // of the exponential-decay flare the reference registers through
    // the same proc_modl machinery as the transits (model component
    // main.py:362–382, registry main.py:4231, 4517–4518) — the last
    // fitted-model family the reference has that the engine didn't.
    // The fixture injects F = 1 + 0.04·exp(−(t−2.0)/0.3) through the
    // DECLARED model (bin-center literals, the t13h pattern) plus
    // t13's LCG noise; sampleQ walks (A, t0, τ) with exp(−x) via
    // Flare.expNegCore (range reduction + fixed Taylor + 6 squarings
    // — IEEE-only, no libm at proposal time, so raw doubles replay).
    // The guess: peak-bin argmax (integer, first-wins) for t0, its
    // excess over the global mean for A, mid-prior for τ.
    "t13k_mcmc_flare" -> ((s, d) => {
      val (t, y, yq) = literalCurveFold(s, d, t13kTrue)
      // peak-bin guess: integer argmax (yq DESC, b ASC first-wins)
      val bmax = (0 until 200).minBy(b => (-yq(b), b))
      var sa = 0L; yq.foreach(sa += _)
      val guess = Array(
        (yq(bmax).toDouble - sa.toDouble / 200) / 1e9,
        (bmax + 0.5) * 7.0 / 200,
        0.3)
      val llq = Ensemble.flareLlq(t, y, scale = 3.125e12) _
      val walk = Ensemble.sampleQ(llq,
        lo = Array(0.005, 0.5, 0.05), hi = Array(0.15, 6.0, 1.0), init = guess)
      posterior(s, Seq("amp" -> 0, "t0" -> 1, "tau" -> 2), "" -> walk)
    }),

    // T13l — GP HYPERPARAMETERS JOIN THE WALK (r11 verdict #1, the one
    // remaining reference inference surface): when typemodlblinshap ==
    // 'GaussianProcess' the reference REGISTERS sigmgprobase/
    // rhoogprobase as sampled parameters — pulled from the parameter
    // vector per likelihood call (main.py:320–322, registered at
    // main.py:4588–4594) — and REBUILDS the Matérn-3/2 kernel from
    // them on EVERY call (setp_gpro main.py:716, from retr_llik_mile's
    // GP branch at 778). t13c fits under FIXED hyperparameters; here
    // the walk is 5-dim: (depth, epoch, dur, σ_gp, ρ_gp).
    //
    // Fixture: t13's grid + LCG noise + a stationary Matérn-3/2
    // wiggle with KNOWN (σ=2e-3, ρ=0.25 d) ≠ the t13c literals
    // (1e-3, 0.15), synthesized as a truncated-MA integer closed form
    // over Ensemble.draw draws (GpHyper.injectionWeights — a t13c-
    // style single-round LCG is a Weyl sequence, serial corr −0.29,
    // and distorts the injected covariance); the 200 bin values ship
    // to both engines as quantized literals (the t13h/t13i "fixture
    // is data" pattern). The box is BIN-ALIGNED (dur = 1.05 d = 30
    // bins) on purpose: a NON-aligned box would leave a partially-
    // dipped edge bin — a ~4σ_wig one-bin residual spike that maximum
    // likelihood explains as ρ→0 (measured in GpHyperSpec; alignment
    // avoids it).
    //
    // Cross-engine exactness: per proposal BOTH engines rebuild the
    // steady-state innovation filter from the WALKED (σ, ρ) —
    // exp(−√3·dt/ρ) through the Flare.expNegCore reduction, a FIXED
    // 48-iteration Riccati recursion and 40 lag weights as IEEE ±×÷
    // nested layers (GpHyper.chainSql ≡ GpHyper.weights op-for-op;
    // bit-equality spec'd over the prior box in GpHyperSpec), weights
    // quantized at 1e6 per proposal, innovations exact int64 (bounds:
    // |rq| ≤ 2.4e7, |cq| ≤ 2e6, 40 lags ⇒ |νq| ≤ 2e15 < 2^63; scale
    // = 1e6/(2S) ≤ 3.2e12 at S ≥ R ⇒ ν²·scale ≤ 8e14 < 2^53), and the
    // now-proposal-DEPENDENT log-det term −100·lnQ6(S) quantized under
    // the sampler's proven ≤1-ulp libm rounding margin. The posterior
    // recovers σ ∈ [0.00160, 0.00213] ∋ 2e-3 and ρ ∈ [0.232, 0.295] ∋
    // 0.25 while rejecting the t13c literals; the fixed-hyperparameter
    // fit on the same fixture is overconfident about depth
    // (GpHyperSpec "fixed-wrong vs joint": widths 0.00071 vs 0.00106).
    "t13l_mcmc_gphyper" -> ((s, d) => {
      import s.implicits._
      import graft.model.GpHyper
      val bdf = broadcast(t13lWig.toDF("wb", "wv"))
      // half-duration 0.525 d = 15 bins: the box edges sit on bin edges
      val (t, y, yq) = t13Fold(t13Grid(s, d), boxFlux(lit(0.03), half = 45360000000L), 1e6,
        Some(_.join(bdf, col("b") === col("wb")).withColumn("w", col("wv").cast("double") * 1e-9)))
      val llq = GpHyper.llq(t, y, 7.0) _
      val g = Ensemble.boxGuessQ(t, yq, 7.0, 1.05)
      val walk = Ensemble.sampleQ(llq,
        lo = Array(-0.2, -3.5, 0.2, 2e-4, 0.06),
        hi = Array(0.2, 3.5, 2.0, 6e-3, 1.2),
        nWalkers = 50, nSteps = 150, init = Array(g(0), g(1), g(2), 1.5e-3, 0.3))
      posterior(s, Seq("depth" -> 0, "dur" -> 2, "epoch" -> 1, "rho" -> 4, "sigma" -> 3),
        "" -> walk)
    }),

    // T13 per-energy-bin fits, SPARK-PARALLEL (ref main.py:12301–12316:
    // typemodlenerfitt='iter' loops the whole fit once per energy bin —
    // here the loop IS the shuffle key): phase-fold each energy bin at
    // P7 into 200 exact-integer phase bins (one aggregation), then
    // fitPerKey runs the full 100×100 white-noise ensemble fit per bin
    // in its own task. The output is the per-ener depth posterior —
    // the transmission-spectrum table en1 summarizes descriptively, now
    // with 16/50/84 uncertainties. 8 energy bins carry an injected
    // DEPTH RAMP 0.015 + 0.003·ener — the per-ener fits must recover a
    // transmission-spectrum slope, not just one depth. Deterministic:
    // integer bin sums, sorted group iteration, per-ener seed.
    // Oracle-exact since r6 (the sampleQ machinery, one recursion per
    // ener in the SQL replay); the white-noise likelihood is the
    // matched model for this white-noise fixture — see t13. Raw
    // doubles out (bit-identical chain; rounding would only add
    // boundary risk — the a8 lesson).
    "t13b_mcmc_perener" -> ((s, d) => {
      import s.implicits._
      val bins = t13Grid(s, d, perEner = true)
        .withColumn("vq", round(boxFlux(lit(0.015) + col("ener") * lit(0.003)) * 1e6).cast("long"))
        .groupBy("ener", "b")
        .agg(count(lit(1)).as("n"), sum(col("vq")).as("sv"))
        .as[(Long, Long, Long, Long)]
      fitPerKey(bins, "ener", 8, 200, 3.125e12,
          "ener", "depth_p16", "depth_p50", "depth_p84", "acceptance") {
        (ener, pct, acc) => (ener, pct(0)(0), pct(0)(1), pct(0)(2), acc)
      }
    }),

    // T13m — the TTV FIT mode (PlanetarySystemWithTTVs with
    // typemodlttvr='indilineuser', ref main.py:12284–12316:
    // numbiterfitt = gdat.numbtran at 12286–12290 — the reference runs
    // the fit ONCE PER TRANSIT with that transit's mid-time free; t21
    // MEASURES per-transit O−C, this FITS it). Fixture: a 31.5-d
    // uniform grid (4500 points at 0.007 d), a 3%-deep 1-d box each
    // 7-d period with a SINUSOIDAL timing variation injected as
    // integer-µs literals — ttv_k = A·sin(2πk/5), A = 63 min
    // ([[TtvInjUs]]; driver-side libm constants shipped verbatim to
    // both engines, the t12e literal discipline). Per-transit windows
    // k = 1..4 (window k = off ∈ [−3.5 d, 3.5 d) around the linear
    // center k·P; k = 0's window is only half-sampled and excluded),
    // each folded so the transit sits at phase 1.75 d — interior of
    // the epoch prior, away from the boxGuessQ ±3.5 wrap, and keeping
    // tb − e + 3.5 ≥ 0 so the SQL fmod needs no negative-operand
    // branch — then binned to 500 bins (exactly 2 grid points each).
    // The t13b fan-out applies per TRANSIT instead of per energy:
    // fitPerKey gives each 100×100 ensemble fit its own task; fitted
    // epoch → O−C minutes. Likelihood scale is MATCHED to the 2-point
    // bins: var = (0.004²/12)/2 ⇒ scale = 1e6/(2·var) = 7.5e11
    // exactly. ORACLE-EXACT: the sampleQ chain replays per transit in
    // the recursive CTE (one recursion, 4 groups), like t13b. Epoch
    // resolution is bin-quantized (~20 min — the box model is
    // evaluated at bin centers, so the likelihood is a step function
    // of epoch); the injected amplitude (±3 bins) is resolved with
    // margin, asserted in TtvFitSpec together with the depth-weighted
    // t21-style measurement on the same fixture.
    "t13m_mcmc_ttv" -> ((s, d) => {
      import s.implicits._
      val HP = P7 / 2
      val nb = 500; val n = 4500L; val step = 604800000L // 0.007 d
      val bins = base(s, d).agg(min(col("t_us")).as("t0"))
        .withColumn("i", explode(sequence(lit(0L), lit(n - 1))))
        .withColumn("tl", col("i") * step)
        .withColumn("k", expr(s"(tl + $HP) div $P7"))
        .filter(col("k").between(1L, 4L))
        .withColumn("off", col("tl") - col("k") * P7)
        .withColumn("ttv", when(col("k") === 1L, TtvInjUs(0))
          .when(col("k") === 2L, TtvInjUs(1))
          .when(col("k") === 3L, TtvInjUs(2)).otherwise(TtvInjUs(3)))
        .withColumn("r", (col("i") % 65536L * 1103515245L + 12345L) % 2147483648L)
        .withColumn("noise", (col("r").cast("double") / 2147483648.0 - 0.5) * 0.004)
        .withColumn("flux", lit(1.0)
          - when(abs(col("off") - col("ttv")) < PDAY / 2, 0.03).otherwise(0.0)
          + col("noise"))
        .withColumn("fc", round(col("flux") * 1e6).cast("long"))
        .withColumn("phus", (col("off") + lit(P7 + P7 / 4)) % P7)
        .withColumn("b", expr(s"(phus * $nb) div $P7"))
        .groupBy("k", "b")
        .agg(count(lit(1)).as("n"), sum(col("fc")).as("sv"))
        .as[(Long, Long, Long, Long)]
      fitPerKey(bins, "k", 4, nb, 7.5e11,
          "tran", "epoch_p16", "epoch_p50", "epoch_p84", "oc_min", "acceptance") {
        (k, pct, acc) =>
          (k, pct(1)(0), pct(1)(1), pct(1)(2), (pct(1)(1) - 1.75) * 1440.0, acc)
      }
    }),

    // P1 — posterior derived-feature column math (calc_feat_alle, ref
    // main.py:1231–1585: depth 1391, sini 1402, omeg 1403, rs2a 1404,
    // durations/blend 1425–1432; the transit-geometry helpers are the
    // standard Winn-2010 formulas). Deterministic LCG posterior
    // samples stand in for the sampler output; the derived layer is
    // pure codegen column math, then the reference's 16/50/84
    // summaries (dicterrr) per feature over integerized values — one
    // explode to long format, one shuffle on the feature key.
    "p1_derived_features" -> ((s, d) => {
      val nS = 2000L
      def u(k: Int) = // salted integer LCG in [0,1) — engine-neutral
        expr(s"CAST(((i + $k * 7919) % 65536 * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483648.0")
      val samples = base(s, d).agg(count(lit(1)).as("_n")) // anchor: one row
        .withColumn("i", explode(sequence(lit(0L), lit(nS - 1))))
        .withColumn("peri", lit(2.0) + lit(8.0) * u(1))
        .withColumn("rrat", lit(0.02) + lit(0.13) * u(2))
        .withColumn("rsma", lit(0.05) + lit(0.15) * u(3))
        .withColumn("cosi", lit(0.08) * u(4))
        .withColumn("ecos", lit(0.2) * (u(5) - lit(0.5)))
        .withColumn("esin", lit(0.2) * (u(6) - lit(0.5)))
      val derived = samples
        .withColumn("depth_ppt", lit(1e3) * col("rrat") * col("rrat"))
        .withColumn("sini", sqrt(lit(1.0) - col("cosi") * col("cosi")))
        .withColumn("ecce", sqrt(col("ecos") * col("ecos") + col("esin") * col("esin")))
        .withColumn("omeg", lit(180.0 / math.Pi) *
          expr(s"((atan2(esin, ecos) % ${2 * math.Pi}) + ${2 * math.Pi}) % ${2 * math.Pi}"))
        .withColumn("rs2a", col("rsma") / (lit(1.0) + col("rrat")))
        .withColumn("sinw", sin(lit(math.Pi / 180.0) * col("omeg")))
        .withColumn("imfa", col("cosi") / col("rs2a") *
          (lit(1.0) - col("ecce") * col("ecce")) /
          (lit(1.0) + col("ecce") * col("sinw")))
        // grazing geometries (imfa beyond the chord) clamp the
        // discriminant at 0 → zero duration, like a NaN-free np.
        .withColumn("durtot_hr", lit(24.0) * col("peri") / lit(math.Pi) *
          asin(col("rs2a") * sqrt(greatest(lit(0.0),
            (lit(1.0) + col("rrat")) * (lit(1.0) + col("rrat"))
            - col("imfa") * col("imfa"))) / col("sini")))
        .withColumn("durfull_hr", lit(24.0) * col("peri") / lit(math.Pi) *
          asin(col("rs2a") * sqrt(greatest(lit(0.0),
            (lit(1.0) - col("rrat")) * (lit(1.0) - col("rrat"))
            - col("imfa") * col("imfa"))) / col("sini")))
        .withColumn("blend_ppt", when(col("durtot_hr") > 0, lit(1e3) *
          pow(lit(1.0) - col("durfull_hr") / col("durtot_hr"), 2) /
          pow(lit(1.0) + col("durfull_hr") / col("durtot_hr"), 2))
          .otherwise(lit(1e3)))
      val longF = derived.select(col("i"), explode(map(
        lit("depth_ppt"), col("depth_ppt"), lit("sini"), col("sini"),
        lit("omeg"), col("omeg"), lit("imfa"), col("imfa"),
        lit("durtot_hr"), col("durtot_hr"), lit("durfull_hr"), col("durfull_hr"),
        lit("blend_ppt"), col("blend_ppt"))).as(Seq("feat", "val")))
        // 1e4 quantum: Java vs C libm (asin/atan2) differ by ~1 ulp,
      // so a fine quantum occasionally floors across the boundary —
      // coarse integerization makes the summaries engine-stable.
      .withColumn("vi", floor(col("val") * 1e4).cast("long"))
      longF.groupBy("feat")
        .agg(count(lit(1)).as("n"),
          (expr("percentile(vi, 0.16)") / 1e4).as("p16"),
          (expr("percentile(vi, 0.5)") / 1e4).as("p50"),
          (expr("percentile(vi, 0.84)") / 1e4).as("p84"))
        .select(col("feat"), col("n"), round6(col("p16")).as("p16"),
          round6(col("p50")).as("p50"), round6(col("p84")).as("p84"))
        .orderBy("feat")
    }),

    // Multimodal feature extraction through the batched partition-local
    // kernel (JVM mapInPandas shape) — with REAL decode on ALL THREE
    // modalities: image-kind payloads are genuine PNGs decoded by
    // javax.imageio, audio-kind genuine WAVs decoded by
    // javax.sound.sampled, video-kind genuine uncompressed RIFF/AVI
    // decoded by the hand-rolled parser (no JDK video codec exists;
    // Codec.decodeAvi walks the chunk tree and undoes bottom-up DIB
    // rows + stride padding). Pixel/sample/channel values are
    // closed-form in (media_id, position), so the oracle recomputes
    // the decoded per-residue sums in plain SQL — the encode→decode
    // round-trip is what's being hash-checked. n_units = decoded
    // pixels/samples/channel-bytes, not the container payload length.
    "m2_media_features" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.fromDocuments(documents(s, d))
      graft.multimodal.Multimodal.extractSums(media, dim = 8)
        .select(col("media_id"), col("kind"), col("n_units"),
          posexplode(col("features")).as(Seq("j", "fsum")))
        .orderBy("media_id", "j")
    }),

    // M3 — frame-sample + resize (the two video transforms after
    // decode in a multimodal ingest pipeline): every 2nd frame of
    // each REAL-decoded AVI is average-pooled into 2×2 blocks. The
    // kernel is row-local (decode + pool never shuffle; the only
    // exchange is the output sort), so at 100 TB the cost is one
    // scan of the video bytes however many executors hold them.
    // Per-block channel sums are exact integers and the gray mean is
    // one double division, so the oracle recomputes the pooled
    // output bit-for-bit from the closed-form pixel values — pooling
    // block assignment, ragged-edge counts, and frame stride are all
    // hash-checked against an independent SQL reconstruction.
    "m3_frame_pool" -> ((s, d) => {
      // media-kind partition pruning: kind is doc_id % 3 by fixture
      // construction, so the predicate pushes to the scan and the
      // kernel never encodes the 2/3 of payloads it would discard
      val media = graft.multimodal.Multimodal.fromDocuments(
        documents(s, d).filter(col("doc_id") % 3 === 2))
      graft.multimodal.Multimodal.pooledFrames(media, every = 2, pool = 2)
        .orderBy("media_id", "frame_idx", "by", "bx")
    }),

    // M7 — scene-cut detection (the shot-boundary pass of video
    // curation: consecutive-frame difference thresholding): every
    // frame of each REAL-decoded AVI (pooledFrames at every=1,
    // pool=1 = the per-pixel stream) is compared to its successor by
    // summed absolute 3-channel difference; a boundary whose mean
    // abs diff exceeds the threshold is flagged. The adjacency is an
    // EQUI-join whose key folds frame_idx+1 (the d34 technique — no
    // theta join), the SAD is an exact integer sum, and the flag is
    // an integer cross-multiply (sad·2 > n_px·723 ⇔ mad > 120.5 —
    // the fixture's frame-step diff concentrates near 120.5, so both
    // branches actually occur). Row-local decode, one (media, frame,
    // pixel)-keyed shuffle; at 100 TB this is a scan of the video
    // bytes plus a frame-pair-bounded join.
    "m7_scene_cut" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.fromDocuments(
        documents(s, d).filter(col("doc_id") % 3 === 2))
      val px = graft.multimodal.Multimodal.pooledFrames(media, every = 1, pool = 1)
        .select(col("media_id"), col("frame_idx"), col("bx"), col("by"),
          (col("sum_b") + col("sum_g") + col("sum_r")).as("g3"))
      val nxt = px.select(col("media_id"),
        (col("frame_idx") - 1).as("frame_idx"),
        col("bx"), col("by"), col("g3").as("g3n"))
      px.join(nxt, Seq("media_id", "frame_idx", "bx", "by"))
        .groupBy("media_id", "frame_idx")
        .agg(count(lit(1)).cast("long").as("n_px"),
          sum(abs(col("g3n") - col("g3"))).cast("long").as("sad3"))
        .withColumn("mad", col("sad3").cast("double") / col("n_px") / 3.0)
        .withColumn("is_cut", col("sad3") * 2 > col("n_px") * lit(723L))
        .select("media_id", "frame_idx", "n_px", "sad3", "mad", "is_cut")
        .orderBy("media_id", "frame_idx")
    }),

    // M5 — image resize (average-pool to 2×2 blocks) over REAL PNG
    // decode: the thumbnail/downsample step of a multimodal ingest
    // pipeline, completing the per-modality transform set (m3
    // frame-samples+pools video, m4 frames audio, m5 pools images).
    // Exact integer gray sums + one-division means; oracle recomputes
    // from the closed-form pixel formula. Row-local kernel with
    // media-kind pruning (image = doc_id % 3 == 0).
    "m5_image_pool" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.fromDocuments(
        documents(s, d).filter(col("doc_id") % 3 === 0))
      graft.multimodal.Multimodal.pooledImages(media, pool = 2)
        .orderBy("media_id", "by", "bx")
    }),

    // M6 — perceptual-hash image near-dup: the multimodal member of
    // the dedup family (d1..d9 are text/embedding; this is the image
    // arm every multimodal curation pipeline runs, aHash/dHash style).
    // Pixels come from the REAL PNG decode (pooledImages at pool=1 =
    // the per-pixel stream), so the hash is computed on decoder
    // output, not on trusted metadata; the aHash is then PURE
    // DECLARATIVE SQL: a fixed 4×4 cell grid ((x·4) div w — works down
    // to the fixture's 4-px images), cell-vs-image mean as an exact
    // integer CROSS-MULTIPLY (cs·npx > tot·cn — no division anywhere),
    // 16-bit hash assembled with the shared pow2 ladder. Pairs at
    // Hamming ≤ 2 use d4's exact pigeonhole: 3 bands (6/5/5 bits) —
    // ≤2 flipped bits leave ≥1 band intact — so candidates come from
    // an EQUI-join on (band, value, sub-cell). r7 scale hardening
    // (the d31 lesson, caught by the 100× sweep: the unsalted form
    // ran >15 min at 500 k images before being killed): a 16-bit hash
    // space has ≤128 distinct (band, value) keys TOTAL, so buckets
    // grow O(corpus) and both the pair join and the pair LIST itself
    // go quadratic on any large corpus. The declared operator is
    // therefore the production dedup shape — per-image BEST
    // near-duplicate (hamming ≤ 2) over population-salted sub-cells
    // of ≤128 members: candidates ≤ ~381·n at any saturation, output
    // ≤ 1 row per image.
    // DECLARED OUTPUT CONTRACT (r8): below salt activation (every
    // (band,value) bucket ≤128 members — always true at the driver
    // SFs, where engine and oracle agree exactly) the result is the
    // EXACT rank-1 near-duplicate assignment. Once any bucket exceeds
    // 128 members the salt splits it and the result becomes a
    // BOUNDED-RECALL assignment: a true hamming≤2 best match whose
    // every shared intact band lands in a different sub-cell can be
    // missed, and nsub (hence the split) depends on corpus size. The
    // trade is deliberate — it is what keeps candidates O(n) on a
    // 16-bit hash space — and scale runs can audit activation by
    // checking max bucket population (the `bcnt` frame) against 128.
    "m6_image_phash" -> ((s, d) => {
      val media = graft.multimodal.Multimodal.fromDocuments(
        documents(s, d).filter(col("doc_id") % 3 === 0))
      // localCheckpoint (r16, the d31 edge-list lifecycle): the hash
      // frame feeds 8 decode chains through phashBestMatch's self-join
      // arms (bands×2 via the population count, ×2 via lhs/rhs, ×2 via
      // the symmetrizing union) — without the cut the REAL PNG decode
      // re-runs per arm (16 scans / 32 kernel nodes in the plan; one
      // scan + one kernel after). The checkpointed frame is
      // (media_id, ahash): two longs per image.
      val hashes = graft.multimodal.Multimodal.aHashes(media).localCheckpoint()
      // banding + sub-cell salt + per-image best match: the shared
      // kernel (Multimodal.phashBestMatch) — also driven standalone by
      // M6RecallSpec (salt recall loss vs all-pairs truth) and
      // M6Density (the O(n) candidate bound past hash-space saturation)
      graft.multimodal.Multimodal.phashBestMatch(hashes)
        .orderBy("media_id")
    }),

    // M4 — audio framing features (the audio analog of m3): every
    // REAL-decoded WAV is cut into 16-sample frames at 8-sample hop
    // (50% overlap, the standard STFT framing), and per frame the
    // kernel emits energy, zero-crossing count, and peak — the
    // classic voice-activity / silence-trim signals computed before
    // any spectral transform. All features are exact integers except
    // mean power (one division of exact integers), so the oracle
    // recomputes the decode→frame→feature chain bit-for-bit from the
    // closed-form sample values. Row-local kernel: the only exchange
    // is the output sort, so at 100 TB this is one scan of the audio
    // bytes wherever they sit.
    "m4_audio_win" -> ((s, d) => {
      // media-kind partition pruning as in m3 (audio = doc_id % 3 == 1)
      val media = graft.multimodal.Multimodal.fromDocuments(
        documents(s, d).filter(col("doc_id") % 3 === 1))
      graft.multimodal.Multimodal.windowedAudio(media, win = 16, hop = 8)
        .orderBy("media_id", "win_idx")
    })
  )

  /** One detrend+clip round as SQL: input CTE name in, output name out. */
  private def t4bRound(in: String, out: String): String =
    s"""c_$out AS (SELECT event_id, user_id, t_us, vq,
       |    CAST(quantile_cont(vq, 0.5) OVER
       |      (PARTITION BY user_id ORDER BY t_us
       |       RANGE BETWEEN 3600000000 PRECEDING AND 3600000000 FOLLOWING) * 2
       |      AS BIGINT) AS m2
       |  FROM $in),
       |$out AS (SELECT event_id, user_id, t_us, vq FROM (
       |    SELECT *, vq*2 - m2 AS d2,
       |      count(*) OVER wu AS n,
       |      sum(vq*2 - m2) OVER wu AS sv,
       |      sum((vq*2 - m2)*(vq*2 - m2)) OVER wu AS q
       |    FROM c_$out WINDOW wu AS (PARTITION BY user_id))
       |  WHERE d2 > CAST(sv AS DOUBLE)/n - 3*sqrt((q - CAST(sv AS DOUBLE)*sv/n)/n)
       |    AND d2 < CAST(sv AS DOUBLE)/n + 3*sqrt((q - CAST(sv AS DOUBLE)*sv/n)/n))""".stripMargin

  /** The p16/p50/p84 picks of a pc$d percentile block (q is 0.16, 0.5
    * or 0.84). */
  private val pctSql = Seq(
    "max(CASE WHEN q < 0.3 THEN v END)",
    "max(CASE WHEN q > 0.3 AND q < 0.7 THEN v END)",
    "max(CASE WHEN q > 0.7 THEN v END)")

  /** The posterior rows read after mcmcSamplerSql (the Spark side's
    * `posterior` restated): `acceptance` and each named dimension's
    * percentiles, the names suffixed by `sfx`. */
  private def posteriorRowsSql(dims: Seq[(String, Int)], sfx: String = ""): String =
    (s"SELECT 'acceptance$sfx' AS param, a AS p16, a AS p50, a AS p84 FROM accr" +:
      dims.map { case (p, d) => s"SELECT '$p$sfx', ${pctSql.mkString(", ")} FROM pc$d" })
      .mkString("\nUNION ALL\n")

  /** The posterior table: [[posteriorRowsSql]] ordered by name. */
  private def posteriorSql(dims: Seq[(String, Int)]): String =
    s"SELECT * FROM (\n${posteriorRowsSql(dims)}\n) ORDER BY param"

  /** A per-key fit's rows (t13b's energy bins, t13m's transits): the
    * key as `key`, the percentiles of walk dimension `d` as
    * `name`_p16/p50/p84, the `extra` columns and the acceptance. */
  private def perKeySql(key: String, name: String, d: Int, extra: Seq[String] = Nil): String = {
    val cols = pctSql.zip(Seq("p16", "p50", "p84")).map { case (m, c) => s"$m AS ${name}_$c" } ++
      extra :+ "max(a) AS acceptance"
    s"""SELECT p.ener AS $key,
       |    ${cols.mkString(",\n    ")}
       |FROM pc$d p JOIN accr ON accr.ener = p.ener
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Ensemble.boxModel at bin alias `ba` for the walk columns
    * `al`.`p`0..2 (depth, epoch, duration): ph = fmod-wrap into [0,P)
    * minus P/2 (DuckDB fmod is floored mod = Java's truncated % plus
    * the same +P wrap, bit-identically — verified on negative
    * operands). */
  private def boxMdlSql(al: String, p: String, ba: String = "bb"): String =
    s"(1.0 - $al.${p}0 * (CASE WHEN abs(fmod($ba.tb - $al.${p}1 + 3.5, 7.0) - 3.5) < $al.${p}2 / 2" +
      s" THEN ${D(1.0)} ELSE ${D(0.0)} END))"

  /** The order-free integer micro-nat white-noise likelihood
    * (Ensemble.boxLlq) at `scale` = 1e6/(2·yerr²) — 3.125e12 for t13's
    * yerr = 4e-4. */
  private def boxLlqSql(scale: String): (String, String) => String = (al, p) =>
    s"(SELECT CAST(-sum(CAST(round((bb.y - ${boxMdlSql(al, p)}) * (bb.y - ${boxMdlSql(al, p)}) * $scale)" +
      s" AS BIGINT)) AS BIGINT) FROM bins bb WHERE bb.ener = $al.ener)"

  /** Ensemble.ldBoxLlq inline at the walk columns (rrat, epoch, T14) =
    * `a`.`c0`, `c1`, `c2`: the full limb-darkened model composed from
    * the same per-layer strings by substitution (LimbDark.fluxInlineSql),
    * so the arithmetic DAG matches the engine's layered columns. */
  private def ldLlqSql(a: String, c0: String, c1: String, c2: String): String = {
    val aph = s"abs(fmod(bb.tb - $a.$c1 + 3.5, 7.0) - 3.5)"
    s"(SELECT CAST(-sum(CAST(round((yy - mm) * (yy - mm) * 3.125e12)" +
      s" AS BIGINT)) AS BIGINT) FROM (SELECT bb.y AS yy, " +
      LimbDark.fluxInlineSql(aph, s"$a.$c0", s"$a.$c2") +
      s" AS mm FROM bins bb WHERE bb.ener = $a.ener) qq)"
  }

  /** [[ldLlqSql]] over the walk's own parameter columns. */
  private val ldLlq: (String, String) => String =
    (al, p) => ldLlqSql(al, s"${p}0", s"${p}1", s"${p}2")

  private val sallSql = "sall AS (SELECT ener, CAST(sum(yq) AS BIGINT) AS sa FROM bins GROUP BY 1)"

  /** Depth below the mean of `nb` bins of a (2h+1)-bin window sum `w`
    * (boxGuessQ's g0). */
  private def windowDepthSql(w: String, h: Int = 14, nb: Int = 200): String =
    s"(CAST(sa AS DOUBLE) / $nb - CAST($w AS DOUBLE) / ${2 * h + 1}) / 1e9"

  /** A window depth as a radius ratio, √(depth·KK) floored at 0.02 —
    * the LD fits' g0 (Scala: ldGuess). */
  private def ldG0Sql(depth: String): String =
    s"sqrt(GREATEST($depth * ${D(LimbDark.KK)}, ${D(4e-4)}))"

  /** boxGuessQ restated: CTEs ending in gx(ener, g0, g1, …) centered on
    * the deepest (2h+1)-bin circular window of integer yq sums over
    * `nb` bins (first-index tiebreak). `g0` maps the window's depth
    * onto the first coordinate; `rest` spells g2 onward. */
  private def boxGxSql(g0: String => String = identity, rest: String = s"${D(1.0)} AS g2",
                       h: Int = 14, nb: Int = 200): String =
    s"""gw AS (SELECT c.ener AS ener, c.b AS c, CAST(sum(b2.yq) AS BIGINT) AS w
       |  FROM bins c
       |  CROSS JOIN (SELECT unnest(range(-$h, ${h + 1})) AS kk) o
       |  JOIN bins b2 ON b2.ener = c.ener
       |    AND b2.b = ((c.b + o.kk) % $nb + $nb) % $nb
       |  GROUP BY 1, 2),
       |best AS (SELECT ener, c, w FROM (
       |    SELECT ener, c, w,
       |      row_number() OVER (PARTITION BY ener ORDER BY w ASC, c ASC) AS rw
       |    FROM gw) WHERE rw = 1),
       |$sallSql,
       |gx AS (SELECT best.ener AS ener,
       |    ${g0(windowDepthSql("w", h, nb))} AS g0,
       |    CASE WHEN (CAST(c AS DOUBLE) + 0.5) * 7.0 / $nb >= 3.5
       |         THEN (CAST(c AS DOUBLE) + 0.5) * 7.0 / $nb - 7.0
       |         ELSE (CAST(c AS DOUBLE) + 0.5) * 7.0 / $nb END AS g1,
       |    $rest
       |  FROM best JOIN sall ON sall.ener = best.ener)""".stripMargin

  /** t13f's quantized trig basis at the 200 fold-bin centers:
    * (b, round(sin·1e6), round(cos·1e6)) — computed ONCE and injected
    * as literals into BOTH the Spark plan and the DuckDB oracle (the
    * t18 harmBasis technique), so no libm trig call ever crosses
    * engines. */
  private[queries] lazy val rvBasis: Seq[(Long, Long, Long)] =
    (0 until 200).map { b =>
      val th = 2.0 * math.Pi * (b + 0.5) / 200.0
      (b.toLong, math.round(math.sin(th) * 1e6), math.round(math.cos(th) * 1e6))
    }

  /** [[rvBasis]] as the oracle's literal CTE rvb(b, sq, cq). */
  private lazy val rvbSql: String =
    s"\nrvb AS (SELECT * FROM (VALUES ${rvBasis
      .map { case (b, sq, cq) => s"($b, $sq, $cq)" }.mkString(", ")}) AS t(b, sq, cq)),"

  /** The Fourier projection of yq on rvb (rvProjection restated). */
  private val rvProjSql =
    """proj AS (SELECT bb.ener AS ener,
      |    CAST(sum(bb.yq * w.sq) AS BIGINT) AS ps,
      |    CAST(sum(bb.yq * w.cq) AS BIGINT) AS pc
      |  FROM bins bb JOIN rvb w ON w.b = bb.b GROUP BY 1)""".stripMargin

  /** t13h's injected TRUE curve: the declared eccentric model
    * (γ=12.5, K=9.0, e=0.3, ω=1.0) evaluated at the fold-bin mean
    * anomalies, quantized at 1e6 and shared as literals by both
    * engines (the rvBasis pattern — the fixture is DATA, so
    * quantizing it is free; the FIT model stays raw-double). */
  private[queries] lazy val t13hTrue: Seq[(Long, Long)] =
    (0 until 200).map { b =>
      val tb = (b + 0.5) * 7.0 / 200
      val m = graft.model.Kepler.TWOPI * (tb / 7.0)
      (b.toLong, graft.expr.VecExprs.roundHalfAway(
        graft.model.Kepler.rv(m, 12.5, 9.0, 0.3, 1.0) * 1e6))
    }

  /** t13i's declared FIT-model node count: LimbDarkExact.fluxN at 64
    * band nodes — worst |Δ| vs the analytic form ≈ (256/64)^1.5 ×
    * t12e's measured 1e-5 ≈ 8e-5, 5× under the binned fixture noise
    * (4e-4) and ~100× inside the 8.4e-3 small-planet error the exact
    * fit removes — chosen so the oracle's per-proposal 200-bin
    * quadrature stays replayable at MCMC volume. */
  private[queries] val t13iNFit = 64

  /** t13i's injected TRUE curve: the EXACT occultation (t12e's
    * 256-node declared model; p=0.25, T14=1.0 d, epoch 0) at the 200
    * fold-bin centers, quantized at 1e9 and shared as literals by
    * both engines (the t13hTrue "fixture is data" pattern). */
  private[queries] lazy val t13iTrue: Seq[(Long, Long)] =
    (0 until 200).map { b =>
      val tb = (b + 0.5) * 7.0 / 200
      val aph = if (tb < 3.5) tb else 7.0 - tb
      (b.toLong, graft.expr.VecExprs.roundHalfAway(
        graft.model.LimbDarkExact.fluxAph(aph, 0.25, 1.0) * 1e9))
    }

  /** t13k's injected TRUE curve: the DECLARED flare model
    * (A=0.04, t0=2.0, τ=0.3 through Flare.flux — i.e. the same
    * reduction+squaring exp both engines fit with) at the 200
    * fold-bin centers, quantized at 1e9 (fixture is data). */
  private[queries] lazy val t13kTrue: Seq[(Long, Long)] =
    (0 until 200).map { b =>
      val tb = (b + 0.5) * 7.0 / 200
      (b.toLong, graft.expr.VecExprs.roundHalfAway(
        graft.model.Flare.flux(tb, 0.04, 2.0, 0.3) * 1e9))
    }

  /** t13h's ω-candidate grid (8 mid-octant angles): the circular
    * Fourier projection fixes (γ, K) but ω needs atan2, which is libm
    * — instead the guess scores each candidate with the EXACT integer
    * llq and takes the argmax (first-wins), replayed in SQL as
    * ORDER BY ll DESC, w ASC LIMIT 1. */
  private[queries] lazy val t13hOmegaGrid: Seq[Double] =
    (0 until 8).map(j =>
      -graft.model.Kepler.PI + (2 * j + 1) * graft.model.Kepler.PI / 8.0)

  /** SQL replay of Ensemble.sampleQ for the t13 oracles: one recursive
    * CTE advances the WHOLE 100-walker ensemble one stretch-move step
    * per recursion round (walkers move from the previous ensemble
    * state, so within a step all 100 proposals are independent — the
    * property that makes the walk set-expressible). Every float op
    * mirrors the Scala kernel's IEEE expression shape exactly; draws
    * are the same stateless integer hash; the likelihood is the same
    * order-free integer micro-nat sum; accept/reject is the same
    * integer comparison over ln-values quantized at 1e6 (ln is the one
    * transcendental — lnQ6's runtime margin assert on the Scala side
    * proves the fixed fixture rounds identically under any ≤1-ulp
    * libm). DECIMAL pitfalls (memory: round5): every literal that
    * meets another literal is CAST to DOUBLE; sums of BIGINT are CAST
    * back from HUGEINT.
    *
    * @param fixtureSql CTEs ending in `bins(ener, b, tb, y, yq)`
    * @param enersSql  one row per fit: `SELECT ... AS ener` (default:
    *                  one fit, ener 0); fit `ener` replays the seed
    *                  42 + ener (sampleQ's default 42, t13b/t13m's
    *                  per-key seeds)
    * @param nW,nSteps ensemble geometry (mirrors sampleQ's arguments)
    * @param llq       (alias, paramPrefix) → scalar-subquery SQL for
    *                  the integer micro-nat likelihood of that row's
    *                  parameter columns; default the white-noise
    *                  boxLlq replay (t13/t13b). t13c passes the GP
    *                  innovation-filter likelihood here.
    * @param extraCte  additional CTEs (e.g. the GP lag-weight VALUES
    *                  table) injected after the fixture
    * @param los,his   the prior box per walk dimension (sampleQ's
    *                  lo/hi); their length is the walk dimension nd
    * @param gxBlockSql CTEs ending in gx(ener, g0..g{nd-1}), the
    *                  walker-ball center; None → [[boxGxSql]]'s
    *                  3-dimensional boxGuessQ replay, so non-3-dim
    *                  walks must supply one
    */
  private def mcmcSamplerSql(fixtureSql: String,
                             enersSql: String = "SELECT CAST(0 AS BIGINT) AS ener",
                             nW: Int = 100, nSteps: Int = 100,
                             llq: (String, String) => String = boxLlqSql("3.125e12"),
                             extraCte: String = "",
                             los: Seq[Double] = Seq(-0.2, -3.5, 0.2),
                             his: Seq[Double] = Seq(0.2, 3.5, 2.0),
                             gxBlockSql: Option[String] = None): String = {
    // nd-dimensional since r8 (t13e needs 4 walk dimensions): every
    // per-dimension fragment is generated from 0 until nd; for nd != 3
    // the caller MUST supply gxBlockSql (CTEs ending in
    // gx(ener, g0..g{nd-1})) because the default single-dip window
    // guess is 3-parameter by construction.
    val nd = los.length
    require(his.length == nd && (nd == 3 || gxBlockSql.isDefined),
      "mcmcSamplerSql: non-3-dim walks need an explicit gx block")
    val dims = 0 until nd
    def lnq(x: String) = s"CAST(round(ln($x) * 1e6) AS BIGINT)"
    val burnRow = (nSteps * 0.3).toInt + 1 // first post-burn recursion row
    val nSamples = (nSteps - (nSteps * 0.3).toInt) * nW
    val nProps = nSteps.toLong * nW
    def clamp(d: Int, v: String) =
      s"LEAST(${D(his(d))}, GREATEST(${D(los(d))}, $v))"
    // walker-ball init around the boxGuessQ center (Ensemble.sampleQ):
    // w_d = clamp(g_d + (2u−1)·0.005·(hi_d−lo_d)); the span is computed
    // in DOUBLE like the Scala hi(d)-lo(d) (NOT as a decimal literal —
    // 2.0−0.2 in DECIMAL is exactly 1.8, a different double)
    def initW(d: Int) = clamp(d,
      s"g$d + (2 * (SELECT u FROM dr WHERE dr.ener = gx.ener AND dr.idx = 1000000 + wk.k * $nd + $d) - 1)" +
      s" * ${D(0.005)} * (${D(his(d))} - ${D(los(d))})")
    def prop(d: Int) = clamp(d, s"wj$d + z * (wk$d - wj$d)")
    // the stateless index subquery selecting walker j for the stretch
    // move — shared by every wj$d column
    val jSel =
      s"""(SELECT CASE WHEN r % ${nW - 1} >= wt.k THEN r % ${nW - 1} + 1 ELSE r % ${nW - 1} END
         |                       FROM dr WHERE dr.ener = e.ener
         |                         AND dr.idx = (e.step * $nW + wt.k) * 3)""".stripMargin
    val pcBlocks = dims.map { d =>
      s"""o$d AS (SELECT ener, w$d AS x,
         |    row_number() OVER (PARTITION BY ener ORDER BY w$d) - 1 AS rn FROM smp),
         |pc$d AS (SELECT a.ener AS ener, qs.q AS q,
         |    a.x + (b.x - a.x) * (qs.q * ${nSamples - 1} - trunc(qs.q * ${nSamples - 1})) AS v
         |  FROM qs, o$d a, o$d b
         |  WHERE a.rn = CAST(trunc(qs.q * ${nSamples - 1}) AS BIGINT)
         |    AND b.ener = a.ener AND b.rn = a.rn + 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE
       |eners AS ($enersSql),
       |$fixtureSql,$extraCte
       |-- stateless indexed draws (Ensemble.draw): 2 LCG rounds with
       |-- xorshift mixing, mod 2^31; u = (r+1)/(2^31+1) exact IEEE
       |dr AS MATERIALIZED (
       |  SELECT ener, idx, r, CAST(r + 1 AS DOUBLE) / 2147483649.0 AS u FROM (
       |    SELECT ener, idx,
       |        (xor(x3, x3 >> 13) * 1103515245 + 12345) % 2147483648 AS r
       |    FROM (SELECT ener, idx,
       |            (xor(x1, x1 >> 15) * 69069 + 1) % 2147483648 AS x3
       |          FROM (SELECT en.ener AS ener, ix.idx AS idx,
       |                  (((42 + en.ener + ix.idx) % 2147483648)
       |                   * 1103515245 + 12345) % 2147483648 AS x1
       |                FROM eners en,
       |                  (SELECT unnest(range(0, ${nProps * 3})) AS idx
       |                   UNION ALL
       |                   SELECT unnest(range(1000000, ${1000000 + nW * nd}))) ix)))),
       |-- walker-ball center: by default boxGuessQ (deepest 1-day
       |-- CIRCULAR window of integer yq sums, h = 14, width 29,
       |-- first-index tiebreak); callers with other parametrizations
       |-- supply their own CTE chain ending in gx(ener, g0..g${nd - 1})
       |${gxBlockSql.getOrElse(boxGxSql())},
       |ini AS (SELECT gx.ener AS ener, wk.k AS k,
       |    ${dims.map(d => s"${initW(d)} AS w$d").mkString(",\n    ")}
       |  FROM gx CROSS JOIN (SELECT unnest(range(0, $nW)) AS k) wk),
       |inil AS (SELECT i0.ener AS ener, i0.k AS k,
       |    ${dims.map(d => s"i0.w$d AS w0$d").mkString(", ")}, ${llq("i0", "w")} AS llq
       |  FROM ini i0),
       |-- the walk: one recursion round = one whole-ensemble step;
       |-- state = (ener, step, #accepts, ${nd + 1}×$nW-element lists)
       |ens AS (
       |  SELECT ener, 0 AS step, CAST(0 AS BIGINT) AS nacc,
       |      ${dims.map(d => s"list(w0$d ORDER BY k) AS w${d}s").mkString(", ")},
       |      list(llq ORDER BY k) AS llqs
       |  FROM inil GROUP BY ener
       |  UNION ALL
       |  SELECT ener, step + 1, max(pnacc) + CAST(sum(acci) AS BIGINT),
       |      ${dims.map(d => s"list(nw$d ORDER BY k)").mkString(", ")},
       |      list(nllq ORDER BY k)
       |  FROM (
       |    SELECT ener, step, pnacc, k,
       |        ${dims.map(d => s"CASE WHEN acc THEN p$d ELSE wk$d END AS nw$d").mkString(",\n        ")},
       |        CASE WHEN acc THEN llp ELSE llk END AS nllq,
       |        CASE WHEN acc THEN 1 ELSE 0 END AS acci
       |    FROM (
       |      SELECT l3.*,
       |          (${lnq("l3.u2")} < ${nd - 1} * ${lnq("l3.z")} + (l3.llp - l3.llk)) AS acc
       |      FROM (
       |        SELECT l2.*, ${llq("l2", "p")} AS llp
       |        FROM (
       |          SELECT l1.ener AS ener, l1.step AS step, l1.pnacc AS pnacc,
       |              l1.k AS k, ${dims.map(d => s"l1.wk$d AS wk$d").mkString(", ")},
       |              l1.llk AS llk, l1.z AS z, l1.u2 AS u2,
       |              ${dims.map(d => s"${prop(d)} AS p$d").mkString(", ")}
       |          FROM (
       |            SELECT e.ener AS ener, e.step AS step, e.nacc AS pnacc,
       |                wt.k AS k,
       |                ${dims.map(d => s"e.w${d}s[wt.k + 1] AS wk$d").mkString(", ")},
       |                e.llqs[wt.k + 1] AS llk,
       |                ${dims.map(d => s"e.w${d}s[$jSel + 1] AS wj$d").mkString(",\n                ")},
       |                (SELECT (u + 1) * (u + 1) / 2 FROM dr
       |                 WHERE dr.ener = e.ener
       |                   AND dr.idx = (e.step * $nW + wt.k) * 3 + 1) AS z,
       |                (SELECT u FROM dr WHERE dr.ener = e.ener
       |                   AND dr.idx = (e.step * $nW + wt.k) * 3 + 2) AS u2
       |            FROM ens e
       |            CROSS JOIN (SELECT unnest(range(0, $nW)) AS k) wt
       |            WHERE e.step < $nSteps
       |          ) l1
       |        ) l2
       |      ) l3
       |    ) l4
       |  ) l5 GROUP BY ener, step
       |),
       |ensm AS MATERIALIZED (SELECT * FROM ens),
       |-- post-burn samples: Scala records the post-move ensemble at
       |-- 0-based steps ${burnRow - 1}..${nSteps - 1} = recursion rows $burnRow..$nSteps
       |smp AS MATERIALIZED (SELECT ener,
       |    ${dims.map(d => s"unnest(w${d}s) AS w$d").mkString(", ")}
       |  FROM ensm WHERE step >= $burnRow),
       |qs AS (SELECT ${D(0.16)} AS q UNION ALL SELECT ${D(0.5)}
       |       UNION ALL SELECT ${D(0.84)}),
       |-- Ensemble.percentiles: xs(i) + (xs(i+1)−xs(i))·(idx−i),
       |-- idx = q·${nSamples - 1}, i = trunc(idx) — the exact interpolation shape
       |$pcBlocks,
       |accr AS (SELECT ener, CAST(nacc AS DOUBLE) / $nProps AS a
       |  FROM ensm WHERE step = $nSteps)""".stripMargin
  }

  /** The unit draw of the fixture grid's LCG value r, in [−0.5, 0.5)
    * (t13Grid's `u`). */
  private val unitSql = "(CAST(r AS DOUBLE) / 2147483648.0 - 0.5)"

  /** The t13 oracle fixture frame (t13Grid + t13Fold restated for
    * DuckDB), ending in bins(ener, b, tb, y, yq):
    *   - e0, then the literal-table CTEs `lits`;
    *   - gn(ener, i, r, ph): the 4000-point grid, r salted per ener when
    *     `perEner`;
    *   - the caller's `valueSql` CTEs over gn, ending in fl(ener, ph,
    *     flux), or rv(ener, ph, v) when `rv` (quantized at 1e3, not 1e6);
    *   - bnr, the 200-bin integer sums, and bins, whose y adds the
    *     per-bin term `yTerm` of bnr `join`ed to a literal table (t13c,
    *     t13l). `tb = false` leaves out the bin center (t13f). */
  private def t13FrameSql(valueSql: String, rv: Boolean = false, lits: String = "",
                          yTerm: String = "", join: String = "", tb: Boolean = true,
                          perEner: Boolean = false): String = {
    val (src, v, q) = if (rv) ("rv", "v", "1e3") else ("fl", "flux", "1e6")
    val r =
      if (perEner) "((i + ener * 7919) % 65536 * 1103515245 + 12345) % 2147483648"
      else "(i % 65536 * 1103515245 + 12345) % 2147483648"
    val m = s"CAST(sv AS DOUBLE) / n / $q"
    val (y, y9) = if (yTerm.isEmpty) (m, s"$m * 1e9") else (s"$m + $yTerm", s"($m + $yTerm) * 1e9")
    val tbCol = if (tb) "(CAST(b AS DOUBLE) + 0.5) * 7.0 / 200 AS tb," else ""
    s"""e0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),$lits
       |gn AS (SELECT en.ener AS ener, ii.i AS i,
       |    $r AS r,
       |    (ii.i * 648000000) % 604800000000 AS ph
       |  FROM e0, eners en, (SELECT unnest(range(0, 4000)) AS i) ii),
       |$valueSql,
       |bnr AS (SELECT ener, (ph * 200) // 604800000000 AS b, count(*) AS n,
       |    CAST(sum(CAST(round($v * $q) AS BIGINT)) AS BIGINT) AS sv
       |  FROM $src GROUP BY 1, 2),
       |bins AS MATERIALIZED (SELECT ener, b, $tbCol
       |    $y AS y,
       |    CAST(round($y9) AS BIGINT) AS yq
       |  FROM bnr$join)""".stripMargin
  }

  /** The box-dip fixtures' fl (boxFlux restated): 1 − `depth` within
    * `half` µs of phase 0, plus the ±0.002 noise. */
  private def boxFlSql(depth: String = D(0.03), half: Long = 43200000000L): String =
    s"""fl AS (SELECT ener, ph,
       |    1.0 - (CASE WHEN ph < $half OR ph > ${604800000000L - half}
       |                THEN $depth ELSE CAST(0.0 AS DOUBLE) END)
       |        + $unitSql * 0.004 AS flux
       |  FROM gn)""".stripMargin

  /** A literal CTE `name`(`cols`) of per-bin (b, value) pairs. */
  private def binValuesSql(name: String, cols: String, vals: Seq[(Long, Long)]): String =
    s"$name AS (SELECT * FROM (VALUES ${vals.map { case (b, v) => s"($b, $v)" }.mkString(", ")})" +
      s" AS t($cols)),"

  /** t13's and t13b's fixture (the box dip; per-ener depth ramp and
    * noise salt for t13b) — mirrors the declared query's Spark fixture
    * bit-for-bit; ener ≡ 0 for t13. */
  private def t13FixtureSql(perEner: Boolean): String =
    t13FrameSql(boxFlSql(depth =
      if (perEner) "CAST(0.015 AS DOUBLE) + ener * CAST(0.003 AS DOUBLE)" else D(0.03)),
      perEner = perEner)

  /** t13c's correlated-baseline wiggle over the 200 phase bins: a
    * circular 8-bin moving sum of per-bin LCG draws — integer closed
    * form shared verbatim by both engines, correlated over ~8 bins
    * (0.28 d), rms ≈ 1.0e-3 ≈ 4× the binned white noise and 1/30 of
    * the transit depth: exactly the nuisance structure the GP
    * likelihood must marginalize out for the depth posterior to stay
    * centered. */
  private[queries] def t13cWigSql(bcol: String): String =
    (0 until 8).map(k =>
      s"(((($bcol + ${200 - k}) % 200) * 1103515245 + 54321) % 2147483648) % 1000")
      .mkString(" + ")

  /** t13c GP hyperparameters + derived innovation-filter constants
    * (fixed, not fitted — the reference supports fixed GP hyperpriors;
    * fitting them would make the lag weights proposal-dependent and
    * the log-det term non-constant): σ=1e-3 (the wiggle's scale),
    * ρ=0.15 d (~4 bins), R=(4e-4)² (t13's measurement noise), 32 lags
    * (decay e^{-λ·dt} ≈ 0.668 per lag ⇒ lag-32 weight ~2.6e-6, below
    * the 1e-6 weight quantum — the w8_ewma truncation discipline). */
  private[queries] lazy val t13cGp: (Array[Long], Double) = {
    val (cw, sInn) = graft.ops.Detrend.gpInnovSteady(
      sigma = 0.001, rho = 0.15, dt = 7.0 / 200, yerr = 4e-4, nLags = 32)
    (cw.map(c => graft.expr.VecExprs.roundHalfAway(c * 1e6)),
      1e6 / (2 * sInn))
  }

  /** t13's fixture + the wiggle: y = binned flux + wig — mirrors the
    * Spark fixture bit-for-bit (identical literal expression shapes,
    * identical operation order). */
  private def t13cFixtureSql: String = t13FrameSql(boxFlSql(),
    yTerm = s"CAST((${t13cWigSql("b")}) - 4000 AS DOUBLE) * CAST(1.25e-6 AS DOUBLE)")

  /** t13l's injected Matérn-3/2 wiggle: a truncated-MA(64) integer
    * closed form at the KNOWN (σ=2e-3, ρ=0.25 d) over Ensemble.draw
    * draws (GpHyper.injectionWeights/wigQ), quantized at 1e-9 flux —
    * the 200 values ship to both engines as literals (fixture is
    * data, the t13hTrue pattern). */
  private[queries] lazy val t13lWig: Seq[(Long, Long)] = {
    val wq = graft.model.GpHyper.injectionWeights(2e-3, 0.25, 64)
    (0L until 200L).map(b => (b, graft.model.GpHyper.wigQ(b, wq)))
  }

  /** t13l's fixture: t13's grid + noise with a BIN-ALIGNED box
    * (half-dur 0.525 d = 15 bins exactly — edge bins fully in/out, so
    * no partial-bin spike the GP must explain as ρ→0) plus the
    * literal wiggle, in 1e-9 flux units. Mirrors the Spark fixture
    * bit-for-bit. */
  private def t13lFixtureSql: String =
    binValuesSql("wigt", "wb, wv", t13lWig) + "\n" + t13FrameSql(boxFlSql(half = 45360000000L),
      yTerm = "CAST(wv AS DOUBLE) * CAST(1e-9 AS DOUBLE)", join = " JOIN wigt ON wigt.wb = bnr.b")

  /** The LD fixtures' phase layer (ldPhase restated): ap(ener, ph, r,
    * `aph`) with the distance from phase 0 folded at 3.5 d, plus the
    * `extra` columns over phd (t13e's second planet). */
  private def ldApSql(aph: String = "aph", extra: String = ""): String =
    s"""ap AS (SELECT ener, ph, r,
       |    CASE WHEN phd < 3.5 THEN phd ELSE 7.0 - phd END AS $aph$extra
       |  FROM (SELECT ener, ph, r, CAST(ph AS DOUBLE) / 86400e6 AS phd
       |        FROM gn) pd)""".stripMargin

  /** t13d's fixture: t13's grid + noise with the box dip replaced by
    * the injected limb-darkened transit — the LD layers are the SAME
    * per-layer SQL strings the Spark fixture names as columns
    * (model/LimbDark.scala), so both engines spell one arithmetic
    * DAG. t13g passes its injected coefficients `u` = (u1, u2). */
  private def t13dFixtureSql(u: Option[(String, String)] = None): String = {
    val PT = LimbDark.D(0.15); val TT = LimbDark.D(1.0)
    val (iz, flux) = u match {
      case None => (s"${LimbDark.izSql("mu")} AS iz", LimbDark.fluxSql("hu", PT, "iz", "lam"))
      case Some((u1, u2)) => (
        s"${LimbDark.izSqlU("mu", u1, u2)} AS iz, ${LimbDark.om4SqlU(u1, u2)} AS om4",
        LimbDark.fluxSqlU("hu", PT, "iz", "lam", "om4"))
    }
    t13FrameSql(
      s"""${ldApSql()},
         |l1 AS (SELECT ener, ph, r, ${LimbDark.huSql("aph", TT)} AS hu FROM ap),
         |l2 AS (SELECT ener, ph, r, hu, ${LimbDark.zSql("hu", PT)} AS z FROM l1),
         |l3 AS (SELECT ener, ph, r, hu,
         |    ${LimbDark.lamSql("z", PT)} AS lam,
         |    ${LimbDark.muSql("z", PT)} AS mu FROM l2),
         |l4 AS (SELECT ener, ph, r, hu, lam, $iz FROM l3),
         |fl AS (SELECT ener, ph,
         |    $flux
         |      + $unitSql * 0.004 AS flux
         |  FROM l4)""".stripMargin)
  }

  /** t13g's fixture: t13d's shape with the INJECTED LD coefficients
    * (u1=0.6, u2=0.1) spelled through the parametrized layer strings
    * — identical per-layer SQL to the Spark fixture columns. */
  private def t13gFixtureSql: String =
    t13dFixtureSql(Some((LimbDark.D(0.6), LimbDark.D(0.1))))

  /** t13e's fixture: t13's grid + noise with BOTH planets' LD dips
    * (additive, commensurate periods) — layer strings shared with the
    * Spark fixture columns. */
  private def t13eFixtureSql: String = {
    val PA = LimbDark.D(0.15); val TA = LimbDark.D(1.0)
    val PB = LimbDark.D(0.11); val TB = LimbDark.D(0.5)
    t13FrameSql(
      s"""${ldApSql("aph_a", ", abs((phd - 1.2 + 1.75) % 3.5 - 1.75) AS aph_b")},
         |l1 AS (SELECT ener, ph, r,
         |    ${LimbDark.huSql("aph_a", TA)} AS hu_a,
         |    ${LimbDark.huSql("aph_b", TB)} AS hu_b FROM ap),
         |l2 AS (SELECT ener, ph, r, hu_a, hu_b,
         |    ${LimbDark.zSql("hu_a", PA)} AS z_a,
         |    ${LimbDark.zSql("hu_b", PB)} AS z_b FROM l1),
         |l3 AS (SELECT ener, ph, r, hu_a, hu_b,
         |    ${LimbDark.lamSql("z_a", PA)} AS lam_a,
         |    ${LimbDark.muSql("z_a", PA)} AS mu_a,
         |    ${LimbDark.lamSql("z_b", PB)} AS lam_b,
         |    ${LimbDark.muSql("z_b", PB)} AS mu_b FROM l2),
         |l4 AS (SELECT ener, ph, r, hu_a, hu_b, lam_a, lam_b,
         |    ${LimbDark.izSql("mu_a")} AS iz_a,
         |    ${LimbDark.izSql("mu_b")} AS iz_b FROM l3),
         |fl AS (SELECT ener, ph,
         |    ${LimbDark.fluxSql("hu_a", PA, "iz_a", "lam_a")}
         |      + ${LimbDark.fluxSql("hu_b", PB, "iz_b", "lam_b")} - 1.0
         |      + $unitSql * 0.004 AS flux
         |  FROM l4)""".stripMargin)
  }

  /** t13f's fixture: the t13 grid with an injected linear-harmonic RV
    * curve (γ + A·s + B·c from the shared rvb basis literals) + t13's
    * LCG noise at ±2 m/s, quantized at 1e3 (mm/s) into 200 fold
    * bins. */
  private def t13fFixtureSql: String = t13FrameSql(
    s"""rv AS (SELECT ener, ph,
       |    CAST(12.5 AS DOUBLE) + CAST(8.0 AS DOUBLE) * (w.sq / 1e6)
       |      + CAST(-5.0 AS DOUBLE) * (w.cq / 1e6)
       |      + $unitSql * 4.0 AS v
       |  FROM gn JOIN rvb w ON w.b = (ph * 200) // 604800000000)""".stripMargin,
    rv = true, tb = false)

  /** t13h's fixture: t13f's grid + noise with the injected ECCENTRIC
    * curve joined from the t13hTrue literals (the fixture is data —
    * quantized; the fit model is raw-double). `bins` carries tb so
    * the llq derives each bin's mean anomaly in-place. */
  private def t13hFixtureSql: String = t13FrameSql(
    s"""rv AS (SELECT ener, ph,
       |    w.vq / 1e6 + $unitSql * 4.0 AS v
       |  FROM gn JOIN rvt w ON w.b = (ph * 200) // 604800000000)""".stripMargin,
    rv = true, lits = "\n" + binValuesSql("rvt", "b, vq", t13hTrue))

  /** t13i's and t13k's "fixture is data" flux fixture: a 1e9-quantized
    * true curve (t13iTrue: the EXACT occultation; t13kTrue: the
    * flare) at the 200 fold-bin centers joined onto t13's grid + LCG
    * noise, binned with t13's 1e6 flux quantization. */
  private def literalCurveFixtureSql(trueVals: Seq[(Long, Long)]): String = t13FrameSql(
    s"""fl AS (SELECT ener, ph,
       |    w.fxq / 1e9 + $unitSql * 0.004 AS flux
       |  FROM gn JOIN ftr w ON w.b = (ph * 200) // 604800000000)""".stripMargin,
    lits = "\n" + binValuesSql("ftr", "b, fxq", trueVals))

  /** t13m's injected per-transit timing offsets (µs), k = 1..4:
    * round(A·sin(2πk/5)) with A = 3 780 000 000 µs = 63 min — one
    * driver-side libm evaluation shipped verbatim to both engines
    * (the t12e literal-table discipline; values asserted against
    * math.sin in TtvFitSpec). */
  private[graft] val TtvInjUs =
    Seq(3594993632L, 2221828254L, -2221828254L, -3594993632L)

  /** t13m's fixture CTEs: the 31.5-d grid, per-transit TTV box and
    * phase-1.75 fold, binned to 500 — mirrors the declared query's
    * Spark fixture bit-for-bit (same integer µs arithmetic, same
    * literal expression shapes). Ends in bins(ener, b, tb, y, yq)
    * with ener ≡ transit index 1..4. */
  private def t13mFixtureSql: String = {
    val ttvCase = s"CASE en.ener WHEN 1 THEN ${TtvInjUs(0)} " +
      s"WHEN 2 THEN ${TtvInjUs(1)} WHEN 3 THEN ${TtvInjUs(2)} " +
      s"ELSE ${TtvInjUs(3)} END"
    s"""e0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
       |gn AS (SELECT en.ener AS ener, ii.i AS i,
       |    (ii.i % 65536 * 1103515245 + 12345) % 2147483648 AS r,
       |    ii.i * 604800000 - en.ener * 604800000000 AS off,
       |    $ttvCase AS ttv
       |  FROM e0, eners en,
       |    (SELECT unnest(range(0, 4500)) AS i) ii
       |  WHERE (ii.i * 604800000 + 302400000000) // 604800000000 = en.ener),
       |fl AS (SELECT ener, off,
       |    1.0 - (CASE WHEN abs(off - ttv) < 43200000000
       |                THEN CAST(0.03 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
       |        + (CAST(r AS DOUBLE) / 2147483648.0 - 0.5) * 0.004 AS flux
       |  FROM gn),
       |bnr AS (SELECT ener,
       |    ((off + 756000000000) % 604800000000 * 500) // 604800000000 AS b,
       |    count(*) AS n,
       |    CAST(sum(CAST(round(flux * 1e6) AS BIGINT)) AS BIGINT) AS sv
       |  FROM fl GROUP BY 1, 2),
       |bins AS MATERIALIZED (SELECT ener, b,
       |    (CAST(b AS DOUBLE) + 0.5) * 7.0 / 500 AS tb,
       |    CAST(sv AS DOUBLE) / n / 1e6 AS y,
       |    CAST(round(CAST(sv AS DOUBLE) / n / 1e6 * 1e9) AS BIGINT) AS yq
       |  FROM bnr)""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "t13_mcmc_fit" ->
      s"""${mcmcSamplerSql(t13FixtureSql(perEner = false))}
         |${posteriorSql(Seq("depth" -> 0, "dur" -> 2, "epoch" -> 1))}""".stripMargin,

    // The GP walk replay: same recursive sampler CTE, the likelihood
    // subquery swapped for the steady-state innovation filter — the
    // lag-weight table arrives as the SAME integer literals the
    // engine derived (t13cGp), so the filter is exact int64 in both
    // engines and the per-proposal evaluation is one 200×≤32
    // join+aggregate.
    "t13c_mcmc_gp" -> {
      val (cq, scale) = t13cGp
      val wtsVals = cq.zipWithIndex
        .map { case (c, i) => s"(${i + 1}, $c)" }.mkString(", ")
      val gpLlq: (String, String) => String = (al, p) => {
        def rq(ba: String) =
          s"CAST(round(($ba.y - ${boxMdlSql(al, p, ba)}) * 1e8) AS BIGINT)"
        s"(SELECT CAST(-sum(CAST(round((CAST(nuq AS DOUBLE) / 1e14)" +
        s" * (CAST(nuq AS DOUBLE) / 1e14) * ${D(scale)}) AS BIGINT)) AS BIGINT)" +
        s" FROM (SELECT max(${rq("bb")}) * 1000000" +
        s" - coalesce(CAST(sum(w.cq * ${rq("b2")}) AS BIGINT), 0) AS nuq" +
        s" FROM bins bb LEFT JOIN wts w ON w.l <= bb.b" +
        s" LEFT JOIN bins b2 ON b2.ener = bb.ener AND b2.b = bb.b - w.l" +
        s" WHERE bb.ener = $al.ener GROUP BY bb.b) nn)"
      }
      s"""${mcmcSamplerSql(t13cFixtureSql, nW = 50, nSteps = 60, llq = gpLlq,
                           extraCte = s"""
wts AS (SELECT * FROM (VALUES $wtsVals) AS t(l, cq)),""")}
         |${posteriorSql(Seq("depth" -> 0, "dur" -> 2, "epoch" -> 1))}""".stripMargin
    },

    // The LD walk replay: same recursive sampler CTE; the likelihood
    // subquery evaluates the full limb-darkened model INLINE
    // (ldLlqSql — Ensemble.ldBoxLlq bit-for-bit); the guess converts
    // window depth to a radius ratio with the identical √/max shape
    // the Scala side applies after boxGuessQ.
    "t13d_mcmc_ld" ->
      s"""${mcmcSamplerSql(t13dFixtureSql(), llq = ldLlq,
                           los = Seq(0.02, -3.5, 0.2), his = Seq(0.45, 3.5, 2.0),
                           gxBlockSql = Some(boxGxSql(ldG0Sql)))}
         |${posteriorSql(Seq("dur" -> 2, "epoch" -> 1, "rrat" -> 0))}""".stripMargin,

    // The 5-dimensional LD-coefficient walk replay (r9): the same
    // recursive sampler with the PARAMETRIZED limb-darkened model
    // inline (LimbDark.fluxInlineSqlU — u1/u2 are walk columns p3/p4)
    // and a gx block seeding the coefficients at the mid-prior
    // constants.
    "t13g_mcmc_ldfit" -> {
      val ldLlqU: (String, String) => String = (al, p) => {
        val aph = s"abs(fmod(bb.tb - $al.${p}1 + 3.5, 7.0) - 3.5)"
        s"(SELECT CAST(-sum(CAST(round((yy - mm) * (yy - mm) * 3.125e12)" +
        s" AS BIGINT)) AS BIGINT) FROM (SELECT bb.y AS yy, " +
        LimbDark.fluxInlineSqlU(aph, s"$al.${p}0", s"$al.${p}2",
          s"$al.${p}3", s"$al.${p}4") +
        s" AS mm FROM bins bb WHERE bb.ener = $al.ener) qq)"
      }
      val gxBlock = boxGxSql(ldG0Sql,
        s"${D(1.0)} AS g2, ${D(LimbDark.U1)} AS g3, ${D(LimbDark.U2)} AS g4")
      s"""${mcmcSamplerSql(t13gFixtureSql, nW = 50, nSteps = 300, llq = ldLlqU,
                           los = Seq(0.02, -3.5, 0.2, 0.0, -0.3),
                           his = Seq(0.45, 3.5, 2.0, 1.2, 0.7),
                           gxBlockSql = Some(gxBlock))}
         |${posteriorSql(Seq("dur" -> 2, "epoch" -> 1, "rrat" -> 0, "u1" -> 3, "u2" -> 4))}""".stripMargin
    },

    // The 4-dimensional two-planet walk replay: the nd-generalized
    // recursive CTE with the additive two-LD-model likelihood and a
    // custom two-window gx block (deepest window = planet a; deepest
    // window at circular distance > 28 bins = planet b).
    "t13e_mcmc_ld2" -> {
      val ld2: (String, String) => String = (al, p) => {
        val aphA = s"abs(fmod(bb.tb - $al.${p}1 + 3.5, 7.0) - 3.5)"
        val aphB = s"abs(fmod(bb.tb - $al.${p}3 + 1.75, 3.5) - 1.75)"
        val fa = LimbDark.fluxInlineSql(aphA, s"$al.${p}0", LimbDark.D(1.0))
        val fb = LimbDark.fluxInlineSql(aphB, s"$al.${p}2", LimbDark.D(0.5))
        s"(SELECT CAST(-sum(CAST(round((yy - mm) * (yy - mm) * 3.125e12)" +
        s" AS BIGINT)) AS BIGINT) FROM (SELECT bb.y AS yy, " +
        s"$fa + $fb - 1.0 AS mm FROM bins bb WHERE bb.ener = $al.ener) qq)"
      }
      val gxBlock =
        s"""gw AS (SELECT c.ener AS ener, c.b AS c, CAST(sum(b2.yq) AS BIGINT) AS w
           |  FROM bins c
           |  CROSS JOIN (SELECT unnest(range(-14, 15)) AS kk) o
           |  JOIN bins b2 ON b2.ener = c.ener
           |    AND b2.b = ((c.b + o.kk) % 200 + 200) % 200
           |  GROUP BY 1, 2),
           |b1 AS (SELECT ener, c, w FROM (
           |    SELECT ener, c, w,
           |      row_number() OVER (PARTITION BY ener ORDER BY w ASC, c ASC) AS rw
           |    FROM gw) WHERE rw = 1),
           |b2w AS (SELECT ener, c, w FROM (
           |    SELECT g.ener AS ener, g.c AS c, g.w AS w,
           |      row_number() OVER (PARTITION BY g.ener ORDER BY g.w ASC, g.c ASC) AS rw
           |    FROM gw g JOIN b1 ON b1.ener = g.ener
           |    WHERE LEAST(abs(g.c - b1.c), 200 - abs(g.c - b1.c)) > 28)
           |  WHERE rw = 1),
           |$sallSql,
           |gx AS (SELECT b1.ener AS ener,
           |    ${ldG0Sql(windowDepthSql("b1.w"))} AS g0,
           |    CASE WHEN (CAST(b1.c AS DOUBLE) + 0.5) * 7.0 / 200 >= 3.5
           |         THEN (CAST(b1.c AS DOUBLE) + 0.5) * 7.0 / 200 - 7.0
           |         ELSE (CAST(b1.c AS DOUBLE) + 0.5) * 7.0 / 200 END AS g1,
           |    ${ldG0Sql(windowDepthSql("b2w.w"))} AS g2,
           |    fmod((CAST(b2w.c AS DOUBLE) + 0.5) * 7.0 / 200 + 1.75, 3.5) - 1.75 AS g3
           |  FROM b1 JOIN b2w ON b2w.ener = b1.ener
           |  JOIN sall ON sall.ener = b1.ener)""".stripMargin
      s"""${mcmcSamplerSql(t13eFixtureSql, nW = 50, nSteps = 300, llq = ld2,
                           los = Seq(0.02, -3.5, 0.02, -1.75),
                           his = Seq(0.45, 3.5, 0.45, 1.75),
                           gxBlockSql = Some(gxBlock))}
         |${posteriorSql(Seq("epoch_a" -> 1, "epoch_b" -> 3, "rrat_a" -> 0, "rrat_b" -> 2))}""".stripMargin
    },

    // The RV walk replay: the same recursive sampler CTE with the
    // linear-harmonic likelihood (basis joined from the SAME rvb
    // literals the engine derived) and the exact Fourier-projection
    // gx block.
    "t13f_mcmc_rv" -> {
      val rvLlq: (String, String) => String = (al, p) =>
        s"(SELECT CAST(-sum(CAST(round((yy - mm) * (yy - mm) * 7.4e6)" +
        s" AS BIGINT)) AS BIGINT) FROM (SELECT bb.y AS yy, " +
        s"$al.${p}0 + $al.${p}1 * (w.sq / 1e6) + $al.${p}2 * (w.cq / 1e6) AS mm" +
        s" FROM bins bb JOIN rvb w ON w.b = bb.b WHERE bb.ener = $al.ener) qq)"
      val gxBlock =
        s"""sall AS (SELECT ener, CAST(sum(yq) AS BIGINT) AS sa, count(*) AS nb
           |  FROM bins GROUP BY 1),
           |$rvProjSql,
           |gx AS (SELECT sall.ener AS ener,
           |    CAST(sa AS DOUBLE) / 200 / 1e9 AS g0,
           |    2.0 * (CAST(ps AS DOUBLE) / 200 / 1e15) AS g1,
           |    2.0 * (CAST(pc AS DOUBLE) / 200 / 1e15) AS g2
           |  FROM sall JOIN proj ON proj.ener = sall.ener)""".stripMargin
      s"""${mcmcSamplerSql(t13fFixtureSql, llq = rvLlq, extraCte = rvbSql,
                           los = Seq(0.0, -15.0, -15.0), his = Seq(25.0, 15.0, 15.0),
                           gxBlockSql = Some(gxBlock))}
         |${posteriorSql(Seq("amp_cos" -> 2, "amp_sin" -> 1, "gamma" -> 0))}""".stripMargin
    },

    // The eccentric-RV walk replay (r9): the nd sampler with the
    // Kepler model expanded as NESTED named-layer subqueries (8
    // Newton steps × 3 layers + the ω-trig/RV close — no textual
    // explosion; model/Kepler.rvNestedSql) and a gx block that scores
    // the ω-candidate grid with the same integer llq.
    "t13h_mcmc_rvecc" -> {
      import graft.model.Kepler
      def modelLlq(gamma: String, kAmp: String, e: String, omega: String,
                   ener: String): String = {
        // params enter the INNER select as columns (pg/pk/pe/po), so
        // the correlation is one level deep and every Newton layer
        // references plain columns — kind to the optimizer
        val inner = s"SELECT bb.y AS yy, " +
          s"${D(Kepler.TWOPI)} * (bb.tb / 7.0) AS m, " +
          s"$gamma AS pg, $kAmp AS pk, $e AS pe, $omega AS po " +
          s"FROM bins bb WHERE bb.ener = $ener"
        val nested = Kepler.rvNestedSql(inner, "m",
          Seq("yy", "pg", "pk", "pe", "po"), "pg", "pk", "pe", "po")
        s"(SELECT CAST(-sum(CAST(round((yy - rv) * (yy - rv) * 7.4e6)" +
        s" AS BIGINT)) AS BIGINT) FROM ($nested) qq)"
      }
      val eccLlq: (String, String) => String = (al, p) =>
        modelLlq(s"$al.${p}0", s"$al.${p}1", s"$al.${p}2", s"$al.${p}3",
          s"$al.ener")
      val wVals = t13hOmegaGrid.map(w => s"(${D(w)})").mkString(", ")
      val gxBlock =
        s"""$sallSql,
           |$rvProjSql,
           |g0a AS (SELECT sall.ener AS ener,
           |    CAST(sa AS DOUBLE) / 200 / 1e9 AS gg,
           |    2.0 * (CAST(pc AS DOUBLE) / 200 / 1e15) AS ac,
           |    2.0 * (CAST(ps AS DOUBLE) / 200 / 1e15) AS asq
           |  FROM sall JOIN proj ON proj.ener = sall.ener),
           |g0k AS (SELECT ener, gg, sqrt(ac * ac + asq * asq) AS kk FROM g0a),
           |wc AS (SELECT * FROM (VALUES $wVals) AS t(w)),
           |wll AS (SELECT g.ener AS ener, wc.w AS w,
           |    ${modelLlq("g.gg", "g.kk", D(0.1), "wc.w", "g.ener")} AS ll
           |  FROM g0k g, wc),
           |wbest AS (SELECT ener, w FROM (
           |    SELECT ener, w, ll,
           |      row_number() OVER (PARTITION BY ener ORDER BY ll DESC, w ASC) AS rw
           |    FROM wll) WHERE rw = 1),
           |gx AS (SELECT g.ener AS ener, g.gg AS g0, g.kk AS g1,
           |    ${D(0.1)} AS g2, wbest.w AS g3
           |  FROM g0k g JOIN wbest ON wbest.ener = g.ener)""".stripMargin
      s"""${mcmcSamplerSql(t13hFixtureSql, nW = 50, nSteps = 300, llq = eccLlq,
                           extraCte = rvbSql,
                           los = Seq(0.0, 0.0, 0.0, -Kepler.PI),
                           his = Seq(25.0, 20.0, 0.6, Kepler.PI),
                           gxBlockSql = Some(gxBlock))}
         |${posteriorSql(Seq("ecc" -> 2, "gamma" -> 0, "k_amp" -> 1, "omega" -> 3))}""".stripMargin
    },

    // The exact-occultation walk replay (r10): TWO complete sampler
    // blocks over the same data-literal fixture, UNION ALL'd as
    // derived tables (each carries its own WITH RECURSIVE). The exact
    // llq expands the t12e layer chain as nested named subqueries
    // (the t13h pattern): walk params enter the inner select as
    // columns, each layer is one wrapping SELECT, the 64-node band
    // arrives by CROSS JOIN on the nodes CTE, and the per-bin node Σ
    // is an order-free integer GROUP BY — so every proposal's model
    // is the bit-identical double chain Ensemble.ldxLlq runs on the
    // driver. The approx block is byte-for-byte t13d's inline llq.
    "t13i_mcmc_ldx" -> {
      import graft.model.{LimbDarkExact => LX}
      val nodesCte = s"""
nodes AS (SELECT unnest(range(0, $t13iNFit)) AS j),"""
      val ldxLlq: (String, String) => String = (al, p) => {
        val inner = s"SELECT bb.b AS bq, bb.y AS yy, bb.tb AS tb, " +
          s"$al.${p}0 AS pp, $al.${p}1 AS pe, $al.${p}2 AS pt " +
          s"FROM bins bb WHERE bb.ener = $al.ener"
        val q1cols = LX.q1Sql.map { case (n2, sql) => s"$sql AS $n2" }.mkString(", ")
        var q = s"SELECT bq, yy, pp, pt, abs(fmod(tb - pe + 3.5, 7.0) - 3.5) AS aph FROM ($inner) x0"
        q = s"SELECT bq, yy, pp, ${LimbDark.huSql("aph", "pt")} AS hu FROM ($q) x1"
        q = s"SELECT bq, yy, pp, hu, ${LimbDark.zSql("hu", "pp")} AS z FROM ($q) x2"
        q = s"SELECT bq, yy, pp, hu, z, $q1cols FROM ($q) x3"
        q = s"SELECT bq, yy, pp, hu, z, rlo, ${LX.ainSql} AS ain, ${LX.wSqlN(t13iNFit)} AS w FROM ($q) x4"
        q = s"SELECT bq, yy, pp, hu, z, rlo, ain, w, nd.j AS j FROM ($q) x5 CROSS JOIN nodes nd"
        q = s"SELECT bq, yy, pp, hu, z, ain, w, ${LX.rSql} AS r FROM ($q) x6"
        q = s"SELECT bq, yy, hu, ain, w, r, ${LX.xSql} AS x FROM ($q) x7"
        q = s"SELECT bq, yy, hu, ain, w, r, ${LX.tqSql} AS tq FROM ($q) x8"
        q = s"SELECT bq, yy, hu, ain, w, r, ${LX.xrSql} AS xr, ${LX.flipSql} AS flip FROM ($q) x9"
        q = s"SELECT bq, yy, hu, ain, w, r, xr, flip, ${LX.aiSql} AS ai FROM ($q) x10"
        q = s"SELECT bq, yy, hu, ain, w, r, flip, ${LX.ciSql} AS ci, ${LX.dSql} AS d FROM ($q) x11"
        q = s"SELECT bq, yy, hu, ain, w, r, flip, ${LX.atSql} AS atv FROM ($q) x12"
        q = s"SELECT bq, yy, hu, ain, w, r, ${LX.alphaSql} AS alpha FROM ($q) x13"
        q = s"SELECT bq, yy, hu, ain, ${LX.qjSql} AS qj FROM ($q) x14"
        q = s"SELECT yy, hu, ain, CAST(sum(qj) AS BIGINT) AS sq FROM ($q) x15 GROUP BY bq, yy, hu, ain"
        q = s"SELECT yy, ${LX.fluxSql("hu", "ain", "sq")} AS fx FROM ($q) x16"
        s"(SELECT CAST(-sum(CAST(round((yy - fx) * (yy - fx) * 3.125e12) AS BIGINT)) AS BIGINT) FROM ($q) x17)"
      }
      def block(llq: (String, String) => String, extra: String, sfx: String) =
        s"""${mcmcSamplerSql(literalCurveFixtureSql(t13iTrue), nW = 50, nSteps = 150,
                             llq = llq, extraCte = extra,
                             los = Seq(0.02, -3.5, 0.2), his = Seq(0.45, 3.5, 2.0),
                             gxBlockSql = Some(boxGxSql(ldG0Sql)))}
           |${posteriorRowsSql(Seq("dur" -> 2, "epoch" -> 1, "rrat" -> 0), sfx)}""".stripMargin
      s"""SELECT * FROM (
         |SELECT * FROM (
         |${block(ldxLlq, nodesCte, "_exact")}
         |) qx
         |UNION ALL
         |SELECT * FROM (
         |${block(ldLlq, "", "_approx")}
         |) qa
         |) ORDER BY param""".stripMargin
    },

    // The Nelder–Mead replay (r10): one row of simplex state per
    // recursion round — lists of 4 vertices (best-first under
    // ll DESC, pos ASC) per dimension plus their integer llqs. Each
    // round names the sorted vertices, the left-associated centroid,
    // the four clamped candidates, their correlated LD llqs, the
    // accept/shrink CASE (pure integer comparisons), and rebuilds the
    // sorted lists from 4 per-position rows — op-for-op
    // Ensemble.nelderMeadQ.
    "t13j_opti" -> {
      val dims = 0 until 3
      val los = Seq(0.02, -3.5, 0.2); val his = Seq(0.45, 3.5, 2.0)
      val nIter = 120
      def clampD(d: Int, v: String) =
        s"LEAST(${D(his(d))}, GREATEST(${D(los(d))}, $v))"
      // initial simplex: vertex k displaces coordinate k−1 by
      // 0.05·(hi−lo), clamped; others sit at the guess
      def v0(d: Int) =
        s"CASE WHEN p.k = ${d + 1} THEN ${clampD(d,
          s"g$d + ${D(0.05)} * (${D(his(d))} - ${D(los(d))})")} ELSE g$d END"
      val l1cols = dims.map(d =>
        s"e.w${d}s[1] AS b1$d, e.w${d}s[2] AS b2$d, e.w${d}s[3] AS b3$d, e.w${d}s[4] AS wv$d")
        .mkString(",\n            ")
      val l2cols = dims.map(d => s"((b1$d + b2$d) + b3$d) / 3.0 AS c$d").mkString(", ")
      val l3cols = dims.map(d =>
        s"${clampD(d, s"c$d + (c$d - wv$d)")} AS xr$d, " +
        s"${clampD(d, s"c$d + 2.0 * (c$d - wv$d)")} AS xe$d, " +
        s"${clampD(d, s"c$d + 0.5 * (c$d - wv$d)")} AS xco$d, " +
        s"${clampD(d, s"c$d - 0.5 * (c$d - wv$d)")} AS xci$d")
        .mkString(",\n            ")
      def nvCase(d: Int) =
        s"CASE WHEN llr > ll1 AND lle > llr THEN xe$d WHEN llr > ll1 THEN xr$d" +
        s" WHEN llr > ll3 THEN xr$d WHEN llr > llw THEN xco$d ELSE xci$d END AS nv$d"
      val l6sv = dims.map(d =>
        s"CASE WHEN pp.k = 1 THEN l5.b1$d ELSE l5.b1$d + 0.5 * (l5.w${d}s[pp.k] - l5.b1$d) END AS sv$d")
        .mkString(",\n            ")
      def outPos(d: Int) =
        s"CASE WHEN l7.shrink THEN l7.sv$d" +
        s" WHEN l7.npos <= 3 THEN l7.w${d}s[l7.npos] ELSE l7.nv$d END AS o$d"
      s"""WITH RECURSIVE
         |eners AS (SELECT CAST(0 AS BIGINT) AS ener),
         |${t13dFixtureSql()},
         |${boxGxSql(ldG0Sql)},
         |sim0 AS (SELECT gx.ener AS ener, p.k AS pos,
         |    ${dims.map(d => s"${v0(d)} AS v$d").mkString(",\n    ")}
         |  FROM gx CROSS JOIN (SELECT unnest(range(0, 4)) AS k) p),
         |sim0l AS (SELECT ener, pos, v0, v1, v2,
         |    ${ldLlqSql("s0", "v0", "v1", "v2")} AS ll
         |  FROM sim0 s0),
         |nm AS (
         |  SELECT ener, 0 AS step,
         |      ${dims.map(d => s"list(v$d ORDER BY ll DESC, pos ASC) AS w${d}s").mkString(", ")},
         |      list(ll ORDER BY ll DESC, pos ASC) AS lls
         |  FROM sim0l GROUP BY ener
         |  UNION ALL
         |  SELECT ener, step + 1,
         |      ${dims.map(d => s"list(o$d ORDER BY oll DESC, npos ASC)").mkString(", ")},
         |      list(oll ORDER BY oll DESC, npos ASC)
         |  FROM (
         |    SELECT l7.ener AS ener, l7.step AS step, l7.npos AS npos,
         |        ${dims.map(outPos).mkString(",\n        ")},
         |        CASE WHEN l7.shrink THEN (CASE WHEN l7.npos = 1 THEN l7.ll1 ELSE l7.sll END)
         |             WHEN l7.npos <= 3 THEN l7.lls[l7.npos] ELSE l7.nll END AS oll
         |    FROM (
         |      SELECT l6.*, ${ldLlqSql("l6", "sv0", "sv1", "sv2")} AS sll
         |      FROM (
         |        SELECT l5.ener AS ener, l5.step AS step, pp.k AS npos,
         |            ${dims.map(d => s"l5.w${d}s AS w${d}s").mkString(", ")}, l5.lls AS lls,
         |            l5.ll1 AS ll1, l5.shrink AS shrink,
         |            ${dims.map(d => s"l5.nv$d AS nv$d").mkString(", ")}, l5.nll AS nll,
         |            $l6sv
         |        FROM (
         |          SELECT l4.*,
         |              CASE WHEN llr > ll1 THEN FALSE WHEN llr > ll3 THEN FALSE
         |                   WHEN llr > llw THEN llco < llr ELSE llci <= llw END AS shrink,
         |              ${dims.map(nvCase).mkString(",\n              ")},
         |              CASE WHEN llr > ll1 AND lle > llr THEN lle WHEN llr > ll1 THEN llr
         |                   WHEN llr > ll3 THEN llr WHEN llr > llw THEN llco ELSE llci END AS nll
         |          FROM (
         |            SELECT l3.*, ${ldLlqSql("l3", "xr0", "xr1", "xr2")} AS llr,
         |                ${ldLlqSql("l3", "xe0", "xe1", "xe2")} AS lle,
         |                ${ldLlqSql("l3", "xco0", "xco1", "xco2")} AS llco,
         |                ${ldLlqSql("l3", "xci0", "xci1", "xci2")} AS llci
         |            FROM (
         |              SELECT l2.*,
         |                  $l3cols
         |              FROM (
         |                SELECT l1.*, $l2cols
         |                FROM (
         |                  SELECT e.ener AS ener, e.step AS step,
         |                      ${dims.map(d => s"e.w${d}s AS w${d}s").mkString(", ")}, e.lls AS lls,
         |                      $l1cols,
         |                      e.lls[1] AS ll1, e.lls[3] AS ll3, e.lls[4] AS llw
         |                  FROM nm e WHERE e.step < $nIter
         |                ) l1
         |              ) l2
         |            ) l3
         |          ) l4
         |        ) l5 CROSS JOIN (SELECT unnest(range(1, 5)) AS k) pp
         |      ) l6
         |    ) l7
         |  ) l8 GROUP BY ener, step
         |),
         |res AS (SELECT * FROM nm WHERE step = $nIter)
         |SELECT * FROM (
         |  SELECT 'dur' AS param, w2s[1] AS value FROM res
         |  UNION ALL SELECT 'epoch', w1s[1] FROM res
         |  UNION ALL SELECT 'iters', ${D(120.0)} FROM res
         |  UNION ALL SELECT 'llq', CAST(lls[1] AS DOUBLE) FROM res
         |  UNION ALL SELECT 'rrat', w0s[1] FROM res
         |) ORDER BY param""".stripMargin
    },

    // The flare-fit walk replay (r10): the nd sampler with the
    // reduction+squaring exp expanded as nested named layers
    // (Flare.expNegNestedSql — walk params enter the inner select as
    // columns) and a gx block seeding (A, t0) from the integer
    // peak-bin argmax and τ at the mid-prior.
    "t13k_mcmc_flare" -> {
      import graft.model.Flare
      val flareLlq: (String, String) => String = (al, p) => {
        val inner = s"SELECT bb.y AS yy, (bb.tb - $al.${p}1) AS dt, " +
          s"((bb.tb - $al.${p}1) / $al.${p}2) AS xx, $al.${p}0 AS pa " +
          s"FROM bins bb WHERE bb.ener = $al.ener"
        val nested = Flare.expNegNestedSql(inner, "xx", Seq("yy", "dt", "pa"))
        s"(SELECT CAST(-sum(CAST(round((yy - mm) * (yy - mm) * 3.125e12)" +
        s" AS BIGINT)) AS BIGINT) FROM (SELECT yy, 1.0 + (CASE WHEN dt < 0.0 THEN 0.0" +
        s" WHEN xx > 40.0 THEN 0.0 ELSE pa * g END) AS mm FROM ($nested) qn) qq)"
      }
      val gxBlock =
        s"""mx AS (SELECT ener, b, yq,
           |    row_number() OVER (PARTITION BY ener ORDER BY yq DESC, b ASC) AS rw
           |  FROM bins),
           |pk AS (SELECT ener, b, yq FROM mx WHERE rw = 1),
           |$sallSql,
           |gx AS (SELECT pk.ener AS ener,
           |    (CAST(pk.yq AS DOUBLE) - CAST(sa AS DOUBLE) / 200) / 1e9 AS g0,
           |    (CAST(pk.b AS DOUBLE) + 0.5) * 7.0 / 200 AS g1,
           |    CAST(0.3 AS DOUBLE) AS g2
           |  FROM pk JOIN sall ON sall.ener = pk.ener)""".stripMargin
      s"""${mcmcSamplerSql(literalCurveFixtureSql(t13kTrue), llq = flareLlq,
                           los = Seq(0.005, 0.5, 0.05), his = Seq(0.15, 6.0, 1.0),
                           gxBlockSql = Some(gxBlock))}
         |${posteriorSql(Seq("amp" -> 0, "t0" -> 1, "tau" -> 2))}""".stripMargin
    },

    // The GP-hyperparameter walk replay: same recursive sampler CTE;
    // the likelihood subquery REBUILDS the innovation filter per
    // proposal — GpHyper.chainSql's nested layers (expNeg reduction,
    // 48 Riccati iterations, 40 lag-weight power iterations) evaluate
    // once per proposal row as a correlated derived table `hp`, the
    // per-lag quantized weights expand through a 40-arm CASE over
    // range(1,41), and the log-det joins the accept ratio as
    // 100·round(ln(sinn)·1e6) — the same lnQ6 discipline as the
    // sampler's own accept draws.
    "t13l_mcmc_gphyper" -> {
      import graft.model.GpHyper
      val gpLlq: (String, String) => String = (al, p) => {
        def rq(ba: String) =
          s"CAST(round(($ba.y - ${boxMdlSql(al, p, ba)}) * 1e8) AS BIGINT)"
        val hp = GpHyper.chainSql(
          s"SELECT $al.${p}3 AS sg, $al.${p}4 AS rho", Seq.empty)
        val wcase = (1 to GpHyper.NLags)
          .map(l => s"WHEN $l THEN hp.w$l").mkString(" ")
        s"(SELECT CAST(-((SELECT CAST(sum(CAST(round((CAST(nuq AS DOUBLE) / 1e14)" +
        s" * (CAST(nuq AS DOUBLE) / 1e14) * (${D(1e6)} / (2 * hp.sinn))) AS BIGINT)) AS BIGINT)" +
        s" FROM (SELECT max(${rq("bb")}) * 1000000" +
        s" - coalesce(CAST(sum(wt.cq * ${rq("b2")}) AS BIGINT), 0) AS nuq" +
        s" FROM bins bb" +
        s" LEFT JOIN (SELECT lg.l AS l, CAST(round((CASE lg.l $wcase END)" +
        s" * ${D(1e6)}) AS BIGINT) AS cq" +
        s" FROM (SELECT unnest(range(1, ${GpHyper.NLags + 1})) AS l) lg) wt" +
        s" ON wt.l <= bb.b" +
        s" LEFT JOIN bins b2 ON b2.ener = bb.ener AND b2.b = bb.b - wt.l" +
        s" WHERE bb.ener = $al.ener GROUP BY bb.b) nn)" +
        s" + 100 * CAST(round(ln(hp.sinn) * 1e6) AS BIGINT)) AS BIGINT)" +
        s" FROM ($hp) hp)"
      }
      val gxBlock = boxGxSql(h = 15,
        rest = s"${D(1.05)} AS g2, ${D(1.5e-3)} AS g3, ${D(0.3)} AS g4")
      s"""${mcmcSamplerSql(t13lFixtureSql, nW = 50, nSteps = 150, llq = gpLlq,
                           los = Seq(-0.2, -3.5, 0.2, 2e-4, 0.06),
                           his = Seq(0.2, 3.5, 2.0, 6e-3, 1.2),
                           gxBlockSql = Some(gxBlock))}
         |${posteriorSql(Seq("depth" -> 0, "dur" -> 2, "epoch" -> 1, "rho" -> 4, "sigma" -> 3))}""".stripMargin
    },

    "t13b_mcmc_perener" ->
      s"""${mcmcSamplerSql(t13FixtureSql(perEner = true),
                           enersSql = "SELECT unnest(range(0, 8)) AS ener")}
         |${perKeySql("ener", "depth", 0)}""".stripMargin,

    // t13m: the t13b replay shape per TRANSIT — 4 groups through one
    // recursive-CTE sampler. gxBlock = boxGxSql re-derived for 500
    // bins (window half-width h = round(500·1/7)/2 = 35, width 71 —
    // the same integer arithmetic boxGuessQ runs); llq = the default
    // white-noise box llq at the matched 2-point-bin scale 7.5e11.
    "t13m_mcmc_ttv" ->
      s"""${mcmcSamplerSql(t13mFixtureSql, enersSql = "SELECT unnest(range(1, 5)) AS ener",
                           llq = boxLlqSql("7.5e11"),
                           gxBlockSql = Some(boxGxSql(h = 35, nb = 500)))}
         |${perKeySql("tran", "epoch", 1,
        Seq(s"(${pctSql(1)} - CAST(1.75 AS DOUBLE)) * CAST(1440 AS DOUBLE) AS oc_min"))}""".stripMargin,

    // The oracle recomputes what the kernel DECODES from the real
    // PNG/WAV/AVI payloads, from the same closed-form generation
    // formulas (Multimodal.Codec): image pixel (x,y) =
    // (id·31+x·7+y·13)%256 over w×h = (id%13+4)×(id%11+4); audio
    // sample i = (id·131+i·17)%65536−32768 over id%50+20 samples;
    // video channel byte (f,x,y,c) = (id·31+f·97+x·7+y·13+c·29)%256
    // over (id%5+2) frames × (id%9+4)×(id%7+4) px × 3 BGR channels
    // (the kernel's AVI parser must undo bottom-up DIB rows and
    // 4-byte stride padding to recover exactly these — that
    // round-trip is what the hash checks). Every residue class 0..7
    // exists because min units (16 px / 20 samples / 96 channel
    // bytes) ≥ 8.
    "m2_media_features" ->
      """WITH img AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |ipx AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, w * h - 1)) AS p FROM img),
        |isum AS (SELECT doc_id, CAST(w * h AS INTEGER) AS n_units,
        |    CAST(p % 8 AS INTEGER) AS j,
        |    CAST(sum((doc_id * 31 + (p % w) * 7 + (p // w) * 13) % 256)
        |      AS BIGINT) AS fsum
        |  FROM ipx GROUP BY 1, 2, 3),
        |aud AS (SELECT doc_id, doc_id % 50 + 20 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |apx AS (SELECT doc_id, n,
        |    unnest(generate_series(0, n - 1)) AS i FROM aud),
        |asum AS (SELECT doc_id, CAST(n AS INTEGER) AS n_units,
        |    CAST(i % 8 AS INTEGER) AS j,
        |    CAST(sum((doc_id * 131 + i * 17) % 65536 - 32768) AS BIGINT) AS fsum
        |  FROM apx GROUP BY 1, 2, 3),
        |vid AS (SELECT doc_id, doc_id % 9 + 4 AS w, doc_id % 7 + 4 AS h,
        |    doc_id % 5 + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |vf AS (SELECT doc_id, w, h, nf,
        |    unnest(generate_series(0, nf - 1)) AS f FROM vid),
        |vp AS (SELECT doc_id, w, h, nf, f,
        |    unnest(generate_series(0, w * h - 1)) AS p FROM vf),
        |vc AS (SELECT doc_id, w, h, nf, f, p,
        |    unnest(generate_series(0, 2)) AS c FROM vp),
        |vsum AS (SELECT doc_id, CAST(nf * w * h * 3 AS INTEGER) AS n_units,
        |    CAST(((f * w * h + p) * 3 + c) % 8 AS INTEGER) AS j,
        |    CAST(sum((doc_id * 31 + f * 97 + (p % w) * 7 + (p // w) * 13
        |              + c * 29) % 256) AS BIGINT) AS fsum
        |  FROM vc GROUP BY 1, 2, 3),
        |u AS (SELECT * FROM isum UNION ALL SELECT * FROM asum
        |      UNION ALL SELECT * FROM vsum)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |  n_units, j, fsum
        |FROM u ORDER BY media_id, j""".stripMargin,

    // Independent reconstruction of the sampled-and-pooled frames
    // from the closed-form channel bytes (vidByte, Multimodal.scala):
    // frames 0,2,4 via generate_series stride 2, block = (x//2, y//2)
    // — ragged edges pool fewer pixels, which count(*) carries. The
    // gray mean divides exact integer sums once, like the engine.
    "m3_frame_pool" ->
      """WITH vid AS (SELECT doc_id, doc_id % 9 + 4 AS w, doc_id % 7 + 4 AS h,
        |    doc_id % 5 + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |vf AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, nf - 1, 2)) AS f FROM vid),
        |vp AS (SELECT doc_id, w, h, f,
        |    unnest(generate_series(0, w * h - 1)) AS p FROM vf),
        |px AS (SELECT doc_id, f, p % w AS x, p // w AS y FROM vp),
        |b AS (SELECT doc_id, f, x // 2 AS bx, y // 2 AS by,
        |    (doc_id * 31 + f * 97 + x * 7 + y * 13) % 256 AS vb,
        |    (doc_id * 31 + f * 97 + x * 7 + y * 13 + 29) % 256 AS vg,
        |    (doc_id * 31 + f * 97 + x * 7 + y * 13 + 58) % 256 AS vr
        |  FROM px)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(bx AS INTEGER) AS bx, CAST(by AS INTEGER) AS by,
        |  CAST(count(*) AS INTEGER) AS n_px,
        |  CAST(sum(vb) AS BIGINT) AS sum_b,
        |  CAST(sum(vg) AS BIGINT) AS sum_g,
        |  CAST(sum(vr) AS BIGINT) AS sum_r,
        |  CAST(sum(vb + vg + vr) AS DOUBLE) / (3 * count(*)) AS mean_gray
        |FROM b GROUP BY 1, 2, 3, 4
        |ORDER BY media_id, frame_idx, by, bx""".stripMargin,

    // Per-pixel 3-channel values from the generation formula for
    // frames f and f+1 (base step +97), the same SAD sum and the same
    // cross-multiplied threshold.
    "m7_scene_cut" ->
      """WITH vid AS (SELECT doc_id, doc_id % 9 + 4 AS w, doc_id % 7 + 4 AS h,
        |    doc_id % 5 + 2 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |vf AS (SELECT doc_id, w, h,
        |    unnest(generate_series(0, nf - 2)) AS f FROM vid),
        |vp AS (SELECT doc_id, w, h, f,
        |    unnest(generate_series(0, w * h - 1)) AS p FROM vf),
        |g AS (SELECT doc_id, f,
        |    (doc_id*31 + f*97 + (p % w)*7 + (p // w)*13) % 256
        |      + (doc_id*31 + f*97 + (p % w)*7 + (p // w)*13 + 29) % 256
        |      + (doc_id*31 + f*97 + (p % w)*7 + (p // w)*13 + 58) % 256 AS g3f,
        |    (doc_id*31 + (f+1)*97 + (p % w)*7 + (p // w)*13) % 256
        |      + (doc_id*31 + (f+1)*97 + (p % w)*7 + (p // w)*13 + 29) % 256
        |      + (doc_id*31 + (f+1)*97 + (p % w)*7 + (p // w)*13 + 58) % 256 AS g3n
        |  FROM vp)
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(abs(g3n - g3f)) AS BIGINT) AS sad3,
        |  CAST(sum(abs(g3n - g3f)) AS DOUBLE) / count(*) / 3.0 AS mad,
        |  CAST(sum(abs(g3n - g3f)) AS BIGINT) * 2 > count(*) * 723 AS is_cut
        |FROM g GROUP BY 1, 2 ORDER BY media_id, frame_idx""".stripMargin,

    // Independent reconstruction of the pooled image blocks from the
    // closed-form pixel values (Codec.gray): block = (x//2, y//2),
    // ragged edges carry count(*); the mean is the same single
    // division of exact integers as the kernel's.
    "m5_image_pool" ->
      """WITH img AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT doc_id, w, unnest(generate_series(0, w * h - 1)) AS p
        |  FROM img),
        |b AS (SELECT doc_id, (p % w) // 2 AS bx, (p // w) // 2 AS by,
        |    (doc_id * 31 + (p % w) * 7 + (p // w) * 13) % 256 AS v
        |  FROM px)
        |SELECT doc_id AS media_id, CAST(bx AS INTEGER) AS bx,
        |  CAST(by AS INTEGER) AS by,
        |  CAST(count(*) AS INTEGER) AS n_px,
        |  CAST(sum(v) AS BIGINT) AS sum_gray,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_gray
        |FROM b GROUP BY 1, 2, 3
        |ORDER BY media_id, by, bx""".stripMargin,

    // Full closed-form replay: pixel values from the generation
    // formula (the decode round-trip itself is proven by m2/m5), the
    // same cross-multiplied cell bits, the shared pow2 ladder, the
    // same 6/5/5 band split and popcount gate.
    "m6_image_phash" -> {
      import graft.text.TextOps
      s"""WITH img AS (SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 11 + 4 AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (SELECT doc_id, w, h, unnest(generate_series(0, w * h - 1)) AS p
        |  FROM img),
        |b AS (SELECT doc_id, ((p % w) * 4) // w AS cx, ((p // w) * 4) // h AS cy,
        |    (doc_id * 31 + (p % w) * 7 + (p // w) * 13) % 256 AS v
        |  FROM px),
        |tots AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS npx FROM b GROUP BY 1),
        |cells AS (SELECT doc_id, cx, cy, CAST(sum(v) AS BIGINT) AS cs,
        |    CAST(count(*) AS BIGINT) AS cn FROM b GROUP BY 1, 2, 3),
        |hashes AS (SELECT c.doc_id AS media_id,
        |    CAST(sum((CASE WHEN cs * npx > tot * cn THEN 1 ELSE 0 END)
        |      * ${TextOps.pow2("cy * 4 + cx")}) AS BIGINT) AS ahash
        |  FROM cells c JOIN tots t USING (doc_id) GROUP BY 1),
        |bands AS (
        |  SELECT media_id, ahash, 0 AS bi, ahash % 64 AS bv FROM hashes
        |  UNION ALL
        |  SELECT media_id, ahash, 1, (ahash // 64) % 32 FROM hashes
        |  UNION ALL
        |  SELECT media_id, ahash, 2, ahash // 2048 FROM hashes),
        |bcnt AS (SELECT bi, bv, count(*) AS bc FROM bands GROUP BY 1, 2),
        |bs AS (SELECT bands.media_id, bands.ahash, bands.bi, bands.bv,
        |    (${TextOps.md5Hash32("CAST(media_id AS VARCHAR)")})
        |      % ((bc + 127) // 128) AS sub
        |  FROM bands JOIN bcnt USING (bi, bv)),
        |pairs AS (SELECT DISTINCT a.media_id AS a_id, b.media_id AS b_id,
        |    a.ahash AS ha, b.ahash AS hb
        |  FROM bs a JOIN bs b
        |    ON a.bi = b.bi AND a.bv = b.bv AND a.sub = b.sub
        |      AND a.media_id < b.media_id
        |  WHERE bit_count(CAST(xor(a.ahash, b.ahash) AS BIGINT)) <= 2),
        |sym AS (
        |  SELECT a_id AS media_id, b_id AS match_id,
        |    CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INTEGER) AS hamm,
        |    ha AS ahash FROM pairs
        |  UNION ALL
        |  SELECT b_id, a_id,
        |    CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INTEGER),
        |    hb FROM pairs),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY media_id
        |    ORDER BY hamm ASC, match_id ASC) AS rn FROM sym)
        |SELECT media_id, match_id, hamm, ahash FROM rk WHERE rn = 1
        |ORDER BY media_id""".stripMargin
    },

    // Independent reconstruction of the framed audio features from
    // the closed-form sample values (Codec.sample): frames start at
    // 0, 8, 16, ... while < n = id%50+20, each spans 16 samples
    // clipped to n (ragged last frame). Zero-crossing pairs the
    // PREVIOUS sample via i-1 arithmetic (not a window function) so
    // the pair stays inside the frame exactly like the kernel's
    // i > start guard; sign test is (s < 0) — the same strict
    // sign-bit comparison. energy sums s² as exact BIGINT; pow_mean
    // is the same single division of exact integers.
    "m4_audio_win" ->
      """WITH aud AS (SELECT doc_id, doc_id % 50 + 20 AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |w AS (SELECT doc_id, n,
        |    unnest(generate_series(0, CAST((n + 7) // 8 AS INTEGER) - 1)) AS wi
        |  FROM aud),
        |ws AS (SELECT doc_id, wi, wi * 8 AS start_i,
        |    least(wi * 8 + 16, n) AS end_i FROM w),
        |si AS (SELECT doc_id, wi, start_i,
        |    unnest(generate_series(start_i, end_i - 1)) AS i FROM ws),
        |sv AS (SELECT doc_id, wi, start_i, i,
        |    (doc_id * 131 + i * 17) % 65536 - 32768 AS s,
        |    CASE WHEN i > start_i
        |      THEN (doc_id * 131 + (i - 1) * 17) % 65536 - 32768 END AS sp
        |  FROM si)
        |SELECT doc_id AS media_id, CAST(wi AS INTEGER) AS win_idx,
        |  CAST(start_i AS INTEGER) AS start_i,
        |  CAST(count(*) AS INTEGER) AS n_s,
        |  CAST(sum(CAST(s AS BIGINT) * s) AS BIGINT) AS energy,
        |  CAST(sum(CASE WHEN sp IS NOT NULL AND ((sp < 0) <> (s < 0))
        |    THEN 1 ELSE 0 END) AS INTEGER) AS zc,
        |  CAST(max(abs(s)) AS INTEGER) AS peak,
        |  CAST(sum(CAST(s AS BIGINT) * s) AS DOUBLE) / count(*) AS pow_mean
        |FROM sv GROUP BY 1, 2, 3
        |ORDER BY media_id, win_idx""".stripMargin,

    // t3b's full spline fit in SQL: quantized truncated-power basis →
    // integer normal equations (order-free sums) → 9 fixed-order
    // Gauss–Jordan elimination steps (one MATERIALIZED CTE each,
    // replaying Detrend.solveGaussJordan's exact IEEE sequence) →
    // per-row baseline as the explicit 9-term evaluation chain.
    "t3b_detrend_spline" -> {
      val nb = 9 // 4 + 5 knots (span 10.396 d / timescale 2 d)
      def gjStep(k: Int): String =
        s"""m${k + 1} AS MATERIALIZED (SELECT m.part, m.r, m.c,
           |    CASE WHEN m.r = $k THEN m.v
           |         ELSE m.v - (rk.v / kk.v) * kc.v END AS v
           |  FROM m$k m
           |  JOIN m$k rk ON rk.part = m.part AND rk.r = m.r AND rk.c = $k
           |  JOIN m$k kc ON kc.part = m.part AND kc.r = $k AND kc.c = m.c
           |  JOIN m$k kk ON kk.part = m.part AND kk.r = $k AND kk.c = $k)"""
      val bqCase = (0 until nb).map(r => s"WHEN $r THEN bq$r").mkString(" ")
      val evalChain = (0 until nb).map(r => s"bq$r / 1e6 * c$r").mkString(" + ")
      val coefPivot = (0 until nb)
        .map(r => s"max(CASE WHEN r = $r THEN coef END) AS c$r").mkString(", ")
      val knotCols = (0 until 5).map { k =>
        s"CASE WHEN (t_d - (t0d + (t1d - t0d) * ${k + 1} / 6.0)) / (t1d - t0d) > 0" +
          s" THEN CAST(round(((t_d - (t0d + (t1d - t0d) * ${k + 1} / 6.0)) / (t1d - t0d))" +
          s" * ((t_d - (t0d + (t1d - t0d) * ${k + 1} / 6.0)) / (t1d - t0d))" +
          s" * ((t_d - (t0d + (t1d - t0d) * ${k + 1} / 6.0)) / (t1d - t0d))" +
          s" * 1e6) AS BIGINT) ELSE 0 END AS bq${4 + k}"
      }.mkString(",\n    ")
      s"""WITH $t3SimSql,
         |bnd AS (SELECT part, min(t_d) AS t0d, max(t_d) AS t1d
         |  FROM td GROUP BY 1),
         |bas AS (SELECT td.part, td.id, td.i, td.value,
         |    CAST(round(td.value * 1e6) AS BIGINT) AS yq,
         |    1000000 AS bq0,
         |    CAST(round((t_d - t0d) / (t1d - t0d) * 1e6) AS BIGINT) AS bq1,
         |    CAST(round((t_d - t0d) / (t1d - t0d) * ((t_d - t0d) / (t1d - t0d))
         |      * 1e6) AS BIGINT) AS bq2,
         |    CAST(round((t_d - t0d) / (t1d - t0d) * ((t_d - t0d) / (t1d - t0d))
         |      * ((t_d - t0d) / (t1d - t0d)) * 1e6) AS BIGINT) AS bq3,
         |    $knotCols
         |  FROM td JOIN bnd ON bnd.part = td.part),
         |bl AS (SELECT part, i, yq, r,
         |    CASE r $bqCase END AS bq
         |  FROM bas, (SELECT unnest(generate_series(0, ${nb - 1})) AS r)),
         |ata AS (SELECT a.part, a.r AS r, b.r AS c,
         |    CAST(sum(a.bq * b.bq) AS BIGINT) AS v
         |  FROM bl a JOIN bl b ON b.part = a.part AND b.i = a.i
         |  GROUP BY 1, 2, 3),
         |aty AS (SELECT part, r, CAST(sum(bq * yq) AS BIGINT) AS v
         |  FROM bl GROUP BY 1, 2),
         |m0 AS (SELECT part, r, c, CAST(v AS DOUBLE) / 1e12
         |    + CASE WHEN r = c THEN 1e-9 ELSE 0.0 END AS v FROM ata
         |  UNION ALL
         |  SELECT part, r, $nb, CAST(v AS DOUBLE) / 1e12 FROM aty),
         |${(0 until nb).map(gjStep).mkString(",\n")},
         |coef AS (SELECT d.part, d.r, rh.v / d.v AS coef
         |  FROM m$nb d JOIN m$nb rh ON rh.part = d.part AND rh.r = d.r
         |    AND rh.c = $nb
         |  WHERE d.c = d.r),
         |cw AS (SELECT part, $coefPivot FROM coef GROUP BY 1)
         |SELECT b.part, b.id, $evalChain AS baseline,
         |  b.value - ($evalChain) + 1.0 AS detr
         |FROM bas b JOIN cw ON cw.part = b.part
         |ORDER BY b.part, b.id""".stripMargin
    },

    // t3c's Kalman forward filter + RTS backward smoother replayed in
    // DuckDB recursive CTEs, one recursion step per sample, every
    // expression mirroring Detrend.gpBaseline's operation order
    // exactly. σ and the centering mean come from integer sums
    // (stddevQ/meanQ); the transition decay is round(exp(−λΔt)·1e9)
    // /1e9 on both sides (expQ). Measurement noise 0.01² restates the
    // kernel's yerr·yerr with err ≡ 0.01. fwdm materializes the
    // forward pass once — joining the recursive fwd directly from bwd
    // would re-run the whole forward recursion per smoother step.
    "t3c_detrend_gp" -> {
      // transition matrix layer, shared by filter and smoother
      val transSql =
        """SELECT *, e * (1 + lam * dt) AS a00, e * dt AS a01,
          |      -e * lam * lam * dt AS a10, e * (1 - lam * dt) AS a11
          |    FROM (SELECT *, round(exp(-lam * dt) * 1e9) / 1e9 AS e""".stripMargin
      s"""WITH RECURSIVE $t3SimSql,
         |consts AS MATERIALIZED (SELECT part, s2 AS p11, s2 * lam * lam AS p22,
         |    lam, ybar
         |  FROM (SELECT part, sigma * sigma AS s2, lam, ybar FROM (
         |    SELECT part, sqrt((qq - CAST(sq AS DOUBLE) * sq / n) / n) / 1e6 AS sigma,
         |      sqrt(3.0) / 2.0 AS lam, CAST(sq AS DOUBLE) / n / 1e6 AS ybar
         |    FROM (SELECT part, count(*) AS n, CAST(sum(yq) AS BIGINT) AS sq,
         |            CAST(sum(yq * yq) AS BIGINT) AS qq
         |          FROM (SELECT part, CAST(round(value * 1e6) AS BIGINT) AS yq
         |                FROM td) GROUP BY 1)))),
         |dat AS MATERIALIZED (SELECT td.part, td.id, td.i, td.value,
         |    td.value - c.ybar AS vcen, td.t_d
         |  FROM td JOIN consts c ON c.part = td.part),
         |fwd AS (
         |  SELECT part, i, t_d, mp0, mp1, pp00, pp01, pp11,
         |    mp0 + k0 * nu AS mf0, mp1 + k1 * nu AS mf1,
         |    (1 - k0) * pp00 AS pf00, (1 - k0) * pp01 AS pf01,
         |    pp11 - k1 * pp01 AS pf11
         |  FROM (SELECT *, pp00 / sInn AS k0, pp01 / sInn AS k1
         |    FROM (SELECT *, pp00 + 0.01 * 0.01 AS sInn, vcen - mp0 AS nu
         |      FROM (SELECT d.part, d.i, d.t_d, d.vcen,
         |          CAST(0.0 AS DOUBLE) AS mp0, CAST(0.0 AS DOUBLE) AS mp1,
         |          c.p11 AS pp00, CAST(0.0 AS DOUBLE) AS pp01, c.p22 AS pp11
         |        FROM dat d JOIN consts c ON c.part = d.part WHERE d.i = 0)))
         |  UNION ALL
         |  SELECT part, i, t_d, nm0 AS mp0, nm1 AS mp1,
         |    pp00n AS pp00, pp01n AS pp01, pp11n AS pp11,
         |    nm0 + k0 * nu AS mf0, nm1 + k1 * nu AS mf1,
         |    (1 - k0) * pp00n AS pf00, (1 - k0) * pp01n AS pf01,
         |    pp11n - k1 * pp01n AS pf11
         |  FROM (SELECT *, pp00n / sInn AS k0, pp01n / sInn AS k1
         |    FROM (SELECT *, pp00n + 0.01 * 0.01 AS sInn, vcen - nm0 AS nu
         |    FROM (SELECT *,
         |        t00 * a00 + t01 * a01 + q00 AS pp00n,
         |        t00 * a10 + t01 * a11 + q01 AS pp01n,
         |        t10 * a10 + t11 * a11 + q11 AS pp11n
         |    FROM (SELECT *,
         |        a00 * m0 + a01 * m1 AS nm0, a10 * m0 + a11 * m1 AS nm1,
         |        p11 - (a00 * (a00 * p11) + a01 * (a01 * p22)) AS q00,
         |        -(a10 * (a00 * p11) + a11 * (a01 * p22)) AS q01,
         |        p22 - (a10 * (a10 * p11) + a11 * (a11 * p22)) AS q11,
         |        a00 * c00 + a01 * c01 AS t00, a00 * c01 + a01 * c11 AS t01,
         |        a10 * c00 + a11 * c01 AS t10, a10 * c01 + a11 * c11 AS t11
         |    FROM ($transSql
         |    FROM (SELECT f.part, d.i, d.t_d, d.vcen,
         |        f.mf0 AS m0, f.mf1 AS m1,
         |        f.pf00 AS c00, f.pf01 AS c01, f.pf11 AS c11,
         |        d.t_d - f.t_d AS dt, c.p11, c.p22, c.lam
         |      FROM fwd f
         |      JOIN dat d ON d.part = f.part AND d.i = f.i + 1
         |      JOIN consts c ON c.part = f.part)))))))),
         |fwdm AS MATERIALIZED (SELECT * FROM fwd),
         |bwd AS (
         |  SELECT part, i, mf0 AS ms0, mf1 AS ms1 FROM fwdm WHERE i = 499
         |  UNION ALL
         |  SELECT part, i,
         |    CASE WHEN abs(det) < 1e-300 THEN mf0
         |         ELSE mf0 + g00 * d0 + g01 * d1 END AS ms0,
         |    CASE WHEN abs(det) < 1e-300 THEN mf1
         |         ELSE mf1 + g10 * d0 + g11 * d1 END AS ms1
         |  FROM (SELECT *,
         |      pa00 * i00 + pa01 * i01 AS g00, pa00 * i01 + pa01 * i11 AS g01,
         |      pa10 * i00 + pa11 * i01 AS g10, pa10 * i01 + pa11 * i11 AS g11
         |    FROM (SELECT *,
         |        pp11 / det AS i00, -pp01 / det AS i01, pp00 / det AS i11,
         |        pf00 * a00 + pf01 * a01 AS pa00, pf00 * a10 + pf01 * a11 AS pa01,
         |        pf01 * a00 + pf11 * a01 AS pa10, pf01 * a10 + pf11 * a11 AS pa11
         |    FROM (SELECT *, pp00 * pp11 - pp01 * pp01 AS det
         |    FROM ($transSql
         |    FROM (SELECT b.part, f0.i, f0.mf0, f0.mf1,
         |        f0.pf00, f0.pf01, f0.pf11,
         |        f1.pp00, f1.pp01, f1.pp11,
         |        b.ms0 - f1.mp0 AS d0, b.ms1 - f1.mp1 AS d1,
         |        f1.t_d - f0.t_d AS dt, c.lam
         |      FROM bwd b
         |      JOIN fwdm f1 ON f1.part = b.part AND f1.i = b.i
         |      JOIN fwdm f0 ON f0.part = b.part AND f0.i = b.i - 1
         |      JOIN consts c ON c.part = b.part)))))))
         |SELECT d.part, d.id, b.ms0 + c.ybar AS baseline,
         |  d.value - (b.ms0 + c.ybar) + 1.0 AS detr
         |FROM dat d JOIN bwd b ON b.part = d.part AND b.i = d.i
         |JOIN consts c ON c.part = d.part
         |ORDER BY d.part, d.id""".stripMargin
    },

    "p1_derived_features" -> {
      def u(k: Int) =
        s"CAST(((i + $k * 7919) % 65536 * 1103515245 + 12345) % 2147483648 AS DOUBLE) / 2147483648.0"
      val twoPi = 2 * math.Pi
      s"""WITH g AS (SELECT unnest(generate_series(0, 1999)) AS i),
         |samples AS (SELECT i,
         |    2.0 + 8.0 * ${u(1)} AS peri,
         |    0.02 + 0.13 * ${u(2)} AS rrat,
         |    0.05 + 0.15 * ${u(3)} AS rsma,
         |    0.08 * ${u(4)} AS cosi,
         |    0.2 * (${u(5)} - 0.5) AS ecos,
         |    0.2 * (${u(6)} - 0.5) AS esin
         |  FROM g),
         |d1 AS (SELECT *,
         |    1e3 * rrat * rrat AS depth_ppt,
         |    sqrt(1.0 - cosi * cosi) AS sini,
         |    sqrt(ecos * ecos + esin * esin) AS ecce,
         |    ${180.0 / math.Pi} *
         |      (((atan2(esin, ecos) % $twoPi) + $twoPi) % $twoPi) AS omeg,
         |    rsma / (1.0 + rrat) AS rs2a
         |  FROM samples),
         |d2 AS (SELECT *,
         |    cosi / rs2a * (1.0 - ecce * ecce)
         |      / (1.0 + ecce * sin(${math.Pi / 180.0} * omeg)) AS imfa
         |  FROM d1),
         |d3 AS (SELECT *,
         |    24.0 * peri / pi() * asin(rs2a * sqrt(GREATEST(0.0,
         |      (1.0 + rrat) * (1.0 + rrat) - imfa * imfa)) / sini) AS durtot_hr,
         |    24.0 * peri / pi() * asin(rs2a * sqrt(GREATEST(0.0,
         |      (1.0 - rrat) * (1.0 - rrat) - imfa * imfa)) / sini) AS durfull_hr
         |  FROM d2),
         |d4 AS (SELECT *,
         |    CASE WHEN durtot_hr > 0 THEN 1e3 *
         |      pow(1.0 - durfull_hr / durtot_hr, 2) /
         |      pow(1.0 + durfull_hr / durtot_hr, 2) ELSE 1e3 END AS blend_ppt
         |  FROM d3),
         |longf AS (
         |  SELECT feat, CAST(floor(val * 1e4) AS BIGINT) AS vi FROM (
         |    SELECT unnest(['depth_ppt','sini','omeg','imfa',
         |                   'durtot_hr','durfull_hr','blend_ppt']) AS feat,
         |      unnest([depth_ppt, sini, omeg, imfa,
         |              durtot_hr, durfull_hr, blend_ppt]) AS val
         |    FROM d4))
         |SELECT feat, count(*) AS n,
         |  round(quantile_cont(vi, 0.16) / 1e4, 6) AS p16,
         |  round(quantile_cont(vi, 0.5) / 1e4, 6) AS p50,
         |  round(quantile_cont(vi, 0.84) / 1e4, 6) AS p84
         |FROM longf GROUP BY 1 ORDER BY feat""".stripMargin
    },

    "t4b_detrend_clip" ->
      s"""WITH b0 AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
         |    CAST(round(value*100) AS BIGINT)*4 AS vq FROM events),
         |${t4bRound("b0", "k1")},
         |${t4bRound("k1", "k2")},
         |${t4bRound("k2", "k3")},
         |fin AS (SELECT b0.event_id, b0.user_id, b0.t_us, b0.vq,
         |    (k3.event_id IS NOT NULL) AS kept
         |  FROM b0 LEFT JOIN k3 ON b0.event_id = k3.event_id)
         |SELECT user_id, event_id, kept,
         |  round(tr2/800.0, 6) AS trend,
         |  round(1.0 + (vq*2 - tr2)/800.0, 6) AS detr
         |FROM (SELECT *, coalesce(
         |    CAST(quantile_cont(CASE WHEN kept THEN CAST(vq AS DOUBLE) END, 0.5)
         |      OVER wr * 2 AS BIGINT),
         |    CAST(quantile_cont(CASE WHEN kept THEN CAST(vq AS DOUBLE) END, 0.5)
         |      OVER wu * 2 AS BIGINT)) AS tr2
         |  FROM fin
         |  WINDOW wr AS (PARTITION BY user_id ORDER BY t_us
         |    RANGE BETWEEN 3600000000 PRECEDING AND 3600000000 FOLLOWING),
         |  wu AS (PARTITION BY user_id))
         |ORDER BY user_id, event_id""".stripMargin,

    // Mirrors the pre-binned path exactly (the t6 oracle's binning
    // machinery over a8's simpler fixed-duty grid): same integer bin
    // widths from the shortest trial box, same coarsest-level routing,
    // same bin-midpoint membership — direct per-level binning here
    // equals the engine's level-0 rollup because every width is an
    // exact multiple of width 0 (integer-div composition).
    "a8_bls_snr" ->
      s"""WITH $baseSql,
         |mm AS (SELECT min(t_us) AS t0, max(t_us) AS t1, count(*) AS nall,
         |         sum(vc) AS sall FROM base),
         |par AS (SELECT t0, t1 - t0 AS bl, nall,
         |    CAST(sall AS DOUBLE) / nall / 100.0 AS gmean FROM mm),
         |tri AS (SELECT DISTINCT t0, gmean, bl // kp AS p_us, m_steps
         |  FROM par, (SELECT unnest(generate_series(2, 31)) AS kp),
         |       (VALUES (20), (40)) ms(m_steps)),
         |trid AS (SELECT *, (p_us // m_steps) * 2 AS dur FROM tri),
         |mind AS (SELECT min(dur) AS mindur FROM trid),
         |lv AS (SELECT l, GREATEST(1, (mindur // 4) *
         |      CASE l WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 16
         |             WHEN 3 THEN 64 ELSE 256 END) AS w, t0
         |  FROM mind, par, (VALUES (0), (1), (2), (3), (4)) lvt(l)),
         |bins AS (SELECT l, w, t0, (t_us - t0) // w AS bin,
         |    count(*) AS n, sum(vc) AS s
         |  FROM base, lv GROUP BY 1, 2, 3, 4),
         |binmid AS (SELECT l, t0 + bin * w + w // 2 AS tmid, n, s FROM bins),
         |route AS (SELECT t0, gmean, p_us, m_steps,
         |    CASE WHEN GREATEST(1, (mindur // 4) * 256)
         |           <= GREATEST(1, dur // 4) THEN 4
         |         WHEN GREATEST(1, (mindur // 4) * 64)
         |           <= GREATEST(1, dur // 4) THEN 3
         |         WHEN GREATEST(1, (mindur // 4) * 16)
         |           <= GREATEST(1, dur // 4) THEN 2
         |         WHEN GREATEST(1, (mindur // 4) * 4)
         |           <= GREATEST(1, dur // 4) THEN 1
         |         ELSE 0 END AS l
         |  FROM trid, mind),
         |exploded AS (SELECT p_us, m_steps, gmean, n, s,
         |    (CASE WHEN ((tmid - r.t0) % p_us + p_us) % p_us
         |            <= 9223372036854775807 // m_steps
         |          THEN (((tmid - r.t0) % p_us + p_us) % p_us * m_steps) // p_us
         |          ELSE CAST((CAST((((tmid - r.t0) % p_us + p_us) % p_us) AS HUGEINT)
         |                     * m_steps) // p_us AS BIGINT) END
         |      - d + m_steps) % m_steps AS m
         |  FROM route r JOIN binmid b ON b.l = r.l, (VALUES (0), (1)) dd(d)),
         |agg AS (SELECT p_us, m_steps, m, CAST(sum(n) AS BIGINT) AS n_in,
         |    CAST(sum(s) AS BIGINT) AS s_in, min(gmean) AS gmean
         |  FROM exploded GROUP BY 1, 2, 3),
         |scored AS (SELECT p_us, m_steps, m,
         |    CAST(s_in AS DOUBLE) / n_in / 100.0 AS box_mean, gmean,
         |    row_number() OVER (PARTITION BY p_us
         |                       ORDER BY CAST(s_in AS DOUBLE) / n_in / 100.0 ASC,
         |                                m_steps ASC, m ASC) AS rn
         |  FROM agg),
         |spec AS (SELECT p_us,
         |    CAST(round((gmean - box_mean) * 1e6) AS BIGINT) AS dc
         |  FROM scored WHERE rn = 1),
         |st AS (SELECT p_us, dc,
         |    dc - quantile_cont(dc, 0.5) OVER fr AS sgnl,
         |    CAST(round(dc - quantile_cont(dc, 0.5) OVER fr) AS BIGINT) AS sgnl_i
         |  FROM spec
         |  WINDOW fr AS (ORDER BY p_us ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
         |st2 AS (SELECT p_us, sgnl,
         |    count(*) OVER fr AS n, sum(sgnl_i) OVER fr AS sv,
         |    sum(sgnl_i * sgnl_i) OVER fr AS q
         |  FROM st
         |  WINDOW fr AS (ORDER BY p_us ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING))
         |SELECT p_us, sgnl,
         |  round(sqrt((q - CAST(sv AS DOUBLE) * sv / n) / n), 6) AS noise,
         |  round(sgnl / nullif(sqrt((q - CAST(sv AS DOUBLE) * sv / n) / n), 0.0), 6) AS snr
         |FROM st2 ORDER BY p_us""".stripMargin
  )
}
