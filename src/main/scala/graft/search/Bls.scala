package graft.search

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** T6 — box least squares (ref srch_boxsperi main.py:5282–5965).
  *
  * The reference evaluates an explicit (period × duty-cycle × epoch)
  * trial grid against every sample in worker processes. Spark-first
  * reformulation: no trial crossJoin at all. For a trial period P and
  * an epoch grid at half-duration steps (factdeltepocdura=0.5,
  * main.py:5319), a sample's phase lies in exactly TWO candidate
  * boxes, found arithmetically:
  *
  *   m1 = floor(phase·M / P),  m0 = (m1 − 1 + M) mod M
  *
  * where M = 2/dutyCycle is the number of epoch steps. So each sample
  * explodes into #periods × #duties × 2 rows and one shuffle on
  * (P, M, m) computes every trial's in-box sum — map-side combined,
  * skew-free (keys are uniform by construction). At scale, samples
  * can be pre-binned in time at a handful of resolutions first (the
  * reference's multi-resolution rebinning, main.py:5586–5605) to cut
  * the explode factor.
  *
  * All box membership is exact integer arithmetic; depths derive from
  * integer sums.
  */
object Bls {

  /** r8 overflow-guarded epoch-index product, shared by every spectrum
    * shape (r9: extracted — the r8 fix had to be applied three times
    * verbatim, which is how divergence bugs start). phase_us < p_us ≤
    * span, so span × M can exceed 2^63 on decade-long corpora (found
    * by the sf1 sweep: DuckDB errored loudly where BIGINT math would
    * wrap silently into wrong phase bins). The guard keeps the LONG
    * fast path for every safe row (an unconditional DECIMAL(38,0)
    * product measured 2–3× slower on t6/t6b) and widens only the rows
    * that would overflow; both branches are exact, so the result is
    * branch-independent and cross-engine identical. Expects columns
    * `phase_us`, `m_steps`, `p_us` in scope. */
  private val phaseIdxSql: String =
    "CASE WHEN phase_us <= 9223372036854775807 div m_steps " +
    "THEN (phase_us * m_steps) div p_us " +
    "ELSE (CAST(phase_us AS DECIMAL(38,0)) * m_steps) div p_us END"

  /** df: integer micros `tUs`, integer cents `vc`. `dutyM`: epoch-step
    * counts M = 2/dc (e.g. Seq(20, 40) for dc = 10%, 5%). `osamp`:
    * frequency-grid oversampling (ref factosam, main.py:5307 — the
    * grid is uniform in frequency at deltfreq = (1/baseline)/osamp;
    * P = osamp·baseline div k reproduces exactly that). Returns per
    * period the deepest box: (p_us, m_steps, m, n_in, box_mean,
    * depth). */
  def spectrum(df: DataFrame, tUs: String, vc: String,
               nPeriods: Int, dutyM: Seq[Int], osamp: Int = 1,
               rankBySR: Boolean = false,
               anchor: Option[(Long, Long)] = None): DataFrame = {
    // `anchor`: fixed (t0, t1) for the trial grid — the companion loop
    // re-scores MASKED data on the ORIGINAL grid (ref reruns BLS with
    // one grid, main.py:5630–5651); without it the grid re-derives
    // from the masked min/max and every trial drifts off-period.
    val mmAgg = df.agg(
      min(col(tUs)).as("t0"), max(col(tUs)).as("t1"),
      count(lit(1)).as("nall"), sum(col(vc)).as("sall"))
    val mm = anchor match {
      case Some((a0, a1)) => mmAgg.withColumn("t0", lit(a0)).withColumn("t1", lit(a1))
      case None => mmAgg
    }
    val trials = mm
      .withColumn("kp", explode(sequence(lit(2 * osamp), lit(nPeriods + 2 * osamp - 1))))
      .withColumn("p_us", expr(s"((t1 - t0) * $osamp) div kp"))
      .withColumn("m_steps", explode(array(dutyM.map(lit(_)): _*)))
      .withColumn("gmean", col("sall").cast("double") / col("nall") / 100.0)
      .select("t0", "p_us", "m_steps", "gmean")
    val boxes = df.crossJoin(broadcast(trials))
      .withColumn("phase_us", pmod(col(tUs) - col("t0"), col("p_us")))
      .withColumn("m1", expr(phaseIdxSql))
      .withColumn("d", explode(array(lit(0), lit(1))))
      .withColumn("m", pmod(col("m1") - col("d") + col("m_steps"), col("m_steps")))
      .groupBy("p_us", "m_steps", "m")
      .agg(count(lit(1)).as("n_in"), sum(col(vc)).as("s_in"),
        min(col("gmean")).as("gmean"))
      .withColumn("box_mean", col("s_in").cast("double") / col("n_in") / 100.0)
      .withColumn("depth", col("gmean") - col("box_mean"))
    // Per-period box selection: default = deepest (min box_mean); SR =
    // max signed signal residue depth²·n_in (classic BLS power) — a
    // narrow box inside a transit has the same depth but half the
    // points, so SR keeps the full-transit box and lets the true
    // period outrank its 2P harmonic downstream.
    val w =
      if (rankBySR) Window.partitionBy("p_us").orderBy(
        (signum(col("depth")) * col("depth") * col("depth") * col("n_in")).desc,
        col("m_steps").asc, col("m").asc)
      else Window.partitionBy("p_us")
        .orderBy(col("box_mean").asc, col("m_steps").asc, col("m").asc)
    boxes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_us"), col("m_steps"), col("m"), col("n_in"),
        graft.core.Tables.round6(col("box_mean")).as("box_mean"), graft.core.Tables.round6(col("depth")).as("depth"))
  }

  /** Reference-density trial grid (srch_boxsperi defaults
    * main.py:5307–5320: factosam=10, deltlogtdcyc=0.1; grid build
    * 5471–5529): the frequency grid is uniform at deltfreq =
    * (1/B)/osamp starting from 1/B, so P_k = (B·osamp) div (osamp+k);
    * per-period duty cycles are log-spaced at 0.1 dex over
    * [max(2/n, dcmax·10^−0.3), dcmax] with dcmax = Pd^(−2/3) ·
    * 10^(deltlogtdcyc − 1) (Solar density, main.py:5521–5526), npts =
    * 2 + int(span/0.1) (np.logspace endpoints included), and the
    * epoch-step count is M = round(2/dc) (factdeltepocdura=0.5).
    * Log values are quantized at 1e−4 BEFORE the span arithmetic so
    * the int() grid count is engine-stable: Java and C libm log10/pow
    * differ by ~1 ulp, and the span sits exactly on the int()
    * boundary without quantization. Returns distinct (p_us, m_steps).
    */
  def referenceTrials(baselineUs: Long, nAll: Long, nFreq: Int,
                      osamp: Int = 10): Seq[(Long, Long)] = {
    def q4(x: Double) = graft.expr.VecExprs.roundHalfAway(x * 1e4) / 1e4
    val periods = (0 until nFreq).map(k => baselineUs * osamp / (osamp + k)).distinct
    periods.flatMap { p =>
      val pd = p.toDouble / 86400e6
      val maxlg = q4(-2.0 / 3.0 * math.log10(pd) - 1.0 + 0.1)
      val minlg = math.max(q4(math.log10(2.0 / nAll)), maxlg - 0.3)
      if (maxlg < minlg) Seq.empty
      else {
        val npts = 2 + ((maxlg - minlg) / 0.1).toInt
        (0 until npts).map { i =>
          val lg = minlg + i * (maxlg - minlg) / (npts - 1)
          (p, math.max(2L, graft.expr.VecExprs.roundHalfAway(2.0 / math.pow(10.0, lg))))
        }.distinct
      }
    }.distinct
  }

  /** Pre-binned spectrum over an EXPLICIT (p_us, m_steps) trial list —
    * the multi-resolution pre-binning of the reference (its
    * load-bearing perf trick, main.py:5586–5605) on the
    * reference-density path (t6, a8). Samples pre-aggregate into fixed
    * time bins at `levels` resolutions, the finest bin width derived
    * from the shortest trial box, and each trial routes to the coarsest
    * level whose width ≤ its box duration / 4, so long periods score
    * over far fewer rows. Bins carry (n, Σcents) partial sums — box
    * means stay exact up to bin-edge quantization.
    *
    * `stats` = (t0, t1, nall, Σcents) of `df`: every caller collects
    * these once to derive its trial grid and passes them here, so
    * trial derivation + spectrum cost ONE full-data job at
    * query-construction time. */
  def spectrumPrebinnedTrials(df: DataFrame, tUs: String, vc: String,
                              trials: Seq[(Long, Long)],
                              stats: (Long, Long, Long, Long),
                              levels: Int = 5): DataFrame = {
    val (t0, _, nall, sall) = stats
    val gmean = sall.toDouble / nall / 100.0
    val minDur = trials.map { case (p, m) => p / m * 2 }.min
    val widths = (0 until levels).map(l => math.max(1L, minDur / 4 * (1L << (2 * l))))
    // One full-data shuffle: only level 0 aggregates the samples;
    // coarser levels roll up level-0 bins ((t−t0) div (w0·f) ≡
    // bin0 div f exactly, and every w_l is w0·4^l — or all 1 when
    // minDur/4 == 0). The level-0 exchange is shared by all branches
    // (ReuseExchange), so the rollups shuffle only #bins rows.
    val base0 = df.groupBy(expr(s"($tUs - $t0) div ${widths(0)}").as("bin0"))
      .agg(count(lit(1)).as("n"), sum(col(vc)).as("s"))
    val binned = widths.zipWithIndex.map { case (w, l) =>
      val f = w / widths(0)
      (if (l == 0) base0.withColumnRenamed("bin0", "bin")
       else base0.groupBy(expr(s"bin0 div $f").as("bin"))
         .agg(sum(col("n")).as("n"), sum(col("s")).as("s")))
        .withColumn("tmid", lit(t0) + col("bin") * w + w / 2)
        .withColumn("lvl", lit(l))
    }.reduce(_ unionByName _)
    val routed = trials.map { case (p, m) =>
      val dur = p / m * 2
      (p, m, widths.lastIndexWhere(_ <= math.max(1L, dur / 4)) max 0)
    }
    val trialsDf = df.sparkSession.createDataFrame(routed).toDF("p_us", "m_steps", "lvl")
    val w = Window.partitionBy("p_us")
      .orderBy(col("box_mean").asc, col("m_steps").asc, col("m").asc)
    binned.join(broadcast(trialsDf), "lvl")
      .withColumn("phase_us", pmod(col("tmid") - t0, col("p_us")))
      .withColumn("m1", expr(phaseIdxSql))
      .withColumn("d", explode(array(lit(0), lit(1))))
      .withColumn("m", pmod(col("m1") - col("d") + col("m_steps"), col("m_steps")))
      .groupBy("p_us", "m_steps", "m")
      .agg(sum(col("n")).as("n_in"), sum(col("s")).as("s_in"))
      .withColumn("box_mean", col("s_in").cast("double") / col("n_in") / 100.0)
      .withColumn("depth", lit(gmean) - col("box_mean"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // no 6dp rounding here: s_in/n_in/100.0 is the same IEEE double
      // in Spark and DuckDB, so raw doubles hash-match — rounding only
      // adds boundary risk (a dense grid WILL hit an x.xxxxxx5 value).
      .select(col("p_us"), col("m_steps"), col("m"), col("n_in"),
        col("box_mean"), col("depth"))
  }

  /** SNR over a per-period spectrum (ref main.py:5742–5801): signal =
    * power − rolling median of the spectrum (kernel 2·half+1, ref
    * sizekern=51 at main.py:5316), noise = GLOBAL percentile-robust
    * scatter of the signal ((p84−p16)/2), snr = signal/noise. The
    * ranked power is the BLS signal residue depth·√n_in — a 2P
    * harmonic box has the same depth but captures fewer in-box
    * points, so the true period outranks it. The noise deliberately
    * differs from the reference's peak-cut windowed std
    * (retr_stdvwind, 6907–6944): on a dense frequency grid the
    * peak's own shoulder rows inflate a windowed std even after
    * cutting the max, while the 16/84 spread of the full spectrum
    * stays anchored to the background — stronger for the same
    * acceptance threshold. The spectrum is tiny (one row per trial
    * period), so the global window is by design. */
  def withSnr(spec: DataFrame, half: Int = 25): DataFrame = {
    val w = Window.orderBy("p_us")
    val fr = w.rowsBetween(-half, half)
    val all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    spec
      .withColumn("powI", round(col("depth") * sqrt(col("n_in")) * 1e6).cast("long"))
      .withColumn("sgnl", col("powI") - expr("percentile(powI, 0.5)").over(fr))
      .withColumn("noise",
        (expr("percentile(sgnl, 0.84)").over(all) -
         expr("percentile(sgnl, 0.16)").over(all)) / 2.0)
      .withColumn("snr",
        when(col("noise") > 0, col("sgnl") / col("noise")).otherwise(lit(0.0)))
      .drop("powI")
  }

  /** Multi-companion search driver (ref main.py:5630–5651): rank trial
    * periods by spectrum SNR (ref 5742–5801), and while the best peak
    * clears `minSnr` (thrss2nr=7.1, ref 5322, exit 5950–5951), record
    * it, mask its in-transit samples and repeat. The loop lives on the
    * driver over cached frames (SURVEY §7.4).
    * Returns (p_us, m, depth, snr) per accepted companion, in
    * acceptance order. */
  def companions(df0: DataFrame, tUs: String, vc: String,
                 nPeriods: Int, dutyM: Seq[Int],
                 maxCompanions: Int, minSnr: Double = 7.1,
                 osamp: Int = 1): Seq[(Long, Long, Double, Double)] = {
    var df = df0.persist()
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    // Acceptance noise = the iteration's own spectrum scatter, floored
    // at half the ORIGINAL spectrum's scatter: masking found signals
    // flattens later spectra, and an unfloored per-iteration estimate
    // deflates with them, promoting residual junk above threshold —
    // while the original scatter alone over-counts the true peaks'
    // shoulder trials.
    var noise0 = Option.empty[Double]
    val mmA = df0.agg(min(col(tUs)).as("t0"), max(col(tUs)).as("t1")).collect()(0)
    val t0A = mmA.getLong(0); val t1A = mmA.getLong(1)
    var continue = true
    while (continue && found.size < maxCompanions) {
      // Candidate = argmax BLS power (signal residue depth·sqrt(n_in));
      // acceptance gate = its spectrum SNR (ref prints "assuming power
      // is SNR", 5799 — power ranks, SNR gates).
      val best = withSnr(spectrum(df, tUs, vc, nPeriods, dutyM, osamp,
          rankBySR = true, anchor = Some((t0A, t1A))))
        .withColumn("power", col("depth") * sqrt(col("n_in")))
        .orderBy(col("power").desc, col("p_us").asc).limit(1).collect()
      if (best.isEmpty) continue = false
      else {
        val b = best(0)
        val p = b.getAs[Number]("p_us").longValue
        val m = b.getAs[Number]("m").longValue
        val mSteps = b.getAs[Number]("m_steps").longValue
        val depth = b.getAs[Double]("depth")
        val sgnl = b.getAs[Double]("sgnl")
        if (noise0.isEmpty) noise0 = Some(b.getAs[Double]("noise"))
        val nz = math.max(b.getAs[Double]("noise"), 0.5 * noise0.get)
        val snr = if (nz > 0) sgnl / nz else 0.0
        if (snr < minSnr) continue = false
        else {
          found += ((p, m, depth, snr))
          val t0 = t0A
          // mask the found box with a one-step guard band each side —
          // a sample is inside iff its epoch index m1 = (phase·M) div P
          // lands on steps m-1..m+2 (box = 2 steps + margins; the guard
          // absorbs the grid-period drift that would otherwise leak
          // transit shoulders into the next iteration).
          // p and mSteps are literals here, so the overflow decision is
          // made ONCE at plan time: the long fast path unless p*mSteps
          // could exceed 2^63 (phase < p)
          val m1 =
            if (p <= Long.MaxValue / mSteps)
              expr(s"((($tUs - $t0) % $p + $p) % $p * $mSteps) div $p")
            else expr(
              s"(CAST(((($tUs - $t0) % $p + $p) % $p) AS DECIMAL(38,0)) * $mSteps) div $p")
          val dist = pmod(m1 - m + mSteps, lit(mSteps))
          val masked = df.filter(!(dist <= 2 || dist === mSteps - 1)).persist()
          df.unpersist()
          df = masked
        }
      }
    }
    df.unpersist()
    found.toSeq
  }
}
