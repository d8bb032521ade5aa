package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._
import graft.search.{Bls, LombScargle, MatchedFilter}

/** Search-kernel surface (SURVEY.md §2.9 T5/T6/T8, §2.4 A2/A7/A8) plus
  * the remaining scan/set-op items (S12 dedup sink, U2 except, W6
  * sequence generation). Oracles mirror the integer-sum formulations
  * of the kernels exactly.
  */
object Search {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // T5 — Lomb–Scargle periodogram at the reference grid density
    // (deltfreq = minmfreq/3/2, main.py:4956–4958 → subdiv=6, 120
    // lines) with the 5% false-alarm level (main.py:5011–5012).
    "t5_lombscargle" -> ((s, d) =>
      LombScargle.periodogram(base(s, d), "t_us", "vc", 120,
        subdiv = 6, fapProb = Some(0.05)).orderBy("k")),

    // T6/A7/J7 — BLS spectrum at the REFERENCE grid density
    // (srch_boxsperi defaults main.py:5307–5320: factosam=10 frequency
    // oversampling, 0.1-dex duty-cycle grid with Solar-density-scaled
    // max, main.py:5513–5529) via the MULTI-RESOLUTION PRE-BINNED path
    // (ref main.py:5586–5605): samples pre-aggregate into 5 bin-width
    // levels and each trial routes to the coarsest level ≤ box/4 — at
    // 100× the data this is the load-bearing trick (long-period trials
    // score over ~1000× fewer rows). 300 frequencies from 1/B at
    // deltfreq=(1/B)/10 (periods B..B/30.9), ~4-5 duties per period →
    // ~1300 trials. The oracle reproduces the exact same grid and
    // quantization, so the check stays bit-exact. The row-exact
    // spectrum stays available as Bls.spectrum (t6b companions uses
    // it).
    "t6_bls" -> ((s, d) => {
      val b = base(s, d)
      // one driver stats pass: trial grid AND the spectrum's global
      // mean come from the same aggregate (stats passed through)
      val r = b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"),
        count(lit(1)).as("n"), sum(col("vc")).as("sv")).collect()(0)
      val trials = Bls.referenceTrials(r.getLong(1) - r.getLong(0), r.getLong(2),
        nFreq = 300, osamp = 10)
      Bls.spectrumPrebinnedTrials(b, "t_us", "vc", trials, levels = 5,
          stats = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .orderBy("p_us")
    }),

    // T6 multi-companion loop (ref main.py:5630–5651, threshold 5322):
    // two boxes injected at known periods (3 d and 5 d) on a
    // deterministic LCG-noise grid anchored at the events epoch; the
    // driver loop finds the best SNR peak, masks its transits, and
    // repeats until SNR < 7.1. Oracle-checked: the fixture's companion
    // count is fixed, so the loop unrolls to three rounds of the
    // already-oracle-exact spectrum+SNR machinery with the SNR gate as
    // a cumulative CASE (round 3 computes the sub-threshold best that
    // terminates the loop). SearchSpec additionally asserts recovery
    // of both injected periods via injection-recovery.
    "t6b_bls_companions" -> ((s, d) => {
      import s.implicits._
      val P3 = 3L * 86400000000L; val P5 = 5L * 86400000000L
      val n = 6000L
      val step = 30L * 86400000000L / n
      val sim = base(s, d).agg(min(col("t_us")).as("t0"))
        .withColumn("i", explode(sequence(lit(0L), lit(n - 1))))
        .withColumn("g_us", col("t0") + col("i") * step)
        .withColumn("r", (col("i") % 65536L * 1103515245L + 12345L) % 2147483648L)
        .withColumn("noise", (col("r").cast("double") / 2147483648.0 - 0.5) * 0.004)
        .withColumn("ph1", pmod(col("g_us") - col("t0"), lit(P3)))
        .withColumn("ph2", pmod(col("g_us") - col("t0"), lit(P5)))
        .withColumn("flux", lit(1.0)
          - when(col("ph1") < P3 / 10, 0.03).otherwise(0.0)
          - when(col("ph2") < P5 / 10, 0.025).otherwise(0.0)
          + col("noise"))
        .withColumn("vc", roundAway(col("flux") * 10000).cast("long"))
        .select("g_us", "vc")
      val found = Bls.companions(sim, "g_us", "vc", 280, Seq(20, 40),
        maxCompanions = 4, minSnr = 7.1, osamp = 10)
      // Fixture-invariant guard: the DuckDB oracle unrolls exactly 3
      // BLS rounds (2 accepted companions + the sub-threshold round
      // that terminates the loop). A third above-threshold companion
      // would send the engine into a 4th round the oracle cannot
      // represent — fail HERE with the cause named, not downstream as
      // an opaque hash mismatch.
      require(found.size <= 2,
        s"t6b fixture drifted: ${found.size} companions accepted but the " +
        "oracle SQL unrolls only 3 BLS rounds (2 accepted + the " +
        "terminating sub-threshold round) — re-derive the oracle unroll")
      // roundHalfAway, not math.rint: rint is half-to-EVEN while the
      // DuckDB oracle's round() is half-away — roundHalfAway matches
      // it exactly (the VecExprs arithmetic contract).
      import graft.expr.VecExprs.roundHalfAway
      found.zipWithIndex.map { case ((p, m, depth, snr), i) =>
        (i + 1, p, m, roundHalfAway(depth * 1e6) / 1e6, roundHalfAway(snr * 1e6) / 1e6)
      }.toDF("comp", "p_us", "m", "depth", "snr").orderBy("comp")
    }),

    // T8/A9/A10 — matched-filter flare search: exponential kernel,
    // 99th-percentile trigger, island clustering, per-island peak.
    "t8_matched_filter" -> ((s, d) =>
      MatchedFilter.flares(base(s, d), Seq("user_id"), "t_us", "event_id",
        "vc", 2.0, 0.99).orderBy("user_id", "peak_id")),

    // T8 full fidelity — kernel LADDER (fall timescales 2/3/6 grid
    // steps, taps 3·τ) × gap-chunking (>2 d) × uniform 12 h resample
    // with linear interpolation, per-(user, kernel) windowed
    // percentile threshold (ref main.py:6081–6118, 6225–6295;
    // parameters scaled to the fixture's ~7 h cadence).
    "t8b_matched_multi" -> ((s, d) =>
      MatchedFilter.flaresMulti(base(s, d), Seq("user_id"), "t_us", "event_id",
          "vc", gapUs = 172800000000L, stepUs = 43200000000L,
          tauSteps = Seq(2.0, 3.0, 6.0), fillFrac = 0.8, q = 0.99)
        .orderBy("user_id", "kern", "region", "peak_i")),

    // A2 — median normalization per group (ref main.py:7486–7488).
    "a2_median_norm" -> ((s, d) => {
      val med = lineitem(s, d).groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med"))
      lineitem(s, d).join(broadcast(med), "l_returnflag")
        .withColumn("qty_norm", col("l_quantity") / col("med"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "qty_norm")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // S12 — results-sink dedup: keep first row per key, deterministic
    // (ref cluster CSV dedup main.py:12458–12539).
    "s12_dedup_first" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy("t_us", "event_id")
      base(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id")
        .orderBy("user_id", "event_type")
    }),

    // U2 — set difference (ref out-of-transit complement main.py:6583).
    "u2_except" -> ((s, d) => {
      val all = orders(s, d).select("o_orderkey")
      val f = orders(s, d).filter(col("o_orderstatus") === "F").select("o_orderkey")
      all.except(f).orderBy("o_orderkey")
    }),

    // W6 — per-group sequence generation (ref index grids main.py:5612).
    "w6_sequence" -> ((s, d) => {
      orders(s, d).filter(col("o_orderkey") < 200)
        .withColumn("i", explode(sequence(lit(1), month(col("o_orderdate")))))
        .select("o_orderkey", "i")
        .orderBy("o_orderkey", "i")
    })
  )

  private val wd = MatchedFilter.kernelWeights(2.0)

  val oracle: Map[String, String] = Map(
    "t5_lombscargle" ->
      s"""WITH $baseSql,
         |mm AS (SELECT min(t_us) AS t0, max(t_us) AS t1, count(*) AS n,
         |         sum(vc) AS s, sum(vc*vc) AS q FROM base),
         |freqs AS (SELECT k, t0,
         |    2.0 * pi() * (CAST(k AS DOUBLE) / 6.0 + 1.0)
         |      / (CAST(t1 - t0 AS DOUBLE) / 1000000.0) AS omega,
         |    CAST(s AS DOUBLE) / n / 100.0 AS mean,
         |    (q - CAST(s AS DOUBLE) * s / n) / n / 10000.0 AS varx
         |  FROM mm, (SELECT unnest(generate_series(0, 119)) AS k)),
         |terms AS (SELECT k, varx,
         |    CAST(round(cos(omega * ts) * 1e6) AS BIGINT) AS ci,
         |    CAST(round(sin(omega * ts) * 1e6) AS BIGINT) AS si,
         |    vc / 100.0 - mean AS dx
         |  FROM (SELECT k, varx, omega, mean, vc,
         |          CAST(t_us - t0 AS DOUBLE) / 1000000.0 AS ts
         |        FROM base, freqs)),
         |sums AS (SELECT k, min(varx) AS varx, count(*) AS n,
         |    sum(ci*ci) AS cc, sum(si*si) AS ss, sum(ci*si) AS cs,
         |    sum(CAST(round(ci * dx) AS BIGINT)) AS xc,
         |    sum(CAST(round(si * dx) AS BIGINT)) AS xs
         |  FROM terms GROUP BY k),
         |fin AS (SELECT k, n, varx,
         |    CAST(cc AS DOUBLE)/1e12 AS acc, CAST(ss AS DOUBLE)/1e12 AS ass,
         |    CAST(cs AS DOUBLE)/1e12 AS acs,
         |    CAST(xc AS DOUBLE)/1e6 AS axc, CAST(xs AS DOUBLE)/1e6 AS axs
         |  FROM sums)
         |SELECT k, n, round(
         |    (ass * axc * axc - 2.0 * acs * axc * axs + acc * axs * axs)
         |    / nullif(acc * ass - acs * acs, 0.0)
         |    / nullif(2.0 * varx * n, 0.0), 6) AS power,
         |  round(1 - pow(1 - pow(0.95, 1.0/120), 2.0/(n - 3)), 6) AS fap
         |FROM fin ORDER BY k""".stripMargin,

    "t6_bls" ->
      // Mirrors Bls.referenceTrials + spectrumPrebinnedTrials exactly:
      // same frequency grid P = (B·10) // (10+k), same 0.1-dex duty
      // grid (logs quantized at 1e-4, npts = 2 + int(span/0.1),
      // M = round(2/dc) floored at 2), same integer bin widths
      // (minDur/4 · 4^l over the trial-wide min box duration, floored
      // at 1), same trial→level routing (coarsest width ≤ max(1,
      // dur/4), else level 0), same bin-midpoint box membership.
      s"""WITH $baseSql,
         |mm AS (SELECT min(t_us) AS t0, max(t_us) AS t1, count(*) AS nall,
         |         sum(vc) AS sall FROM base),
         |par AS (SELECT t0, t1 - t0 AS bl, nall,
         |    CAST(sall AS DOUBLE) / nall / 100.0 AS gmean
         |  FROM mm),
         |per AS (SELECT DISTINCT t0, bl, nall, gmean, (bl * 10) // (10 + k) AS p_us
         |  FROM par, (SELECT unnest(generate_series(0, 299)) AS k)),
         |lg1 AS (SELECT *, round((-2.0/3.0 *
         |      log10(CAST(p_us AS DOUBLE) / 86400000000.0)
         |      - 1.0 + 0.1) * 1e4) / 1e4 AS maxlg
         |  FROM per),
         |lg2 AS (SELECT *, GREATEST(round(log10(2.0 / nall) * 1e4) / 1e4,
         |      maxlg - 0.3) AS minlg
         |  FROM lg1),
         |np AS (SELECT *, 2 + CAST(floor((maxlg - minlg) / 0.1) AS INT) AS npts
         |  FROM lg2 WHERE maxlg >= minlg),
         |ii AS (SELECT t0, bl, gmean, p_us, minlg, maxlg, npts,
         |    unnest(generate_series(0, npts - 1)) AS i
         |  FROM np),
         |tri AS (SELECT DISTINCT t0, bl, gmean, p_us,
         |    GREATEST(2, CAST(round(2.0 / pow(10.0,
         |      minlg + i * (maxlg - minlg) / (npts - 1))) AS BIGINT)) AS m_steps
         |  FROM ii),
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
         |scored AS (SELECT p_us, m_steps, m, n_in,
         |    CAST(s_in AS DOUBLE) / n_in / 100.0 AS box_mean,
         |    gmean - CAST(s_in AS DOUBLE) / n_in / 100.0 AS depth,
         |    row_number() OVER (PARTITION BY p_us
         |                       ORDER BY CAST(s_in AS DOUBLE) / n_in / 100.0 ASC,
         |                                m_steps ASC, m ASC) AS rn
         |  FROM agg)
         |SELECT p_us, m_steps, m, n_in, box_mean, depth
         |FROM scored WHERE rn = 1 ORDER BY p_us""".stripMargin,

    // t6b's FULL driver loop in SQL (e3/e5 training-chain precedent):
    // the fixture's companion count is fixed, so the while-loop
    // unrolls to three rounds — each round is the row-exact BLS
    // spectrum (anchored trial grid, SR-ranked per-period best box),
    // the rolling-median/16-84-spread SNR chain, the argmax-power
    // peak, and the ±guard-band transit mask feeding the next round.
    // Acceptance is a CUMULATIVE gate (a round's row appears only if
    // every earlier round also cleared SNR ≥ 7.1), which is exactly
    // the loop's early-exit semantics for this fixture; round 3's
    // sub-threshold best is what terminates it. Every intermediate is
    // integer or fixed-order IEEE double, so the check is bit-exact.
    "t6b_bls_companions" -> {
      val P3 = 3L * 86400000000L; val P5 = 5L * 86400000000L
      val n = 6000L; val step = 30L * 86400000000L / n
      // One spectrum+SNR+best round over data_$k; rounds 1-2 also emit
      // the masked data_${k+1}.
      def blsRound(k: Int, emitMask: Boolean): String = {
        val d = s"(((s.g_us - a.t0) % b.p_us + b.p_us) % b.p_us * b.m_steps) // b.p_us"
        val mask = if (!emitMask) "" else s""",
           |data_${k + 1} AS (SELECT s.g_us, s.vc FROM data_$k s, best_$k b, anchor a
           |  WHERE NOT (($d - b.m + b.m_steps) % b.m_steps <= 2
           |          OR ($d - b.m + b.m_steps) % b.m_steps = b.m_steps - 1))"""
        s"""stats_$k AS (SELECT count(*) AS nall, CAST(sum(vc) AS BIGINT) AS sall
           |  FROM data_$k),
           |boxes_$k AS (SELECT p_us, m_steps, (m1 - dd + m_steps) % m_steps AS m,
           |    count(*) AS n_in, CAST(sum(vc) AS BIGINT) AS s_in
           |  FROM (SELECT t.p_us, t.m_steps, dv.dd, s.vc,
           |      (((s.g_us - t.t0) % t.p_us + t.p_us) % t.p_us * t.m_steps)
           |        // t.p_us AS m1
           |    FROM data_$k s, trials t, (VALUES (0), (1)) AS dv(dd))
           |  GROUP BY 1, 2, 3),
           |spec_$k AS (SELECT p_us, m_steps, m, n_in,
           |    round(box_mean, 6) AS box_mean, round(depth, 6) AS depth
           |  FROM (SELECT b.p_us, b.m_steps, b.m, b.n_in,
           |      CAST(b.s_in AS DOUBLE) / b.n_in / 100.0 AS box_mean,
           |      st.gmean - CAST(b.s_in AS DOUBLE) / b.n_in / 100.0 AS depth,
           |      row_number() OVER (PARTITION BY b.p_us ORDER BY
           |        sign(st.gmean - CAST(b.s_in AS DOUBLE) / b.n_in / 100.0)
           |          * (st.gmean - CAST(b.s_in AS DOUBLE) / b.n_in / 100.0)
           |          * (st.gmean - CAST(b.s_in AS DOUBLE) / b.n_in / 100.0)
           |          * b.n_in DESC, b.m_steps ASC, b.m ASC) AS rn
           |    FROM boxes_$k b,
           |      (SELECT CAST(sall AS DOUBLE) / nall / 100.0 AS gmean
           |       FROM stats_$k) st)
           |  WHERE rn = 1),
           |snrb_$k AS (SELECT p_us, m_steps, m, n_in, depth,
           |    powI - quantile_cont(powI, 0.5) OVER
           |      (ORDER BY p_us ROWS BETWEEN 25 PRECEDING AND 25 FOLLOWING) AS sgnl
           |  FROM (SELECT *, CAST(round(depth * sqrt(n_in) * 1e6) AS BIGINT) AS powI
           |        FROM spec_$k)),
           |nz_$k AS (SELECT (quantile_cont(sgnl, 0.84)
           |    - quantile_cont(sgnl, 0.16)) / 2.0 AS noise FROM snrb_$k),
           |best_$k AS (SELECT p_us, m_steps, m, depth, sgnl,
           |    (SELECT noise FROM nz_$k) AS noise
           |  FROM snrb_$k ORDER BY depth * sqrt(n_in) DESC, p_us ASC LIMIT 1)$mask"""
      }
      def gated(k: Int): String =
        s"""SELECT $k AS comp, p_us, m, depth,
           |    sgnl / greatest(noise, 0.5 * (SELECT noise FROM best_1)) AS snr
           |  FROM best_$k""".stripMargin
      s"""WITH e0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
         |anchor AS (SELECT t0, t0 + ${(n - 1) * step} AS t1 FROM e0),
         |data_1 AS (SELECT t0 + i * $step AS g_us,
         |    CAST(round((1.0
         |      - CASE WHEN (i * $step) % $P3 < ${P3 / 10} THEN 0.03 ELSE 0.0 END
         |      - CASE WHEN (i * $step) % $P5 < ${P5 / 10} THEN 0.025 ELSE 0.0 END
         |      + (CAST((i % 65536 * 1103515245 + 12345) % 2147483648 AS DOUBLE)
         |         / 2147483648.0 - 0.5) * 0.004) * 10000) AS BIGINT) AS vc
         |  FROM e0, (SELECT unnest(generate_series(0, ${n - 1})) AS i)),
         |trials AS (SELECT a.t0, ((a.t1 - a.t0) * 10) // kp AS p_us, ms.m_steps
         |  FROM anchor a, (SELECT unnest(generate_series(20, 299)) AS kp),
         |       (VALUES (20), (40)) AS ms(m_steps)),
         |${blsRound(1, emitMask = true)},
         |${blsRound(2, emitMask = true)},
         |${blsRound(3, emitMask = false)},
         |g AS (${gated(1)}
         |  UNION ALL ${gated(2)}
         |  UNION ALL ${gated(3)}),
         |passed AS (SELECT comp, p_us, m, depth, snr,
         |    min(CASE WHEN snr >= 7.1 THEN 1 ELSE 0 END)
         |      OVER (ORDER BY comp ROWS UNBOUNDED PRECEDING) AS ok
         |  FROM g)
         |SELECT CAST(comp AS INTEGER) AS comp, p_us, CAST(m AS BIGINT) AS m,
         |  round(depth * 1e6) / 1e6 AS depth, round(snr * 1e6) / 1e6 AS snr
         |FROM passed WHERE ok = 1 ORDER BY comp""".stripMargin
    },

    "t8b_matched_multi" -> {
      val GAP = 172800000000L; val STEP = 43200000000L
      val ws = MatchedFilter.multiKernelWeights(Seq(2.0, 3.0, 6.0))
      val corrCtes = ws.zipWithIndex.map { case (wd, k) =>
        val sumExpr = wd.zipWithIndex.map { case (c, j) =>
          if (j == 0) s"($c)*vi" else s"($c)*lead(vi, $j) OVER wg"
        }.mkString(" + ")
        s"""corr$k AS (SELECT user_id, region, i, $k AS kern, $sumExpr AS corr
           |  FROM interp WINDOW wg AS (PARTITION BY user_id, region ORDER BY i))""".stripMargin
      }.mkString(",\n")
      s"""WITH $baseSql,
         |reg AS (SELECT user_id, event_id, t_us, vc,
         |    CAST(sum(CASE WHEN gap > $GAP THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id ORDER BY t_us, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS region
         |  FROM (SELECT *, t_us - lag(t_us) OVER
         |          (PARTITION BY user_id ORDER BY t_us, event_id) AS gap FROM base)),
         |bnd AS (SELECT user_id, region, min(t_us) AS t0r, max(t_us) AS t1r,
         |    count(*) AS n_samp,
         |    (max(t_us) - min(t_us) + $STEP - 1) // $STEP AS n_grid
         |  FROM reg GROUP BY 1, 2
         |  HAVING (max(t_us) - min(t_us) + $STEP - 1) // $STEP >= 1
         |     AND count(*) >= 2
         |     AND count(*) >= 0.8 * ((max(t_us) - min(t_us) + $STEP - 1) // $STEP)),
         |grid AS (SELECT user_id, region, t0r,
         |    unnest(generate_series(0, n_grid - 1)) AS i FROM bnd),
         |grid2 AS (SELECT user_id, region, i, t0r + i*$STEP AS g_us FROM grid),
         |seg AS (SELECT user_id, region, t_us, vc,
         |    lead(t_us) OVER wseg AS t1, lead(vc) OVER wseg AS v1
         |  FROM reg
         |  WINDOW wseg AS (PARTITION BY user_id, region ORDER BY t_us, event_id)),
         |interp AS (SELECT g.user_id, g.region, g.i,
         |    CAST(floor(1e6*(s.vc + (s.v1 - s.vc) *
         |      (CAST(g.g_us - s.t_us AS DOUBLE) / CAST(s.t1 - s.t_us AS DOUBLE))))
         |      AS BIGINT) AS vi
         |  FROM grid2 g JOIN seg s
         |    ON s.user_id = g.user_id AND s.region = g.region
         |   AND g.g_us >= s.t_us AND g.g_us < s.t1
         |  WHERE s.t1 IS NOT NULL),
         |$corrCtes,
         |kerns AS (SELECT * FROM corr0 UNION ALL SELECT * FROM corr1
         |          UNION ALL SELECT * FROM corr2),
         |thr AS (SELECT *, quantile_cont(corr, 0.99)
         |    OVER (PARTITION BY user_id, kern) AS thr
         |  FROM kerns WHERE corr IS NOT NULL),
         |trig AS (SELECT * FROM thr WHERE corr > thr),
         |isl AS (SELECT *, i - row_number()
         |    OVER (PARTITION BY user_id, region, kern ORDER BY i) AS grp FROM trig),
         |pk AS (SELECT *, row_number()
         |    OVER (PARTITION BY user_id, region, kern, grp
         |          ORDER BY corr DESC, i ASC) AS prn,
         |    count(*) OVER (PARTITION BY user_id, region, kern, grp) AS n_trig
         |  FROM isl)
         |SELECT user_id, kern, region, i AS peak_i, n_trig,
         |  round(CAST(corr AS DOUBLE)/1e12, 6) AS corr
         |FROM pk WHERE prn = 1 ORDER BY user_id, kern, region, peak_i""".stripMargin
    },

    "t8_matched_filter" -> {
      val terms = wd.zipWithIndex.map { case (c, j) =>
        if (j == 0) s"($c) * vc" else s"($c) * lead(vc, $j) OVER w"
      }.mkString(" + ")
      s"""WITH $baseSql,
         |corr AS (SELECT user_id, event_id, t_us,
         |    row_number() OVER w AS rn, $terms AS corr_i
         |  FROM base
         |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)),
         |valid AS (SELECT * FROM corr WHERE corr_i IS NOT NULL),
         |thr AS (SELECT quantile_cont(corr_i, 0.99) AS thr FROM valid),
         |flagged AS (SELECT user_id, event_id, rn, corr_i,
         |    rn - row_number() OVER (PARTITION BY user_id
         |                            ORDER BY t_us, event_id) AS grp
         |  FROM valid, thr WHERE CAST(corr_i AS DOUBLE) > thr),
         |peaks AS (SELECT user_id, event_id AS peak_id, corr_i,
         |    row_number() OVER (PARTITION BY user_id, grp
         |                       ORDER BY corr_i DESC, event_id ASC) AS prn,
         |    count(*) OVER (PARTITION BY user_id, grp) AS n_trig
         |  FROM flagged)
         |SELECT user_id, peak_id, n_trig,
         |  CAST(corr_i AS DOUBLE) / 1e6 / 100.0 AS corr
         |FROM peaks WHERE prn = 1 ORDER BY user_id, peak_id""".stripMargin
    },

    "a2_median_norm" ->
      """WITH med AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
        |            FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity / med AS qty_norm
        |FROM lineitem JOIN med USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "s12_dedup_first" ->
      s"""WITH $baseSql
         |SELECT user_id, event_type, event_id FROM (
         |  SELECT user_id, event_type, event_id,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |                       ORDER BY t_us, event_id) AS rn
         |  FROM base) WHERE rn = 1
         |ORDER BY user_id, event_type""".stripMargin,

    "u2_except" ->
      """SELECT o_orderkey FROM orders
        |EXCEPT
        |SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin,

    "w6_sequence" ->
      """SELECT o_orderkey, unnest(generate_series(1, month(o_orderdate))) AS i
        |FROM orders WHERE o_orderkey < 200
        |ORDER BY o_orderkey, i""".stripMargin
  )
}

