package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core time-series operators the declared queries share (SURVEY.md
  * §2.9 T1/T4/T10, §2.4 A10, §2.5 W2, §2.2 F3).
  *
  * Conventions:
  *  - `t` is an exact integer time column (microseconds since epoch) —
  *    integer arithmetic keeps every derived quantity reproducible across
  *    engines and partitionings.
  *  - every op partitions by the caller's chunk/instrument columns
  *    (`parts`) so nothing funnels through a single partition at scale;
  *    ordering inside a partition is always (t, tie-break id).
  */
object TsOps {

  /** T1 `fold_tser` (ref main.py:7346–7380): phase in [0,1) of integer
    * time `tUs` for integer period `pUs`, epoch `eUs`. Pure integer
    * modulus — exact. Recentering on phase 0.5 is `pmod(x + p/2)`. */
  def phaseUs(tUs: Column, eUs: Column, pUs: Column): Column =
    pmod(pmod(tUs - eUs, pUs) + pUs, pUs)

  /** Centered phase offset in [-p/2, p/2) in micros. */
  def phaseCenteredUs(tUs: Column, eUs: Column, pUs: Column): Column =
    phaseUs(tUs - eUs + (pUs / lit(2)).cast("long") + eUs, eUs, pUs) - (pUs / lit(2)).cast("long")

  /** F3 in-transit predicate, closed form (ref main.py:6502–6587): no
    * interval join needed — |centered phase| < dur/2. */
  def inTransit(tUs: Column, eUs: Column, pUs: Column, durUs: Column): Column =
    abs(phaseCenteredUs(tUs, eUs, pUs)) < (durUs / lit(2)).cast("long")

  /** T10 transit (epoch) index: which transit a sample belongs to.
    * Computed via the positive modulus so the division is exact. */
  def transitIndex(tUs: Column, eUs: Column, pUs: Column): Column = {
    val a = tUs - eUs + (pUs / lit(2)).cast("long")
    ((a - phaseUs(a + eUs, eUs, pUs)) / pUs).cast("long")
  }

  /** W2 gap segmentation (ref retr_timeedge main.py:6590–6630): region id
    * per partition = running count of gaps larger than `gapUs`. */
  def withRegion(df: DataFrame, parts: Seq[String], tUs: String, id: String,
                 gapUs: Long, out: String = "region"): DataFrame = {
    val w = Window.partitionBy(parts.map(col): _*).orderBy(col(tUs), col(id))
    val gap = col(tUs) - lag(col(tUs), 1).over(w)
    df.withColumn("_brk", when(gap > gapUs, 1).otherwise(0))
      .withColumn(out, sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_brk")
  }

  /** W2 full segmentation — gap breaks PLUS discontinuity breaks (ref
    * retr_timeedge main.py:6590–6630 with `booladdddiscbdtr=True`, the
    * `bdtr_tser` DEFAULT at main.py:6683): a region break is added
    * between consecutive samples k, k+1 when either
    *  - the time gap exceeds `gapUs` (same as [[withRegion]]), or
    *  - dif1[k] = v[k] − v[k+1] > 20·std(dif1) — ONE-SIDED, so only
    *    downward flux jumps qualify; std is the POPULATION std over the
    *    partition's full consecutive-diff series, gap-spanning diffs
    *    included (main.py:6601) — gated by the 3-point local-mean
    *    guard mean(v[k−3:k]) − mean(v[k:k+3]) < std(v[k−3:k] ∪
    *    v[k:k+3]) (main.py:6604). Noise-free algebra of the guard:
    *    a single-sample spike gives |Δmean| = J/3 < J·√5/6 = std
    *    (break ACCEPTED) while a persistent level shift gives
    *    2J/3 > J·√2/3 (break REJECTED) — the reference breaks on
    *    sharp glitches, not sustained shifts, and k < 3 is vacuously
    *    excluded (numpy's empty-slice mean is NaN there).
    *
    * `vq` is an integer-quantized value column: every statistic is
    * derived from exact integer window sums and the two comparisons
    * are the same fixed IEEE-double expression tree in any engine
    * (the a4/t4b oracle contract). Overflow envelope: Σ(Δvq²) per
    * partition must fit int64 — flux-like vq ~ 1e6 ± 1e5 holds to
    * ~1e8 rows per partition. The envelope is ENFORCED (r13 advice):
    * two extra window maxes over the same partition exchange check
    * max|Δvq|²·n ≤ Long.MaxValue (the Σ(Δvq²) bound — conservative,
    * exact) and max|vq| ≤ 1.2e9 (the 6-row v² frames), and a violation
    * raises instead of silently wrapping the 20σ threshold. Layering
    * under Spark 4's default ANSI mode (measured, OverflowGuardSpec):
    * GROSS overflow raises ARITHMETIC_OVERFLOW from the window sums
    * first; the envelope owns the conservative-margin region (bound
    * tripped, sums still fit — where the σ algebra's exactness proof
    * no longer holds) and is the sole guard under ansi.enabled=false,
    * where Σ ≤ max²·n makes it sound against every genuine wrap.
    * Production response at 100 TB (decided r15, OverflowGuardSpec):
    * the raise IS the contract — callers quantize so vq ≤ 1.2e9
    * (e.g. the /200 cents→micro scaling the declared events queries
    * apply; raw events values genuinely trip the guard at ~6 600
    * rows/user, BASELINE.md §r14 at commit eeea311). Widening to decimal/float would
    * silently trade the exact-integer oracle contract for rounding;
    * a loud raise with the offending maxima is the correct failure. */
  def withRegionDisc(df: DataFrame, parts: Seq[String], tUs: String, id: String,
                     vq: String, gapUs: Long, out: String = "region"): DataFrame = {
    val w = Window.partitionBy(parts.map(col): _*).orderBy(col(tUs), col(id))
    // whole-partition stats over the ORDERED spec (unbounded frame):
    // same values as an unordered window, but the spec then matches
    // the other frames so the planner can share exchange AND sort.
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val left = w.rowsBetween(-4, -2)   // v[k−3 .. k−1] seen from row k+1
    val right = w.rowsBetween(-1, 1)   // v[k .. k+2]   seen from row k+1
    val v = col(vq)
    val d = col("_d")
    // Window evaluation in TWO multi-frame operators, not a
    // withColumn-per-stat chain (r14): expressions with the same
    // (partition, order) spec added in ONE select collapse into ONE
    // WindowExec with per-frame processors over a single partition
    // buffer. The chain form materialized the buffer 8×; the only
    // unavoidable split is that the Δ statistics aggregate a column
    // the FIRST operator produces (lag). 10 M-row ladder: on/off
    // 2.00× → 1.5× from this collapse.
    val stage1 = df.select(col("*") +:  Seq(
      (col(tUs) - lag(col(tUs), 1).over(w)).as("_gap"),
      (lag(v, 1).over(w) - v).as("_d"),
      count(v).over(left).as("_nl"), sum(v).over(left).as("_sl"),
      sum(v * v).over(left).as("_ql"),
      count(v).over(right).as("_nr"), sum(v).over(right).as("_sr"),
      sum(v * v).over(right).as("_qr"),
      max(abs(v)).over(wAll).as("_mv")): _*)
    val st = stage1.select(col("*") +: Seq(
        count(d).over(wAll).as("_nd"), sum(d).over(wAll).as("_sd"),
        sum(d * d).over(wAll).as("_qd"), max(abs(d)).over(wAll).as("_ma")): _*)
      .withColumn("_n6", col("_nl") + col("_nr"))
      .withColumn("_s6", col("_sl") + col("_sr"))
      .withColumn("_q6", col("_ql") + col("_qr"))
    val thr = d.cast("double") > lit(20.0) *
      sqrt((col("_qd") - col("_sd").cast("double") * col("_sd") / col("_nd")) / col("_nd"))
    val guard = col("_nl") === 3 &&
      (col("_sl").cast("double") / col("_nl") - col("_sr").cast("double") / col("_nr")) <
        sqrt((col("_q6") - col("_s6").cast("double") * col("_s6") / col("_n6")) / col("_n6"))
    // Envelope guard: 3037000499 = isqrt(Long.MaxValue), so under the
    // first conjunct every Δvq² term is exact and max(Δvq)²·n bounds
    // Σ(Δvq²); 1.2e9 (conservative isqrt(Long.MaxValue/6)) bounds the
    // 6-row Σ(vq²) frames. NULL maxes (degenerate partitions) pass.
    val dSafe = col("_ma").isNull || (col("_ma") <= lit(3037000499L) &&
      col("_ma") * col("_ma") <= lit(Long.MaxValue) / col("_nd"))
    val vSafe = col("_mv") <= lit(1200000000L)
    st.withColumn("_brk",
        when(!coalesce(dSafe && vSafe, lit(true)),
          raise_error(concat(lit("withRegionDisc int64 overflow envelope "
            + "exceeded: max|dvq|="), col("_ma"), lit(" n="), col("_nd"),
            lit(" max|vq|="), col("_mv"))).cast("int"))
        .when(col("_gap") > gapUs || (coalesce(thr, lit(false)) && guard), 1).otherwise(0))
      .withColumn(out, sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_gap", "_d", "_nd", "_sd", "_qd", "_ma", "_mv", "_nl", "_sl", "_ql",
        "_nr", "_sr", "_qr", "_n6", "_s6", "_q6", "_brk")
  }

  /** A10 sessionization ("gaps and islands", ref main.py:6347–6368):
    * per-partition session aggregates with inactivity threshold. */
  def sessionize(df: DataFrame, parts: Seq[String], tUs: String, id: String,
                 gapUs: Long): DataFrame =
    withRegion(df, parts, tUs, id, gapUs, "session")

  /** F4/T4 iterative sigma clip (ref main.py:10989–11002, scipy
    * sigmaclip semantics: keep mean−kσ < x < mean+kσ, POPULATION σ,
    * iterate). The `iters` rounds unroll into one plan that runs no job
    * while it is built: each round aggregates per-`parts` stats (a hash
    * exchange on `parts`) and broadcast-hash-joins them back as the
    * filter. All thresholds derive from exact integer sums so the
    * surviving row-set is reproducible. Returns the clipped frame. */
  def sigmaClip(df: DataFrame, parts: Seq[String], vCents: String,
                k: Double, iters: Int): DataFrame = {
    var cur = df
    for (_ <- 1 to iters) {
      val stats = cur.groupBy(parts.map(col): _*)
        .agg(count(lit(1)).as("_n"), sum(col(vCents)).as("_s"),
          sum(col(vCents) * col(vCents)).as("_q"))
        .withColumn("_mean", col("_s").cast("double") / col("_n") / 100.0)
        .withColumn("_sd",
          sqrt((col("_q") - col("_s").cast("double") * col("_s") / col("_n")) / col("_n")) / 100.0)
        .select(parts.map(col) :+ col("_mean") :+ col("_sd"): _*)
      cur = cur.join(broadcast(stats), parts)
        .filter(col(vCents) / 100.0 > col("_mean") - lit(k) * col("_sd") &&
                col(vCents) / 100.0 < col("_mean") + lit(k) * col("_sd"))
        .drop("_mean", "_sd")
    }
    cur
  }
}
