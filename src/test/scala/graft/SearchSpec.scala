package graft

import org.apache.spark.sql.functions._
import graft.search.{Bls, LombScargle, MatchedFilter}

/** Injection-recovery tests (FIXTURES.md F-LC1/2/3 — the reference's
  * implicit simulation oracle made explicit, main.py:7810–7815):
  * inject a sinusoid / periodic box / flares into noise and assert the
  * corresponding search kernel recovers the truth.
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val E = 1704067200000000L
  private val DAY = 86400000000L

  test("Lomb-Scargle recovers an injected sinusoid period (F-LC1)") {
    val rng = new scala.util.Random(11)
    val pDays = 2.5
    val n = 4000
    // 30-day baseline, ~11-min cadence
    val df = (0 until n).map { i =>
      val tU = E + (i.toLong * 30 * DAY) / n
      val tD = (tU - E).toDouble / DAY
      val v = 100.0 + 5.0 * math.sin(2 * math.Pi * tD / pDays) + 0.5 * rng.nextGaussian()
      (i.toLong, tU, v)
    }.toDF("id", "t_us", "value")
      .withColumn("vc", round(col("value") * 100).cast("long"))
    val spec = LombScargle.periodogram(df, "t_us", "vc", 80).collect()
    val peakK = spec.maxBy(_.getAs[Double]("power")).getAs[Int]("k")
    // f_k = (k+1)/baseline -> recovered period = baseline/(k+1)
    val recovered = 30.0 / (peakK + 1)
    assert(math.abs(recovered - pDays) / pDays < 0.10,
      s"peak k=$peakK -> P=$recovered d, expected $pDays d")
  }

  test("r16: single-pass LsSums aggregate is bit-identical to the retired crossJoin form") {
    // a small seeded series with an oversampled grid + FAP (the t5
    // parameter shape), replayed through an inline replica of the
    // retired crossJoin(broadcast(grid)) + groupBy(k) plan — catches
    // any drift in the aggregate's arithmetic order or rounding at
    // parameters the oracle fixture does not pin
    val rng = new scala.util.Random(17)
    val n = 3000
    val df = (0 until n).map { i =>
      val tU = E + (i.toLong * 30 * DAY) / n
      (i.toLong, tU, 100.0 + rng.nextGaussian())
    }.toDF("id", "t_us", "value")
      .withColumn("vc", round(col("value") * 100).cast("long"))
    val nFreq = 40; val subdiv = 6
    val neu = LombScargle.periodogram(df, "t_us", "vc", nFreq,
      subdiv = subdiv, fapProb = Some(0.05))
    val mm = df.agg(
      min(col("t_us")).as("t0"), max(col("t_us")).as("t1"),
      count(lit(1)).as("n"), sum(col("vc")).as("s"),
      sum(col("vc") * col("vc")).as("q"))
    val freqs = mm
      .withColumn("k", explode(sequence(lit(0), lit(nFreq - 1))))
      .withColumn("bl", (col("t1") - col("t0")).cast("double") / 1000000.0)
      .withColumn("omega", lit(2.0) * lit(math.Pi) *
        (col("k").cast("double") / lit(subdiv.toDouble) + lit(1.0)) / col("bl"))
      .withColumn("mean", col("s").cast("double") / col("n") / 100.0)
      .withColumn("varx",
        (col("q") - col("s").cast("double") * col("s") / col("n")) / col("n") / 10000.0)
      .select("k", "t0", "omega", "mean", "varx")
    val old = df.crossJoin(broadcast(freqs))
      .withColumn("ts", (col("t_us") - col("t0")).cast("double") / 1000000.0)
      .withColumn("ci", graft.core.Tables.roundAway(cos(col("omega") * col("ts")) * 1e6).cast("long"))
      .withColumn("si", graft.core.Tables.roundAway(sin(col("omega") * col("ts")) * 1e6).cast("long"))
      .withColumn("dx", col("vc") / 100.0 - col("mean"))
      .withColumn("rxc", graft.core.Tables.roundAway(col("ci") * col("dx")).cast("long"))
      .withColumn("rxs", graft.core.Tables.roundAway(col("si") * col("dx")).cast("long"))
      .groupBy("k")
      .agg(
        min(col("varx")).as("varx"), count(lit(1)).as("n"),
        sum(col("ci") * col("ci")).as("cc"), sum(col("si") * col("si")).as("ss"),
        sum(col("ci") * col("si")).as("cs"),
        sum(col("rxc")).as("xc"), sum(col("rxs")).as("xs"))
      .withColumn("acc", col("cc").cast("double") / 1e12)
      .withColumn("ass", col("ss").cast("double") / 1e12)
      .withColumn("acs", col("cs").cast("double") / 1e12)
      .withColumn("axc", col("xc").cast("double") / 1e6)
      .withColumn("axs", col("xs").cast("double") / 1e6)
      .withColumn("power", graft.core.Tables.round6(
        (col("ass") * col("axc") * col("axc")
          - lit(2.0) * col("acs") * col("axc") * col("axs")
          + col("acc") * col("axs") * col("axs"))
          / nullif(col("acc") * col("ass") - col("acs") * col("acs"), lit(0.0))
          / nullif(lit(2.0) * col("varx") * col("n"), lit(0.0))))
      .withColumn("fap", graft.core.Tables.round6(
        lit(1.0) - pow(lit(1.0) - pow(lit(0.95), lit(1.0 / nFreq)),
          lit(2.0) / (col("n") - lit(3)))))
      .select("k", "n", "power", "fap")
    val a = neu.orderBy("k").collect()
    val b = old.orderBy("k").collect()
    assert(a.length == b.length && a.length == nFreq)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getInt(0) == y.getInt(0) && x.getLong(1) == y.getLong(1))
      assert(java.lang.Double.doubleToLongBits(x.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(y.getDouble(2)),
        s"power diverged at k=${x.getInt(0)}: ${x.getDouble(2)} vs ${y.getDouble(2)}")
      assert(java.lang.Double.doubleToLongBits(x.getDouble(3)) ==
        java.lang.Double.doubleToLongBits(y.getDouble(3)),
        s"fap diverged at k=${x.getInt(0)}")
    }
  }

  test("BLS recovers an injected box transit period and depth (F-LC2)") {
    val rng = new scala.util.Random(13)
    val pInj = 3 * DAY      // exactly baseline/10 -> on the trial ladder
    val dur = pInj / 10
    val n = 6000
    val df = (0 until n).map { i =>
      val tU = E + (i.toLong * 30 * DAY) / n
      val ph = ((tU - E) % pInj + pInj) % pInj
      val v = 1.0 - (if (ph < dur) 0.02 else 0.0) + 0.002 * rng.nextGaussian()
      (i.toLong, tU, v)
    }.toDF("id", "t_us", "value")
      .withColumn("vc", round(col("value") * 10000).cast("long")) // finer cents
    val spec = Bls.spectrum(df, "t_us", "vc", 30, Seq(20, 40)).collect()
    val best = spec.maxBy(_.getAs[Double]("depth"))
    val bestP = best.getAs[Long]("p_us")
    assert(math.abs(bestP - pInj).toDouble / pInj < 0.05,
      s"deepest box at P=$bestP, injected $pInj")
    // depth recovered within 50% (box partially dilutes into the epoch grid)
    assert(best.getAs[Double]("depth") * 100 > 0.01,
      s"depth ${best.getAs[Double]("depth")}")
  }

  test("declared companion query recovers both injected periods (F-LC4)") {
    val DAYu = 86400000000L
    val rows = SparkEntry.queries("t6b_bls_companions")(spark, sf).collect()
    assert(rows.length >= 2, s"found ${rows.length} companions")
    val periods = rows.map(_.getAs[Long]("p_us"))
    assert(periods.exists(p => math.abs(p - 3 * DAYu).toDouble / (3 * DAYu) < 0.05),
      s"3d planet missing from ${periods.mkString(",")}")
    assert(periods.exists(p => math.abs(p - 5 * DAYu).toDouble / (5 * DAYu) < 0.05),
      s"5d planet missing from ${periods.mkString(",")}")
    rows.foreach(r => assert(r.getAs[Double]("snr") >= 7.1))
  }

  test("matched filter finds injected flares, not quiet stretches (F-LC3)") {
    val rng = new scala.util.Random(17)
    val n = 4000
    val flareStarts = Set(500, 1500, 3000)
    val df = (0 until n).map { i =>
      val tU = E + i.toLong * 120000000L
      val flare = flareStarts.find(s => i >= s && i < s + 12)
        .map(s => 8.0 * math.exp(-(i - s) / 3.0)).getOrElse(0.0)
      val v = 100.0 + flare + 0.3 * rng.nextGaussian()
      (1L, i.toLong, tU, v)
    }.toDF("user_id", "id", "t_us", "value")
      .withColumn("vc", round(col("value") * 100).cast("long"))
    val hits = MatchedFilter.flares(df, Seq("user_id"), "t_us", "id", "vc",
      tauSteps = 3.0, q = 0.995).collect()
    val peakIds = hits.map(_.getAs[Long]("peak_id"))
    flareStarts.foreach { s =>
      assert(peakIds.exists(p => math.abs(p - s) <= 12), s"flare at $s not found: ${peakIds.mkString(",")}")
    }
  }

  test("multi-kernel matched filter recovers flares across a gap (F-LC5)") {
    val rng = new scala.util.Random(23)
    val step = 600000000L // 10 min cadence == grid step
    // two chunks split by a 3-day gap; one flare in each chunk
    val idx = (0 until 2000) ++ (2000 until 4000)
    val gapAfter = 2000
    val flareStarts = Set(700, 2900)
    val df = idx.map { i =>
      val gap = if (i >= gapAfter) 3L * 86400000000L else 0L
      val tU = E + i.toLong * step + gap
      val flare = flareStarts.find(s => i >= s && i < s + 24)
        .map(s => 6.0 * math.exp(-(i - s) / 6.0)).getOrElse(0.0)
      val v = 100.0 + flare + 0.3 * rng.nextGaussian()
      (1L, i.toLong, tU, v)
    }.toDF("user_id", "id", "t_us", "value")
      .withColumn("vc", round(col("value") * 100).cast("long"))
    val peaks = MatchedFilter.flaresMulti(df, Seq("user_id"), "t_us", "id", "vc",
      gapUs = 86400000000L, stepUs = step, tauSteps = Seq(2.0, 6.0, 12.0),
      fillFrac = 0.8, q = 0.995).collect()
    // chunking: both regions present, so the gap did not leak
    assert(peaks.map(_.getAs[Long]("region")).distinct.length == 2,
      s"expected peaks in both chunks: ${peaks.mkString(";")}")
    // each injected flare recovered by the matched kernel (tau=6)
    val k1 = peaks.filter(_.getAs[Int]("kern") == 1)
    def gridT(region: Long, i: Long): Long = {
      val base = if (region == 0) 0L else gapAfter.toLong * step + 3L * 86400000000L
      // region grids start at the chunk's first sample
      E + base + (if (region == 0) i * step else i * step)
    }
    flareStarts.foreach { s =>
      val tFlare = E + s.toLong * step + (if (s >= gapAfter) 3L * 86400000000L else 0L)
      val found = k1.exists { r =>
        val t = gridT(r.getAs[Long]("region"), r.getAs[Long]("peak_i"))
        math.abs(t - tFlare) <= 24 * step
      }
      assert(found, s"flare at sample $s not recovered by kernel 1: ${k1.mkString(";")}")
    }
  }
}
