package graft

import org.apache.spark.sql.functions._
import graft.search.Bls

/** T6 advanced paths: the multi-companion driver loop (ref
  * main.py:5630–5651) and the multi-resolution pre-binned spectrum
  * (ref main.py:5586–5605) — the scale path must agree with the exact
  * row-level spectrum on where the signal is. */
class BlsAdvancedSpec extends SparkSpec {
  import spark.implicits._

  private val E = 1704067200000000L
  private val DAY = 86400000000L

  private def twoPlanets(n: Int) = {
    val rng = new scala.util.Random(31)
    val p1 = 3 * DAY; val p2 = 5 * DAY
    (0 until n).map { i =>
      val tU = E + (i.toLong * 30 * DAY) / n
      val ph1 = ((tU - E) % p1 + p1) % p1
      val ph2 = ((tU - E) % p2 + p2) % p2
      val v = 1.0 -
        (if (ph1 < p1 / 10) 0.03 else 0.0) -
        (if (ph2 < p2 / 10) 0.025 else 0.0) +
        0.002 * rng.nextGaussian()
      (i.toLong, tU, v)
    }.toDF("id", "t_us", "value")
      .withColumn("vc", round(col("value") * 10000).cast("long"))
  }

  test("companion loop recovers two injected planets then stops") {
    val df = twoPlanets(6000)
    val found = Bls.companions(df, "t_us", "vc", 280, Seq(20, 40),
      maxCompanions = 4, minSnr = 7.1, osamp = 10)
    assert(found.size >= 2, s"found only ${found.size}: $found")
    found.foreach { case (_, _, _, snr) =>
      assert(snr >= 7.1, s"accepted below threshold: $found") }
    val periods = found.map(_._1)
    assert(periods.exists(p => math.abs(p - 3 * DAY).toDouble / (3 * DAY) < 0.05),
      s"3d planet missing from $periods")
    assert(periods.exists(p => math.abs(p - 5 * DAY).toDouble / (5 * DAY) < 0.05),
      s"5d planet missing from $periods")
  }

  test("pre-binned spectrum tracks the exact spectrum across periods") {
    // the argmax alone is harmonic-degenerate (a 2P box catches every
    // other transit at equal depth), so compare depths per period.
    val df = twoPlanets(6000)
    val exact = Bls.spectrum(df, "t_us", "vc", 30, Seq(20, 40))
      .select(col("p_us"), col("depth").as("d_exact"))
    val r = df.agg(min(col("t_us")), max(col("t_us")), count(lit(1)), sum(col("vc"))).head()
    val stats = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val trials = (2L to 31L).flatMap(kp => Seq(20L, 40L).map(m => ((stats._2 - stats._1) / kp, m)))
    val fast = Bls.spectrumPrebinnedTrials(df, "t_us", "vc", trials, stats, levels = 4)
      .select(col("p_us"), col("depth").as("d_fast"))
    val joined = exact.join(fast, "p_us").collect()
    assert(joined.length >= 25, s"only ${joined.length} shared periods")
    val strong = joined.filter(_.getAs[Double]("d_exact") > 1.0)
    assert(strong.nonEmpty)
    strong.foreach { r =>
      val de = r.getAs[Double]("d_exact"); val dfst = r.getAs[Double]("d_fast")
      assert(math.abs(de - dfst) / de < 0.35,
        s"P=${r.getAs[Long]("p_us")}: exact $de vs fast $dfst")
    }
    // and the fast path's global best depth is comparable to exact's
    val bestE = joined.map(_.getAs[Double]("d_exact")).max
    val bestF = joined.map(_.getAs[Double]("d_fast")).max
    assert(math.abs(bestE - bestF) / bestE < 0.25, s"$bestE vs $bestF")
  }
}
