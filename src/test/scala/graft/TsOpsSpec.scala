package graft

import org.apache.spark.sql.functions._
import graft.ops.TsOps

/** Property-style invariants the reference asserts ad hoc (SURVEY §5 /
  * FIXTURES.md): fold preserves rows and values; segmentation gives
  * #gaps+1 regions; in-transit ∪ out-of-transit partitions the rows;
  * sigma clip reaches a fixpoint on Gaussian-ish data.
  */
class TsOpsSpec extends SparkSpec {
  import spark.implicits._

  private val P = 86400000000L
  private val E = 1704067200000000L

  private def synth(n: Int) = {
    val rng = new scala.util.Random(7)
    (0 until n).map { i =>
      (i.toLong, E + i * 120000000L + rng.nextInt(1000),
        100.0 + 10.0 * math.sin(2 * math.Pi * i / 720.0) + rng.nextGaussian())
    }.toDF("id", "t_us", "value")
      .withColumn("vc", round(col("value") * 100).cast("long"))
      .withColumn("part", lit("a"))
  }

  test("fold preserves row count and value column (ref main.py:7360-7374)") {
    val df = synth(2000)
    val folded = df.withColumn("phase_us", TsOps.phaseUs(col("t_us"), lit(E), lit(P)))
    assert(folded.count() === 2000)
    assert(folded.filter(col("phase_us") < 0 || col("phase_us") >= P).count() === 0)
    assert(folded.agg(sum("vc")).head.getLong(0) === df.agg(sum("vc")).head.getLong(0))
  }

  test("phase recentering keeps |centered| <= P/2") {
    val df = synth(500).withColumn("pc",
      TsOps.phaseCenteredUs(col("t_us"), lit(E), lit(P)))
    assert(df.filter(abs(col("pc")) > P / 2).count() === 0)
  }

  test("segmentation: #regions == #gaps + 1 (main.py:6736-6744)") {
    // 3 deliberate gaps of 2h in otherwise 2-min cadence
    val rows = (0 until 1000).map { i =>
      val gapShift = Seq(250, 500, 750).count(_ <= i) * 7200000000L
      (i.toLong, E + i * 120000000L + gapShift, 1.0)
    }
    val df = rows.toDF("id", "t_us", "value").withColumn("part", lit("x"))
    val seg = TsOps.withRegion(df, Seq("part"), "t_us", "id", 3600000000L)
    assert(seg.agg(countDistinct("region")).head.getLong(0) === 4)
  }

  test("in-transit and out-of-transit partition the rows (main.py:6583)") {
    val df = synth(2000)
    val p7 = 7 * P; val dur = P / 4
    val inT = df.filter(TsOps.inTransit(col("t_us"), lit(E), lit(p7), lit(dur)))
    val outT = df.filter(!TsOps.inTransit(col("t_us"), lit(E), lit(p7), lit(dur)))
    assert(inT.count() + outT.count() === df.count())
    assert(inT.join(outT, "id").count() === 0)
  }

  test("closed-form transit predicate == generated interval membership") {
    val df = synth(2000)
    val p7 = 7 * P; val dur = P / 4
    // generated windows (J4 form) spanning the data range
    val wins = (0 until 10).flatMap { k =>
      val c = E + k * p7
      Seq((c - dur / 2, c + dur / 2))
    }.toDF("lo", "hi")
    val byJoin = df.join(broadcast(wins),
      col("t_us") >= col("lo") && col("t_us") < col("hi"), "left_semi")
    val byPred = df.filter(TsOps.inTransit(col("t_us"), lit(E), lit(p7), lit(dur)))
    // membership sets must agree (edge convention: |pc| < dur/2 vs [lo,hi))
    val a = byJoin.select("id").collect().map(_.getLong(0)).toSet
    val b = byPred.select("id").collect().map(_.getLong(0)).toSet
    assert((a diff b).size + (b diff a).size <= 2, s"sets differ: ${(a diff b) ++ (b diff a)}")
  }

  test("sigma clip reaches fixpoint and keeps the Gaussian bulk (main.py:8586)") {
    val df = synth(3000)
    val c3 = TsOps.sigmaClip(df, Seq("part"), "vc", 3.0, 3)
    val c5 = TsOps.sigmaClip(df, Seq("part"), "vc", 3.0, 5)
    val n3 = c3.count(); val n5 = c5.count()
    assert(n3 >= (0.9 * 3000).toInt)           // keeps the bulk
    assert(n5 <= n3 && n3 - n5 <= 5)           // nearly converged by 3 iters
  }
}
