package graft

import org.apache.spark.sql.execution.SparkPlan

/** Structural gate for the default-ON disc-break scan (r14 verdict
  * task #6, lifting DiscPlanCheck's manual counts into `sbt test`):
  * the at-scale defense is "extra window EXPRESSIONS, not extra plan
  * passes" — discBreaks=on may add at most ONE WindowExec over the
  * off plan and must share its exchanges and sorts exactly. A
  * regression back to the withColumn-per-stat chain (8 WindowExecs,
  * measured ~2× on/off at three decades before the r14 collapse)
  * would pass ScaleSweepSpec (d)'s RATIO gate at small corpora while
  * re-introducing the fixed cost; this spec pins the plan shape
  * itself, data-independent, no timing flake. Measured shape at r14:
  * on 3 / off 2 WindowExecs, 2 = 2 shuffles, 2 = 2 sorts.
  */
class DiscPlanSpec extends SparkSpec {

  private def counts(disc: Boolean): (Int, Int, Int) = {
    import spark.implicits._
    // tiny inline series with the production schema — plan shape is
    // data-independent, so no ScaleFixture build is needed here
    val series = (0L until 64L).map(i =>
        ("p0", i, i * 1800000000L, 1.0 + 0.001 * (i % 7), 0.01))
      .toDF("part", "id", "t_us", "value", "err")
    val df = graft.ops.Detrend.detrend(series, Seq("part"), "t_us", "id",
      "value", "err", gapUs = 86400000000L, mode = "GaussianProcess",
      timescaleDays = 2.0, discBreaks = disc)
    val plan = df.queryExecution.executedPlan
    def cnt(p: SparkPlan, f: SparkPlan => Boolean): Int =
      (if (f(p)) 1 else 0) + p.children.map(cnt(_, f)).sum
    (cnt(plan, _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]),
     cnt(plan, _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
     cnt(plan, _.isInstanceOf[org.apache.spark.sql.execution.SortExec]))
  }

  test("disc-break scan adds <=1 WindowExec and ZERO exchanges/sorts") {
    // structural audit wants the raw plan, not an AQE wrapper whose
    // children materialize lazily — disable adaptive for this spec
    val prior = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (exOn, winOn, sortOn) = counts(disc = true)
      val (exOff, winOff, sortOff) = counts(disc = false)
      info(s"disc=on  shuffles=$exOn windowExecs=$winOn sorts=$sortOn")
      info(s"disc=off shuffles=$exOff windowExecs=$winOff sorts=$sortOff")
      assert(winOn <= winOff + 1,
        s"disc-break scan regressed to a window CHAIN: $winOn vs $winOff+1 WindowExecs")
      assert(exOn === exOff, s"disc-break scan added a shuffle: $exOn vs $exOff")
      assert(sortOn === sortOff, s"disc-break scan added a sort: $sortOn vs $sortOff")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }
}
