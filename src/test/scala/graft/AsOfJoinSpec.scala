package graft

import graft.plans.AsOfJoin

/** The custom as-of operator (LogicalPlan + Strategy + SparkPlan) must
  * match a brute-force nearest-preceding lookup, plan through
  * AsOfJoinExec, and survive multiple partitions. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def fixture() = {
    val rng = new scala.util.Random(53)
    val parts = Seq("p0", "p1", "p2", "p3", "p4")
    val samples = for (p <- parts; _ <- 0 until 200) yield
      (p, rng.nextInt(100000).toLong, rng.nextInt(1000).toLong)
    // dedup (part, t) so the as-of pick is unique
    val s = samples.groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
    val probes = for (p <- parts; _ <- 0 until 300) yield
      (p, rng.nextInt(110000).toLong)
    (s, probes)
  }

  test("as-of join equals brute-force nearest-preceding per part") {
    val (s, probes) = fixture()
    val sDf = s.toDF("sp", "st", "v").repartition(7)
    val pDf = probes.toDF("pp", "pt").repartition(5)
    val got = AsOfJoin.asof(pDf, sDf, "pp", "pt", "sp", "st")
      .select("pp", "pt", "st", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val byPart = s.groupBy(_._1)
    val want = probes.flatMap { case (p, t) =>
      byPart.getOrElse(p, Nil).filter(_._2 <= t).sortBy(_._2).lastOption
        .map(m => (p, t, m._2, m._3))
    }.toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty)
  }

  test("plans through AsOfJoinExec with sorted co-partitioned children") {
    val (s, probes) = fixture()
    val sDf = s.toDF("sp", "st", "v")
    val pDf = probes.toDF("pp", "pt")
    val df = AsOfJoin.asof(pDf, sDf, "pp", "pt", "sp", "st")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(500)) // nodeName strips "Exec"
    assert(plan.contains("Sort"), "Catalyst must insert the required sorts")
  }
}
