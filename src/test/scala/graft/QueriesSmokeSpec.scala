package graft

/** Driver-contract smoke: every declared query runs at sf0.001, its
  * executed plan keeps the shape [[PlanShapes]] declares for it, and
  * the flagship entry returns rows. The duckdb hash-match itself is the
  * external gate (tools/verify_local.py / driver CORRECTNESS). */
class QueriesSmokeSpec extends SparkSpec {

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet diff SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every plan-shape row names a declared query and checks something") {
    val unknown = PlanShapes.rows.keySet diff SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"plan shapes for undeclared queries: $unknown")
    val empty = PlanShapes.rows.collect { case (name, checks) if checks.isEmpty => name }
    assert(empty.isEmpty, s"plan-shape rows without checks: $empty")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      // the full plan must run: count() lets Catalyst prune Sorts,
      // Windows and whole join chains (core/Exec.scala)
      graft.core.Exec.runCount(df)
      // after execution, executedPlan is the AQE-final plan
      PlanShapes.rows.get(name).foreach { checks =>
        val plan = df.queryExecution.executedPlan
        val nodes = collectAll(plan) { case p => p }
        val failed = checks.filterNot(_.holds(nodes)).map(_.name)
        assert(failed.isEmpty, s"$name plan shape: ${failed.mkString("; ")}\n$plan")
      }
    }
  }

  test("t13b per-ener fits recover the injected transmission depth ramp") {
    val rows = SparkEntry.queries("t13b_mcmc_perener")(spark, sf)
      .orderBy("ener").collect()
    assert(rows.length === 8)
    rows.foreach { r =>
      val ener = r.getLong(0)
      val truth = 0.015 + 0.003 * ener
      val (p16, p50, p84) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(math.abs(p50 - truth) < 0.003, s"ener $ener p50 $p50 vs $truth")
      assert(p16 < p50 && p50 < p84, s"ener $ener percentiles disordered")
      assert(p84 - p16 < 0.01, s"ener $ener posterior too wide: ${p84 - p16}")
    }
    // the transmission slope: median depth strictly increases with ener
    val p50s = rows.map(_.getDouble(2))
    p50s.sliding(2).foreach { case Array(a, b) =>
      assert(b > a, s"depth ramp not monotone: ${p50s.mkString(", ")}")
    }
  }
}
