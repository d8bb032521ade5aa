package graft

import graft.model.Kepler

/** T13h — the eccentric Keplerian RV model (polynomial trig + fixed
  * Newton steps) and its cross-engine-exact MCMC fit. */
class KeplerSpec extends SparkSpec {

  test("polynomial trig tracks libm to ~1e-8 over the model's domain") {
    // worst case sits at the quadrant edge: cos Taylor truncation
    // (π/2)^14/14! ≈ 6e-9 — far below the fixture noise scale
    var x = -3.8
    while (x < 7.0) {
      assert(math.abs(Kepler.sinP(x) - math.sin(x)) < 1e-8, s"sinP($x)")
      assert(math.abs(Kepler.cosP(x) - math.cos(x)) < 1e-8, s"cosP($x)")
      x += 0.0137
    }
  }

  test("fixed-step Newton solves Kepler's equation across the prior box") {
    for (e <- Seq(0.0, 0.1, 0.3, 0.45, 0.6); k <- 0 until 40) {
      val m = Kepler.TWOPI * (k + 0.5) / 40.0
      val ee = Kepler.eccAnomaly(m, e)
      assert(math.abs(ee - e * Kepler.sinP(ee) - m) < 1e-10,
        s"E(M=$m, e=$e) residual ${ee - e * Kepler.sinP(ee) - m}")
    }
  }

  test("circular limit matches the harmonic model") {
    // e = 0: RV = γ + K·cos(M + ω)
    for (k <- 0 until 20) {
      val m = Kepler.TWOPI * (k + 0.5) / 20.0
      val v = Kepler.rv(m, 2.0, 5.0, 0.0, 0.7)
      val expect = 2.0 + 5.0 * math.cos(m + 0.7)
      assert(math.abs(v - expect) < 1e-7, s"m=$m: $v vs $expect")
    }
  }

  test("the nested SQL expansion is bit-identical to the Scala mirror") {
    // the generated layer DAG evaluated by a SQL engine must produce
    // the same doubles the driver-side walker loop produces — Spark
    // stands in for the engine half here; the DuckDB half is the
    // t13h oracle itself
    import spark.implicits._
    val rows = for (k <- 0 until 50; ei <- 0 until 4) yield {
      val m = Kepler.TWOPI * (k + 0.5) / 50.0
      (m, 12.5, 9.0, 0.12 + ei * 0.16, -2.5 + k * 0.1)
    }
    rows.toDF("m", "pg", "pk", "pe", "po").createOrReplaceTempView("kt")
    val q = Kepler.rvNestedSql(
      "SELECT m, pg, pk, pe, po FROM kt", "m",
      Seq("pg", "pk", "pe", "po"), "pg", "pk", "pe", "po")
    val out = spark.sql(q).select("m", "pe", "po", "rv").collect()
    assert(out.length == rows.length)
    out.foreach { r =>
      val expect = Kepler.rv(r.getDouble(0), 12.5, 9.0, r.getDouble(1), r.getDouble(2))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
             java.lang.Double.doubleToLongBits(expect),
        s"m=${r.getDouble(0)} e=${r.getDouble(1)} w=${r.getDouble(2)}: " +
        s"${r.getDouble(3)} vs $expect")
    }
  }

  test("declared t13h query recovers the injected eccentric orbit") {
    // injected (γ=12.5, K=9.0, e=0.3, ω=1.0); the r9 verdict's done
    // criterion is recovery of (e, ω) within tolerance
    val out = graft.queries.Advanced.queries("t13h_mcmc_rvecc")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("gamma") - 12.5) < 0.2, s"gamma ${out("gamma")}")
    assert(math.abs(out("k_amp") - 9.0) < 0.4, s"k_amp ${out("k_amp")}")
    assert(math.abs(out("ecc") - 0.3) < 0.08, s"ecc ${out("ecc")}")
    assert(math.abs(out("omega") - 1.0) < 0.2, s"omega ${out("omega")}")
    assert(out("acceptance") > 0.05 && out("acceptance") < 0.9,
      s"acceptance ${out("acceptance")}")
  }
}
