package graft

import graft.model.{Ensemble, LimbDark}

/** T12d/T13d — the quadratic limb-darkened transit model (the
  * reference's ephesos.eval_modl core, main.py:497–528) and its
  * cross-engine-exact MCMC fit. */
class LimbDarkSpec extends SparkSpec {

  test("LD model shape: out-of-transit unity, LD-deepened center, monotone ingress") {
    val p = 0.15; val t14 = 1.0
    // out of transit
    assert(LimbDark.flux(0.51, p, t14) == 1.0)
    assert(LimbDark.flux(3.5, p, t14) == 1.0)
    // central depth = p²·I(μ_b)/Ω4 (the small-planet closed form)
    val muB = math.sqrt(1.0 - LimbDark.B * LimbDark.B)
    val iB = 1.0 - LimbDark.U1 * (1.0 - muB) - LimbDark.U2 * (1.0 - muB) * (1.0 - muB)
    val f0 = LimbDark.flux(0.0, p, t14)
    assert(math.abs((1.0 - f0) - p * p * iB / LimbDark.OM4) < 1e-12,
      s"central depth ${1.0 - f0}")
    // limb darkening: the dip is DEEPER at center than just inside the
    // full-overlap boundary (a box would be flat)
    val fEdge = LimbDark.flux(0.40, p, t14)
    assert(f0 < fEdge && fEdge < 1.0, s"$f0 vs $fEdge")
    // monotone non-decreasing flux from center to contact
    val fs = (0 to 100).map(k => LimbDark.flux(k * 0.5 / 100, p, t14))
    assert(fs.sliding(2).forall(w => w(0) <= w(1) + 1e-15))
    // ingress ramp reaches exactly 1 at |phase| = T14/2
    assert(LimbDark.flux(0.5, p, t14) == 1.0)
  }

  test("Scala mirror is bit-identical to the Spark SQL layer shapes") {
    // the same DAG evaluated by Spark codegen and by LimbDark.flux
    // must agree BIT-FOR-BIT — this is the engine half of the
    // cross-engine exactness argument (the DuckDB half is the oracle)
    import org.apache.spark.sql.functions._
    val rows = for (ai <- 0 until 40; pi <- 0 until 5) yield
      (ai * 0.016, 0.02 + pi * 0.1) // aph ∈ [0, 0.64), p ∈ [0.02, 0.45]
    val df = spark.createDataFrame(rows).toDF("aph", "pp")
      .withColumn("tt", expr("CAST(1.0 AS DOUBLE)"))
      .withColumn("hu", expr(LimbDark.huSql("aph", "tt")))
      .withColumn("z", expr(LimbDark.zSql("hu", "pp")))
      .withColumn("lam", expr(LimbDark.lamSql("z", "pp")))
      .withColumn("mu", expr(LimbDark.muSql("z", "pp")))
      .withColumn("iz", expr(LimbDark.izSql("mu")))
      .withColumn("f", expr(LimbDark.fluxSql("hu", "pp", "iz", "lam")))
      .select("aph", "pp", "f").collect()
    df.foreach { r =>
      val expect = LimbDark.flux(r.getDouble(0), r.getDouble(1), 1.0)
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ==
             java.lang.Double.doubleToLongBits(expect),
        s"aph=${r.getDouble(0)} p=${r.getDouble(1)}: ${r.getDouble(2)} vs $expect")
    }
  }

  test("t13d injection-recovery: LD fit recovers (rrat, epoch, T14) through noise") {
    // the t13d fixture shape, driver-side: 200-bin folded curve with
    // an injected LD transit + deterministic LCG noise
    val nb = 200; val period = 7.0
    val t = Array.tabulate(nb)(b => (b + 0.5) * period / nb)
    val trueP = 0.15; val trueT14 = 1.0
    val y = Array.tabulate(nb) { b =>
      val aph = if (t(b) < 3.5) t(b) else 7.0 - t(b)
      val r = (b.toLong * 1103515245L + 12345L) % 2147483648L
      LimbDark.flux(aph, trueP, trueT14) + (r.toDouble / 2147483648.0 - 0.5) * 0.0008
    }
    val llq = Ensemble.ldBoxLlq(t, y, scale = 3.125e12, period = period) _
    val yq = y.map(v => graft.expr.VecExprs.roundHalfAway(v * 1e9))
    val g = Ensemble.boxGuessQ(t, yq, period, 1.0)
    val guess = Array(math.sqrt(math.max(g(0) * LimbDark.KK, 4e-4)), g(1), g(2))
    val (samples, acc) = Ensemble.sampleQ(llq,
      lo = Array(0.02, -3.5, 0.2), hi = Array(0.45, 3.5, 2.0),
      nWalkers = 100, nSteps = 100, burnFrac = 0.3, seed = 42L,
      init = guess, ballFrac = 0.005)
    assert(acc > 0.1 && acc < 0.9, s"acceptance $acc")
    val pct = Ensemble.percentiles(samples)
    assert(math.abs(pct(0)(1) - trueP) < 0.02, s"rrat ${pct(0)(1)} vs $trueP")
    assert(math.abs(pct(1)(1)) < 0.1, s"epoch ${pct(1)(1)} vs 0")
    assert(math.abs(pct(2)(1) - trueT14) < 0.15, s"T14 ${pct(2)(1)} vs $trueT14")
  }

  test("declared t13d query recovers the injected parameters end to end") {
    val out = graft.queries.Advanced.queries("t13d_mcmc_ld")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val (_, rrat, _) = out("rrat")
    val (_, dur, _) = out("dur")
    val (_, epoch, _) = out("epoch")
    assert(math.abs(rrat - 0.15) < 0.02, s"rrat $rrat")
    assert(math.abs(dur - 1.0) < 0.15, s"dur $dur")
    assert(math.abs(epoch) < 0.1, s"epoch $epoch")
    // p16 ≤ p50 ≤ p84 on every parameter row
    out.filterNot(_._1 == "acceptance").foreach { case (k, (a, b, c)) =>
      assert(a <= b && b <= c, s"$k percentiles out of order: $a $b $c")
    }
  }

  test("declared t13e query: two-planet joint fit recovers BOTH injected companions") {
    val out = graft.queries.Advanced.queries("t13e_mcmc_ld2")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    // true params: a = (0.15, epoch 0, T14 1.0 @ P 7 d);
    //              b = (0.11, epoch 1.2, T14 0.5 @ P 3.5 d)
    assert(math.abs(out("rrat_a") - 0.15) < 0.01, s"rrat_a ${out("rrat_a")}")
    assert(math.abs(out("epoch_a")) < 0.05, s"epoch_a ${out("epoch_a")}")
    assert(math.abs(out("rrat_b") - 0.11) < 0.01, s"rrat_b ${out("rrat_b")}")
    assert(math.abs(out("epoch_b") - 1.2) < 0.05, s"epoch_b ${out("epoch_b")}")
    assert(out("acceptance") > 0.1 && out("acceptance") < 0.9)
  }

  test("parametrized-LD Scala mirror is bit-identical to the SQL layer shapes") {
    // the fluxU/fluxInlineSqlU half of the t13g exactness argument
    import org.apache.spark.sql.functions._
    val rows = for (ai <- 0 until 25; ui <- 0 until 4) yield
      (ai * 0.025, 0.3 + ui * 0.15, 0.35 - ui * 0.1) // aph, u1, u2
    val df = spark.createDataFrame(rows).toDF("aph", "u1", "u2")
      .withColumn("pp", expr("CAST(0.15 AS DOUBLE)"))
      .withColumn("tt", expr("CAST(1.0 AS DOUBLE)"))
      .withColumn("f", expr(LimbDark.fluxInlineSqlU("aph", "pp", "tt", "u1", "u2")))
      .select("aph", "u1", "u2", "f").collect()
    df.foreach { r =>
      val expect = LimbDark.fluxU(r.getDouble(0), 0.15, 1.0, r.getDouble(1), r.getDouble(2))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(3)) ==
             java.lang.Double.doubleToLongBits(expect),
        s"aph=${r.getDouble(0)} u1=${r.getDouble(1)} u2=${r.getDouble(2)}: " +
        s"${r.getDouble(3)} vs $expect")
    }
  }

  test("declared t13g query: the LD-coefficient walk recovers the injected u1") {
    // fixture injects (p=0.15, T14=1.0, u1=0.6, u2=0.1); the 5-dim
    // walk seeds u1/u2 at the mid-prior constants (0.4, 0.25) and
    // must move them toward the injected profile — the r9 verdict's
    // done criterion is u1 within ~0.1
    val out = graft.queries.Advanced.queries("t13g_mcmc_ldfit")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("rrat") - 0.15) < 0.03, s"rrat ${out("rrat")}")
    assert(math.abs(out("epoch")) < 0.1, s"epoch ${out("epoch")}")
    assert(math.abs(out("dur") - 1.0) < 0.15, s"dur ${out("dur")}")
    assert(math.abs(out("u1") - 0.6) < 0.1, s"u1 ${out("u1")} vs injected 0.6")
    // u2 is the weakly-constrained partner (the classic u1/u2
    // degeneracy): bound it loosely but require it moved off the
    // wrong-side prior edge
    assert(math.abs(out("u2") - 0.1) < 0.3, s"u2 ${out("u2")} vs injected 0.1")
    assert(out("acceptance") > 0.05 && out("acceptance") < 0.9,
      s"acceptance ${out("acceptance")}")
  }

  test("declared t13j query: the optimizer mode lands on the injected ML point") {
    // typeinfe='opti' (r10): deterministic 120-iteration Nelder-Mead
    // under t13d's LD likelihood must land on the injected
    // (rrat=0.15, epoch=0, T14=1.0) to optimizer precision
    val out = graft.queries.Advanced.queries("t13j_opti")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(out("rrat") - 0.15) < 0.005, s"rrat ${out("rrat")}")
    assert(math.abs(out("epoch")) < 0.02, s"epoch ${out("epoch")}")
    assert(math.abs(out("dur") - 1.0) < 0.02, s"dur ${out("dur")}")
    assert(out("iters") == 120.0)
    assert(out("llq") < 0.0, s"llq ${out("llq")}")
  }

  test("declared t13k query: the flare fit recovers (A, t0, tau)") {
    // the StarFlaring model fit (r10): injected A=0.04, t0=2.0, tau=0.3
    val out = graft.queries.Advanced.queries("t13k_mcmc_flare")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("amp") - 0.04) < 0.01, s"amp ${out("amp")}")
    assert(math.abs(out("t0") - 2.0) < 0.1, s"t0 ${out("t0")}")
    assert(math.abs(out("tau") - 0.3) < 0.05, s"tau ${out("tau")}")
    assert(out("acceptance") > 0.1 && out("acceptance") < 0.9)
  }

  test("declared t13f query: RV orbit fit recovers (gamma, A, B) in the harmonic basis") {
    // the t13 family's RV axis (same sampleQ machinery, trig-free walk)
    val out = graft.queries.Advanced.queries("t13f_mcmc_rv")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("gamma") - 12.5) < 0.1, s"gamma ${out("gamma")}")
    assert(math.abs(out("amp_sin") - 8.0) < 0.2, s"amp_sin ${out("amp_sin")}")
    assert(math.abs(out("amp_cos") + 5.0) < 0.2, s"amp_cos ${out("amp_cos")}")
    // semi-amplitude K = sqrt(A²+B²) recovers the injected ~9.43 m/s
    val k = math.sqrt(out("amp_sin") * out("amp_sin") + out("amp_cos") * out("amp_cos"))
    assert(math.abs(k - math.sqrt(89.0)) < 0.2, s"K $k")
    assert(out("acceptance") > 0.1 && out("acceptance") < 0.9)
  }
}
