package graft

import graft.sources.Fits

/** The hand-rolled FITS codec behind s14_fits_scan: writer/reader
  * round-trip, structural FITS invariants (block sizing, header
  * discovery by TTYPE), NaN/quality semantics, and the full declared
  * query shape on the real binaryFile path.
  */
class FitsSpec extends SparkSpec {

  test("fits file is 2880-block aligned and starts with SIMPLE") {
    val bytes = Fits.fixtureFile(3)
    assert(bytes.length % 2880 === 0, s"length ${bytes.length} not block-aligned")
    assert(new String(bytes, 0, 30, "US-ASCII").startsWith("SIMPLE  ="))
  }

  test("round-trip: header ids and every sample value survive") {
    val lc = Fits.readLightCurve(Fits.fixtureFile(5))
    assert(lc.sector === 5)
    assert(lc.camera === (5 - 1) % 4 + 1)
    assert(lc.ccd === 5 * 3 % 4 + 1)
    assert(lc.rows.length === Fits.N_ROWS)
    lc.rows.foreach { case (i, t, f, e, q) =>
      val want = Fits.sample(5, i)
      assert(t === want.timeBtjd, s"time at $i")
      if (want.flux.isNaN) assert(f.isNaN, s"NaN lost at $i")
      else assert(f === want.flux, s"flux at $i")
      assert(e === want.err, s"err at $i")
      assert(q === want.quality, s"quality at $i")
    }
  }

  test("reader discovers columns by TTYPE: reordered + extra columns skipped") {
    val rows = (0 until 10).map(i => Fits.sample(2, i))
    // QUALITY first, an extra CADENCENO column interleaved, TIME last
    val reordered = Fits.writeTable(2, 1, 3,
      Seq("QUALITY" -> 'J', "PDCSAP_FLUX" -> 'E', "CADENCENO" -> 'K',
        "PDCSAP_FLUX_ERR" -> 'E', "TIME" -> 'D'),
      rows.zipWithIndex.map { case (r, i) =>
        Seq[Any](r.quality, r.flux, i.toLong * 7L, r.err, r.timeBtjd) })
    val lc = Fits.readLightCurve(reordered)
    assert(lc.sector === 2); assert(lc.camera === 1); assert(lc.ccd === 3)
    assert(lc.rows.length === 10)
    lc.rows.foreach { case (i, t, f, e, q) =>
      val want = Fits.sample(2, i)
      assert(t === want.timeBtjd); assert(q === want.quality)
      assert(e === want.err)
      if (!want.flux.isNaN) assert(f === want.flux)
    }
  }

  test("reader rejects a non-BINTABLE extension and missing columns") {
    val bytes = Fits.fixtureFile(1)
    val s = new String(bytes, "US-ASCII")
    val broken = s.replace("'BINTABLE'", "'IMAGE   '").getBytes("US-ASCII")
    intercept[IllegalArgumentException] { Fits.readLightCurve(broken) }
    val noflux = s.replace("'PDCSAP_FLUX'", "'SAP_BKGXXXX'").getBytes("US-ASCII")
    intercept[IllegalArgumentException] { Fits.readLightCurve(noflux) }
  }

  test("px pipeline: the injected dip surfaces as the deepest phase bins") {
    val df = graft.queries.Extras.queries("px_lightcurve_pipeline")(spark, sf)
    val rows = df.collect()
    assert(rows.length === 5)
    // dip: i%360 < 18 ⇒ ph_md = 2i mod 720 ∈ {0..34} ⇒ bins 0..2 are
    // fully in-transit and bin 3 is 60% in-transit (ph 30/32/34 dip,
    // 36/38 not) — all four must rank among the 5 deepest
    val bins = rows.map(_.getLong(0)).toSet
    assert(Set(0L, 1L, 2L, 3L).subsetOf(bins), s"dip bins missing from $bins")
    // fully-in-transit mean ≈ 0.97; the partial bin ≈ 0.99
    val fullMeans = rows.filter(r => r.getLong(0) <= 2).map(_.getDouble(4))
    assert(fullMeans.forall(m => m < 0.985 && m > 0.95), fullMeans.mkString(","))
  }

  test("s14 query: mask, offset, per-sector normalization over binaryFile") {
    val df = graft.queries.Extras.queries("s14_fits_scan")(spark, sf)
    val rows = df.collect()
    // expected survivor count from the closed form
    val expect = (1 to 8).flatMap(k => (0 until Fits.N_ROWS).map(i => (k, i)))
      .count { case (k, i) =>
        val r = Fits.rMix(k, i); r % 97 != 0 && r % 131 != 0 }
    assert(rows.length === expect)
    // every sector's median row normalizes to 1.0 exactly at the median
    val bySector = rows.groupBy(_.getLong(0))
    assert(bySector.keySet === (1L to 8L).toSet)
    bySector.foreach { case (k, rs) =>
      val fluxes = rs.map(_.getDouble(5)).sorted
      val med = (fluxes(fluxes.length / 2) +
        fluxes((fluxes.length - 1) / 2)) / 2
      assert(math.abs(med - 1.0) < 1e-12, s"sector $k median $med")
      // camera/ccd parsed from the primary header
      assert(rs.head.getLong(1) === (k - 1) % 4 + 1)
      assert(rs.head.getLong(2) === k * 3 % 4 + 1)
      // BJD offset applied
      assert(rs.map(_.getDouble(4)).min >= 2457000.0 + 1000.0)
    }
  }

  test("px2 query: per-target fold at each target's own period, prior-wins dedup sink") {
    val out = graft.queries.Extras.queries("px2_multi_target")(spark, sf).collect()
    assert(out.length === 12, s"rows ${out.length}")
    val byTarget = out.map(r => r.getLong(0) -> r).toMap
    // targets 1–3 keep their PRIOR row (the s12 dedup contract)
    (1L to 3L).foreach { t =>
      assert(byTarget(t).getString(1) === "prior", s"target $t overwritten")
      assert(byTarget(t).getLong(3) === -1L)
    }
    // targets 4–12: scanned, folded at the target's OWN period, and the
    // injected dip (i % k < 15 ⇒ phase bin 0) surfaces as rank-1
    (4L to 12L).foreach { t =>
      val r = byTarget(t)
      assert(r.getString(1) === "scan")
      assert(r.getLong(2) === 2 * (240 + 60 * (t % 4)), s"target $t period")
      assert(r.getLong(3) === 0L, s"target $t deepest bin ${r.getLong(3)}")
      // dip depth ≈ 2–3% below baseline in q9 units
      assert(r.getLong(5) < -15000000L, s"target $t mq9 ${r.getLong(5)}")
    }
  }
}
