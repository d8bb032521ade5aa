package graft

import graft.sources.Hdf5
import graft.sources.Hdf5.{Grp, DsetF64, DsetI32, DsetI64}

/** S15 — the hand-rolled HDF5 codec (public file-format spec:
  * v0 superblock, symbol-table groups, contiguous 1-D datasets) and
  * the QLP fixture it serves (ref read_qlop main.py:6420–6453). */
class Hdf5Spec extends SparkSpec {

  test("round-trip: nested groups, f64/i32/i64 datasets, name-sorted symbol tables") {
    val d1 = Array(1.5, -2.25, Double.NaN, 3.0e300, 0.0)
    val d2 = Array(7, -42, Int.MaxValue, Int.MinValue)
    val d3 = Array(1L, -9007199254740993L, Long.MaxValue)
    val tree = Grp(Seq(
      "zeta" -> DsetF64(d1),                      // deliberately unsorted input
      "alpha" -> Grp(Seq(
        "inner" -> Grp(Seq("deep" -> DsetI64(d3))),
        "flags" -> DsetI32(d2)))))
    val bytes = Hdf5.write(tree)
    // signature + sizes
    assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'H')
    assert(Hdf5.ls(bytes, "/") == Seq("alpha", "zeta"))
    assert(Hdf5.ls(bytes, "alpha") == Seq("flags", "inner"))
    val got1 = Hdf5.readF64(bytes, "zeta")
    assert(got1.length == d1.length)
    got1.zip(d1).foreach { case (a, b) =>
      assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b))
    }
    assert(Hdf5.readI32(bytes, "alpha/flags").sameElements(d2))
    assert(Hdf5.readI64(bytes, "alpha/inner/deep").sameElements(d3))
  }

  test("reader fails loudly on wrong paths and wrong types") {
    val bytes = Hdf5.write(Grp(Seq("a" -> DsetF64(Array(1.0)))))
    intercept[IllegalArgumentException](Hdf5.readF64(bytes, "missing"))
    intercept[IllegalArgumentException](Hdf5.readI32(bytes, "a")) // f64, not i32
    intercept[IllegalArgumentException](Hdf5.readF64(Array.fill(200)(0.toByte), "a"))
  }

  test("QLP fixture file decodes to the closed-form samples through the real reader") {
    val k = 3
    val bytes = Hdf5.fixtureFile(k)
    val bjd = Hdf5.readF64(bytes, "LightCurve/BJD")
    val mag = Hdf5.readF64(bytes,
      "LightCurve/AperturePhotometry/Aperture_002/RawMagnitude")
    val qf = Hdf5.readI32(bytes, "LightCurve/QFLAG")
    assert(bjd.length == Hdf5.N_ROWS && mag.length == Hdf5.N_ROWS && qf.length == Hdf5.N_ROWS)
    (0 until Hdf5.N_ROWS).foreach { i =>
      val (b, m, q) = Hdf5.sample(k, i)
      assert(java.lang.Double.doubleToLongBits(bjd(i)) == java.lang.Double.doubleToLongBits(b))
      assert(java.lang.Double.doubleToLongBits(mag(i)) == java.lang.Double.doubleToLongBits(m))
      assert(qf(i) == q)
    }
    // the fixture exercises every branch: gaps, raised flags, dips
    assert(mag.count(_.isNaN) > 0, "no NaN gap rows")
    assert(qf.count(_ != 0) > 0, "no raised-QFLAG rows")
  }

  test("declared s15 query: mask drops flagged/NaN rows, dip recovered, medians normalize to ~1") {
    val out = graft.queries.Extras.queries("s15_hdf5_scan")(spark, sf).collect()
    assert(out.length > 7000 && out.length < 8000, s"rows ${out.length}")
    // per-orbit median flux_norm must be ~1 (double normalization)
    val byOrbit = out.groupBy(_.getLong(0))
    assert(byOrbit.size == 8)
    byOrbit.foreach { case (orbit, rs) =>
      val fluxes = rs.map(_.getDouble(3)).sorted
      val med = fluxes(fluxes.length / 2)
      assert(math.abs(med - 1.0) < 0.01, s"orbit $orbit median $med")
      // injected +0.01-mag dips → flux dip ≈ 0.9%: the faintest rows
      // must sit clearly below the median
      assert(fluxes.head < 0.995, s"orbit $orbit min ${fluxes.head}")
    }
  }
}
