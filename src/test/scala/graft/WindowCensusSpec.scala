package graft

import org.apache.spark.sql.functions._

/** r17 (verdict #3): census of every UNPARTITIONED window in the
  * engine. Spark warns "No Partition Defined for Window operation!
  * Moving all data to a single partition" dozens of times per Verify
  * run; each such site is a single-partition serialization point, so
  * one corpus-scale instance would be a 100 TB killer. This spec
  * (1) pins the census — the exact per-file count of `Window.orderBy`
  * sites (global windows) in the main sources, so a NEW unpartitioned
  * window fails the suite until it is enumerated here with its bound —
  * and (2) asserts each allowed site's input frame is bounded: either
  * a fixed model-state/grid size, or volume-independent (equal row
  * count at sf0.001 and sf0.01, i.e. a function of calendar span or
  * plan constants, never of corpus row volume).
  *
  * The allowed sites and their bounds:
  *  - TextQueries d2 dense branch (vocab index window): gated by
  *    nu <= 4096, so the window input is <= 4096 rows BY THE GATE.
  *  - TextQueries d12_bm25 (rank window): input is orderBy().limit(20)
  *    (TakeOrderedAndProject) — <= 20 rows by construction.
  *  - TextQueries d38_classifier_auc (bucket-offset window): input is
  *    one row per 4096-wide logit bucket; |logit| <= 64 buckets ×
  *    max|w| 1000 = 64000, so <= 2·ceil(64000/4096)+1 = 33 rows.
  *  - Bls.withSnr / a8_bls_snr spectrum windows: one row per trial
  *    period of a FIXED grid ((2..31)×{20,40} steps — <= 60 rows).
  *  - Relational p3_exact_quantiles cumulative window: one row per
  *    value bin, bin = (v6-vmin)·256 div (vmax-vmin+1) ∈ [0,255].
  *  - Relational o6/o9 bucket-edge/offset windows: one row per 30-day
  *    time bucket — calendar-span-bound, not row-volume-bound.
  *  - TimeSeries t7_outlperi: pairwise Δt of the top-5 outliers —
  *    exactly C(5,2) = 10 rows.
  */
class WindowCensusSpec extends SparkSpec {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  test("census: every global-window site in main sources is enumerated") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"expected to run from the repo root, cwd=${new java.io.File(".").getAbsolutePath}")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val counts = walk(root).map { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val n = src.linesIterator
        .filterNot(_.trim.startsWith("//")) // prose mentions don't count
        .map(l => "Window\\.orderBy\\(".r.findAllIn(l).size).sum
      f.getName -> n
    }.filter(_._2 > 0).toMap
    val allowed = Map(
      "TextQueries.scala" -> 3, // d2 dense index, d12 top-20 rank, d38 offsets
      "Advanced.scala" -> 1,    // a8 spectrum
      "Bls.scala" -> 1,         // withSnr spectrum (a8/t6b family)
      "Relational.scala" -> 3,  // p3 bins, o6 bucket edges, o9 bucket offsets
      "TimeSeries.scala" -> 1)  // t7 top-5 pairwise
    assert(counts === allowed,
      s"unpartitioned-window census drifted: found $counts, allowed $allowed — " +
      "a new global window must be enumerated in WindowCensusSpec WITH its bound")
  }

  test("d2 dense vocab window input is gate-bounded (<= 4096) on the driver fixtures") {
    sfs.foreach { d =>
      val nu = graft.queries.TextQueries.bigramStream(graft.core.Tables.documents(spark, d))
        .agg(countDistinct("bg")).head.getLong(0)
      assert(nu <= 4096, s"$d: dense gate admits nu=$nu > 4096 — the gate predicate bounds this window")
    }
  }

  test("d12 rank window sees <= 20 rows (limit upstream), SF-independent") {
    val ns = sfs.map(d => SparkEntry.queries("d12_bm25")(spark, d).count())
    assert(ns.forall(_ <= 20), s"d12 output exceeded the 20-row limit: $ns")
  }

  test("d38 bucket-offset window input is <= 33 rows at both SFs") {
    sfs.foreach { d =>
      val bgf = graft.core.Tables.documents(spark, d)
        .select(col("doc_id"), explode(expr(
          """zip_with(
            |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
            |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
            |  (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"))
      val wDf = spark.createDataFrame(
        (0 until 64).map(b => (b.toLong, (b * 2654435761L) % 2001L - 1000L)))
        .toDF("bucket", "w")
      val nBkt = bgf
        .withColumn("bucket", expr(s"pmod(${graft.text.TextOps.md5Hash32Fast("bg")}, 64)"))
        .join(broadcast(wDf), "bucket")
        .groupBy("doc_id").agg(sum(col("w")).as("logit"))
        .select(expr("(logit - ((logit % 4096 + 4096) % 4096)) div 4096").as("bkt"))
        .distinct().count()
      assert(nBkt <= 33, s"$d: d38 offset window input $nBkt rows > the 33-row logit-range bound")
    }
  }

  test("a8 spectrum windows run over the fixed trial grid (<= 60 rows), SF-independent") {
    val ns = sfs.map(d => SparkEntry.queries("a8_bls_snr")(spark, d).count())
    assert(ns.forall(_ <= 60), s"a8 spectrum grew past the fixed trial grid: $ns")
    assert(ns.distinct.size == 1, s"a8 spectrum row count must not scale with the corpus: $ns")
  }

  test("p3 cumulative window input is <= 256 bins by the bin formula") {
    sfs.foreach { d =>
      val ev = graft.core.Tables.events(spark, d).select(
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("v6"))
      val st = ev.agg(min(col("v6")).as("vmin"), max(col("v6")).as("vmax"))
      val nBins = ev.crossJoin(broadcast(st))
        .select(expr("(v6 - vmin) * 256 div (vmax - vmin + 1)").as("bin"))
        .distinct().count()
      assert(nBins <= 256, s"$d: p3 bin count $nBins > 256")
    }
  }

  test("o6/o9 bucket windows are calendar-span-bound, not volume-bound") {
    val bucketUs = 86400L * 1000000L * 30
    val ns = sfs.map { d =>
      graft.core.Tables.events(spark, d)
        .select(expr(s"unix_micros(ts) div $bucketUs").as("bkt"))
        .distinct().count()
    }
    assert(ns.distinct.size == 1,
      s"bucket count scaled with row volume across SFs (same span): $ns")
    assert(ns.head <= 64, s"bucket table unexpectedly large: $ns")
  }

  test("t7 pairwise window sees exactly C(5,2) = 10 rows") {
    val ns = sfs.map(d => SparkEntry.queries("t7_outlperi")(spark, d).count())
    assert(ns.forall(_ == 10), s"t7 pairwise table must be exactly 10 rows: $ns")
  }
}
