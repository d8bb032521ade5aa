package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-6 scale evidence: the heavy dedup/ANN/BLS/join/stream set run
  * on a 1× and a 10× corpus from the SAME seeded generator, asserting
  * the claims the plan audit and VERDICT previously made only as
  * design arguments:
  *
  *  (a) d2's dual-strategy gate CUTS OVER: the driver fixture
  *      (31-token vocab, 5 k docs) takes the dense bitmap arm, both
  *      generated corpora take the sparse shared-bigram arm (1× by
  *      bigram universe, 10× also by doc count), and the query returns
  *      near-dup pairs on every corpus;
  *  (b) runtime grows ~LINEARLY corpus→corpus for the
  *      candidate-bounded queries (d2, d3, d4b, d15) — a quadratic
  *      engine would show ~100× at 10× scale, the asserts bound the
  *      ratio at a generous small multiple of the answer-volume ratio;
  *  (c) j9's 16-way salt actually splits the hot key at 10× skew
  *      (4.8 M rows on one key): max (skey, salt) cell ≈ cell mean,
  *      and the salted result equals a broadcast (skew-immune)
  *      reference.
  *
  * Corpus realism note: the 10× corpus scales the VOCABULARY with the
  * doc count (like real text; Heaps' law) — the driver generator's
  * fixed 31-token vocabulary makes every doc pair share every common
  * bigram, so at 50 k docs NO candidate-generation scheme (dense or
  * sparse) is subquadratic on it, and it stops modeling the web-corpus
  * shape the 100 TB claims are about. Near-dup structure is preserved
  * proportionally: every 10th doc is a ~86%-token copy of its
  * predecessor.
  *
  * Numbers from this spec are recorded in BASELINE.md §scale at
  * commit eeea311.
  */
class ScaleSweepSpec extends SparkSpec {

  import ScaleFixture._

  private lazy val x1 = dir(spark, 1)
  private lazy val x10 = dir(spark, 10)

  private def timeQ(name: String, d: String): Double = {
    val t0 = System.nanoTime()
    // full-plan action, NOT count() — Catalyst prunes windows/sorts
    // (and whole row-preserving join chains) below a count, so a
    // count-timed ratio can compare two scan-counts (r15, Exec.scala)
    graft.core.Exec.runCount(SparkEntry.queries(name)(spark, d))
    spark.catalog.clearCache()
    (System.nanoTime() - t0) / 1e9
  }

  private def rowsQ(name: String, d: String): Long = {
    val n = graft.core.Exec.runCount(SparkEntry.queries(name)(spark, d))
    spark.catalog.clearCache()
    n
  }

  // d2's gate stats, recomputed independently of the query internals
  private def d2Gate(d: String): (Long, Long, Boolean) = {
    val bg = graft.core.Tables.documents(spark, d)
      .select(col("doc_id"), explode(expr(
        """array_distinct(zip_with(
          |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
          |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
          |  (x, y) -> concat(x, ' ', y)))""".stripMargin)).as("bg"))
    val r = bg.agg(countDistinct(col("bg")).as("nu"),
      countDistinct(col("doc_id")).as("nd")).collect()(0)
    val (nu, nd) = (r.getLong(0), r.getLong(1))
    (nu, nd, nu > 0 && nu <= 4096 && nd <= 20000)
  }

  test("(a) d2 gate cuts over: driver fixture dense, generated corpora sparse") {
    val (nuD, ndD, denseD) = d2Gate("/root/testdata/sf0.1")
    assert(denseD, s"driver sf0.1 should sit in the dense regime (nu=$nuD, nd=$ndD)")
    val (nu1, nd1, dense1) = d2Gate(x1)
    assert(!dense1 && nu1 > 4096,
      s"1x corpus should cross the gate on bigram universe (nu=$nu1, nd=$nd1)")
    val (nu10, nd10, dense10) = d2Gate(x10)
    assert(!dense10 && nd10 > 20000,
      s"10x corpus should cross the gate on doc count too (nu=$nu10, nd=$nd10)")
    // and the sparse arm actually finds the injected near-dup pairs
    val out1 = SparkEntry.queries("d2_ngram_jaccard")(spark, x1)
    val n1 = out1.count()
    assert(n1 > 300, s"1x: expected the ~500 injected near-dup pairs, got $n1")
    spark.catalog.clearCache()
  }

  test("(b) dedup suite scales ~linearly corpus-to-corpus, not quadratically") {
    // one warm pass over the shared paths so JIT lands outside the
    // timed section (the Bench warmup rationale)
    Seq("d1_exact_dedup", "d4_simhash").foreach(rowsQ(_, x1))
    // d25 note: the injected near-dups replace every 7th token, so no
    // 10-gram survives in them and only a handful of hash-chain
    // coincidence spans exist (8 at both sizes) — the small answer is
    // the corpus's own, and the timing still exercises the full gram
    // shuffle, which is the query's scale cost.
    // d27/d28 (r6): tokenizer apply + bigram LM — their model tables
    // (distinct words / distinct bigrams) grow with the Heaps'-law
    // vocabulary, so the 10× corpus exercises the join-side growth too
    val sweep = Seq("d2_ngram_jaccard", "d3_minhash_lsh", "d4b_simhash_pairs",
      "d15_components", "d25_substring_spans", "d27_bpe_encode",
      "d28_bigram_lm")
    val report = sweep.map { q =>
      val r1 = rowsQ(q, x1); var t1 = timeQ(q, x1)
      val r10 = rowsQ(q, x10); var t10 = timeQ(q, x10)
      val volRatio = math.max(10.0, r10.toDouble / math.max(1L, r1))
      // linear-in-candidates bound: 3× the answer-volume ratio (noise,
      // partition-count effects); a quadratic blowup is ~100× and fails.
      // A single in-suite measurement can be GC-inflated ~20× (observed
      // once: d3 49.9 s after 200 prior tests on the shared 8g heap vs
      // 2.3 s isolated), so on breach re-measure and take per-size
      // minima — a real quadratic blowup reproduces, a GC spike doesn't
      if (t10 / t1 >= 3.0 * volRatio) {
        System.gc()
        t1 = math.min(t1, timeQ(q, x1)); t10 = math.min(t10, timeQ(q, x10))
      }
      val timeRatio = t10 / t1
      assert(timeRatio < 3.0 * volRatio,
        s"$q: time ratio $timeRatio exceeds 3x volume ratio $volRatio " +
        s"(t1=$t1 t10=$t10 rows1=$r1 rows10=$r10)")
      f"$q%-22s rows $r1%7d -> $r10%8d  time $t1%6.2fs -> $t10%7.2fs  (x${t10 / t1}%4.1f)"
    }
    println("== ScaleSweep (b): 1x -> 10x ==")
    report.foreach(println)
  }

  test("(b2) ANN / BLS / stream / join heavies complete at 10x inside linear bounds") {
    val bounds = Map(
      // t6 is pre-binned: the only full-data pass is the level-0
      // binning aggregate, so well under 10x is the expectation
      "t6_bls" -> 12.0,
      "e5_pq_adc" -> 30.0,
      "j9_salted_join" -> 30.0,
      "st7_stream_join" -> 30.0,
      // constant per-user rate ⇒ horizon-deep state buffers stay the
      // same size at 10×; only the event volume grows
      "st10_stream_flare" -> 30.0,
      // r6 late ops: HLL is one map-side-combined aggregation (cells
      // bounded per partition); triangles ride the degree-≤3 mutual
      // graph so wedge volume grows with NODES, not cluster size²;
      // p3's two-round narrowing keeps the only sort at ~n/256 rows
      "d30_hll_cardinality" -> 30.0,
      "d31_knn_triangles" -> 30.0,
      "p3_exact_quantiles" -> 30.0,
      // p4: grouped narrowing — same two-scan shape as p3 per group;
      // d32: delta-only shuffle after the bloom route; st11: sketch
      // state bounded at types×64 regardless of stream length
      "p4_grouped_quantiles" -> 30.0,
      "d32_incremental_dedup" -> 30.0,
      "st11_stream_hll" -> 30.0,
      // r6 continuation ops: d36 is one doc×bucket shuffle with
      // 1024-row LM broadcasts; o9 one bucket-keyed Exchange + a
      // #buckets-row offsets window; t17's lag join is linear in the
      // span-scaled bin count; a16 two user/cohort-keyed aggs; st14
      // carries one state row per user across micro-batches
      "d36_dsir" -> 30.0,
      "o9_global_index" -> 30.0,
      "t17_xcorr" -> 30.0,
      "a16_cohort_retention" -> 30.0,
      "st14_stream_ewma" -> 30.0,
      // r7: the grid crossmatch after the density fix — the fine
      // pass's candidate stream is O(probes) at any density (the
      // zones-only r6 shape went quadratic here, caught by the 100×
      // sweep prep)
      "j11_zone_crossmatch" -> 30.0)
    val report = bounds.toSeq.sortBy(_._1).map { case (q, bound) =>
      var t1 = timeQ(q, x1)
      var t10 = timeQ(q, x10)
      if (t10 / t1 >= bound) { // GC-spike re-measure, see test (b)
        System.gc()
        t1 = math.min(t1, timeQ(q, x1)); t10 = math.min(t10, timeQ(q, x10))
      }
      assert(t10 / t1 < bound, s"$q: t10/t1 = ${t10 / t1} exceeds $bound (t1=$t1 t10=$t10)")
      f"$q%-22s time $t1%6.2fs -> $t10%7.2fs  (x${t10 / t1}%4.1f)"
    }
    println("== ScaleSweep (b2): 1x -> 10x ==")
    report.foreach(println)
  }

  test("(d) disc-break scan: relative cost does not grow with the corpus (r13 verdict #3)") {
    // the at-scale defense of the default-ON break scan: one extra
    // WindowExec sharing the series exchange AND sort — the STRUCTURAL
    // invariant is asserted unconditionally in DiscPlanSpec (plan
    // shape, no timing flake); this test measures the on/off ratio
    // corpus-to-corpus and reports it info-only unless
    // SPARK_GRAFT_TIMING_ASSERTS=1 (r14 advice: a wall-clock ratio
    // assert inside `sbt test` is load-sensitive even with the
    // GC-spike re-measure). Measured ladder (r14, DiscDetrend.run at
    // ×1/×10/×100): 1.73× → 1.61× → 1.57×.
    def ratio(d: String): Double = {
      val (_, on) = DiscDetrend.run(spark, d, discBreaks = true)
      val (_, off) = DiscDetrend.run(spark, d, discBreaks = false)
      on / off
    }
    ratio(x1) // warm both arms (JIT, fixture read)
    var r1 = ratio(x1); var r10 = ratio(x10)
    if (r10 >= r1 * 1.25 || r10 >= 2.5) { // GC-spike re-measure, see test (b)
      System.gc()
      r1 = math.min(r1, ratio(x1)); r10 = math.min(r10, ratio(x10))
    }
    info(f"disc on/off ratio x1 $r1%.2f -> x10 $r10%.2f")
    if (sys.env.get("SPARK_GRAFT_TIMING_ASSERTS").contains("1"))
      assert(r10 < r1 * 1.25 && r10 < 2.5,
        f"disc-break relative cost grew with the corpus: x1 $r1%.2f -> x10 $r10%.2f")
    else if (!(r10 < r1 * 1.25 && r10 < 2.5))
      info(f"RATIO GREW (info-only; set SPARK_GRAFT_TIMING_ASSERTS=1 to enforce): " +
        f"x1 $r1%.2f -> x10 $r10%.2f")
  }

  test("(c) j9's 16-way salt splits the hot key under 10x skew") {
    val li = graft.core.Tables.lineitem(spark, x10)
      .withColumn("skey",
        when(col("l_suppkey") % 25 < 20, lit(0)).otherwise(col("l_suppkey") % 25))
      .withColumn("salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(16)))
    val hot = li.filter(col("skey") === 0)
      .groupBy("salt").agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1))
    assert(hot.length === 16, s"expected 16 salt cells, got ${hot.length}")
    val mean = hot.sum.toDouble / hot.length
    assert(mean > 250000, s"hot key should carry ~4.8M rows (cell mean $mean)")
    assert(hot.max <= mean * 1.2,
      s"salt must split evenly: max ${hot.max} vs mean $mean")
    // salted result == broadcast (skew-immune) reference at 10x
    val salted = SparkEntry.queries("j9_salted_join")(spark, x10).collect()
    val ref = li.join(broadcast(graft.core.Tables.nation(spark, x10)),
        col("skey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"),
        (sum(graft.core.Tables.cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .cast("long") / 100.0).as("revenue"))
      .orderBy("n_name").collect()
    assert(salted.length === ref.length)
    salted.zip(ref).foreach { case (a, b) => assert(a === b, s"$a vs $b") }
  }
}

/** Test (d)'s detrend arm: a corpus-PROPORTIONAL series (the
  * ScaleFixture events table — user-keyed, rows ∝ mult, ~26 s pairs
  * every ~11 h, so a 24 h gap keeps one region per user) detrended in
  * GP mode with the disc-break scan on or off. GP's Kalman/RTS kernel
  * is O(n) per region, so the kernel term itself scales linearly and
  * cannot mask a super-linear scan. Values are scaled to flux-like
  * ~1.0 (events `value`/200) so the 1e6-quantized break statistics sit
  * deep inside the int64 envelope TsOps.withRegionDisc enforces. */
object DiscDetrend {
  def series(spark: SparkSession, d: String): DataFrame =
    graft.core.Tables.events(spark, d).select(
      col("user_id").cast("string").as("part"),
      col("event_id").as("id"),
      unix_micros(col("ts")).as("t_us"),
      (col("value") / 200.0).as("value"),
      lit(0.01).as("err"))

  /** (rows, seconds) of one full-plan detrend pass. */
  def run(spark: SparkSession, d: String, discBreaks: Boolean): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = graft.ops.Detrend.detrend(series(spark, d), Seq("part"),
      "t_us", "id", "value", "err", gapUs = 86400000000L,
      mode = "GaussianProcess", timescaleDays = 2.0,
      discBreaks = discBreaks).queryExecution.toRdd.count()
    (n, (System.nanoTime() - t0) / 1e9)
  }
}

/** Seeded sf1-equivalent fixture generator (build-once per machine,
  * manifest-guarded): documents/embeddings/events/lineitem/nation at
  * mult × the sf0.1 row counts, with vocabulary scaled alongside the
  * doc count (see ScaleSweepSpec header). events.ts is written as
  * int64 NANOS to flow through Tables.events / the st* glob readers
  * exactly like the driver fixture. */
object ScaleFixture {
  private val Version = "v8" // v2: uniform token draw (v1's u² skew made
                             // ~5% of RANDOM doc pairs Jaccard-similar —
                             // unrealistically dense near-dup structure)
                             // v3: events.value / lineitem money columns
                             // cast DOUBLE like the driver fixture
                             // (decimal literals made them DECIMAL(28,6),
                             // which typed Dataset consumers reject)
                             // v4: + supplier/customer id tables so the
                             // j11 crossmatch gets its 100× decade
                             // v5: adjacent event pairs share a user
                             // (see user_id below — st7 was
                             // structurally empty on v3/v4)
                             // v6: xorshift-mixed value AND type draws
                             // (affine draws were per-user periodic /
                             // pair-deterministic — see inline notes)
                             // v7: ascending event-file mtimes so
                             // bounded-batch streaming replays in
                             // event-time order (see events note)
                             // v8: FULL-SCHEMA relational twins — the
                             // driver sf0.1 tables tiled ×mult with
                             // key-stride offsets (see tile() note)

  /** The ×`mult` corpus, built once through the fixture store. */
  def dir(spark: SparkSession, mult: Int): String =
    graft.core.Fixtures.dir(s"graft_scale_x$mult", Seq(Version, mult.toString),
        Tiled.map(t => new java.io.File(sf01Table(t)))) { out =>
      build(spark, out, mult)
      // scale marker (r8): derived-fixture queries (s14/s15/px/px2) read
      // this to scale their FILE COUNTS with the corpus — the sf dirs
      // carry no marker, so the oracle contract stays pinned at ×1
      java.nio.file.Files.write(new java.io.File(out, "_scale_mult").toPath,
        mult.toString.getBytes("UTF-8"))
    }.getAbsolutePath

  /** The sf0.1 tables the corpus copies (see tile() below). */
  private val Tiled = Seq("lineitem", "orders", "customer", "supplier", "part", "nation", "region")
  private def sf01Table(name: String) = s"/root/testdata/sf0.1/$name.parquet"

  private def build(spark: SparkSession, out: java.io.File, mult: Int): Unit = {
    val nd = 5000L * mult; val vocab = 1000L * mult
    val nv = 2000L * mult; val ne = 100000L * mult
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.coalesce(parts).write.mode("overwrite")
        .parquet(new java.io.File(out, s"$name.parquet").getAbsolutePath)

    // documents: uniform tokens from a corpus-scaled vocabulary (docs
    // share bigrams only by birthday collision, like real corpora —
    // the near-dup signal comes from the INJECTED pairs, not from a
    // skew artifact); every 10th doc is a near-dup of its predecessor
    // (same length, every 7th token replaced -> bigram Jaccard ~0.5).
    // The draw needs the xorshift mix: any pure-LCG chain is AFFINE in
    // j, so consecutive tokens would differ by a constant mod vocab
    // and every doc would walk the same bigram family.
    val src = "(doc_id - CAST(doc_id % 10 = 9 AS INT))"
    val h2 = s"pmod(pmod($src * 131 + j * 2654435761, 2147483648)" +
      " * 1103515245 + 12345, 2147483648)"
    val tok = s"pmod(($h2 ^ shiftright($h2, 15)) * 69069 + 1, $vocab)"
    val docs = spark.range(nd).toDF("doc_id").selectExpr(
      "doc_id",
      s"""concat_ws(' ', transform(
         |  sequence(0, 39 + CAST(pmod($src * 2654435761, 40) AS INT)),
         |  j -> CASE
         |    WHEN doc_id % 10 = 9 AND j % 7 = 3
         |    THEN concat('w', pmod(doc_id * 31 + j * 7, $vocab))
         |    ELSE concat('w', $tok)
         |  END)) AS text""".stripMargin,
      "element_at(array('en','de','fr','zh','es'), CAST(doc_id % 5 AS INT) + 1) AS lang",
      "concat('src', doc_id % 20) AS source")
      .withColumn("n_chars", length(col("text")).cast("int"))
    write(docs, "documents", math.max(1, mult / 2))

    // embeddings: 10 cluster centers + small deterministic noise,
    // list<float> like the driver fixture
    val emb = spark.range(nv).toDF("vec_id").selectExpr(
      "vec_id",
      """CAST(transform(sequence(0, 63), k ->
        |  (pmod(CAST(vec_id % 10 AS INT) * 37 + k * 11, 19) / 9.5 - 1.0)
        |  + (pmod(vec_id * 64 + k, 1000) / 2500.0 - 0.2)) AS ARRAY<FLOAT>)
        | AS embedding""".stripMargin,
      "CAST(vec_id % 10 AS INT) AS label")
    write(emb, "embeddings", math.max(1, mult / 2))

    // events: constant per-user rate, span grows with mult (the honest
    // streaming scale shape: watermark state ~ rate x window, runtime
    // ~ rows); ts int64 NANOS like the driver fixture
    val spanUs = 2592000000000L * mult // 30 days x mult
    val evs = spark.range(ne).toDF("event_id").selectExpr(
      "event_id",
      s"(1704067200000000 + event_id * (CAST($spanUs AS BIGINT) div $ne)) * 1000 AS ts",
      // (event_id div 2): adjacent event PAIRS share a user, so
      // user-keyed sequences contain ~26 s-apart neighbors — without
      // this the constant 100k-events-per-30-days rate puts same-user
      // events ~11 h apart and the st7 6-hour stream-stream join is
      // structurally empty at EVERY multiplier (v3 measured 0 rows)
      "pmod((event_id div 2) * 2654435761, 1500) AS user_id",
      // type from the same xorshift mix: the affine pmod(id·7919, 5)
      // draw makes adjacent-pair types a DETERMINISTIC function of
      // id mod 5 — a (click → purchase) pair never occurs and st7's
      // stream-stream join is structurally empty
      "element_at(array('view','click','error','purchase','login')," +
        " CAST(pmod((pmod(event_id * 104729 + 12345, 2147483648)" +
        " ^ shiftright(pmod(event_id * 104729 + 12345, 2147483648), 13))" +
        " * 7919, 5) AS INT) + 1) AS event_type",
      // xorshift-mixed value draw (the documents token-draw lesson):
      // a pure affine draw is PERIODIC on any fixed-stride
      // subsequence — per-user ids step by 1500 and
      // 1500·104729 ≡ 13500 (mod 20000) gives period 40, which
      // resampled onto t8b's 12 h grid repeats every 36 grid steps,
      // ties the top correlation ~16× per partition, and pins the
      // p99 threshold AT the max (t8b measured 0 triggers at 10×)
      "CAST(20.0 + pmod((pmod(event_id * 104729 + 12345, 2147483648)" +
        " ^ shiftright(pmod(event_id * 104729 + 12345, 2147483648), 13))" +
        " * 69069, 20000) / 100.0 AS DOUBLE) AS value",
      "concat('{\"k\": ', event_id % 100, '}') AS props")
    write(evs, "events", math.max(2, mult))
    // arrival order = event-time order (the production contract that
    // bounded-batch streaming relies on): FileStreamSource batches by
    // file MODIFICATION time, and parallel-written part files get
    // arbitrary mtimes — under maxFilesPerTrigger that makes batches
    // jump around in event time and cross-batch rows get dropped as
    // late (measured: st7 lost half its joins at 100×). Stamp
    // ascending mtimes in name order (= time order from the ordered
    // range write).
    new java.io.File(out, "events.parquet").listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1700000000000L + i * 60000L) }

    // Full-schema relational twins (r9, verdict #1): the six TPC-H-ish
    // tables are the DRIVER sf0.1 fixture TILED ×mult with per-copy
    // key offsets (strides = the sf0.1 key cardinalities; sf0.1 keys
    // are dense 0-based), so EVERY column the relational queries touch
    // exists at every scale and all FK joins (l_orderkey→o_orderkey,
    // o_custkey→c_custkey, l_partkey/l_suppkey→part/supplier) stay
    // consistent across copies. Values repeat ×mult — per-group
    // medians/distributions match sf0.1 exactly, which is what a
    // bit-exact oracle wants; the j9/p5 skew shape is preserved
    // because skey derives in-query from l_suppkey % 25 (uniform on
    // the tiled dense keys, 80% of rows on skey 0). nation/region are
    // fixed catalogs (no tiling). This replaces the v7 reduced-schema
    // lineitem/supplier/customer generators — the r8 sweep left 41
    // queries out of scope for missing orders/part/region tables and
    // lineitem/customer/supplier columns.
    val strides = Map(
      "c_custkey" -> 15000L, "s_suppkey" -> 1000L, "p_partkey" -> 20000L,
      "o_orderkey" -> 150000L, "o_custkey" -> 15000L,
      "l_orderkey" -> 150000L, "l_partkey" -> 20000L, "l_suppkey" -> 1000L)
    def tile(name: String, parts: Int): Unit = {
      val src = spark.read.parquet(sf01Table(name))
      val cols = src.columns.map { c =>
        strides.get(c) match {
          case Some(st) => (col(c) + col("_k") * st).as(c)
          case None => col(c)
        }
      }
      write(src.crossJoin(spark.range(mult).toDF("_k")).select(cols.toSeq: _*),
        name, parts)
    }
    Seq("lineitem" -> math.max(2, mult), "orders" -> math.max(1, mult / 2),
      "customer" -> math.max(1, mult / 10), "supplier" -> math.max(1, mult / 10),
      "part" -> math.max(1, mult / 10)).foreach { case (t, p) => tile(t, p) }
    write(spark.read.parquet(sf01Table("nation")), "nation", 1)
    write(spark.read.parquet(sf01Table("region")), "region", 1)
  }
}
