package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._

/** Relational operator surface of SURVEY.md §2.2/§2.3/§2.6/§2.7/§2.8:
  * filters (F1–F7), joins (J1/J3/J6), sorts/limits (O1–O7), set ops
  * (U1–U4), scalar functions, and the plain aggregations (A3/A12).
  * Each query has a duckdb oracle; all results are ordered by a unique
  * key and every float aggregate is derived from exact integer sums.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** p5's log2 bucket ladder (floor(log2(e)) for e ≥ 1, engine-neutral
    * CASE — the hllRho technique): shared verbatim between the Spark
    * plan and the duckdb oracle so no float log crosses engines. */
  private def log2Ladder(e: String): String =
    "(CASE " +
      (40 to 0 by -1).map(k => s"WHEN ($e) >= ${1L << k} THEN $k").mkString(" ") +
      " ELSE -1 END)"

  val queries: Map[String, Q] = Map(
    // F1/F5 — quality/finite/sanity row filters (ref main.py:7448, 5601).
    "f1_quality_filter" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_returnflag") === "R" && col("l_quantity") > 30 &&
          col("l_extendedprice").isNotNull && abs(col("l_extendedprice")) < 1e10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F7 — string predicates on metadata tables (ref main.py:8897–8940).
    "f7_string_filter" -> ((s, d) => {
      part(s, d)
        .filter(col("p_type").endsWith("OMY") || col("p_type").contains("SMA"))
        .filter(col("p_name").startsWith("red") || col("p_size") > 40)
        .select("p_partkey", "p_name", "p_type", "p_size")
        .orderBy("p_partkey")
    }),

    // J1 — broadcast equi-join chain + group agg (ref main.py:8477–8503).
    "j1_equi_join_agg" -> ((s, d) => {
      val c = customer(s, d); val n = nation(s, d); val r = region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          count(lit(1)).as("n_cust"),
          (sum(cents(col("c_acctbal"))).cast("long") / 100.0).as("sum_acctbal"))
        .orderBy("r_name", "n_name")
    }),

    // G1 — ROLLUP grouping sets: the subtotal/grand-total OLAP report
    // over the j1 join chain, one pass. Spark plans ROLLUP as a single
    // Expand + keyed aggregation — the fact side is scanned ONCE for
    // all three grouping levels (per-(region,nation), per-region,
    // grand total), not once per level; `lvl` is the grouping_id bit
    // vector (0 = detail, 1 = region subtotal, 3 = grand total), the
    // same encoding DuckDB's GROUPING() emits. Money stays in exact
    // cents until the final display division.
    "g1_rollup" -> ((s, d) => {
      val c = customer(s, d); val n = nation(s, d); val r = region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          (sum(cents(col("c_acctbal"))).cast("long") / 100.0).as("sum_acctbal"),
          grouping_id().cast("long").as("lvl"))
        .orderBy(col("lvl"), col("r_name"), col("n_name"))
    }),

    // G2 — PIVOT (long→wide): per-user-bucket event counts spread
    // across explicit event-type columns. With the pivot values
    // PINNED (the five known types) there is no second pass to
    // discover columns: ONE scan feeds a two-level aggregation —
    // (bucket, event_type) pre-count, then PivotFirst keyed on
    // bucket — and BOTH levels combine map-side (partial_), so each
    // exchange carries at most partitions × |buckets×types| rows
    // regardless of event volume. The oracle is the same report as
    // hand-written conditional aggregation.
    "g2_pivot" -> ((s, d) => {
      events(s, d)
        .withColumn("bucket", pmod(col("user_id"), lit(10)).cast("long"))
        .groupBy("bucket")
        .pivot("event_type", Seq("view", "click", "error", "purchase", "login"))
        .agg(count(lit(1)))
        // pivot leaves empty cells NULL (it aggregates each value's
        // filtered subset); a count report wants 0 like the SQL form
        .na.fill(0L, Seq("view", "click", "error", "purchase", "login"))
        .orderBy("bucket")
    }),

    // G3 — CUBE grouping sets: all four aggregation levels of
    // (event_type × day-bucket) — detail, per-type, per-day, grand
    // total — in ONE pass. Like g1's ROLLUP, Spark plans CUBE as a
    // single Expand (4 replicas tagged by grouping_id) feeding one
    // keyed aggregation with map-side combine: the fact stream is
    // scanned once, and each exchange carries at most
    // partitions × |types×days×4| partial rows — the report-matrix
    // shape at 100 TB. `lvl` is the grouping_id bit vector, identical
    // to DuckDB's GROUPING() encoding.
    "g3_cube" -> ((s, d) => {
      events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sc"),
          grouping_id().cast("long").as("lvl"))
        .select(col("event_type"), unix_micros(col("day")).as("day_us"),
          col("n"), (col("sc").cast("long") / 100.0).as("sum_value"), col("lvl"))
        .orderBy(col("lvl"), col("event_type"), col("day_us"))
    }),

    // G5 — arbitrary GROUPING SETS, completing the reshaping family
    // (g1 ROLLUP / g2 PIVOT / g3 CUBE / g4 UNPIVOT): the set list
    // ((type, day), (day), ()) is deliberately NOT a rollup or cube
    // prefix — per-(type,day) detail, per-day totals, and the grand
    // total, with no per-type level. Same engine shape as g3: ONE
    // Expand pass replicates each row once per set (3×), then a
    // single keyed aggregation — no multi-pass union of separate
    // GROUP BYs; grouping_id matches DuckDB's GROUPING() bit-vector.
    "g5_grouping_sets" -> ((s, d) => {
      events(s, d)
        .withColumn("day", date_trunc("day", col("ts")))
        .groupingSets(
          Seq(Seq(col("event_type"), col("day")), Seq(col("day")), Seq()),
          col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          sum(cents(col("value"))).as("sc"),
          grouping_id().cast("long").as("lvl"))
        .select(col("event_type"), unix_micros(col("day")).as("day_us"),
          col("n"), (col("sc").cast("long") / 100.0).as("sum_value"), col("lvl"))
        .orderBy(col("lvl"), col("event_type"), col("day_us"))
    }),

    // A15 — ordered-stage funnel (view → click-after-view →
    // purchase-after-click): THE product-analytics query — each stage
    // is the user's earliest qualifying event strictly after the
    // previous stage's time, so stage order is enforced, not just
    // co-occurrence. Scale shape: three per-user min-aggregations and
    // two left joins, ALL keyed on user_id — one hash partitioning
    // serves the whole chain (AQE reuses it), the fact stream is
    // filtered per stage before any shuffle, and the final rollup is
    // a single-row aggregate. Conversion and lag stay exact int64
    // (ppm floor division, micros differences).
    "a15_funnel" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("t_us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("t_us")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("t_us") > col("t1"))
        .groupBy("user_id").agg(min(col("t_us")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("t_us") > col("t2"))
        .groupBy("user_id").agg(min(col("t_us")).as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_view"),
          count(col("t2")).as("n_click_after"),
          count(col("t3")).as("n_purchase_after"),
          coalesce(sum(when(col("t3").isNotNull, col("t3") - col("t1"))),
            lit(0L)).as("total_lag_us"))
        .withColumn("conv_ppm", expr("(n_purchase_after * 1000000) div n_view"))
        .select("n_view", "n_click_after", "n_purchase_after",
          "conv_ppm", "total_lag_us")
    }),

    // G4 — UNPIVOT (wide→long): the inverse of g2, melting the three
    // lineitem measure columns into (measure, value) rows. Spark plans
    // unpivot as a single Expand — a MAP-ONLY 3× row replication with
    // no shuffle and no join, so at 100 TB it streams: each task
    // rewrites its own input split and the output partitioning is the
    // scan's. The measure name comes out of the Expand literal, not a
    // lookup table. Restricted to returnflag R so the long table stays
    // the size of one fact column set.
    "g4_unpivot" -> ((s, d) => {
      lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice").cast("double").as("l_extendedprice"),
          col("l_discount").cast("double").as("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "value")
        .orderBy("l_orderkey", "l_linenumber", "measure")
    }),

    // J3/U2 — anti join: orders with no lineitem (ref main.py:9271–9288).
    "j3_anti_join" -> ((s, d) => {
      orders(s, d).join(lineitem(s, d), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // J3/U4 — semi join: customers that have an open-status order.
    "j3_semi_join" -> ((s, d) => {
      val o = orders(s, d).filter(col("o_orderstatus") === "O")
      customer(s, d).join(o, col("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // J6/A11 prelude — self cross-join of top-5 outlier events, all pairs
    // a<b with time separation (ref main.py:5226–5241).
    "j6_pair_diffs" -> ((s, d) => {
      val top = events(s, d)
        .orderBy(desc("value"), asc("event_id")).limit(5)
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"))
      val a = top.select(col("event_id").as("a_id"), col("t_us").as("a_t"))
      val b = top.select(col("event_id").as("b_id"), col("t_us").as("b_t"))
      a.crossJoin(b).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), abs(col("b_t") - col("a_t")).as("dt_us"))
        .orderBy("a_id", "b_id")
    }),

    // O3 — top-k by measure with deterministic tie-break (ref main.py:5220).
    "o3_topk" -> ((s, d) => {
      orders(s, d)
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    }),

    // O7 — deterministic subsample (ref main.py:1835–1839 random cap; here
    // a hash-free modular pick so both engines agree).
    "o7_subsample" -> ((s, d) => {
      events(s, d).filter(col("event_id") % 97 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }),

    // O8 — Z-ORDER layout audit: interleave the bits of two normalized
    // join/filter columns into a space-filling-curve key, range-bucket
    // rows into 32 "files" by it, and report per-file min/max of BOTH
    // dims — the data-skipping property (each file's bounds stay tight
    // in pk AND sk simultaneously, so range predicates on EITHER
    // column prune most files; a linear sort only bounds one). This is
    // the layout decision that turns a 100 TB scan into a partial
    // scan; at ingest the same key feeds repartitionByRange + sortBy.
    // All stats frames are plan-internal one-row aggregates (broadcast
    // crossJoin, the d9 pattern) — no job at plan construction; the
    // interleave itself is engine-neutral integer arithmetic.
    "o8_zorder_layout" -> ((s, d) => {
      def zExpr(x: String, y: String): String =
        (0 until 16).flatMap { b =>
          Seq(s"((($x div ${1L << b}) % 2) * CAST(${1L << (2 * b)} AS BIGINT))",
              s"((($y div ${1L << b}) % 2) * CAST(${1L << (2 * b + 1)} AS BIGINT))")
        }.mkString("(", " + ", ")")
      val li = lineitem(s, d).select("l_partkey", "l_suppkey")
      val st = li.agg(min(col("l_partkey")).as("pmin"), max(col("l_partkey")).as("pmax"),
        min(col("l_suppkey")).as("smin"), max(col("l_suppkey")).as("smax"))
      val z = li.crossJoin(broadcast(st))
        .withColumn("xn", expr("(l_partkey - pmin) * 65536 div (pmax - pmin + 1)"))
        .withColumn("yn", expr("(l_suppkey - smin) * 65536 div (smax - smin + 1)"))
        .withColumn("zv", expr(zExpr("xn", "yn")))
      val zs = z.agg(min(col("zv")).as("zmin"), max(col("zv")).as("zmax"))
      z.crossJoin(broadcast(zs))
        .withColumn("file_id", expr("CAST((zv - zmin) * 32 div (zmax - zmin + 1) AS BIGINT)"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"),
          min(col("l_suppkey")).as("sk_min"), max(col("l_suppkey")).as("sk_max"))
        .orderBy("file_id")
    }),

    // P3 — EXACT quantiles without a global sort: two-round histogram
    // narrowing. Round 1 bins the integerized measure into 256 equal
    // ranges (ONE map-side-combined aggregation → ≤256 rows); the
    // cumulative walk over those 256 rows locates, for each target
    // rank (p25/p50/p75, nearest-rank), the bin holding it and the
    // offset inside that bin. Round 2 re-scans with a BROADCAST
    // semi-filter to the ≤3 target bins, so the only sort the plan
    // ever runs is over ~n/256 surviving rows per target. At 100 TB
    // this is the exact-percentile shape: two scans + a tiny sort,
    // vs a cluster-wide orderBy; the 256-row cumulative window is
    // single-partition by construction, not by accident. All
    // arithmetic is exact int64 (value floor-scaled at 1e6; ranks and
    // bin edges integer div), so the oracle replays it bit-for-bit.
    "p3_exact_quantiles" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("v6"))
      val st = ev.agg(min(col("v6")).as("vmin"), max(col("v6")).as("vmax"),
        count(lit(1)).as("n"))
      val binned = ev.crossJoin(broadcast(st))
        .withColumn("bin", expr("(v6 - vmin) * 256 div (vmax - vmin + 1)"))
      val counts = binned.groupBy("bin").agg(count(lit(1)).as("c"))
      val wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
      val cum = counts.withColumn("cum", sum(col("c")).over(wcum))
        .withColumn("prev", col("cum") - col("c"))
      val targets = st.select(explode(array(
          struct(lit(25L).as("q"), expr("(n + 3) div 4").as("r")),
          struct(lit(50L).as("q"), expr("(n + 1) div 2").as("r")),
          struct(lit(75L).as("q"), expr("(3 * n + 3) div 4").as("r")))).as("t"))
        .select(col("t.q").as("q"), col("t.r").as("r"))
      val tb = targets.join(cum, col("prev") < col("r") && col("cum") >= col("r"))
        .select(col("q"), col("r"), col("bin"), (col("r") - col("prev")).as("off"))
      val wq = Window.partitionBy("q").orderBy(col("v6"), col("event_id"))
      binned.join(broadcast(tb), Seq("bin"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") === col("off"))
        .select(col("q"), col("r").as("rank_global"), col("bin"),
          col("v6").as("v_q6"), (col("v6") / 1e6).as("value"))
        .orderBy("q")
    }),

    // J10 — fuzzy similarity join at edit distance ≤1 via FastSS
    // deletion neighborhoods (the entity-resolution / typo-matching
    // join): distinct names expand to their single-deletion variants,
    // candidates come from an EQUI-join on the variant string, and a
    // position predicate makes the match exact with NO Levenshtein
    // UDF — see text.FuzzyJoin for the algebra and the 100 TB shape
    // (neighborhood table join, vocabulary-sized input, codegen string
    // slicing only). On this fixture the sequential customer names
    // yield one-digit-substitution pairs; the indel arm and the
    // "ab"/"ba" false-positive rejection are pinned by R6LateOpsSpec.
    "j10_fuzzy_ed1" -> ((s, d) => {
      graft.text.FuzzyJoin.ed1Pairs(customer(s, d), "c_name")
        .orderBy("a_name", "b_name")
    }),

    // U6 — SCD Type-2 dimension build (the u5 MERGE's historical
    // counterpart): collapse each key's event stream into versioned
    // rows with [valid_from, valid_to) ranges and a current flag.
    // Change detection (lag ≠), version numbering (row_number), and
    // range assembly (lead) all ride ONE hash partitioning on the
    // business key — Spark plans a single Exchange and the three
    // window functions share its sort, which is the whole trick to
    // SCD2 at 100 TB: one shuffle, no self-join against history.
    // Values compare in exact cents; times in exact micros.
    "u6_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), cents(col("value")).as("vc"))
      val changes = ev.withColumn("prev_vc", lag(col("vc"), 1).over(w))
        .filter(col("prev_vc").isNull || col("prev_vc") =!= col("vc"))
      changes
        .withColumn("ver", row_number().over(w).cast("long"))
        .withColumn("valid_to_us", lead(col("t_us"), 1).over(w))
        .select(col("user_id"), col("ver"), col("vc"),
          (col("vc") / 100.0).as("value"),
          col("t_us").as("valid_from_us"), col("valid_to_us"),
          when(col("valid_to_us").isNull, 1L).otherwise(0L).as("is_current"))
        .orderBy("user_id", "ver")
    }),

    // J13 — point-in-time join against the SCD2 dimension (u6 BUILDS
    // the versioned dimension; j13 USES it — the canonical lakehouse
    // temporal-enrichment join: each fact row picks the dimension
    // version valid AT ITS EVENT TIME, never the current one). Shape:
    // an EQUI-join on the business key with the validity range as a
    // residual predicate — correct and scalable because versions per
    // key are bounded (the timeline partition), so the per-key probe
    // is tiny; the versions partition each user's timeline from their
    // first event, so every purchase matches EXACTLY one version
    // (row-count preservation asserted in spec). j8b's custom as-of
    // operator is the alternative when the dimension is unversioned.
    "j13_pit_join" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("t_us"), cents(col("value")).as("vc"))
      val dim = ev.withColumn("prev_vc", lag(col("vc"), 1).over(w))
        .filter(col("prev_vc").isNull || col("prev_vc") =!= col("vc"))
        .withColumn("ver", row_number().over(w).cast("long"))
        .withColumn("valid_to_us", lead(col("t_us"), 1).over(w))
        .select(col("user_id").as("d_uid"), col("ver"),
          col("vc").as("dim_vc"), col("t_us").as("valid_from_us"),
          col("valid_to_us"))
      val facts = events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("t_us"), cents(col("value")).as("fact_vc"))
      facts.join(dim,
          col("user_id") === col("d_uid") &&
            col("t_us") >= col("valid_from_us") &&
            (col("valid_to_us").isNull || col("t_us") < col("valid_to_us")))
        .select(col("user_id"), col("event_id"), col("t_us"), col("ver"),
          col("dim_vc"), col("fact_vc"))
        .orderBy("user_id", "event_id")
    }),

    // P4 — per-GROUP exact quantiles by the same two-round histogram
    // narrowing as p3, all groups in ONE plan: per-group stats and
    // target-bin tables stay ≤|groups|-row broadcasts, the cumulative
    // walk partitions BY GROUP (so unlike p3's deliberate 256-row
    // single partition, nothing here is ever single-partition), and
    // the final sort ranks ~n_g/256 candidate rows per (group,
    // quantile). This is GROUP BY percentile_exact at 100 TB without
    // per-group sorts or a quantile UDAF.
    "p4_grouped_quantiles" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type").as("g"), col("event_id"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("v6"))
      val st = ev.groupBy("g").agg(min(col("v6")).as("vmin"),
        max(col("v6")).as("vmax"), count(lit(1)).as("n"))
      val binned = ev.join(broadcast(st), "g")
        .withColumn("bin", expr("(v6 - vmin) * 256 div (vmax - vmin + 1)"))
      val counts = binned.groupBy("g", "bin").agg(count(lit(1)).as("c"))
      val wcum = Window.partitionBy("g").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
      val cum = counts.withColumn("cum", sum(col("c")).over(wcum))
        .withColumn("prev", col("cum") - col("c"))
      val targets = st.select(col("g"), explode(array(
          struct(lit(25L).as("q"), expr("(n + 3) div 4").as("r")),
          struct(lit(50L).as("q"), expr("(n + 1) div 2").as("r")),
          struct(lit(75L).as("q"), expr("(3 * n + 3) div 4").as("r")))).as("t"))
        .select(col("g"), col("t.q").as("q"), col("t.r").as("r"))
      val tb = targets.join(cum, Seq("g"))
        .filter(col("prev") < col("r") && col("cum") >= col("r"))
        .select(col("g"), col("q"), col("r"), col("bin"),
          (col("r") - col("prev")).as("off"))
      val wq = Window.partitionBy("g", "q").orderBy(col("v6"), col("event_id"))
      binned.join(broadcast(tb), Seq("g", "bin"))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") === col("off"))
        .select(col("g"), col("q"), col("r").as("rank_in_group"),
          col("v6").as("v_q6"), (col("v6") / 1e6).as("value"))
        .orderBy("g", "q")
    }),

    // U1/U3 — union all + distinct (ref main.py:10621, 9502).
    "u1_union_distinct" -> ((s, d) => {
      val e = events(s, d)
      val hi = e.filter(col("value") > 150).select("user_id", "event_type")
      val err = e.filter(col("event_type") === "error").select("user_id", "event_type")
      hi.union(err).distinct().orderBy("user_id", "event_type")
    }),

    // W1 — successive differences per group (ref main.py:5460, 10640).
    "w1_lag_diff" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("t_us", unix_micros(col("ts")))
        .withColumn("dt_us", col("t_us") - lag(col("t_us"), 1).over(w))
        .select("user_id", "event_id", "t_us", "dt_us")
        .orderBy("user_id", "event_id")
    }),

    // W5/O4 — rank-1 selection per group (ref main.py:4981, 5752).
    "w5_argmax" -> ((s, d) => {
      val w = Window.partitionBy("event_type").orderBy(desc("value"), asc("event_id"))
      events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "event_id", "value")
        .orderBy("event_type")
    }),

    // W7 — distribution-rank window surface: rank / dense_rank /
    // ntile(4) / percent_rank / cume_dist over per-(type, day) daily
    // revenue. The ranked table is an AGGREGATE (types × days rows —
    // bounded by the calendar, not by event volume), so the per-type
    // ORDER BY window sorts a few dozen rows per partition at any
    // corpus size; the raw fact stream only ever passes through the
    // map-side-combined daily rollup. Ordering key (cents, day) is
    // unique within a type, so every rank — including the two
    // ratio-valued ones, each a single IEEE division both engines
    // compute identically — is deterministic.
    "w7_rank_surface" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("sc"))
      val w = Window.partitionBy("event_type").orderBy(desc("sc"), asc("day"))
      daily
        .withColumn("rnk", rank().over(w).cast("long"))
        .withColumn("drnk", dense_rank().over(w).cast("long"))
        .withColumn("q4", ntile(4).over(w).cast("long"))
        .withColumn("prank", percent_rank().over(w))
        .withColumn("cdist", cume_dist().over(w))
        .select(col("event_type"), unix_micros(col("day")).as("day_us"),
          (col("sc").cast("long") / 100.0).as("revenue"),
          col("rnk"), col("drnk"), col("q4"), col("prank"), col("cdist"))
        .orderBy("event_type", "day_us")
    }),

    // O6 — sorted gap report: top-20 largest inter-event gaps (main.py:6205).
    // Scalable lag: a global Window.orderBy would serialize the whole
    // table onto one partition, so successive diffs run inside coarse
    // time buckets (partitioned window) and the cross-boundary gaps come
    // from a tiny per-bucket first/last table windowed globally — the
    // only single-partition pass is over #buckets rows, not #events.
    "o6_gap_report" -> ((s, d) => {
      val bucketUs = 86400L * 1000000L * 30 // 30-day lag buckets
      val ev = events(s, d)
        .withColumn("t_us", unix_micros(col("ts")))
        // integer div, not floor(double /): exact at ANY timestamp
        // magnitude (the double form loses exactness past 2^53 µs),
        // matching the all-integer key derivations elsewhere (t16/a16)
        .withColumn("bkt", expr(s"t_us div $bucketUs"))
      val wIn = Window.partitionBy("bkt").orderBy("t_us", "event_id")
      val inner = ev
        .withColumn("gap_us", col("t_us") - lag(col("t_us"), 1).over(wIn))
        .filter(col("gap_us").isNotNull)
        .select("event_id", "gap_us")
      val edges = ev.groupBy("bkt").agg(
        min(struct(col("t_us"), col("event_id"))).as("first"),
        max(struct(col("t_us"), col("event_id"))).as("last"))
      val wB = Window.orderBy("bkt")
      val boundary = edges
        .withColumn("prev_last_t", lag(col("last.t_us"), 1).over(wB))
        .filter(col("prev_last_t").isNotNull)
        .select(col("first.event_id").as("event_id"),
          (col("first.t_us") - col("prev_last_t")).as("gap_us"))
      inner.unionAll(boundary)
        .orderBy(desc("gap_us"), asc("event_id"))
        .limit(20)
    }),

    // O9 — global stable row numbering WITHOUT a global sort: the
    // scale replacement for row_number() OVER (ORDER BY …), whose
    // single-partition window is the classic 100 TB killer (the very
    // WindowExec warning Spark prints for it). Rows are bucketed by a
    // fixed time range (30-day buckets, the o6 technique — no
    // sampling pass, and the bucket key doubles as a partition-pruning
    // key on a date-partitioned layout), ranked WITHIN their bucket by
    // a partitioned window, then shifted by the exclusive prefix sum
    // of bucket counts — a bucket-level window over ≤#buckets rows,
    // broadcast-joined back. ONE corpus-scale shuffle (by bucket); the
    // only ordered single-partition step sees bucket-count rows. idx
    // is bit-identical to the naive global row_number the oracle runs.
    "o9_global_index" -> ((s, d) => {
      val bucketUs = 86400L * 1000000L * 30
      val ev = events(s, d)
        .withColumn("t_us", unix_micros(col("ts")))
        // integer div, not floor(double /): exact at ANY timestamp
        // magnitude (the double form loses exactness past 2^53 µs),
        // matching the all-integer key derivations elsewhere (t16/a16)
        .withColumn("bkt", expr(s"t_us div $bucketUs"))
      val wIn = Window.partitionBy("bkt").orderBy("t_us", "event_id")
      val wB = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
      val offs = ev.groupBy("bkt").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(wB), lit(0L)))
        .select("bkt", "off")
      ev.withColumn("rn", row_number().over(wIn))
        .join(broadcast(offs), "bkt")
        .withColumn("idx", col("off") + col("rn"))
        .select("event_id", "t_us", "idx")
        .orderBy("idx")
    }),

    // U7 — snapshot diff / CDC derivation (u5 MERGE applies a delta;
    // u7 RECOVERS one): two snapshots of the orders table are compared
    // on the business key with ONE full-outer join, classifying every
    // key as added / removed / changed / unchanged and accounting the
    // exact cents drift — the change-data-capture a lakehouse derives
    // between table versions. The snapshots are deterministic
    // restrictions/perturbations of the fixture (old drops keys
    // ≡0 mod 97, new drops ≡0 mod 89 and bumps price by 1.00 on
    // ≡0 mod 7), so the oracle rebuilds both sides identically. Scale
    // shape: the join keys on o_orderkey — bucketable like u5, so
    // only one side shuffles on a bucketed layout; the rollup is
    // four rows.
    "u7_snapshot_diff" -> ((s, d) => {
      val base = orders(s, d).select(col("o_orderkey"),
        cents(col("o_totalprice")).as("pc"))
      val old = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"), col("pc").as("old_pc"))
      val nw = base.filter(col("o_orderkey") % 89 =!= 0)
        .select(col("o_orderkey"),
          (col("pc") + when(col("o_orderkey") % 7 === 0, 100L).otherwise(0L))
            .as("new_pc"))
      old.join(nw, Seq("o_orderkey"), "full_outer")
        .withColumn("status",
          when(col("old_pc").isNull, "added")
            .when(col("new_pc").isNull, "removed")
            .when(col("old_pc") =!= col("new_pc"), "changed")
            .otherwise("unchanged"))
        .groupBy("status")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(abs(coalesce(col("new_pc"), lit(0L)) -
            coalesce(col("old_pc"), lit(0L)))).cast("long").as("drift_cents"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy("status")
    }),

    // A17 — cross-series Pearson correlation matrix (the covariance
    // screen run across metrics before any modeling; t17's CCF is one
    // pair at many lags — this is every pair at lag 0). Daily rebin
    // first (the t16 principle: after it each series is
    // calendar-bounded), then ONE equi-join on the day key pairs the
    // rollups and five exact integer sums per (a, b) feed the
    // closed-form r — numerator and both variance factors are exact
    // int64, combined with two casts, one multiply, one sqrt, one
    // division (IEEE-identical in both engines). Scale shape: the
    // corpus-scale work is the daily aggregation; the pair join moves
    // types²-bounded rows.
    "a17_corr_matrix" -> ((s, d) => {
      val daily = events(s, d)
        .select(col("event_type"),
          expr(s"(unix_micros(ts) - ${1704067200000000L}L) div 86400000000")
            .as("day"), cents(col("value")).as("vc"))
        .groupBy("event_type", "day")
        .agg(count(lit(1)).as("n"), sum(col("vc")).cast("long").as("sv"))
        .withColumn("m", expr("(sv - ((sv % n + n) % n)) div n"))
        .select(col("event_type"), col("day"), col("m"))
      val a = daily.select(col("event_type").as("ta"), col("day"),
        col("m").as("ma"))
      val b = daily.select(col("event_type").as("tb"), col("day"),
        col("m").as("mb"))
      a.join(b, "day").filter(col("ta") <= col("tb"))
        .groupBy("ta", "tb")
        .agg(count(lit(1)).cast("long").as("nd"),
          sum(col("ma")).cast("long").as("sa"),
          sum(col("mb")).cast("long").as("sb"),
          sum(col("ma") * col("ma")).cast("long").as("saa"),
          sum(col("mb") * col("mb")).cast("long").as("sbb"),
          sum(col("ma") * col("mb")).cast("long").as("sab"))
        .withColumn("num", col("nd") * col("sab") - col("sa") * col("sb"))
        .withColumn("va", col("nd") * col("saa") - col("sa") * col("sa"))
        .withColumn("vb", col("nd") * col("sbb") - col("sb") * col("sb"))
        .withColumn("r", col("num").cast("double") /
          sqrt(col("va").cast("double") * col("vb")))
        .select("ta", "tb", "nd", "num", "va", "vb", "r")
        .orderBy("ta", "tb")
    }),

    // A16 — cohort retention matrix (a15's funnel sibling, the other
    // canonical product-analytics query): users are cohorted by
    // first-seen week, and each (cohort, age) cell counts how many of
    // the cohort were active `age` weeks later, as an exact ppm share
    // of cohort size. Scale shape: first-seen is ONE user-keyed
    // min-aggregation; the activity join is user-keyed (AQE broadcasts
    // the cohort table while it fits); the distinct and the cell
    // rollup share the (cohort, age) partitioning; cohort sizes are a
    // |cohorts|-row broadcast. No window anywhere.
    "a16_cohort_retention" -> ((s, d) => {
      val W = 7L * 86400000000L
      val ev = events(s, d).select(col("user_id"),
        expr(s"(unix_micros(ts) - ${1704067200000000L}L) div $W").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cw"))
      val sizes = cohort.groupBy("cw").agg(count(lit(1)).cast("long").as("cohort_size"))
      ev.join(cohort, "user_id")
        .select(col("cw"), (col("wk") - col("cw")).as("age"), col("user_id"))
        .distinct()
        .groupBy("cw", "age").agg(count(lit(1)).cast("long").as("active"))
        .join(broadcast(sizes), "cw")
        .withColumn("ret_ppm", expr("(active * 1000000) div cohort_size"))
        .select("cw", "age", "cohort_size", "active", "ret_ppm")
        .orderBy("cw", "age")
    }),

    // P6 — population-stability-index drift monitor (the standard
    // ML-ops check that a feature's distribution hasn't shifted
    // between a reference window and a live window): the value
    // histogram (st13's fixed 256-bin grid) is built for the first
    // and second halves of the time span, grid-COMPLETED (absent bins
    // carry the add-one smoothing mass, so both engines see the same
    // 256 terms), and PSI = Σ(p_a−p_b)·ln(p_a/p_b) with each term
    // quantized at 1e8 (the d28 technique) so the sum is order-free
    // exact. Scale shape: ONE map-side-combined aggregation to ≤256
    // cells; everything after is grid-sized.
    "p6_psi_drift" -> ((s, d) => {
      val mid = 1704067200000000L + 15L * 86400000000L
      val g = events(s, d)
        .select(cents(col("value")).as("vc"),
          (unix_micros(col("ts")) < mid).as("ha"))
        .withColumn("bin",
          least(greatest(expr("vc div 250"), lit(0L)), lit(255L)))
        .groupBy("bin").agg(
          sum(when(col("ha"), 1L).otherwise(0L)).cast("long").as("ca"),
          sum(when(!col("ha"), 1L).otherwise(0L)).cast("long").as("cb"))
      val grid = s.range(0, 256).toDF("bin")
        .join(g, Seq("bin"), "left")
        .withColumn("ca", coalesce(col("ca"), lit(0L)))
        .withColumn("cb", coalesce(col("cb"), lit(0L)))
      val tot = grid.agg(sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"))
      // guardedRoundQ: in-plan proof the 1e8-quantized term sits
      // ≥1e-5 quanta from a .5 boundary — the float chain here (two
      // inexact divisions + ln + product) carries ≤ ~3e-6 quanta of
      // worst-case cross-engine skew at |term| ≤ ~1.5e9 quanta, so
      // the margin covers it with slack and a violation raises
      // instead of silently hash-diverging on another libc
      grid.crossJoin(broadcast(tot))
        .withColumn("term6", expr(guardedRoundQ(
          "(CAST(ca + 1 AS DOUBLE) / (na + 256)" +
            " - CAST(cb + 1 AS DOUBLE) / (nb + 256))" +
            " * ln((CAST(ca + 1 AS DOUBLE) / (na + 256))" +
            " / (CAST(cb + 1 AS DOUBLE) / (nb + 256))) * 1e8", 1e-5)))
        .groupBy("na", "nb")
        .agg(count(lit(1)).cast("long").as("n_bins"),
          sum(col("term6")).cast("long").as("psi8"))
        .withColumn("psi", col("psi8").cast("double") / 1e8)
        .select("na", "nb", "n_bins", "psi8", "psi")
    }),

    // P5 — join-key skew profile: the diagnostic a planner (or an
    // engineer) runs BEFORE choosing between a plain hash join, j9's
    // salting, or b1's bucketing — a log2-bucketed count-of-counts
    // histogram of the key frequencies (how many keys occur 1×, 2–3×,
    // 4–7×, …, plus each bucket's share of the fact rows). Scale
    // shape: two map-side-combined aggregations (rows→key counts,
    // key counts→≤41 histogram rows); the only window runs over the
    // histogram itself. The log2 bucket is the shared integer CASE
    // ladder — no float log; share_ppm is an exact integer ratio.
    "p5_skew_profile" -> ((s, d) => {
      events(s, d)
        .groupBy("user_id").agg(count(lit(1)).cast("long").as("cnt"))
        .withColumn("bucket", expr(log2Ladder("cnt")))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_keys"),
          min(col("cnt")).as("min_cnt"), max(col("cnt")).as("max_cnt"),
          sum(col("cnt")).cast("long").as("rows_covered"))
        .withColumn("share_ppm",
          expr("(rows_covered * 1000000) div (sum(rows_covered) OVER ())"))
        .orderBy("bucket")
    }),

    // A12 — conditional aggregation (ref main.py:118–173 ingress/egress means).
    "a12_conditional_agg" -> ((s, d) => {
      lineitem(s, d).groupBy("l_returnflag").agg(
        count(when(col("l_discount") > 0.05, 1)).as("n_hi_disc"),
        (sum(when(col("l_discount") > 0.05, cents(col("l_extendedprice")))
          .otherwise(lit(0))).cast("long") / 100.0).as("rev_hi_disc"),
        (sum(col("l_quantity").cast("long")).cast("long")).as("sum_qty"),
        count(lit(1)).as("n"))
        .withColumn("avg_qty", col("sum_qty") / col("n"))
        .orderBy("l_returnflag")
    }),

    // A3 — exact percentile summaries, 16/50/84 (ref main.py:1558–1571).
    "a3_percentiles" -> ((s, d) => {
      lineitem(s, d).groupBy("l_returnflag").agg(
        expr("percentile(l_quantity, 0.16)").as("p16"),
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.84)").as("p84"),
        count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    }),

    // §2.8 strings — concat/substr/split/case/format (ref main.py:10424, 7557).
    "sc_strings" -> ((s, d) => {
      part(s, d)
        .withColumn("name_up", upper(col("p_name")))
        .withColumn("type_head", element_at(split(col("p_type"), " "), 1))
        .withColumn("brand_sz", concat_ws("#", col("p_brand"), col("p_size")))
        .withColumn("tag", format_string("p%04d", col("p_partkey")))
        .withColumn("name_len", length(col("p_name")))
        .select("p_partkey", "name_up", "type_head", "brand_sz", "tag", "name_len")
        .orderBy("p_partkey")
    }),

    // §2.8 JSON scalar functions over events.props, then a keyed count
    // aggregation on the extracted key (a partial aggregate and an
    // exchange hashed on k): not map-only.
    "sc_json" -> ((s, d) => {
      events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k")
    }),

    // §2.8 — ARRAY function surface: size/distinct/slice/contains/
    // intersect/sort plus a higher-order aggregate — all row-local
    // codegen (no shuffle but the output sort); each has a DuckDB
    // list-function twin so the whole collection semantics cross-check.
    "sc_arrays" -> ((s, d) => {
      documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_uniq", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("head3", concat_ws("|", slice(col("toks"), 1, 3)))
        .withColumn("has_spark", when(array_contains(col("toks"), "spark"), 1L).otherwise(0L))
        .withColumn("n_kw", size(array_intersect(array_distinct(col("toks")),
          array(lit("spark"), lit("join"), lit("table"), lit("data")))).cast("long"))
        .withColumn("tot_len", expr(
          "CAST(aggregate(toks, 0, (acc, x) -> acc + length(x)) AS BIGINT)"))
        .withColumn("first_sorted", element_at(array_sort(col("toks")), 1))
        .select("doc_id", "n_tok", "n_uniq", "head3", "has_spark",
          "n_kw", "tot_len", "first_sorted")
        .orderBy("doc_id")
    }),

    // §2.8 — REGEX function surface: extract / replace / match /
    // extract_all-count with dialect-safe patterns (character classes
    // and anchors that mean the same in Java regex and DuckDB's RE2).
    "sc_regex" -> ((s, d) => {
      part(s, d)
        .withColumn("first_word", regexp_extract(col("p_name"), "^([a-z]+)", 1))
        .withColumn("brand_num",
          regexp_extract(col("p_brand"), "([0-9]+)$", 1).cast("long"))
        .withColumn("no_vowels", regexp_replace(col("p_name"), "[aeiou]", "_"))
        .withColumn("is_color", when(col("p_name").rlike("^(red|blue|green)"), 1L)
          .otherwise(0L))
        .withColumn("n_vowels", // Spark's default group idx is 1 → needs a capture group
          size(expr("regexp_extract_all(p_name, '([aeiou])', 1)")).cast("long"))
        .select("p_partkey", "first_word", "brand_num", "no_vowels",
          "is_color", "n_vowels")
        .orderBy("p_partkey")
    }),

    // §2.8 date/time parts, then a keyed count/sum aggregation on
    // (yr, mo) (a partial aggregate and an exchange hashed on the
    // parts): not map-only.
    "sc_datetime" -> ((s, d) => {
      orders(s, d)
        .withColumn("yr", year(col("o_orderdate")))
        .withColumn("mo", month(col("o_orderdate")))
        .groupBy("yr", "mo")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("o_totalprice"))).cast("long") / 100.0).as("sum_price"))
        .orderBy("yr", "mo")
    }),

    // §2.8 math exprs (ref main.py:1329–1468 derived-feature layer): all
    // transcendentals rounded to 6 dp to absorb libm 1-ulp divergence.
    "sc_math" -> ((s, d) => {
      supplier(s, d)
        .withColumn("x", abs(col("s_acctbal")) / 10000.0 + 1e-3)
        .select(
          col("s_suppkey"),
          round6(log10(col("x"))).as("lg"),
          round6(sqrt(col("x"))).as("sq"),
          round6(pow(col("x"), 1.5)).as("pw"),
          round6(atan2(col("x"), lit(1.0))).as("at2"),
          round6(sin(col("x"))).as("sn"))
        .orderBy("s_suppkey")
    }),

    // J9 — SALTED skew join: the manual hot-key treatment for joins
    // that must shuffle (dim too large to broadcast — the 100 TB case
    // AQE's skew-split doesn't cover when the build side is hash-
    // partitioned). A synthetic 80%-hot key (skey 0) would put 80% of
    // lineitem in ONE reducer of a plain shuffle join; instead the
    // fact side carries a deterministic row-local salt in 0..15 and
    // the dim side is exploded ×16, so the shuffle key (skey, salt)
    // splits the hot key across 16 reducers. The salt never reaches
    // the output — it exists only as a partitioning refinement — so
    // the oracle is the UNSALTED join. shuffle_hash hint keeps the
    // plan the shuffle join the technique is for (broadcast would
    // hide the skew entirely at fixture scale).
    "j9_salted_join" -> ((s, d) => {
      val skew = lineitem(s, d)
        .withColumn("skey",
          when(col("l_suppkey") % 25 < 20, lit(0)).otherwise(col("l_suppkey") % 25))
        .withColumn("salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(16)))
      val dim = nation(s, d)
        .withColumn("dsalt", explode(sequence(lit(0), lit(15))))
      skew.join(dim.hint("shuffle_hash"),
          col("skey") === col("n_nationkey") && col("salt") === col("dsalt"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("long") / 100.0).as("revenue"))
        .orderBy("n_name")
    }),

    // U5 — MERGE / upsert: apply a change batch to a base table via
    // one FULL OUTER join — matched keys take the update, unmatched
    // updates insert, unmatched base rows carry forward. This is the
    // CDC/compaction primitive of a continuously-updated 100 TB table
    // (Delta/Iceberg MERGE INTO semantics, expressed relationally);
    // the join shuffles both sides by the merge key once, and at real
    // scale the base side would be bucketed by that key (b1) so only
    // the delta shuffles. Exact: prices integerized at cents on both
    // engines (round(x·1.1·100) is the same IEEE product).
    "u5_merge_upsert" -> ((s, d) => {
      val base = orders(s, d).filter(col("o_orderkey") < 10000)
        .select(col("o_orderkey").as("bk"), cents(col("o_totalprice")).as("bpc"))
      val upd = orders(s, d)
        .filter(col("o_orderkey") >= 8000 && col("o_orderkey") < 12000)
        .select(col("o_orderkey").as("uk"),
          cents(col("o_totalprice") * 1.1).as("upc"))
      base.join(upd, col("bk") === col("uk"), "full_outer")
        .select(coalesce(col("bk"), col("uk")).as("k"),
          coalesce(col("upc"), col("bpc")).as("pc"),
          when(col("bk").isNotNull && col("uk").isNotNull, "updated")
            .when(col("uk").isNotNull, "inserted").otherwise("kept").as("src"))
        .groupBy("src")
        .agg(count(lit(1)).as("n"), min(col("k")).as("min_key"),
          max(col("k")).as("max_key"),
          (sum(col("pc")).cast("long") / 100.0).as("total"))
        .orderBy("src")
    }),

    // B2 — Bloom-filter runtime pruning ahead of a semi join: the dim
    // side (urgent orders) builds a Bloom filter DISTRIBUTEDLY via
    // Catalyst's BloomFilterAggregate; a scalar subquery delivers the
    // ~KB filter to a codegen'd BloomFilterMightContain probe on the
    // fact scan — so at 100 TB the shuffle only carries fact rows that
    // might match (the InjectRuntimeFilter pattern, built explicitly).
    // No job runs at plan construction — the filter build is a
    // plan-internal subquery stage. The exact semi join behind the
    // probe removes Bloom false positives; false negatives don't
    // exist, so the result is bit-equal to the plain semi join the
    // oracle states.
    // VERSION COUPLING (accepted while Spark is pinned at 4.1.x): the
    // BloomFilterAggregate constructor and catalyst ScalarSubquery
    // wrapped around another DataFrame's analyzed plan are private,
    // unstable APIs — a Spark minor upgrade that breaks compilation
    // should point HERE; the public fallback is a collected
    // filter + might_contain literal, at the cost of a build job at
    // plan construction.
    "b2_bloom_semi_join" -> ((s, d) => {
      import org.apache.spark.sql.graftshim.{toCol, toExpr}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
      val urgent = orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloomDf = urgent.select(toCol(new BloomFilterAggregate(
        toExpr(xxhash64(col("o_orderkey"))), 8192L)
        .toAggregateExpression()).as("bf"))
      val probe = toCol(BloomFilterMightContain(
        ScalarSubquery(bloomDf.queryExecution.analyzed),
        toExpr(xxhash64(col("l_orderkey")))))
      lineitem(s, d).filter(probe)
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          (sum(cents(col("l_extendedprice"))).cast("long") / 100.0).as("gross"))
        .orderBy("l_orderkey")
    }),

    // B1 — bucketed co-located join: both sides pre-bucketed by the
    // join key into the same bucket count, so the sort-merge join
    // needs NO Exchange on either side — at 100 TB this is the
    // difference between re-shuffling every query and shuffling once
    // at ingest (the reference's CSV-stage memoization, SURVEY §4,
    // recast as a physical-layout property). The bucketed files are
    // the INGEST-ONCE artifact this operator exists to demonstrate:
    // they are written once through the fixture store, keyed on the
    // source table, so the write cost is paid once, not once per
    // session, and every session registers the published directory as
    // an external bucketed table named after it (a changed source gets
    // a new directory and so a new table). JoinScaleSpec asserts the
    // join stage is Exchange-free.
    "b1_bucketed_join" -> ((s, d) => {
      def bucketed(table: String, key: String, cols: String*): String = {
        val src = load(s, d, table).select(cols.map(col): _*)
        val ddl = src.schema.toDDL
        val dir = graft.core.Fixtures.dir(s"graft_bkt_$table",
            Seq("graft-bucketed-v3", ddl, key, "8"),
            Seq(new java.io.File(d, s"$table.parquet"))) { tmp =>
          // only saveAsTable writes a bucket spec: write through a
          // throwaway external table and drop it — its files stay
          val scratch = "graft_bkt_build_" +
            java.util.UUID.randomUUID().toString.replace("-", "")
          src.write.bucketBy(8, key).sortBy(key)
            .option("path", tmp.toString).mode("overwrite").saveAsTable(scratch)
          s.sql(s"DROP TABLE $scratch")
        }
        val name = dir.getName
        s.sql(s"""CREATE TABLE IF NOT EXISTS $name ($ddl) USING parquet
                 |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                 |LOCATION '${dir.getAbsolutePath}'""".stripMargin)
        name
      }
      val lt = bucketed("lineitem", "l_orderkey", "l_orderkey", "l_extendedprice", "l_discount")
      val ot = bucketed("orders", "o_orderkey", "o_orderkey", "o_orderpriority")
      s.table(lt).join(s.table(ot).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          (sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .cast("long") / 100.0).as("revenue"))
        .orderBy("o_orderpriority")
    })
  )

  val oracle: Map[String, String] = Map(
    "f1_quality_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity > 30
        |  AND l_extendedprice IS NOT NULL AND abs(l_extendedprice) < 1e10
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "f7_string_filter" ->
      """SELECT p_partkey, p_name, p_type, p_size FROM part
        |WHERE (p_type LIKE '%OMY' OR p_type LIKE '%SMA%')
        |  AND (p_name LIKE 'red%' OR p_size > 40)
        |ORDER BY p_partkey""".stripMargin,

    "j1_equi_join_agg" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    // GROUPING(r_name, n_name) emits the same bit vector as Spark's
    // grouping_id(); r_name/n_name are never NULL in the data, so the
    // rollup NULLs are unambiguous.
    "g1_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT)/100.0
        |    AS sum_acctbal,
        |  CAST(GROUPING(r_name, n_name) AS BIGINT) AS lvl
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY lvl, r_name, n_name""".stripMargin,

    // CUBE replay: same Expand-level encoding — GROUPING(a,b) in
    // DuckDB emits the identical bit vector as Spark's grouping_id().
    "g3_cube" ->
      """SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0
        |    AS sum_value,
        |  CAST(GROUPING(event_type, date_trunc('day', ts)) AS BIGINT) AS lvl
        |FROM events
        |GROUP BY CUBE (event_type, date_trunc('day', ts))
        |ORDER BY lvl, event_type, day_us""".stripMargin,

    "g5_grouping_sets" ->
      """SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)/100.0
        |    AS sum_value,
        |  CAST(GROUPING(event_type, date_trunc('day', ts)) AS BIGINT) AS lvl
        |FROM events
        |GROUP BY GROUPING SETS ((event_type, date_trunc('day', ts)),
        |  (date_trunc('day', ts)), ())
        |ORDER BY lvl, event_type, day_us""".stripMargin,

    // Exact-quantile replay: identical integerization, bin edges,
    // nearest-rank targets, and in-bin offset selection, as CTEs.
    "p3_exact_quantiles" ->
      """WITH ev AS (
        |  SELECT event_id, CAST(floor(value * 1000000) AS BIGINT) AS v6
        |  FROM events),
        |st AS (SELECT min(v6) AS vmin, max(v6) AS vmax, count(*) AS n FROM ev),
        |binned AS (
        |  SELECT event_id, v6,
        |    (v6 - vmin) * 256 // (vmax - vmin + 1) AS bin
        |  FROM ev, st),
        |counts AS (SELECT bin, count(*) AS c FROM binned GROUP BY 1),
        |cum AS (
        |  SELECT bin, c,
        |    sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - c AS prev
        |  FROM counts),
        |targets AS (
        |  SELECT CAST(25 AS BIGINT) AS q, (n + 3) // 4 AS r FROM st
        |  UNION ALL SELECT 50, (n + 1) // 2 FROM st
        |  UNION ALL SELECT 75, (3 * n + 3) // 4 FROM st),
        |tb AS (
        |  SELECT t.q, t.r, c.bin, t.r - c.prev AS off
        |  FROM targets t JOIN cum c ON c.prev < t.r AND c.cum >= t.r),
        |cand AS (
        |  SELECT tb.q, tb.r, tb.off, b.bin, b.v6, b.event_id,
        |    row_number() OVER (PARTITION BY tb.q ORDER BY b.v6, b.event_id)
        |      AS rn
        |  FROM binned b JOIN tb ON b.bin = tb.bin)
        |SELECT q, r AS rank_global, bin, v6 AS v_q6, v6 / 1e6 AS value
        |FROM cand WHERE rn = off ORDER BY q""".stripMargin,

    // Grouped-quantile replay: identical per-group binning, cumulative
    // walk, nearest-rank targets, and in-bin offset selection.
    "p4_grouped_quantiles" ->
      """WITH ev AS (
        |  SELECT event_type AS g, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v6
        |  FROM events),
        |st AS (SELECT g, min(v6) AS vmin, max(v6) AS vmax, count(*) AS n
        |       FROM ev GROUP BY 1),
        |binned AS (
        |  SELECT ev.g, event_id, v6,
        |    (v6 - vmin) * 256 // (vmax - vmin + 1) AS bin
        |  FROM ev JOIN st ON st.g = ev.g),
        |counts AS (SELECT g, bin, count(*) AS c FROM binned GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, bin, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY g ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) - c AS prev
        |  FROM counts),
        |targets AS (
        |  SELECT g, CAST(25 AS BIGINT) AS q, (n + 3) // 4 AS r FROM st
        |  UNION ALL SELECT g, 50, (n + 1) // 2 FROM st
        |  UNION ALL SELECT g, 75, (3 * n + 3) // 4 FROM st),
        |tb AS (
        |  SELECT t.g, t.q, t.r, c.bin, t.r - c.prev AS off
        |  FROM targets t JOIN cum c
        |    ON c.g = t.g AND c.prev < t.r AND c.cum >= t.r),
        |cand AS (
        |  SELECT tb.g, tb.q, tb.r, tb.off, b.v6, b.event_id,
        |    row_number() OVER (PARTITION BY tb.g, tb.q
        |      ORDER BY b.v6, b.event_id) AS rn
        |  FROM binned b JOIN tb ON b.g = tb.g AND b.bin = tb.bin)
        |SELECT g, q, r AS rank_in_group, v6 AS v_q6, v6 / 1e6 AS value
        |FROM cand WHERE rn = off ORDER BY g, q""".stripMargin,

    "g2_pivot" ->
      """SELECT user_id % 10 AS bucket,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'login' THEN 1 END) AS login
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    // Funnel replay: identical stage CTEs (strictly-after semantics),
    // LEFT JOIN survivorship counts, exact ppm floor division; the
    // lag sum is CAST — DuckDB sums BIGINT into HUGEINT.
    "a15_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t_us
        |  FROM events),
        |s1 AS (SELECT user_id, min(t_us) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(t_us) AS t2 FROM ev e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE event_type = 'click' AND t_us > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(t_us) AS t3 FROM ev e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE event_type = 'purchase' AND t_us > t2 GROUP BY 1)
        |SELECT count(*) AS n_view, count(t2) AS n_click_after,
        |  count(t3) AS n_purchase_after,
        |  (count(t3) * 1000000) // count(*) AS conv_ppm,
        |  CAST(coalesce(sum(t3 - t1), 0) AS BIGINT) AS total_lag_us
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |  LEFT JOIN s3 USING (user_id)""".stripMargin,

    // UNPIVOT replay as explicit UNION ALL (the ANSI-portable melt):
    // same measure labels, same R-filter, same double cast.
    "g4_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |  CAST(l_quantity AS DOUBLE) AS value
        |FROM lineitem WHERE l_returnflag = 'R'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |  CAST(l_extendedprice AS DOUBLE)
        |FROM lineitem WHERE l_returnflag = 'R'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount',
        |  CAST(l_discount AS DOUBLE)
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,

    // Identical daily rollup and window frame; (sc DESC, day) is a
    // unique ordering within a type so all five ranks are
    // deterministic; percent_rank/cume_dist are single IEEE divisions.
    "w7_rank_surface" ->
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    sum(CAST(round(value*100) AS BIGINT)) AS sc
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, epoch_us(day) AS day_us,
        |  CAST(sc AS BIGINT)/100.0 AS revenue,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS q4,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY sc DESC, day ASC)
        |ORDER BY event_type, day_us""".stripMargin,

    "j3_anti_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "j3_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |ORDER BY c_custkey""".stripMargin,

    "j6_pair_diffs" ->
      """WITH top5 AS (
        |  SELECT event_id, epoch_us(ts) AS t_us FROM events
        |  ORDER BY value DESC, event_id ASC LIMIT 5)
        |SELECT a.event_id AS a_id, b.event_id AS b_id,
        |       abs(b.t_us - a.t_us) AS dt_us
        |FROM top5 a, top5 b WHERE a.event_id < b.event_id
        |ORDER BY a_id, b_id""".stripMargin,

    "o3_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "o7_subsample" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE event_id % 97 = 0 ORDER BY event_id""".stripMargin,

    "u1_union_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM (
        |  SELECT user_id, event_type FROM events WHERE value > 150
        |  UNION ALL
        |  SELECT user_id, event_type FROM events WHERE event_type = 'error')
        |ORDER BY user_id, event_type""".stripMargin,

    "w1_lag_diff" ->
      """SELECT user_id, event_id, t_us, t_us - lag(t_us, 1) OVER w AS dt_us
        |FROM (SELECT user_id, event_id, ts, epoch_us(ts) AS t_us FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "w5_argmax" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY event_type""".stripMargin,

    "o6_gap_report" ->
      """SELECT event_id, gap_us FROM (
        |  SELECT event_id,
        |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |WHERE gap_us IS NOT NULL
        |ORDER BY gap_us DESC, event_id ASC LIMIT 20""".stripMargin,

    // The naive single-window global numbering the engine query
    // deliberately avoids — same total order (t_us, event_id).
    "o9_global_index" ->
      """SELECT event_id, epoch_us(ts) AS t_us,
        |  row_number() OVER (ORDER BY epoch_us(ts), event_id) AS idx
        |FROM events ORDER BY idx""".stripMargin,

    "u7_snapshot_diff" ->
      """WITH b AS (SELECT o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders),
        |old AS (SELECT o_orderkey, pc AS old_pc FROM b
        |  WHERE o_orderkey % 97 <> 0),
        |nw AS (SELECT o_orderkey,
        |    pc + CASE WHEN o_orderkey % 7 = 0 THEN 100 ELSE 0 END AS new_pc
        |  FROM b WHERE o_orderkey % 89 <> 0),
        |j AS (SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
        |    o.old_pc, n.new_pc
        |  FROM old o FULL OUTER JOIN nw n ON n.o_orderkey = o.o_orderkey),
        |c AS (SELECT k,
        |    CASE WHEN old_pc IS NULL THEN 'added'
        |         WHEN new_pc IS NULL THEN 'removed'
        |         WHEN old_pc <> new_pc THEN 'changed'
        |         ELSE 'unchanged' END AS status,
        |    abs(coalesce(new_pc, 0) - coalesce(old_pc, 0)) AS drift
        |  FROM j)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(drift) AS BIGINT) AS drift_cents,
        |  min(k) AS min_key
        |FROM c GROUP BY 1 ORDER BY status""".stripMargin,

    "a17_corr_matrix" ->
      """WITH daily AS (SELECT event_type,
        |    (epoch_us(ts) - 1704067200000000) // 86400000000 AS day,
        |    count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, day,
        |    (sv - ((sv % n + n) % n)) // n AS m FROM daily),
        |p AS (SELECT a.event_type AS ta, b.event_type AS tb,
        |    a.m AS ma, b.m AS mb
        |  FROM m a JOIN m b ON a.day = b.day
        |  WHERE a.event_type <= b.event_type),
        |g AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS nd,
        |    CAST(sum(ma) AS BIGINT) AS sa, CAST(sum(mb) AS BIGINT) AS sb,
        |    CAST(sum(ma * ma) AS BIGINT) AS saa,
        |    CAST(sum(mb * mb) AS BIGINT) AS sbb,
        |    CAST(sum(ma * mb) AS BIGINT) AS sab
        |  FROM p GROUP BY 1, 2)
        |SELECT ta, tb, nd,
        |  nd * sab - sa * sb AS num,
        |  nd * saa - sa * sa AS va,
        |  nd * sbb - sb * sb AS vb,
        |  CAST(nd * sab - sa * sb AS DOUBLE)
        |    / sqrt(CAST(nd * saa - sa * sa AS DOUBLE) * (nd * sbb - sb * sb))
        |    AS r
        |FROM g ORDER BY ta, tb""".stripMargin,

    "a16_cohort_retention" ->
      """WITH ev AS (SELECT user_id,
        |    (epoch_us(ts) - 1704067200000000) // 604800000000 AS wk
        |  FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cw FROM ev GROUP BY 1),
        |sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM cohort GROUP BY 1),
        |cells AS (SELECT DISTINCT c.cw, e.wk - c.cw AS age, e.user_id
        |  FROM ev e JOIN cohort c USING (user_id)),
        |act AS (SELECT cw, age, CAST(count(*) AS BIGINT) AS active
        |  FROM cells GROUP BY 1, 2)
        |SELECT a.cw, a.age, s.cohort_size, a.active,
        |  (a.active * 1000000) // s.cohort_size AS ret_ppm
        |FROM act a JOIN sizes s USING (cw)
        |ORDER BY a.cw, a.age""".stripMargin,

    "p6_psi_drift" ->
      s"""WITH ev AS (SELECT CAST(round(value * 100) AS BIGINT) AS vc,
        |    epoch_us(ts) < ${1704067200000000L + 15L * 86400000000L} AS ha
        |  FROM events),
        |h AS (SELECT least(greatest(vc // 250, 0), 255) AS bin,
        |    CAST(sum(CASE WHEN ha THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN ha THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM ev GROUP BY 1),
        |grid AS (SELECT g.bin, coalesce(h.ca, 0) AS ca, coalesce(h.cb, 0) AS cb
        |  FROM (SELECT unnest(generate_series(0, 255)) AS bin) g
        |  LEFT JOIN h ON h.bin = g.bin),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM grid),
        |t AS (SELECT na, nb,
        |    CAST(round((CAST(ca + 1 AS DOUBLE) / (na + 256)
        |      - CAST(cb + 1 AS DOUBLE) / (nb + 256))
        |      * ln((CAST(ca + 1 AS DOUBLE) / (na + 256))
        |      / (CAST(cb + 1 AS DOUBLE) / (nb + 256))) * 1e8) AS BIGINT)
        |      AS term6
        |  FROM grid, tot)
        |SELECT na, nb, CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(term6) AS BIGINT) AS psi8,
        |  CAST(sum(term6) AS DOUBLE) / 1e8 AS psi
        |FROM t GROUP BY 1, 2""".stripMargin,

    "p5_skew_profile" ->
      s"""WITH cnts AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |h AS (SELECT ${log2Ladder("cnt")} AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    min(cnt) AS min_cnt, max(cnt) AS max_cnt,
        |    CAST(sum(cnt) AS BIGINT) AS rows_covered
        |  FROM cnts GROUP BY 1)
        |SELECT bucket, n_keys, min_cnt, max_cnt, rows_covered,
        |  (rows_covered * 1000000)
        |    // CAST(sum(rows_covered) OVER () AS BIGINT) AS share_ppm
        |FROM h ORDER BY bucket""".stripMargin,

    "a12_conditional_agg" ->
      """SELECT l_returnflag, n_hi_disc, rev_hi_disc, sum_qty, n,
        |       sum_qty / CAST(n AS DOUBLE) AS avg_qty
        |FROM (
        |  SELECT l_returnflag,
        |    count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_hi_disc,
        |    CAST(sum(CASE WHEN l_discount > 0.05
        |             THEN CAST(round(l_extendedprice*100) AS BIGINT)
        |             ELSE 0 END) AS BIGINT)/100.0 AS rev_hi_disc,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |    count(*) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "a3_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.16) AS p16,
        |  quantile_cont(l_quantity, 0.5)  AS p50,
        |  quantile_cont(l_quantity, 0.84) AS p84,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "sc_strings" ->
      """SELECT p_partkey, upper(p_name) AS name_up,
        |  string_split(p_type, ' ')[1] AS type_head,
        |  p_brand || '#' || CAST(p_size AS VARCHAR) AS brand_sz,
        |  printf('p%04d', p_partkey) AS tag,
        |  length(p_name) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin,

    "sc_json" ->
      """SELECT CAST(props->>'k' AS INT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin,

    "sc_datetime" ->
      """SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT)/100.0 AS sum_price
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,

    "sc_math" ->
      """SELECT s_suppkey,
        |  round(log10(x), 6) AS lg, round(sqrt(x), 6) AS sq,
        |  round(pow(x, 1.5), 6) AS pw, round(atan2(x, 1.0), 6) AS at2,
        |  round(sin(x), 6) AS sn
        |FROM (SELECT s_suppkey, abs(s_acctbal)/10000.0 + 1e-3 AS x FROM supplier)
        |ORDER BY s_suppkey""".stripMargin,

    "j9_salted_join" ->
      """SELECT n_name, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM (SELECT *, CASE WHEN l_suppkey % 25 < 20 THEN 0
        |                     ELSE l_suppkey % 25 END AS skey FROM lineitem) f
        |JOIN nation ON skey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "u5_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS pc
        |  FROM orders WHERE o_orderkey < 10000),
        |upd AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 1.1 * 100) AS BIGINT) AS pc
        |  FROM orders WHERE o_orderkey >= 8000 AND o_orderkey < 12000),
        |merged AS (SELECT coalesce(b.k, u.k) AS k,
        |    coalesce(u.pc, b.pc) AS pc,
        |    CASE WHEN b.k IS NOT NULL AND u.k IS NOT NULL THEN 'updated'
        |         WHEN u.k IS NOT NULL THEN 'inserted' ELSE 'kept' END AS src
        |  FROM base b FULL OUTER JOIN upd u ON b.k = u.k)
        |SELECT src, count(*) AS n, min(k) AS min_key, max(k) AS max_key,
        |  CAST(sum(pc) AS BIGINT) / 100.0 AS total
        |FROM merged GROUP BY src ORDER BY src""".stripMargin,

    "sc_arrays" ->
      """SELECT doc_id,
        |  CAST(len(l) AS BIGINT) AS n_tok,
        |  CAST(len(list_distinct(l)) AS BIGINT) AS n_uniq,
        |  array_to_string(l[1:3], '|') AS head3,
        |  CASE WHEN list_contains(l, 'spark')
        |    THEN CAST(1 AS BIGINT) ELSE 0 END AS has_spark,
        |  CAST(len(list_intersect(list_distinct(l),
        |    ['spark', 'join', 'table', 'data'])) AS BIGINT) AS n_kw,
        |  CAST(list_sum(list_transform(l, x -> length(x))) AS BIGINT)
        |    AS tot_len,
        |  list_sort(l)[1] AS first_sorted
        |FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // 'g' flag: DuckDB regexp_replace is first-match-only by default
    // where Spark replaces all occurrences.
    "sc_regex" ->
      """SELECT p_partkey,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  CAST(regexp_extract(p_brand, '([0-9]+)$', 1) AS BIGINT) AS brand_num,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS no_vowels,
        |  CASE WHEN regexp_matches(p_name, '^(red|blue|green)')
        |    THEN CAST(1 AS BIGINT) ELSE 0 END AS is_color,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT)
        |    AS n_vowels
        |FROM part ORDER BY p_partkey""".stripMargin,

    // FastSS replay: identical deletion-neighborhood expansion and
    // position predicate — candidate generation and verification are
    // the same algebra, so no Levenshtein appears on either side.
    "j10_fuzzy_ed1" ->
      """WITH names AS (SELECT DISTINCT c_name AS tok FROM customer),
        |vars AS (
        |  SELECT tok, i AS pos,
        |    CASE WHEN i = 0 THEN tok
        |         ELSE substr(tok, 1, i - 1) || substr(tok, i + 1) END AS v
        |  FROM (SELECT tok, unnest(generate_series(0, length(tok))) AS i
        |        FROM names)),
        |pairs AS (
        |  SELECT DISTINCT a.tok AS a_name, b.tok AS b_name,
        |    CASE WHEN length(a.tok) = length(b.tok)
        |      THEN 'sub' ELSE 'indel' END AS kind
        |  FROM vars a JOIN vars b ON a.v = b.v AND a.tok < b.tok
        |  WHERE (length(a.tok) = length(b.tok) AND a.pos = b.pos AND a.pos > 0)
        |     OR (length(a.tok) = length(b.tok) + 1 AND a.pos > 0 AND b.pos = 0)
        |     OR (length(b.tok) = length(a.tok) + 1 AND b.pos > 0 AND a.pos = 0))
        |SELECT a_name, b_name, kind FROM pairs
        |ORDER BY a_name, b_name""".stripMargin,

    // SCD2 replay: identical change-detection (lag ≠ in exact cents),
    // version numbering, and lead()-assembled validity ranges.
    "u6_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_id, t_us, vc FROM (
        |    SELECT *, lag(vc) OVER
        |      (PARTITION BY user_id ORDER BY t_us, event_id) AS prev_vc
        |    FROM ev)
        |  WHERE prev_vc IS NULL OR prev_vc <> vc),
        |v AS (
        |  SELECT user_id, vc, t_us,
        |    CAST(row_number() OVER
        |      (PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) AS ver,
        |    lead(t_us) OVER
        |      (PARTITION BY user_id ORDER BY t_us, event_id) AS valid_to_us
        |  FROM ch)
        |SELECT user_id, ver, vc, vc / 100.0 AS value,
        |  t_us AS valid_from_us, valid_to_us,
        |  CASE WHEN valid_to_us IS NULL
        |    THEN CAST(1 AS BIGINT) ELSE 0 END AS is_current
        |FROM v ORDER BY user_id, ver""".stripMargin,

    // u6's dimension CTEs + the same range-predicate equi-join.
    "j13_pit_join" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_id, t_us, vc FROM (
        |    SELECT *, lag(vc) OVER
        |      (PARTITION BY user_id ORDER BY t_us, event_id) AS prev_vc
        |    FROM ev)
        |  WHERE prev_vc IS NULL OR prev_vc <> vc),
        |dim AS (
        |  SELECT user_id AS d_uid, vc AS dim_vc, t_us AS valid_from_us,
        |    CAST(row_number() OVER
        |      (PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) AS ver,
        |    lead(t_us) OVER
        |      (PARTITION BY user_id ORDER BY t_us, event_id) AS valid_to_us
        |  FROM ch),
        |facts AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |    CAST(round(value * 100) AS BIGINT) AS fact_vc
        |  FROM events WHERE event_type = 'purchase')
        |SELECT f.user_id, f.event_id, f.t_us, d.ver, d.dim_vc, f.fact_vc
        |FROM facts f JOIN dim d
        |  ON d.d_uid = f.user_id
        |  AND f.t_us >= d.valid_from_us
        |  AND (d.valid_to_us IS NULL OR f.t_us < d.valid_to_us)
        |ORDER BY f.user_id, f.event_id""".stripMargin,

    "o8_zorder_layout" -> {
      def zSql(x: String, y: String): String =
        (0 until 16).flatMap { b =>
          Seq(s"((($x // ${1L << b}) % 2) * CAST(${1L << (2 * b)} AS BIGINT))",
              s"((($y // ${1L << b}) % 2) * CAST(${1L << (2 * b + 1)} AS BIGINT))")
        }.mkString("(", " + ", ")")
      s"""WITH st AS (SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
        |    min(l_suppkey) AS smin, max(l_suppkey) AS smax FROM lineitem),
        |n AS (SELECT l_partkey, l_suppkey,
        |    (l_partkey - pmin) * 65536 // (pmax - pmin + 1) AS xn,
        |    (l_suppkey - smin) * 65536 // (smax - smin + 1) AS yn
        |  FROM lineitem, st),
        |z AS (SELECT l_partkey, l_suppkey, ${zSql("xn", "yn")} AS zv FROM n),
        |zs AS (SELECT min(zv) AS zmin, max(zv) AS zmax FROM z),
        |f AS (SELECT l_partkey, l_suppkey,
        |    CAST((zv - zmin) * 32 // (zmax - zmin + 1) AS BIGINT) AS file_id
        |  FROM z, zs)
        |SELECT file_id, count(*) AS n_rows,
        |  min(l_partkey) AS pk_min, max(l_partkey) AS pk_max,
        |  min(l_suppkey) AS sk_min, max(l_suppkey) AS sk_max
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "b2_bloom_semi_join" ->
      """SELECT l_orderkey, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) / 100.0 AS gross
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "b1_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
        |    AS BIGINT)) AS BIGINT) / 100.0 AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
