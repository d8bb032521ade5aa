package graft

import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec}
import org.apache.spark.sql.functions._

/** g1/g2 contracts (round 6): the OLAP report shapes must keep their
  * one-pass plans, and the semantics must generalize past the oracle
  * fixture (which has no NULL group values and all five event types
  * present in every bucket).
  *
  * - g1 ROLLUP: ONE Expand + keyed aggregation — the fact side is
  *   scanned once for all grouping levels. Per-level re-aggregation
  *   (a union of N aggregates) would re-shuffle the fact stream N
  *   times: the shape this spec pins out.
  * - g2 PIVOT with pinned values: NO Expand, no value-discovery pass —
  *   one conditional aggregation over one scan of events.
  */
class GroupingSpec extends SparkSpec {

  test("g1: rollup is ONE Expand + one customer scan (no per-level re-aggregation)") {
    val df = SparkEntry.queries("g1_rollup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val expands = collectAll(plan) { case e: ExpandExec => e }
    assert(expands.size == 1, s"expected exactly one Expand in\n$plan")
    val custScans = collectAll(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("customer")) => s
    }
    assert(custScans.size == 1,
      s"fact side must be scanned once for all grouping levels:\n$plan")
  }

  test("g2: pinned-values pivot plans with NO Expand and one events scan") {
    val df = SparkEntry.queries("g2_pivot")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collectAll(plan) { case e: ExpandExec => e }.isEmpty,
      s"pinned pivot must not Expand:\n$plan")
    val scans = collectAll(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"one events scan, no discovery pass:\n$plan")
  }

  test("rollup grouping_id disambiguates real NULL group values from subtotal rows") {
    // The fixture's r_name/n_name are never NULL, so the oracle can't
    // exercise the ambiguity ROLLUP is famous for: a NULL cell can be
    // a genuine NULL key (lvl bit 0) or a subtotal marker (lvl bit 1).
    import spark.implicits._
    val df = Seq(("a", Some("x"), 1L), ("a", None, 2L), ("b", Some("y"), 4L))
      .toDF("g1", "g2", "v")
      .rollup($"g1", $"g2").agg(sum($"v").as("s"), grouping_id().as("lvl"))
    val rows = df.collect().map(r =>
      (r.getString(0), if (r.isNullAt(1)) null else r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    // ("a", NULL) appears twice: once as the real-NULL detail row
    // (lvl=0, s=2) and once as a's subtotal (lvl=1, s=3).
    assert(rows(("a", null, 2L, 0L)), s"real-NULL detail row missing: $rows")
    assert(rows(("a", null, 3L, 1L)), s"subtotal row missing: $rows")
    assert(rows((null, null, 7L, 3L)), s"grand total missing: $rows")
  }

  test("pivot zero-fills value columns absent from the data") {
    // The sf0.01 fixture has every event type in every bucket; a
    // filtered corpus must still yield the pinned schema with 0 counts.
    val df = graft.core.Tables.events(spark, sf)
      .filter(col("event_type") === "view")
      .withColumn("bucket", pmod(col("user_id"), lit(10)).cast("long"))
      .groupBy("bucket")
      .pivot("event_type", Seq("view", "click", "error", "purchase", "login"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("view", "click", "error", "purchase", "login"))
    assert(df.columns.toSeq ==
      Seq("bucket", "view", "click", "error", "purchase", "login"))
    val r = df.orderBy("bucket").collect()
    assert(r.nonEmpty && r.forall(row => row.getLong(2) == 0L && row.getLong(1) > 0L),
      "click column must be all-zero, view positive")
  }
}
