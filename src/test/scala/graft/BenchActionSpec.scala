package graft


/** Pins WHY the benchmark action is `Exec.runCount` and not `count()`
  * (r15 finding, core/Exec.scala): Catalyst prunes
  * cardinality-preserving operators below a count aggregate, so a
  * count-timed benchmark measures a scan-count for window/projection
  * queries. This spec (1) demonstrates the hazard structurally —
  * t3's count-optimized plan contains NO Window while the query's own
  * plan does; (2) asserts the faithful action keeps the work — the
  * physical plan Exec.runCount executes retains the WindowExec; and
  * (3) sanity-checks that runCount returns the same row count. If (1)
  * ever fails, Catalyst stopped pruning and count() became safe; if
  * (2) fails, the benchmark went hollow again. */
class BenchActionSpec extends SparkSpec {

  test("count() prunes the window; Exec.runCount executes it") {
    val df = SparkEntry.queries("t3_detrend_median")(spark, sf)
    def hasWindow(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect { case n if n.nodeName.startsWith("Window") => n }.nonEmpty
    assert(hasWindow(df.queryExecution.optimizedPlan),
      "t3's own plan must contain the rolling-median Window")
    assert(!hasWindow(df.groupBy().count().queryExecution.optimizedPlan),
      "the count() plan keeping the Window would mean the hazard is gone " +
        "(and count() timing became faithful) — update Exec.scala's rationale")
    // the executed plan behind runCount retains the window work
    val phys = df.queryExecution.executedPlan
    val physHasWindow = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }.nonEmpty ||
      phys.toString.contains("Window")
    assert(physHasWindow, "runCount's physical plan must retain the WindowExec")
    assert(graft.core.Exec.runCount(df) === df.count())
  }
}
