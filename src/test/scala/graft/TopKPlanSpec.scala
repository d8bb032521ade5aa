package graft

import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}

/** d12's physical-plan contract (round-4 verdict item #1): BM25
  * retrieval's final top-k must be TakeOrderedAndProject — per-partition
  * heaps — with NO Exchange SinglePartition (nor its one-task coalesce
  * form) anywhere below it. A row_number over an unpartitioned Window
  * would sort every scored doc through one partition: the 100 TB
  * scale-killer this spec pins out. */
class TopKPlanSpec extends SparkSpec {

  test("d12: top-20 is TakeOrderedAndProject; no single-partition exchange below it") {
    val df = SparkEntry.queries("d12_bm25")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val topks = collectAll(plan) { case t: TakeOrderedAndProjectExec => t }
    assert(topks.nonEmpty, s"expected TakeOrderedAndProject in\n$plan")
    // A SinglePartition exchange fed by a PARTIAL global aggregate
    // (empty grouping keys) moves one row per upstream partition —
    // bounded at any scale; the unbounded shape this spec pins out is
    // a SinglePartition exchange carrying the scored-document stream
    // (what row_number over an unpartitioned Window would plan). A
    // one-task coalesce (graft.core.SmallExchange's form of the same
    // gather under AQE's one-partition target) counts the same.
    // (the partial aggregate sits under WholeStageCodegen — look
    // through the gather's input stage for it)
    def isScalarAggReduction(g: SparkPlan): Boolean =
      g.children.flatMap(c => collectAll(c) {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if h.groupingExpressions.isEmpty => h
      }).nonEmpty
    val singles = topks.flatMap(t => collectAll(t.asInstanceOf[SparkPlan]) {
      case g if PlanShapes.isGather(g) && !isScalarAggReduction(g) => g
    })
    assert(singles.isEmpty,
      s"no unbounded gather may feed the top-k:\n$plan")
  }
}
