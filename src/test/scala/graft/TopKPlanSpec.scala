package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** d12's physical-plan contract (round-4 verdict item #1): BM25
  * retrieval's final top-k must be TakeOrderedAndProject — per-partition
  * heaps — with NO Exchange SinglePartition anywhere below it. A
  * row_number over an unpartitioned Window would sort every scored doc
  * through one partition: the 100 TB scale-killer this spec pins out. */
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
    // (what row_number over an unpartitioned Window would plan).
    // (the partial aggregate sits under WholeStageCodegen — look
    // through the exchange's input stage for it)
    def isScalarAggReduction(e: ShuffleExchangeExec): Boolean =
      collectAll(e.child) {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if h.groupingExpressions.isEmpty => h
      }.nonEmpty
    val singles = topks.flatMap(t => collectAll(t.asInstanceOf[SparkPlan]) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning == SinglePartition && !isScalarAggReduction(e) => e
    })
    assert(singles.isEmpty,
      s"no unbounded Exchange SinglePartition may feed the top-k:\n$plan")
  }
}
