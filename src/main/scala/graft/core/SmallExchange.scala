package graft.core

import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{BroadcastQueryStageExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Sorts and reduces small inputs in place: an AQE query-stage
  * preparation rule that replaces an `ENSURE_REQUIREMENTS` shuffle
  * feeding a one-partition consumer with `CoalesceExec(1, child)`.
  *
  * The consumers are a global `SortExec` (its `RangePartitioning`
  * exchange) and global aggregates and windows (their `SinglePartition`
  * exchange). A range sort costs a sampling job and a map stage before
  * its result stage; a single-partition gather costs a map stage. When
  * AQE would read the exchange's output in one partition anyway, both
  * are fixed cost, not work. `CoalesceExec(1)` reports `SinglePartition`,
  * which satisfies the consumer's distribution, so `EnsureRequirements`
  * and AQE's validation accept the plan and the sort itself stays.
  *
  * It fires only when the input would run in one task anyway, so it
  * never lowers a stage's parallelism:
  *  - every leaf of the input's stage is a materialized
  *    `ENSURE_REQUIREMENTS` shuffle stage, a materialized broadcast
  *    stage, a `LocalTableScanExec`, a one-slice `RangeExec` or a file
  *    scan with a single split (never a `REPARTITION_BY_NUM` read, such
  *    as a per-key fit's one-key-per-task fan-out, a multi-slice range,
  *    a DSv2 generator or a checkpointed RDD);
  *  - the shuffle stages it reads hold at most [[bound]] bytes together,
  *    so AQE would coalesce their read into one partition;
  *  - the input's own size, from its logical link's statistics (which
  *    AQE recomputes from runtime sizes at each re-optimization), is at
  *    most [[bound]]: a range sort's shuffle would coalesce to one
  *    partition too. A range sort over a `GenerateExec` is left alone,
  *    because statistics do not see a generator's row multiplication.
  *
  * Ties: rows with equal sort keys may come out in another order than
  * through the range exchange, since the one task reads its input
  * partitions in partition order. Outputs with a unique sort key are
  * unchanged.
  *
  * It has no knob of its own: the bound is AQE's one-partition target,
  * and `spark.sql.adaptive.coalescePartitions.enabled=false` turns it
  * off. [[graft.plans.GraftExtensions]] installs it. */
object SmallExchange extends Rule[SparkPlan] {

  /** AQE's one-partition target, in bytes: a shuffle read of at most
    * this many bytes coalesces to one partition. It is
    * `coalescePartitions.minPartitionSize` under `parallelismFirst`
    * (AQE's default), the advisory partition size otherwise. */
  def bound(conf: SQLConf): Long =
    if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
      conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    else conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  override def apply(plan: SparkPlan): SparkPlan =
    if (!conf.coalesceShufflePartitionsEnabled) plan
    else {
      val limit = bound(conf)
      plan.transformUp {
        case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS &&
            gathers(e) && oneTask(e.child, limit) =>
          CoalesceExec(1, e.child)
      }
    }

  private def gathers(e: ShuffleExchangeExec): Boolean = e.outputPartitioning match {
    case _: RangePartitioning => !e.child.exists(_.isInstanceOf[GenerateExec])
    case SinglePartition => true
    case _ => false
  }

  private def oneTask(input: SparkPlan, limit: Long): Boolean =
    input.logicalLink.exists(_.stats.sizeInBytes <= limit) && {
      val leaves = stageLeaves(input)
      leaves.forall(oneTaskLeaf) && leaves.collect {
        case s: ShuffleQueryStageExec => s.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L)
      }.sum <= limit
    }

  /** The nodes where `p`'s stage begins: query stages, exchanges not
    * yet staged, and leaves. */
  private def stageLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: QueryStageExec | _: Exchange => Seq(p)
    case _ if p.children.isEmpty => Seq(p)
    case _ => p.children.flatMap(stageLeaves)
  }

  private def oneTaskLeaf(p: SparkPlan): Boolean = p match {
    case s: ShuffleQueryStageExec =>
      s.isMaterialized && s.shuffle.shuffleOrigin == ENSURE_REQUIREMENTS
    case b: BroadcastQueryStageExec => b.isMaterialized
    case _: LocalTableScanExec => true
    case r: RangeExec => r.numSlices == 1
    // a subquery partition filter (dynamic pruning) cannot be evaluated
    // before its subquery runs, so such a scan's splits are not known yet
    case f: FileSourceScanExec =>
      !f.partitionFilters.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) &&
        f.inputRDD.getNumPartitions == 1
    case _ => false
  }
}
