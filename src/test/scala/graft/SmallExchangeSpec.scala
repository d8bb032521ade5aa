package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import graft.core.Tables

/** [[graft.core.SmallExchange]]: under AQE's one-partition target a
  * global sort's range exchange and a global aggregate's gather become
  * a one-task coalesce, which saves their jobs and keeps the output;
  * with the rule off or the bound at 1 byte the range sort stays. This
  * spec pins the range path, which the sf0.001 smoke run no longer
  * sees for most queries. */
class SmallExchangeSpec extends SparkSpec {

  private val off = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"
  private val oneByte = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1"

  /** A keyed aggregate sorted on its unique key: one hash exchange,
    * then the output sort. */
  private def perOrder: DataFrame = Tables.load(spark, sf, "lineitem")
    .groupBy("l_orderkey").agg(count(lit(1)).as("n"), sum("l_linenumber").as("s"))
    .orderBy("l_orderkey")

  /** Runs `df` and returns its rows, the number of jobs it ran, and the
    * exchanges of its AQE-final plan. */
  private def run(df: DataFrame): (Seq[Row], Int, Seq[ShuffleExchangeExec]) = {
    var rows = Seq.empty[Row]
    val jobs = jobsDuring { rows = df.collect().toSeq }.size
    (rows, jobs, collectAll(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e })
  }

  private def coalesces(df: DataFrame): Int =
    collectAll(df.queryExecution.executedPlan) { case c: CoalesceExec if c.numPartitions == 1 => c }.size

  private def isRange(e: ShuffleExchangeExec) = e.outputPartitioning.isInstanceOf[RangePartitioning]

  test("under the bound a range sort runs in place: no range exchange, 2 fewer jobs") {
    val df = perOrder
    val (rows, jobs, exchanges) = run(df)
    assert(!exchanges.exists(isRange), exchanges.mkString("\n"))
    assert(exchanges.size === 1, "the keyed exchange stays")
    assert(coalesces(df) === 1)
    val (_, rangeJobs, _) = withConf(oneByte)(run(perOrder))
    assert(jobs === rangeJobs - 2, s"$jobs jobs in place, $rangeJobs through the range sort")
    assert(rows.nonEmpty)
  }

  test("with the rule off or the bound at 1 byte the range sort stays, rows in the same order") {
    val (inPlace, _, _) = run(perOrder)
    for (kv <- Seq(off, oneByte)) withConf(kv) {
      val (rows, _, exchanges) = run(perOrder)
      assert(exchanges.count(isRange) === 1, s"$kv keeps the range exchange")
      assert(rows === inPlace, s"$kv: same rows in the same order")
    }
  }

  test("a global aggregate over one split reduces in place: no gather, 1 fewer job") {
    def total = Tables.load(spark, sf, "lineitem").agg(sum("l_quantity").as("q"), count(lit(1)).as("n"))
    val df = total
    val (rows, jobs, exchanges) = run(df)
    assert(exchanges.isEmpty, exchanges.mkString("\n"))
    assert(coalesces(df) === 1)
    val (gathered, gatherJobs, kept) = withConf(oneByte)(run(total))
    assert(kept.map(_.outputPartitioning) === Seq(SinglePartition))
    assert(jobs === gatherJobs - 1)
    assert(rows === gathered)
  }

  test("a repartitionByRange(n) read keeps its n tasks; t13b's fit stage still runs one task per key") {
    val byKey = Tables.load(spark, sf, "lineitem").repartitionByRange(8, col("l_orderkey"))
    assert(byKey.rdd.getNumPartitions === 8)
    var rows = Seq.empty[Row]
    val starts = jobsDuring {
      rows = SparkEntry.queries("t13b_mcmc_perener")(spark, sf).collect().toSeq
    }
    assert(rows.size === 8)
    val tasks = starts.flatMap(_.stageInfos.map(_.numTasks))
    assert(tasks.contains(8), s"no 8-task fit stage among stage task counts $tasks")
  }
}
