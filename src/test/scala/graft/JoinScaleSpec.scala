package graft

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan contracts of the two join-scale operators: these
  * queries exist to demonstrate a LAYOUT property (bucketed
  * co-location) and a PARTITIONING property (hot-key salting), so the
  * specs assert the plan shape itself, not just the result — the
  * result is already oracle-checked by the driver gate. */
class JoinScaleSpec extends SparkSpec {

  private def executed(name: String): SparkPlan = {
    val df = SparkEntry.queries(name)(spark, sf)
    // execute THIS DataFrame (not a derived .count(), which builds its
    // own QueryExecution) so df.queryExecution holds the AQE-finalized
    // plan the assertions inspect
    df.collect()
    df.queryExecution.executedPlan
  }

  test("b1: sort-merge join over bucketed tables has no Exchange on either side") {
    val plan = executed("b1_bucketed_join")
    val smjs = collectAll(plan) { case j: SortMergeJoinExec => j }
    assert(smjs.nonEmpty, s"expected a SortMergeJoin in\n$plan")
    // No shuffle anywhere BELOW the join: both inputs come straight
    // from the bucketed file scans. (The groupBy above the join may
    // shuffle; that one is legitimate.)
    val shufflesUnderJoin = smjs.flatMap(j =>
      collectAll(j.asInstanceOf[SparkPlan]) { case e: ShuffleExchangeExec => e })
    assert(shufflesUnderJoin.isEmpty,
      s"bucketed join must be Exchange-free below the join:\n$plan")
  }

  test("b2: bloom probe sits in the plan as a subquery — no job at construction") {
    // Building the DataFrame must NOT run a Spark job beyond the
    // schema-inference reads any two-table plan construction performs
    // (the filter is a plan-internal scalar subquery, not an eager
    // collect) — so compare against a plain construction's job count.
    def jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val j0 = jobs
    graft.core.Tables.lineitem(spark, sf).join(
      graft.core.Tables.orders(spark, sf),
      org.apache.spark.sql.functions.expr("l_orderkey = o_orderkey"))
    val plainDelta = jobs - j0
    val j1 = jobs
    val df = SparkEntry.queries("b2_bloom_semi_join")(spark, sf)
    val bloomDelta = jobs - j1
    assert(bloomDelta <= plainDelta,
      s"bloom construction fired extra jobs: $bloomDelta vs plain $plainDelta")
    // the codegen probe is present above the fact scan
    val plan = df.queryExecution.executedPlan
    df.collect()
    val hasProbe = collectAll(df.queryExecution.executedPlan) {
      case p if p.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain])) => p
    }
    assert(hasProbe.nonEmpty, s"expected BloomFilterMightContain in\n$plan")
  }

  test("d3, t13b and t13m start no Spark job while they are built") {
    // the first build fills the per-JVM schema memo (a schema read may
    // run a job); the second build must run nothing at all
    for (q <- Seq("d3_minhash_lsh", "t13b_mcmc_perener", "t13m_mcmc_ttv")) {
      SparkEntry.queries(q)(spark, sf)
      val jobs = jobsDuring(SparkEntry.queries(q)(spark, sf)).size
      assert(jobs === 0, s"$q ran $jobs Spark jobs while it was built")
    }
  }

  test("o8: z-order files bound BOTH dimensions tighter than the full span") {
    val out = SparkEntry.queries("o8_zorder_layout")(spark, sf).collect()
    assert(out.length === 32)
    val pkSpan = out.map(_.getLong(3)).max - out.map(_.getLong(2)).min + 1
    val skSpan = out.map(_.getLong(5)).max - out.map(_.getLong(4)).min + 1
    // mean per-file extent must be well below the global span in BOTH
    // dims — a linear sort would achieve this in one dim only
    def meanExtent(lo: Int, hi: Int) =
      out.map(r => r.getLong(hi) - r.getLong(lo) + 1).sum.toDouble / out.length
    assert(meanExtent(2, 3) <= pkSpan * 0.6, s"pk extent ${meanExtent(2, 3)} vs span $pkSpan")
    assert(meanExtent(4, 5) <= skSpan * 0.6, s"sk extent ${meanExtent(4, 5)} vs span $skSpan")
    // every row lands in exactly one file
    assert(out.map(_.getLong(1)).sum ===
      graft.core.Tables.lineitem(spark, sf).count())
  }

  test("s7: scan prunes to exactly the two matching hive partitions") {
    val df = SparkEntry.queries("s7_partition_pruning")(spark, sf)
    df.collect()
    val scans = collectAll(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a FileSourceScan")
    assert(scans.head.partitionFilters.nonEmpty, "partition filter missing")
    assert(scans.head.selectedPartitions.partitionCount === 2,
      s"expected 2 of 5 partitions, got ${scans.head.selectedPartitions.partitionCount}")
  }

  test("d15: pointer-jump rounds EXECUTE as shuffle_hash joins (r16, verdict #4)") {
    // The shuffle_hash hints live in ccLargeStar/ccSmallStar, and a
    // plan printed before execution shows only the INITIAL
    // AdaptiveSparkPlan (whose static guess is SortMergeJoin) — only
    // the AQE-finalized executed plan proves the runtime strategy. The
    // round inputs in d15 are checkpoint-truncated frames with reset
    // stats, reproduced here by checkpointReset over a generated edge
    // set; if AQE ever demotes the hinted join back to SMJ, this fails.
    import spark.implicits._
    val edges = graft.queries.TextQueries.checkpointReset(
      (1L to 2000L).map(i => (i * 7 % 4099, i % 97)).toDF("a", "b")
        .filter(org.apache.spark.sql.functions.col("a") >
          org.apache.spark.sql.functions.col("b")).distinct())
    for ((name, round) <- Seq(
        ("largeStar", graft.queries.TextQueries.ccLargeStar(edges)),
        ("smallStar", graft.queries.TextQueries.ccSmallStar(edges)))) {
      round.collect()
      val plan = round.queryExecution.executedPlan
      val shjs = collectAll(plan) { case j: ShuffledHashJoinExec => j }
      val smjs = collectAll(plan) { case j: SortMergeJoinExec => j }
      assert(shjs.nonEmpty, s"$name: expected a ShuffledHashJoin in\n$plan")
      assert(smjs.isEmpty, s"$name: AQE demoted the hinted join to SortMergeJoin:\n$plan")
    }
  }

  test("j9: shuffle join keys include the salt column") {
    val plan = executed("j9_salted_join")
    val shjs = collectAll(plan) { case j: ShuffledHashJoinExec => j }
    assert(shjs.nonEmpty, s"expected a ShuffledHashJoin in\n$plan")
    val keyNames = shjs.head.leftKeys.flatMap(_.references.map(_.name))
    assert(keyNames.exists(_.startsWith("salt")),
      s"salt must be part of the join partitioning keys, got $keyNames")
    assert(keyNames.exists(_.startsWith("skey")),
      s"skey must be part of the join partitioning keys, got $keyNames")
  }

  test("j10: variant self-join executes shuffled-hash with the exploded subtree computed once") {
    // The r16 FuzzyJoin change: the planner's default broadcast form
    // computed the exploded-variant subtree TWICE (no reuse across a
    // broadcast and a stream distribution); the shuffle_hash hint makes
    // both sides hash-partition on v so the identical subtrees collapse
    // into one Exchange + ReusedExchange. Measured 5.2-6.8 s -> 2.0-2.7 s
    // at sf0.1. If AQE ever demotes the hint (back to broadcast or SMJ)
    // or the reuse stops firing, this fails.
    val plan = executed("j10_fuzzy_ed1")
    val shjs = collectAll(plan) { case j: ShuffledHashJoinExec => j }
    assert(shjs.nonEmpty, s"expected a ShuffledHashJoin in\n$plan")
    // collectAll walks THROUGH ReusedExchangeExec nodes, so count reuse
    // markers directly on the raw tree walk instead
    def rawCollect(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(rawCollect)
    }
    val reused = rawCollect(plan).collect { case r: ReusedExchangeExec => r }
    assert(reused.nonEmpty,
      s"expected the variant subtree's Exchange to be reused (one explode, not two):\n$plan")
  }

  test("s8: ORC scan pushes the status filter and prunes to 3 columns") {
    val plan = executed("s8_orc_roundtrip")
    val scans = collectAll(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"expected a FileSourceScan over the ORC dir in\n$plan")
    val scan = scans.head
    assert(scan.relation.fileFormat.toString.toLowerCase.contains("orc"),
      s"scan is not ORC: ${scan.relation.fileFormat}")
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(o_orderstatus,F)"),
      s"status filter not pushed to the ORC reader: $pushed")
    assert(scan.output.size === 3,
      s"expected 3-column ReadSchema, got ${scan.output.map(_.name)}")
  }

  test("d24: weights broadcast; the bigram text never crosses a shuffle") {
    val plan = executed("d24_quality_lr")
    val bhjs = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhjs.nonEmpty, s"expected the weight frame as a BroadcastHashJoin in\n$plan")
    // the 100 TB contract: corpus text (the exploded bigram column) is
    // consumed map-side; only (doc_id, partial sums) reach an Exchange
    val leakers = collectAll(plan) { case e: ShuffleExchangeExec => e }
      .filter(_.child.output.exists(a => a.name == "bg" || a.name == "text"))
    assert(leakers.isEmpty,
      s"bigram/text column crosses a shuffle:\n${leakers.mkString("\n")}")
  }
}
