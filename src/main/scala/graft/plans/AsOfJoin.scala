package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.graftshim.ofRows

/** J8 as-of join as a WHOLE-OPERATOR extension — the §2.11(c) tier:
  * a custom `LogicalPlan` node planned by a custom `SparkStrategy`
  * into a custom `SparkPlan`, registered at session build by
  * [[GraftExtensions]] (`spark.sql.extensions=graft.plans.GraftExtensions`),
  * so every session of the context, `newSession()` children included,
  * can plan it.
  *
  * Semantics: for every left row, join the LAST right row of the same
  * part key with rightTime ≤ leftTime (inner — unmatched left rows
  * drop). This is the reference's nearest-preceding-sample lookup
  * (interp1d's left bracket, main.py:6286) and exactly DuckDB's
  * `ASOF JOIN`, which is the oracle.
  *
  * Physical shape: requiredChildDistribution co-partitions both sides
  * on the part key and requiredChildOrdering sorts each partition by
  * (part, time) — Catalyst inserts the exchanges/sorts (and reuses
  * existing ones) — then a single forward-only partition-local merge
  * emits matches with O(1) state: no window, no per-row probe, no
  * row buffered beyond the current candidate. At 100 TB both sides
  * shuffle once on the part key; the merge never re-reads.
  */
object AsOfJoin {

  /** Logical node — resolved on construction (children analyzed,
    * expressions bound by name below), so the analyzer passes it
    * through untouched. */
  case class AsOfJoinNode(left: LogicalPlan, right: LogicalPlan,
                          leftPart: Expression, leftTime: Expression,
                          rightPart: Expression, rightTime: Expression)
      extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ right.output
    override protected def withNewChildrenInternal(
        l: LogicalPlan, r: LogicalPlan): LogicalPlan = copy(left = l, right = r)
  }

  /** Planner strategy: AsOfJoinNode → AsOfJoinExec. */
  object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinNode(l, r, lp, lt, rp, rt) =>
        AsOfJoinExec(lp, lt, rp, rt, planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  /** Physical partition-local as-of merge. */
  case class AsOfJoinExec(leftPart: Expression, leftTime: Expression,
                          rightPart: Expression, rightTime: Expression,
                          left: SparkPlan, right: SparkPlan)
      extends BinaryExecNode {
    override def output: Seq[Attribute] = left.output ++ right.output

    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(Seq(leftPart)) ::
      ClusteredDistribution(Seq(rightPart)) :: Nil

    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      Seq(SortOrder(leftPart, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightPart, Ascending), SortOrder(rightTime, Ascending)))

    override def outputOrdering: Seq[SortOrder] =
      Seq(SortOrder(leftPart, Ascending), SortOrder(leftTime, Ascending))

    override protected def doExecute(): RDD[InternalRow] = {
      val lPartB = BindReferences.bindReference(leftPart, left.output)
      val lTimeB = BindReferences.bindReference(leftTime, left.output)
      val rPartB = BindReferences.bindReference(rightPart, right.output)
      val rTimeB = BindReferences.bindReference(rightTime, right.output)
      val keyOrd = TypeUtils.getInterpretedOrdering(leftPart.dataType)
      val schema = output
      left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
        val rBuf = rIt.buffered
        val project = UnsafeProjection.create(schema, schema)
        val joined = new JoinedRow
        // The current best candidate: the latest right row whose key
        // equals the key of the left rows being served. Owned copy —
        // unsafe rows from the iterator reuse memory.
        var cand: InternalRow = null
        lIt.flatMap { l =>
          val lk = lPartB.eval(l)
          val lt = lTimeB.eval(l)
          if (lk == null || lt == null) Iterator.empty
          else {
            val ltL = lt.asInstanceOf[Long]
            var advance = true
            while (advance && rBuf.hasNext) {
              val r = rBuf.head
              val rk = rPartB.eval(r)
              val c = if (rk == null) -1 else keyOrd.compare(rk, lk)
              if (c < 0) { rBuf.next() } // behind in key order: discard
              else if (c == 0 && rTimeB.eval(r).asInstanceOf[Long] <= ltL) {
                cand = r.copy(); rBuf.next()
              } else advance = false
            }
            // cand may belong to an earlier key — re-check on the copy
            if (cand != null && keyOrd.compare(rPartB.eval(cand), lk) == 0)
              Iterator.single(project(joined(l, cand)))
            else Iterator.empty
          }
        }
      }
    }

    override protected def withNewChildrenInternal(
        l: SparkPlan, r: SparkPlan): SparkPlan = copy(left = l, right = r)
  }

  /** Resolve a column name against a plan's output (Spark 4 Columns
    * carry lazy ColumnNodes, so name-based binding is the stable
    * route for a custom logical node). */
  private def res(p: LogicalPlan, name: String): Expression =
    p.output.find(_.name == name).getOrElse(
      sys.error(s"asof: column $name not in ${p.output.map(_.name)}"))

  /** DataFrame-level entry point; the session plans it through the
    * strategy that [[GraftExtensions]] injected. Requires a LongType
    * time column on both sides. */
  def asof(left: DataFrame, right: DataFrame,
           lPart: String, lTime: String,
           rPart: String, rTime: String): DataFrame = {
    val spark = left.sparkSession
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    ofRows(spark, AsOfJoinNode(lPlan, rPlan,
      res(lPlan, lPart), res(lPlan, lTime), res(rPlan, rPart), res(rPlan, rTime)))
  }
}

/** The program's session extensions, installed at session build by
  * `spark.sql.extensions=graft.plans.GraftExtensions`
  * ([[graft.core.Session.build]] and the build's forked JVM options set
  * it): the as-of strategy and the [[graft.core.SmallExchange]] AQE
  * rule. Every session of the context, `newSession()` children
  * included, gets them. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoin.AsOfJoinStrategy)
    e.injectQueryStagePrepRule(_ => graft.core.SmallExchange)
  }
}
