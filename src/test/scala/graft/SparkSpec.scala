package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, from the same factory as
  * Bench and Verify (the forked test JVM builds it once), plus the
  * physical-plan walker every plan-shape assertion uses. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.core.Session.build()

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Every node of `p` that `pf` matches, walking through AQE
    * (`AdaptiveSparkPlanExec` to its current plan; `QueryStageExec` is
    * a leaf whose finalized stage tree is reachable only through
    * `.plan`), reused exchanges (through `.child`) and subqueries. */
  def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    val here = p match {
      case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)(pf)
      case q: QueryStageExec => collectAll(q.plan)(pf)
      case r: ReusedExchangeExec => collectAll(r.child)(pf)
      case _ => p.children.flatMap(c => collectAll(c)(pf))
    }
    (pf.lift(p).toSeq ++ here) ++ p.subqueries.flatMap(s => collectAll(s)(pf))
  }
}
