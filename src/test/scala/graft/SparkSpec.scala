package graft

import org.apache.spark.scheduler.SparkListenerJobStart
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites, from the same factory as
  * Bench and Verify (the forked test JVM builds it once), plus the
  * physical-plan walker every plan-shape assertion uses, and helpers
  * for session confs, temporary directories and job counts. */
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

  /** Runs `body` with the session confs `kv` set, then restores them. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs `body` on a fresh temporary directory under `java.io.tmpdir`
    * named `prefix…`, and deletes the directory afterwards. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    try body(dir.toString) finally org.apache.commons.io.FileUtils.deleteQuietly(dir): Unit
  }

  /** The Spark jobs started while `body` runs, in order
    * ([[graft.core.Exec.jobsDuring]] on the shared session). */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] =
    graft.core.Exec.jobsDuring(spark)(body)
}
