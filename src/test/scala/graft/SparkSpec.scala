package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** The Spark jobs started while `body` runs, in order (each event
    * lists its stages and their task counts). Listener events arrive
    * asynchronously but in order, so `body` is bracketed by two marker
    * jobs and the events are taken once the closing marker is seen. */
  def jobsDuring(body: => Unit): Seq[SparkListenerJobStart] = {
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkListenerJobStart)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties).map(_.getProperty("spark.job.description"))
          .flatMap(Option(_)).getOrElse("") -> e)
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def seen = starts.toArray(Array.empty[(String, SparkListenerJobStart)]).toSeq
    sc.addSparkListener(listener)
    try {
      marker("spark-spec-open"); body; marker("spark-spec-close")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.exists(_._1 == "spark-spec-close") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val all = seen
      val names = all.map(_._1)
      assert(names.contains("spark-spec-close"), "closing marker job never seen")
      all.slice(names.indexOf("spark-spec-open") + 1, names.indexOf("spark-spec-close")).map(_._2)
    } finally sc.removeSparkListener(listener)
  }
}
