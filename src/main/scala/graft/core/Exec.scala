package graft.core

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark/timing ACTION for declared queries (r15).
  *
  * `df.count()` is NOT a faithful benchmark action: Catalyst prunes
  * cardinality-preserving operators (Project, Sort, Window — and
  * transitively whole join/aggregate chains that only feed them)
  * below the count aggregate, so timing `query.count()` measures a
  * scan-count for any query whose heavy work is windows/projections.
  * Measured r15 (count vs executed plan over all 196 declared queries): every
  * query loses its final Sort, ~30 lose WindowExecs, and a handful
  * lose their entire computation — d23_pagerank's 9-join iteration
  * chain, a15_funnel's 5 joins + 5 aggregates — because the output is
  * row-preserving over an input whose cardinality a scan already
  * knows. t3_detrend_median "ran" 100 M rows in 0.82 s that way; the
  * real window pass takes ~50 s.
  *
  * `queryExecution.toRdd.count()` executes the COMPILED physical plan
  * (AQE included) exactly as a sink would consume it — every window,
  * join, and the final sort — without collecting rows to the driver
  * and without giving the optimizer a count() to prune against.
  * Correctness dumps (Verify) always materialized via parquet writes
  * and are unaffected; kernel paths (flatMapGroups) were never
  * prunable. The row count returned is identical to df.count().
  *
  * [[jobsDuring]] lists the Spark jobs a block starts: TimeOne's
  * construct/execute split and the specs' job counts use it.
  */
object Exec {
  def runCount(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** The Spark jobs started while `body` runs, in order (each event
    * lists its stages and their task counts). Listener events arrive
    * asynchronously but in order, so `body` is bracketed by two marker
    * jobs and the events are taken once the closing marker is seen. */
  def jobsDuring(spark: SparkSession)(body: => Unit): Seq[SparkListenerJobStart] = {
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
      marker("graft-jobs-open"); body; marker("graft-jobs-close")
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.exists(_._1 == "graft-jobs-close") && System.nanoTime() < deadline)
        Thread.sleep(20)
      val all = seen
      val names = all.map(_._1)
      if (!names.contains("graft-jobs-close"))
        throw new IllegalStateException("closing marker job never seen")
      all.slice(names.indexOf("graft-jobs-open") + 1, names.indexOf("graft-jobs-close")).map(_._2)
    } finally sc.removeSparkListener(listener)
  }
}
