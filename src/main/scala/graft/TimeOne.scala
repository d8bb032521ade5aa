package graft

import graft.core.Exec

/** Single-query timing under Bench conditions (same session config and
  * the same [[Bench.warmup]]), for iterating on one query's plan without
  * a full bench run: `runMain graft.TimeOne <query> [reps] [sfDir]`.
  *
  * Each rep prints its total seconds and row count, then the layer
  * split: the seconds and Spark jobs of construction (what
  * `SparkEntry.queries(name)(spark, sfDir)` runs before it returns) and
  * of execution (`Exec.runCount` on the returned frame), with the jobs
  * counted by [[Exec.jobsDuring]].
  *
  * The warmup is Bench's — tables plus the same JIT query pass,
  * including st2's streaming micro-batch runtime — so rep1 pays what
  * that query's Bench entry pays: the query's own first run (its code
  * paths' JIT, and per-session caches such as d15/d23's similarity
  * graph). On a 4-core box rep1 measured 1.3–2× the later reps for d3,
  * d15, e5 and t13b at sf0.1, so compare commits on the later reps.
  * Reps of one query in one session are a spread, not a comparison
  * between commits: that is what `perfbench` alternating pairs (or
  * alternating TimeOne JVMs) are for. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.build()
    Bench.warmup(spark, sfDir)
    /** Seconds of `body` and the jobs it started. */
    def layer(body: => Unit): (Double, Int) = {
      var secs = 0.0
      val jobs = Exec.jobsDuring(spark) {
        val t0 = System.nanoTime(); body; secs = (System.nanoTime() - t0) / 1e9
      }
      (secs, jobs.size)
    }
    (1 to reps).foreach { i =>
      var df: org.apache.spark.sql.DataFrame = null
      var n = 0L
      val (cs, cj) = layer { df = SparkEntry.queries(name)(spark, sfDir) }
      val (es, ej) = layer { n = Exec.runCount(df) }
      println(f"[timeone] $name rep$i: ${cs + es}%.2f s ($n rows); " +
        f"construct $cs%.3f s $cj jobs, execute $es%.3f s $ej jobs")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
