package graft

/** Single-query timing under Bench conditions (same session config and
  * the same [[Bench.warmup]]), for iterating on one query's plan without
  * a full bench run: `runMain graft.TimeOne <query> [reps] [sfDir]`.
  *
  * Because the warmup is Bench's — tables plus the same JIT query pass,
  * including st2's streaming micro-batch runtime — rep1 carries no
  * one-off JIT cost that Bench hoists, so every rep is comparable to
  * that query's Bench entry on the same box. Reps of one query in one
  * session are a spread, not a comparison between commits: that is
  * what `perfbench` alternating pairs are for. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.build()
    Bench.warmup(spark, sfDir)
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = graft.core.Exec.runCount(SparkEntry.queries(name)(spark, sfDir))
      println(f"[timeone] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
