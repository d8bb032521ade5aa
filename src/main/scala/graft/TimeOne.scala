package graft

/** Single-query timing under Bench conditions (same session config and
  * warmup), for iterating on one query's plan without a full bench
  * run: `runMain graft.TimeOne <query> [reps] [sfDir]`.
  *
  * The warmup mirrors Bench's EXACTLY — tables plus the same 8-query
  * JIT pass (r15: it used to warm only tables, so the first rep of any
  * streaming query carried the ~3 s micro-batch-runtime JIT that
  * Bench's st2 warmup hoists — st9's "9.3 s first run" in the r14
  * triage was exactly this gap, not a per-query cost; with the warmup
  * aligned, rep1 is comparable to a driver-bench measurement). Set
  * SPARK_GRAFT_NOWARM=1 to skip the query warmup for quick plan
  * iteration where absolute floors don't matter. */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val spark = graft.core.Session.build()
    // Bench.warmup is THE shared definition (r16, advice #3): the
    // warmup sequence used to be a duplicated literal here and in
    // Bench — an independent edit would have silently broken rep1
    // comparability.
    Bench.warmup(spark, sfDir,
      queries = !sys.env.get("SPARK_GRAFT_NOWARM").contains("1"))
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      val n = graft.core.Exec.runCount(SparkEntry.queries(name)(spark, sfDir))
      println(f"[timeone] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
