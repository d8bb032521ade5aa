package graft

import graft.core.Session
import org.apache.spark.sql.internal.SQLConf

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line ([[line]]) with the total
  * and the slowest queries' seconds, and writes every query's seconds
  * to BENCH_SELF.json ([[record]]). A warmup action first separates
  * session/JIT startup from the measured plans; queries run in name
  * order for stable comparisons. Bench measures and reports; commits
  * are compared with `perfbench` same-box alternating pairs.
  */
object Bench {
  /** The warmup query list, ONE definition for Bench, TimeOne and
    * perfbench so their first measured rep stays comparable. Spans the
    * shared execution paths — window exec, hash aggregation, broadcast
    * join, the codegen vector kernels, and the streaming micro-batch
    * runtime (st2: ~3 s of fixed JIT cost that would otherwise land
    * inside whichever st* query runs first). */
  val warmupQueries: Seq[String] =
    Seq("t1_fold", "a12_conditional_agg", "j1_equi_join_agg", "w1_lag_diff",
        "d1_exact_dedup", "e2_lsh_ann", "d4_simhash", "st2_stream_tumbling")

  /** Untimed warmup: touch six tables once through the loaders, so file
    * listing warms and [[graft.core.Tables.schemaOf]]'s memo holds their
    * schemas, then run [[warmupQueries]] so the JIT compiles the common
    * generated-code infrastructure once instead of inside every measured
    * query. A failing warmup query is reported on stderr and skipped. */
  def warmup(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    Seq("lineitem", "orders", "customer", "documents", "embeddings")
      .foreach(t => graft.core.Tables.load(spark, sfDir, t).count())
    graft.core.Tables.events(spark, sfDir).count()
    warmupQueries.foreach { q =>
      try graft.core.Exec.runCount(SparkEntry.queries(q)(spark, sfDir))
      catch { case e: Throwable => System.err.println(s"[warmup] $q failed: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
  }

  /** One timed query: name, seconds, whether it succeeded. */
  type Result = (String, Double, Boolean)

  // Locale.ROOT: f"" uses the JVM default locale, and a comma-decimal
  // locale (de_DE) would make the line invalid JSON.
  private def d2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
  private def qmap(rs: Seq[Result]): String =
    rs.map { case (k, v, _) => "\"" + k + "\":" + d2(v) }.mkString("{", ",", "}")
  // A failed query must not masquerade as a fast success: list
  // failures explicitly so the JSON is self-describing.
  private def errs(rs: Seq[Result]): String =
    rs.filterNot(_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
  // the engine configuration this run used: without it a reader of
  // the line cannot tell a local[4] run from a local[32] one. The
  // small-exchange bound is the active session's (Spark's defaults
  // when none is active).
  private def conf: String =
    s""""cpus":${Session.cpus},"shuffle_partitions":${Session.shufflePartitions},""" +
      s""""stream_parts":${Session.streamParts},"stream_sink":"${Session.streamSink}",""" +
      s""""small_exchange_bytes":${graft.core.SmallExchange.bound(SQLConf.get)}"""

  /** The stdout line. It is tail-parsed from sbt stdout in a ~2.5 KB
    * window and the full 196-query map is ~4.3 KB, so the line carries
    * only the 20 slowest queries (the ones a perf reader acts on);
    * `value` is still the total over every query. */
  def line(results: Seq[Result], sfDir: String): String = {
    val top = results.sortBy(-_._2).take(20).sortBy(_._1)
    s"""{"metric":"total","value":${d2(results.map(_._2).sum)},"unit":"sec","queries":${qmap(top)},"n_queries":${results.size},"errors":${errs(results)},"sf":"$sfDir",$conf,"full":"BENCH_SELF.json"}"""
  }

  /** The BENCH_SELF.json record: every query's seconds. */
  def record(results: Seq[Result], sfDir: String): String =
    s"""{"metric":"total","value":${d2(results.map(_._2).sum)},"unit":"sec","queries":${qmap(results)},"errors":${errs(results)},"sf":"$sfDir",$conf}"""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    warmup(spark, sfDir)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { graft.core.Exec.runCount(fn(spark, sfDir)); true }
               catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      // Release per-query persisted intermediates so one query's cache
      // doesn't squeeze the next one's execution memory, and collect
      // OUTSIDE the timed section so earlier queries' garbage does not
      // surface as a full-GC pause inside a later query's measurement.
      spark.catalog.clearCache()
      System.gc()
      (name, sec, ok)
    }
    println(line(results, sfDir))
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SELF.json"), record(results, sfDir) + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
