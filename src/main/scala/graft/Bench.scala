package graft

import graft.core.Session

/** Benchmark main (driver contract): runs every declared query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * A warmup action first separates session/JIT startup from the
  * measured plans; queries run in name order for stable comparisons.
  */
object Bench {
  /** The shared warmup query list — ONE definition (r16, advice #3:
    * TimeOne's docstring guarantees its warmup mirrors Bench's exactly,
    * so the sequence must not be a duplicated literal that independent
    * edits could silently split). Spans the shared execution paths —
    * window exec, hash aggregation, broadcast join, the codegen vector
    * kernels, and the streaming micro-batch runtime (st2). */
  val warmupQueries: Seq[String] =
    Seq("t1_fold", "a12_conditional_agg", "j1_equi_join_agg", "w1_lag_diff",
        "d1_exact_dedup", "e2_lsh_ann", "d4_simhash", "st2_stream_tumbling")

  /** Table touch + JIT warmup, shared by Bench and TimeOne. */
  def warmup(spark: org.apache.spark.sql.SparkSession, sfDir: String,
             queries: Boolean = true): Unit = {
    Seq("lineitem", "orders", "customer", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    graft.core.Tables.events(spark, sfDir).count()
    if (queries) warmupQueries.foreach { q =>
      try graft.core.Exec.runCount(SparkEntry.queries(q)(spark, sfDir))
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()

    // warmup (untimed): touch every table once so file listing warms
    // (events via the loader — its ns timestamps need normalizing),
    // then run the shared warmupQueries so the JIT compiles the
    // common generated-code infrastructure (incl. the streaming
    // micro-batch runtime via st2 — ~3 s of fixed cost that would
    // otherwise land inside whichever st* query runs first) once
    // instead of inside every measured single-shot query.
    warmup(spark, sfDir)

    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { graft.core.Exec.runCount(fn(spark, sfDir)); true }
               catch { case _: Throwable => false }
      val sec = (System.nanoTime() - t0) / 1e9
      // Release per-query persisted intermediates so one query's cache
      // doesn't squeeze the next query's execution memory, and collect
      // eagerly OUTSIDE the timed section — otherwise the previous
      // queries' garbage surfaces as a full-GC pause inside a random
      // later query's measurement.
      spark.catalog.clearCache()
      System.gc()
      (name, sec, ok)
    }
    // Locale.ROOT: f"" uses the JVM default locale, and a comma-decimal
    // locale (de_DE) would make the line invalid JSON.
    def d2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    def qmap(rs: Seq[(String, Double, Boolean)]): String =
      rs.map { case (k, v, _) => "\"" + k + "\":" + d2(v) }.mkString("{", ",", "}")
    // A failed query must not masquerade as a fast success: list
    // failures explicitly so the JSON is self-describing.
    val errs = results.filterNot(_._3).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum

    // In-session triage (r16, verdict #5): a single driver run carries
    // ±15–40 % JIT/box noise per query, so any entry exceeding 2× its
    // BASELINE_FLOORS.json floor is re-run 3× HERE (same session, same
    // warm JIT — the TimeOne protocol) and judged on the median. The
    // floors file is regenerated by tools/baseline_head.py at round
    // close; if absent, triage is skipped and the block records why.
    val floorsPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_FLOORS", "BASELINE_FLOORS.json"))
    val floors: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(floorsPath))
        """"([^"]+)"\s*:\s*([0-9][0-9.eE+-]*)""".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case _: Throwable => Map.empty }
    val suspects = results
      .filter { case (n, sec, ok) => ok && floors.get(n).exists(f => sec > 2 * f) }
      .sortBy(-_._2)
    val (triaged, skipped) = suspects.splitAt(15) // bound the re-run budget
    val triage = triaged.map { case (name, driverSec, _) =>
      val reps = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        try graft.core.Exec.runCount(SparkEntry.queries(name)(spark, sfDir))
        catch { case _: Throwable => () }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache(); System.gc()
        sec
      }
      val median = reps.sorted.apply(1)
      val verdict = if (median > 2 * floors(name)) "regression" else "noise"
      (name, driverSec, floors(name), reps, median, verdict)
    }
    val triageJson =
      if (floors.isEmpty) "\"no floors file\""
      else triage.map { case (n, run, fl, reps, med, v) =>
        s""""$n":{"run":${d2(run)},"floor":${d2(fl)},"reps":[${reps.map(d2).mkString(",")}],"median":${d2(med)},"verdict":"$v"}"""
      }.mkString("{", ",", "}")
    val regressions = triage.filter(_._6 == "regression").map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val triageSkipped = skipped.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // The full 196-query map is ~4.3 KB — past the driver's bounded
    // tail-capture of sbt stdout (BENCH_r0{3,4,5} all recorded
    // "parsed": null from a line clipped mid-JSON). The STDOUT line
    // therefore carries only the slowest queries (the ones a perf
    // reader acts on), capped so the line stays well under the ~2.5 KB
    // tail window; the COMPLETE per-query map goes to BENCH_SELF.json.
    val top = results.sortBy(-_._2).take(20).sortBy(_._1)
    // the engine configuration this run used: without it a reader of
    // the line cannot tell a local[4] run from a local[32] one
    val conf = s""""cpus":${Session.cpus},"shuffle_partitions":${Session.shufflePartitions},""" +
      s""""stream_parts":${Session.streamParts},"stream_sink":"${Session.streamSink}""""
    val line = s"""{"metric":"total","value":${d2(total)},"unit":"sec","queries":${qmap(top)},"n_queries":${results.size},"errors":$errs,"triage_n":${triage.size},"triage_regressions":$regressions,"sf":"$sfDir",$conf,"full":"BENCH_SELF.json"}"""
    println(line)
    val full = s"""{"metric":"total","value":${d2(total)},"unit":"sec","queries":${qmap(results)},"errors":$errs,"triage":$triageJson,"triage_regressions":$regressions,"triage_skipped":$triageSkipped,"sf":"$sfDir",$conf}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_SELF.json"), full + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
