package graft.core

import org.apache.spark.sql.DataFrame

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
  */
object Exec {
  def runCount(df: DataFrame): Long = df.queryExecution.toRdd.count()
}
