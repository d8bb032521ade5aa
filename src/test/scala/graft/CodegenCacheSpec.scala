package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code is compiled once per JVM, not once per session: a
  * declared query run again in a fresh session finds every class it
  * needs in Spark's code cache. */
class CodegenCacheSpec extends SparkSpec {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a query run again in a fresh newSession() compiles no class") {
    val q = SparkEntry.queries("j1_equi_join_agg")
    val before = compiles
    val rows = graft.core.Exec.runCount(q(spark.newSession(), sf))
    assert(compiles > before, "the first run compiled nothing: the check would be vacuous")
    val warm = compiles
    assert(graft.core.Exec.runCount(q(spark.newSession(), sf)) === rows)
    assert(compiles === warm, s"${compiles - warm} classes compiled again in the fresh session")
  }
}
