package graft

import java.nio.file.{Files, Paths}

/** Full (untruncated) `.explain("formatted")` dump of named queries to
  * one file per query (`<outDir>/<query>_<suffix>.txt`), so two commits'
  * physical trees can be diffed. The checked plan shapes live in the
  * test suite (`PlanShapes`, asserted by QueriesSmokeSpec).
  *
  * Run: `runMain graft.PlanDump <outDir> <suffix> [sfDir] [query ...]`
  * — no query args = every non-streaming declared query (streaming
  * queries execute their micro-batch run at construction time and
  * their batch plan is just the drained memory sink, so their state
  * contracts are asserted from progress telemetry in StreamingSpec).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.filterNot(_.matches("st\\d.*")).toSeq.sorted
    val spark = graft.core.Session.build()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] $name OK (${plan.linesIterator.size} lines)")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
