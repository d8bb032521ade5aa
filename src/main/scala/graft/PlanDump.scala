package graft

import java.nio.file.{Files, Paths}

/** Full (untruncated) `.explain("formatted")` dump of named queries to
  * one file per query — the per-round plan-evidence artifact
  * (plans/rNN/<query>_{before,after}.txt). Unlike Explain/PLANS.md
  * (80-line excerpts + property greps) this writes the whole plan so a
  * reviewer can diff the exact physical tree across commits.
  *
  * Run: `runMain graft.PlanDump <outDir> <suffix> [sfDir] [query ...]`
  * — no query args = every non-streaming declared query (streaming
  * queries execute their micro-batch run at construction time and
  * their batch plan is just the drained memory sink, so plan evidence
  * for st* lives in PLANS.md's state-operator telemetry instead).
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
