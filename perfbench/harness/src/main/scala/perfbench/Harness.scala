package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec

import scala.collection.mutable

/** The benchmark JVM. It drives the program only through
  * `graft.SparkEntry.queries(name)(session, dir)` (construct),
  * `queryExecution.executedPlan` (plan) and `graft.core.Exec.runCount`
  * (execute), plus `graft.Bench.warmup` for set-up.
  *
  * Modes:
  *  - `run`: set-up (JVM start, session, `Bench.warmup`), one untimed
  *    warm-up pass that checks every result against its reference
  *    digest, then timed passes in fresh sessions for `--seconds`;
  *  - `refs`: digest the results a `graft.Verify` dump holds;
  *  - `list`: write each workload's queries.
  *
  * Every mode writes one JSON record to `--out`; perfbench/run.py turns
  * records into metrics. */
object Harness {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (o("mode") == "list") {
      val all = graft.SparkEntry.queries.keys
      Json.write(o("out"), Workloads.names.map(w => w -> Workloads.queries(w, all)).toMap)
      return
    }
    val spark = session()
    o("mode") match {
      case "run" =>
        graft.Bench.warmup(spark, o("input"))
        new Run(spark, o, sinceJvmStart()).run()
      case "refs" =>
        val lines = scala.io.Source.fromFile(o("queries")).getLines().filter(_.nonEmpty).map { q =>
          q -> ResultDigest.of(spark.read.parquet(s"${o("dump")}/$q"))
        }.toSeq
        Json.write(o("out"), Map("digests" -> lines.toMap))
    }
    spark.stop()
  }

  /** `graft.Bench`'s session configuration. */
  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** One query execution: nanoTime stamps around the three calls. */
final case class Exe(query: String, t0: Long, t1: Long, t2: Long, t3: Long,
                     rows: Long, codegenNs: Long, error: Option[String]) {
  def wallS: Double = (t3 - t0) / 1e9
  def constructS: Double = (t1 - t0) / 1e9
}

/** A span: one interval of a layer, and the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, query: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

final class Run(spark: SparkSession, o: Map[String, String], setupS: Double) {
  private val sc = spark.sparkContext
  private val entry = graft.SparkEntry.queries
  private val input = o("input")
  private val seed = o("seed").toLong
  private val traced = o("trace") == "1"
  private val names = Workloads.queries(o("workload"), entry.keys)
  private val refs: Map[String, String] =
    scala.io.Source.fromFile(o("refs")).getLines().map(_.split("\t"))
      .collect { case Array(q, d) => q -> d }.toMap

  private val listener = new TraceListener
  private val streams = new StreamTrace
  private val spans = mutable.ArrayBuffer[Span]()
  private val failures = mutable.ArrayBuffer[Map[String, Any]]()
  private var attempted, failed = 0
  private var heapMb = 0.0
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private def fail(q: String, pass: Int, why: String): Unit = {
    failed += 1
    failures += Map("query" -> q, "pass" -> pass, "error" -> why.take(300))
  }

  /** The three calls, timed. Tags go on the driver thread only when the
    * pass is traced. */
  private def execute(s: SparkSession, q: String, pass: Int, tag: Boolean): (Exe, Option[DataFrame]) = {
    def phase(p: String): Unit = if (tag) sc.setLocalProperty(Tags.Phase, p)
    if (tag) {
      sc.setLocalProperty(Tags.Query, s"$pass/$q")
      streams.current = s"$pass/$q"
    }
    val cg0 = WholeStageCodegenExec.codeGenTime
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var df: Option[DataFrame] = None
    val res = try {
      phase("construct")
      df = Some(entry(q)(s, input))
      t1 = System.nanoTime()
      phase("plan")
      df.get.queryExecution.executedPlan
      t2 = System.nanoTime()
      phase("execute")
      Right(graft.core.Exec.runCount(df.get))
    } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val t3 = System.nanoTime()
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    if (tag) { sc.setLocalProperty(Tags.Query, null); sc.setLocalProperty(Tags.Phase, null) }
    (Exe(q, t0, t1, t2, t3, res.getOrElse(-1L), WholeStageCodegenExec.codeGenTime - cg0,
      res.left.toOption), df)
  }

  /** Release cached data after every query, outside the timed calls;
    * collect garbage once per pass and record the heap left after. */
  private def settle(s: SparkSession, gc: Boolean): Unit = {
    s.catalog.clearCache()
    if (gc) {
      // Spark's ContextCleaner frees the blocks of checkpoints and
      // broadcasts once a collection finds them unreachable; the second
      // collection reclaims what it freed.
      System.gc()
      Thread.sleep(500)
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      heapMb = math.max(heapMb, used)
    }
  }

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  private def fresh(tag: Boolean): SparkSession = {
    val s = spark.newSession()
    if (tag) s.streams.addListener(streams)
    s
  }

  /** Pass 0: untimed, traced, and every result digested and compared
    * with its reference. Builds the program's ingest-once fixtures. */
  private def warmupPass(): (Double, Map[String, Long]) = {
    sc.addSparkListener(listener)
    val s = fresh(tag = true)
    var wall = 0.0
    val rows = mutable.Map[String, Long]()
    order(0).foreach { q =>
      attempted += 1
      val (e, df) = execute(s, q, 0, tag = true)
      wall += e.wallS
      e.error match {
        case Some(err) => fail(q, 0, err)
        case None =>
          rows(q) = e.rows
          val got = try ResultDigest.of(df.get) catch { case x: Throwable => s"error: ${x.getMessage}" }
          refs.get(q) match {
            case None => fail(q, 0, "no reference digest")
            case Some(want) if want != got => fail(q, 0, s"digest $got != reference $want")
            case _ => ()
          }
      }
      settle(s, gc = false)
    }
    settle(s, gc = true)
    org.apache.spark.perfbench.BusShim.drain(sc)
    sc.removeSparkListener(listener)
    (wall, rows.toMap)
  }

  private def timedPass(pass: Int, tag: Boolean, rows: Map[String, Long]): Seq[Exe] = {
    if (tag) sc.addSparkListener(listener)
    val s = fresh(tag)
    val exes = order(pass).map { q =>
      attempted += 1
      val (e, _) = execute(s, q, pass, tag)
      e.error match {
        case Some(err) => fail(q, pass, err)
        case None if !rows.get(q).contains(e.rows) =>
          fail(q, pass, s"rows ${e.rows} != warm-up rows ${rows.get(q)}")
        case None => ()
      }
      settle(s, gc = false)
      e
    }
    settle(s, gc = true)
    if (tag) {
      org.apache.spark.perfbench.BusShim.drain(sc)
      sc.removeSparkListener(listener)
    }
    exes
  }

  /** Spans of one traced pass: pass > query > construct|plan|execute >
    * job. Jobs attach by the tags Spark copied into them. */
  private def passSpans(pass: Int, exes: Seq[Exe]): Seq[Span] = {
    val out = mutable.ArrayBuffer[Span]()
    def add(parent: Int, name: String, q: String, a: Double, b: Double): Int = {
      val id = spans.size + out.size + 1
      out += Span(id, parent, name, q, a, b)
      id
    }
    val root = add(0, "pass", "", ms(exes.head.t0), ms(exes.last.t3))
    val phaseIds = mutable.Map[(String, String), Int]()
    exes.foreach { e =>
      val qid = add(root, "query", e.query, ms(e.t0), ms(e.t3))
      phaseIds((e.query, "construct")) = add(qid, "construct", e.query, ms(e.t0), ms(e.t1))
      phaseIds((e.query, "plan")) = add(qid, "plan", e.query, ms(e.t1), ms(e.t2))
      phaseIds((e.query, "execute")) = add(qid, "execute", e.query, ms(e.t2), ms(e.t3))
    }
    val prefix = s"$pass/"
    listener.synchronized(listener.jobs.toList).filter(_.query.startsWith(prefix)).foreach { j =>
      val q = j.query.stripPrefix(prefix)
      add(phaseIds.getOrElse((q, j.phase), root), "job", q, j.startMs.toDouble, j.endMs.toDouble)
    }
    out.toSeq
  }

  /** Milliseconds of `span` that none of `children` covers. */
  private def selfMs(span: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startMs, span.startMs), math.min(c.endMs, span.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var cur: Option[(Double, Double)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case _ =>
          cur.foreach { case (ca, cb) => covered += cb - ca }
          cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => covered += cb - ca }
    span.durMs - covered
  }

  private def layers(pass: Int, exes: Seq[Exe], wallS: Double): Map[String, Double] = {
    val ps = passSpans(pass, exes)
    spans ++= ps
    val kids = ps.groupBy(_.parent)
    def self(name: String): Double =
      ps.filter(_.name == name).map(s => selfMs(s, kids.getOrElse(s.id, Nil))).sum / 1e3
    // wall time in which no job of the query was running
    val driverOnly = ps.filter(_.name == "query").map { q =>
      val jobs = kids.getOrElse(q.id, Nil).flatMap(p => kids.getOrElse(p.id, Nil))
      selfMs(q, jobs)
    }.sum / 1e3
    val prefix = s"$pass/"
    val cs = listener.synchronized(listener.counts.toList)
      .collect { case (k, c) if k.startsWith(prefix) => c }
    def sum(f: Counts => Long): Double = cs.map(f).sum.toDouble
    val bs = streams.synchronized(streams.batches.toList).filter(_.query.startsWith(prefix))
    val lastState = bs.groupBy(_.runId).values.map(_.last.stateRows.sum).sum
    val triggers = bs.map(_.triggerMs).sorted
    val taskRunS = sum(_.taskRunMs) / 1e3
    Map(
      "queries.construct_s" -> exes.map(_.constructS).sum,
      "queries.construct_self_s" -> self("construct"),
      "queries.construct_jobs" -> sum(_.constructJobs),
      "catalyst.plan_s" -> exes.map(e => (e.t2 - e.t1) / 1e9).sum,
      "catalyst.codegen_s" -> exes.map(_.codegenNs).sum / 1e9,
      "core.exec_s" -> exes.map(e => (e.t3 - e.t2) / 1e9).sum,
      "core.exec_self_s" -> self("execute"),
      "scheduler.jobs" -> sum(_.jobs),
      "scheduler.stages" -> sum(_.stages),
      "scheduler.one_task_stages" -> sum(_.oneTaskStages),
      "scheduler.tasks" -> sum(_.tasks),
      "scheduler.job_s" -> ps.filter(_.name == "job").map(_.durMs).sum / 1e3,
      "scheduler.driver_only_s" -> driverOnly,
      "executor.task_run_s" -> taskRunS,
      "executor.task_cpu_s" -> sum(_.taskCpuNs) / 1e9,
      "executor.gc_s" -> sum(_.gcMs) / 1e3,
      "executor.core_util" -> taskRunS / (wallS * Harness.Cpus),
      "executor.failed_tasks" -> sum(_.failedTasks),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.spill_bytes" -> sum(_.spill),
      "sources.input_bytes" -> sum(_.inputBytes),
      "sources.input_rows" -> sum(_.inputRows),
      "streaming.batches" -> bs.size.toDouble,
      "streaming.batch_ms_p50" -> (if (triggers.isEmpty) 0.0 else triggers(triggers.size / 2).toDouble),
      "streaming.state_commit_ms" -> bs.map(_.commitMs).sum.toDouble,
      "streaming.state_rows" -> lastState.toDouble,
      "streaming.late_dropped_rows" -> bs.map(_.droppedRows).sum.toDouble,
      "streaming.state_partitions" -> (if (bs.isEmpty) 0.0 else bs.map(_.statePartitions).max.toDouble),
      "streaming.input_rows" -> bs.map(_.inputRows).sum.toDouble,
      "streaming.events_per_s" -> {
        val drained = bs.map(_.query.stripPrefix(prefix)).toSet
        val secs = exes.filter(e => drained(e.query)).map(_.constructS).sum
        if (secs > 0) bs.map(_.inputRows).sum / secs else 0.0
      })
  }

  def run(): Unit = {
    val (warmS, rows) = warmupPass()
    val warmBatches = streams.synchronized(streams.batches.toList).filter(_.query.startsWith("0/"))
    // Traced runs trace passes 2, 3, 6, 7, … and leave 1, 4, 5, 8, …
    // untraced, so the tracing overhead is measured inside one JVM and
    // the slower first passes fall on both sides alike.
    val minPasses = if (traced) 4 else 3
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var pass = 0
    while (pass < minPasses || System.nanoTime() - start < o("seconds").toDouble * 1e9) {
      pass += 1
      val tag = traced && pass % 4 >= 2
      val exes = timedPass(pass, tag, rows)
      val wall = exes.map(_.wallS).sum
      passes += Map(
        "pass" -> pass, "traced" -> tag, "wall_s" -> wall,
        "query_s" -> exes.map(e => e.query -> e.wallS).toMap,
        "construct_s" -> exes.map(e => e.query -> e.constructS).toMap,
        "layers" -> (if (tag) layers(pass, exes, wall) else Map.empty))
    }
    val timedS = (System.nanoTime() - start) / 1e9
    if (traced) Json.writeLines(o("spans"), spans.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "query" -> s.query,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    val conf = spark.conf
    Json.write(o("out"), Map(
      "setup_s" -> setupS,
      "warmup_pass_s" -> warmS,
      "timed_s" -> timedS,
      "queries" -> names,
      "attempted" -> attempted,
      "failed" -> failed,
      "failures" -> failures.toSeq,
      "heap_mb" -> heapMb,
      "rows" -> rows,
      "passes" -> passes.toSeq,
      "config" -> Map(
        "cpus" -> Harness.Cpus,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "master" -> sc.master,
        "spark.sql.shuffle.partitions" -> conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled" -> conf.get("spark.sql.adaptive.enabled"),
        "stream_state_partitions" ->
          (if (warmBatches.isEmpty) 0 else warmBatches.map(_.statePartitions).max),
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version,
        "input" -> input,
        "seed" -> seed,
        "policy" -> Map(
          "session" -> "each timed pass runs in a fresh spark.newSession(); the warm-up pass in its own",
          "fixtures" -> "ingest-once fixtures are built by the warm-up pass under a per-run java.io.tmpdir",
          "order" -> "query order per pass is scala.util.Random(seed * 1000003 + pass).shuffle",
          "gc" -> "clearCache after every query and System.gc after every pass, outside the timed calls"))))
  }
}

/** Minimal JSON writer for the records. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), render(v) + "\n")

  def writeLines(path: String, vs: Seq[Any]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), vs.map(render).mkString("", "\n", "\n"))
}
