package graft.core

import org.apache.spark.sql.SparkSession

/** The one Spark session factory: Bench, TimeOne, Verify, PlanDump
  * and the test suites all run on this configuration, so timings,
  * oracle dumps, plan evidence and tests share one engine.
  *
  * `SPARK_GRAFT_CPUS` (default 4) sets `local[cpus]`: single-shot
  * timings at sf0.1 are dominated by per-plan fixed cost, so a small
  * local parallelism wins there (measured: 4 threads ≈ 51 s, 32
  * threads ≈ 65 s for the same 66 queries); 32-core bench runs set
  * `SPARK_GRAFT_CPUS=32`. `SPARK_GRAFT_PARTS` (default `cpus`) sets
  * the shuffle partitions — ×1000-corpus runs scale it past the core
  * count so per-task hash state fits executor memory. nanosAsLong lets
  * pre-r6 TIMESTAMP(NANOS) fixtures load (see [[Tables.events]]).
  * AQE runs with [[SmallExchange]], whose size bound is AQE's own
  * one-partition target.
  *
  * Artifact isolation is off (`spark.sql.artifact.isolation.enabled`,
  * also set in the build's forked JVM options): no code path adds a
  * jar, file or class artifact to a session, so every session — each
  * `newSession()` child, each stream's child session — runs its tasks
  * on the one default class loader. Spark's generated-code cache is
  * keyed on the class loader, so a code body is compiled once per JVM
  * instead of once per session; with isolation on, every task of a new
  * session compiles its classes again, and each class-name miss of
  * that compile asks the driver's class server and scans the jars. */
object Session {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  val shufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_PARTS").map(_.toInt).getOrElse(cpus)
  /** State-store partitions of the stream harness's child session
    * ([[graft.streaming.StreamOps.streamSession]]):
    * `SPARK_GRAFT_STREAM_PARTS`, the sizing knob a deployment sets per
    * stream (r10 rule: ∝ per-batch row volume; the ×1000 dumps set 64,
    * the ×1000 st7 replay 256).
    * Default 2 = the gate-fixture optimum by the same volume rule (r17
    * probe: per-batch state here is a few thousand rows, and each state
    * store pays a per-batch commit — delta file + maintenance —
    * regardless of data, so st7 measured 2.33/2.49/2.85/4.47 s at
    * 2/4/8/16 stores). Volume sizing, the opposite direction of
    * matching the local core count. */
  val streamParts: Int = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "2").toInt
  /** Sink of the append-mode streams ([[graft.streaming.StreamOps.drain]]):
    * "memory" by default, "file" when `SPARK_GRAFT_STREAM_SINK=file`
    * (the executor-side parquet sink the ×1000 runs need — the memory
    * sink returns every output row through the driver). */
  val streamSink: String = parseStreamSink(sys.env.get("SPARK_GRAFT_STREAM_SINK"))

  /** The sink a `SPARK_GRAFT_STREAM_SINK` value names: unset or
    * "memory" → "memory", "file" → "file". Any other value throws: a
    * misspelt "file" falling back to the memory sink would only show
    * deep into a large run, at the memory sink's driver-result limit. */
  def parseStreamSink(value: Option[String]): String = value match {
    case None | Some("memory") => "memory"
    case Some("file") => "file"
    case Some(other) => throw new IllegalArgumentException(
      s"SPARK_GRAFT_STREAM_SINK=$other: expected memory or file (or unset)")
  }

  /** The session extensions provider, [[graft.plans.GraftExtensions]]. */
  val extensions: String = classOf[graft.plans.GraftExtensions].getName

  /** Builds (or returns the running) session and writes the
    * size-dependent settings it runs with to stderr. The extensions
    * setting replaces the one the build's forked JVM options give (the
    * same provider), so the provider is applied once. */
  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", extensions)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(s"graft session: cpus=$cpus shuffle_partitions=$shufflePartitions " +
      s"stream_parts=$streamParts stream_sink=$streamSink " +
      s"small_exchange_bytes=${SmallExchange.bound(spark.sessionState.conf)}")
    spark
  }
}
