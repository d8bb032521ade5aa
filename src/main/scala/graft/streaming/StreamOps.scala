package graft.streaming

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreProviderId}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** The stream harness: how a declared §2.10 query is driven to
  * completion — its child session ([[streamSession]]), its file source
  * ([[fileStream]]) and its AvailableNow memory-or-file sink
  * ([[drain]]) — plus the stateful kernels the st* queries run. The
  * reference is batch-only (file-existence memoization is its only
  * incrementality, main.py:5375–5405); its per-window/per-session
  * kernels map directly onto Structured Streaming:
  *
  *  - tumbling windowed aggregation    ← A1 rebin (st2, st4, st9)
  *  - session windows                  ← A10 sessionization (st3, st5)
  *  - watermark + late-data drop       ← (no analog: reference
  *    re-sorts after union, main.py:7401; we declare the contract)
  *  - stateful flare trigger           ← T9 rolling robust z (st10)
  *  - stateful EWMA                    ← W8 (st14)
  */
object StreamOps {

  /** Isolated child session for the streaming queries: the state-store
    * partition count is fixed from spark.sql.shuffle.partitions at the
    * first micro-batch, and the shared session's core-sized count is
    * more state stores than these small aggregates need — every
    * instance pays its own per-batch commit (delta file write +
    * maintenance). A child session pins `Session.streamParts` (default
    * 2) without mutating the shared session's conf mid-suite. (At real
    * cluster scale the state partition count is a sizing decision per
    * stream — this helper is where it lives.) */
  def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", graft.core.Session.streamParts.toString)
    // StreamingQueryManager is per-session: carry the caller's
    // listeners over so progress observers (metrics assertions,
    // monitoring) keep seeing these queries
    s.streams.listListeners().foreach(ss.streams.addListener)
    ss
  }

  /** Parquet file stream over `dir/glob` on `ss` with an explicit
    * `schema`. `glob` must be a glob: FileStreamSource force-sets
    * basePath to the literal path for non-glob paths, and basePath must
    * be a directory — the glob keeps the explicit directory basePath in
    * force. */
  def fileStream(ss: SparkSession, dir: String, glob: String, schema: StructType,
                 maxFilesPerTrigger: Option[Long] = None): DataFrame = {
    val reader = ss.readStream.schema(schema).option("basePath", dir)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString))
      .parquet(s"$dir/$glob")
  }

  case class Ev(user_id: Long, event_id: Long, tUs: Long, value: Double)
  case class FlareHit(user_id: Long, event_id: Long, tUs: Long, z: Double)
  case class RollState(buf: List[(Long, Double)])

  /** Stateful streaming flare trigger (T9 as an incremental query):
    * per user, keep a rolling `horizonUs`-deep buffer; emit events
    * whose robust z-score vs the buffer median/extent exceeds `thr`.
    * State is bounded by the time horizon — the streaming analog of
    * the RANGE window — and carries across micro-batches, which the
    * batch T9 window cannot do incrementally. */
  def flareTrigger(events: Dataset[Ev], thr: Double,
                   horizonUs: Long = 3600000000L): Dataset[FlareHit] = {
    import events.sparkSession.implicits._
    val horizon = horizonUs
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[Ev], state: GroupState[RollState]) => {
          var buf = state.getOption.map(_.buf).getOrElse(Nil)
          val hits = scala.collection.mutable.ArrayBuffer.empty[FlareHit]
          it.toSeq.sortBy(e => (e.tUs, e.event_id)).foreach { e =>
            buf = ((e.tUs, e.value) :: buf).filter(_._1 >= e.tUs - horizon)
            val vals = buf.map(_._2).sorted
            if (vals.length >= 5) {
              val med = vals(vals.length / 2)
              val spread = vals.last - vals.head
              if (spread > 0) {
                val z = (e.value - med) / spread
                if (z > thr) hits += FlareHit(uid, e.event_id, e.tUs, z)
              }
            }
          }
          state.update(RollState(buf))
          hits.iterator
        })
  }

  case class EvC(user_id: Long, event_id: Long, tUs: Long, vc: Long)
  case class EwmaOut(user_id: Long, event_id: Long, tUs: Long, vc: Long,
                     efp: Long)
  case class EwmaState(efp: Long)

  /** Stateful streaming EWMA (α = 1/2) in integer fixed point: ONE
    * state value (the running estimate in 2⁻²⁰-cent units) per key —
    * the TRUE recurrence whose batch form (w8) truncates at 20 lags.
    * e₁ = vc·2²⁰; eₜ = (eₜ₋₁ + vc·2²⁰) div 2, floor — vc ≥ 0 in the
    * fixture, so the kernel's `>> 1`, Spark's `div`, and duckdb's `//`
    * all agree. Emits the post-update estimate per event; within a
    * micro-batch the group's rows fold in (tUs, event_id) order, and
    * the no-late time-disjoint arrival fixture (st10's contract)
    * makes cross-batch order equal global order, so a batch recursive
    * CTE replays the walk exactly. */
  def streamEwma(events: Dataset[EvC]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[EvC], state: GroupState[EwmaState]) => {
          var eOpt = state.getOption.map(_.efp)
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaOut]
          it.toSeq.sortBy(x => (x.tUs, x.event_id)).foreach { ev =>
            val x = ev.vc << 20
            val e = eOpt match {
              case None       => x
              case Some(prev) => (prev + x) >> 1
            }
            eOpt = Some(e)
            out += EwmaOut(uid, ev.event_id, ev.tUs, ev.vc, e)
          }
          eOpt.foreach(e => state.update(EwmaState(e)))
          out.iterator
        })
  }

  /** Drive a streaming frame to completion (Trigger.AvailableNow: the
    * micro-batch engine drains every available file, then stops) and
    * return the drained output. `outputMode` is the query's own
    * semantics: "append" for streams that emit finalized rows,
    * "complete" for the finite-replay aggregates whose result is the
    * final state table.
    *
    * Memory sink `${name}_sink` by default (the driver-gate shape: rows
    * come back for the oracle compare); `SPARK_GRAFT_STREAM_SINK=file`
    * ([[graft.core.Session.streamSink]]) switches append-mode streams
    * to a parquet FILE sink — the memory sink serializes EVERY output
    * row back through the driver (`spark.driver.maxResultSize` caps it
    * at ~2 GiB: the measured ×1000 wall — st14 emits 100 M rows while
    * its engine state is 1 row × 1 500 users at every scale), whereas
    * the file sink is executor-side and scales with the cluster, which
    * is the sink a production deployment uses. The transform chain,
    * trigger and state path are IDENTICAL either way — only the sink
    * differs, and the read-back frame carries the same rows.
    *
    * Concurrency contract (r16, making the FileSinkDirs invariant
    * explicit at the public entry point): at most ONE in-flight drain
    * per query `name`. Under the file sink, a re-drain of the same
    * name reclaims that name's GRANDPARENT output/checkpoint dir —
    * safe for sequential re-drains (each blocks on awaitTermination,
    * and the parent dir survives one more cycle for the lazy
    * read-back frame), but a THIRD concurrent drain of one name would
    * delete the first's dir while it may still be live. Distinct
    * names never interact.
    *
    * A finished drain releases what it holds in the JVM: the memory
    * sink's `${name}_sink` temp view is dropped once the read-back
    * frame has been analysed, and the state-store providers of the
    * stream's run are closed. Only the read-back frame (and every
    * frame derived from it) then holds the memory sink's rows, so they
    * can be collected once the caller drops it; the child session does
    * not keep them. Progress telemetry is posted before the query
    * terminates and is not touched. */
  def drain(ss: SparkSession, out: DataFrame, name: String,
            outputMode: String = "append"): DataFrame = {
    val w = out.writeStream.outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    // complete mode always drains to memory: Spark's file sink is
    // append-only, and complete-mode output is the bounded state table
    if (graft.core.Session.streamSink == "file" && outputMode == "append") {
      // deleteOnExit removes only EMPTY directories — the parquet
      // output (up to 100 M rows at ×1000) and the checkpoint dir
      // would leak per run (r12 advice). The read-back frame below is
      // consumed lazily by the caller, so the CURRENT run's dir must
      // survive until JVM exit — but a long-lived sbt/sweep session
      // re-draining the same query must not accumulate one dir (and
      // one shutdown hook) per run (r13 advice): a single static hook
      // sweeps whatever remains, and a re-drain of the same `name`
      // eagerly deletes that name's PREVIOUS dir, whose read-back
      // frame it supersedes.
      val dir = FileSinkDirs.replace(name)
      run(w.format("parquet")
        .option("path", s"$dir/out")
        .option("checkpointLocation", s"$dir/ckpt"))
      ss.read.schema(out.schema).parquet(s"$dir/out")
    } else {
      val view = s"${name}_sink"
      run(w.format("memory").queryName(view))
      // the analysed frame holds the sink's plan; the view is not needed
      val back = ss.table(view)
      ss.catalog.dropTempView(view)
      back
    }
  }

  /** Starts `w`, waits for the AvailableNow run to end, and closes the
    * state stores the run loaded. */
  private def run(w: DataStreamWriter[Row]): Unit = {
    val q = w.start()
    try q.awaitTermination() finally closeStateStores(q.runId)
  }

  /** The state-store providers loaded in this JVM (local mode: the
    * executors' too). `StateStore.loadedProviders` is private; it is
    * read the way the maintenance task reads it, under its own lock. */
  private[graft] def loadedStateStores: Seq[StateStoreProviderId] =
    loadedProviders.synchronized(loadedProviders.keys.toList)

  private lazy val loadedProviders: mutable.HashMap[StateStoreProviderId, _] = {
    val m = StateStore.getClass.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    m.invoke(StateStore).asInstanceOf[mutable.HashMap[StateStoreProviderId, _]]
  }

  /** Closes the state-store providers of the stream run `runId`. Left
    * loaded, each keeps its cached state maps and its checkpoint file
    * manager's thread pool until Spark's maintenance task (every 60 s
    * by default) notices that the run has ended. */
  private def closeStateStores(runId: java.util.UUID): Unit =
    loadedStateStores.filter(_.queryRunId == runId)
      .foreach(StateStore.removeFromLoadedProvidersAndClose(_))
}

/** File-sink temp-dir registry (r13 advice): one JVM-wide shutdown
  * hook instead of one per drain, plus eager reclamation — when a
  * query name drains again, its GRANDPARENT run's output+checkpoint
  * dir (up to ~100 M rows at ×1000) is deleted rather than held until
  * JVM exit, so a long sweep session's /tmp usage is bounded by 2× the
  * set of DISTINCT query names, not the run count.
  *
  * Two-generation retention (r14 advice): the immediately preceding
  * dir is kept alive because (a) the drain's read-back DataFrame is
  * LAZY — a caller may still hold and re-trigger it when the next
  * drain of the same name starts, and (b) an overlapping second drain
  * of the same name must not delete a live query's output/checkpoint
  * dir mid-run. Deletion is deferred one replace() cycle, which is by
  * construction after the previous query terminated (drains block on
  * awaitTermination before returning). Contract: at most ONE in-flight
  * drain per query name — a third concurrent drain of the same name
  * would reclaim the first's dir while it may still be live. */
private[streaming] object FileSinkDirs {
  private val dirs = scala.collection.mutable.LinkedHashMap.empty[String, java.nio.file.Path]
  private val prev = scala.collection.mutable.LinkedHashMap.empty[String, java.nio.file.Path]
  java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() =>
    dirs.synchronized {
      (dirs.valuesIterator ++ prev.valuesIterator).foreach(d =>
        org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit)
      dirs.clear(); prev.clear()
    }))

  /** Register a fresh sink dir for `name`; reclaim its two-runs-ago
    * dir (whose read-back frame is now two generations superseded). */
  def replace(name: String): java.nio.file.Path = dirs.synchronized {
    prev.remove(name).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile): Unit)
    dirs.remove(name).foreach(d => prev.put(name, d))
    val dir = java.nio.file.Files.createTempDirectory(s"graft_fsink_$name")
    dirs.put(name, dir)
    dir
  }
}
