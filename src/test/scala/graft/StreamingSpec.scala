package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.StreamOps

/** §2.10 — the declared streaming queries agree with their batch
  * counterparts when driven to completion over the same fixture. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` with a listener on the shared session (the stream
    * harness's child session inherits it) and returns its result with
    * the progress of every stream query `body` started, in batch order.
    * Listener delivery is asynchronous, so the progress is read only
    * after each started query's QueryTerminatedEvent has arrived
    * (bounded wait); QueryStartedEvent is delivered synchronously by
    * `start()`. */
  private def withProgress[A](body: => A): (A, Seq[StreamingQueryProgress]) = {
    val started = ConcurrentHashMap.newKeySet[UUID]()
    val ended = ConcurrentHashMap.newKeySet[UUID]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.id)
    }
    spark.streams.addListener(listener)
    try {
      val out = body
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      def done = !started.isEmpty && ended.containsAll(started)
      while (!done && System.nanoTime() < deadline) Thread.sleep(20)
      assert(done, s"${started.size} stream(s) started, ${ended.size} termination event(s) within 30 s")
      (out, progress.asScala.toSeq.sortBy(_.batchId))
    } finally spark.streams.removeListener(listener)
  }

  test("tumbling windowed aggregation matches batch groupBy") {
    // the shipped st2: complete mode, because append would hold back
    // the last (unfinalized) window — watermark semantics, not a bug.
    val streamed = SparkEntry.queries("st2_stream_tumbling")(spark, sf)
    val batch = graft.core.Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.agg(sum("n")).head.getLong(0) ===
      batch.agg(sum("n")).head.getLong(0))
    assert(streamed.count() === batch.count())
  }

  test("session windows produce the same session count as gaps-and-islands") {
    val streamed = SparkEntry.queries("st3_stream_session")(spark, sf)
    val batchSessions = graft.ops.TsOps.sessionize(
      graft.core.Tables.events(spark, sf)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us")),
      Seq("user_id"), "t_us", "event_id", 1800000000L)
      .select("user_id", "session").distinct().count()
    assert(streamed.count() === batchSessions)
  }

  test("watermark drops late data in append mode (declared §2.10 contract)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{window => twindow}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "value")
    val agg = df.withWatermark("ts", "10 minutes")
      .groupBy(twindow(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("late_demo")
      .outputMode("append").start()
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    mem.addData((t(0), 1.0), (t(5), 2.0))     // window [10:00,10:10)
    q.processAllAvailable()
    mem.addData((t(40), 3.0))                  // advances watermark to 10:30
    q.processAllAvailable()
    mem.addData((t(1), 99.0))                  // LATE: before the watermark
    q.processAllAvailable()
    mem.addData((t(55), 4.0))                  // pushes watermark past 10:40
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_demo").collect()
    // the finalized [10:00,10:10) window must count 2 — the late event
    // at 10:01 was dropped, not merged
    val w0 = rows.find(_.getStruct(0).getTimestamp(0).toString.contains("10:00"))
    assert(w0.isDefined, s"first window missing: ${rows.mkString(";")}")
    assert(w0.get.getAs[Long]("n") === 2L)
  }

  test("declared st4 drops its late fixture rows (engine metric + batch equivalence)") {
    // the declared append-mode query feeds late duplicates of the
    // first day in its third micro-batch; the engine must drop them —
    // proven two ways: the micro-batch engine's own
    // numRowsDroppedByWatermark metric, and bit-equality of the early
    // windows against a batch aggregation WITHOUT the duplicates. The
    // state store also runs at the stream harness's partition count.
    val (out, progress) =
      withProgress(SparkEntry.queries("st4_stream_append")(spark, sf).collect())
    val ops = progress.flatMap(_.stateOperators)
    assert(ops.map(_.numRowsDroppedByWatermark).sum > 0,
      "watermark dropped no rows — late fixture not exercised")
    ops.foreach(s => assert(s.numShufflePartitions === graft.core.Session.streamParts.toLong))
    val batch = graft.core.Tables.events(spark, sf)
      .select(unix_micros(col("ts")).as("t_us"), col("event_type"),
        graft.core.Tables.cents(col("value")).as("vc"))
      .groupBy((col("t_us") - col("t_us") % 3600000000L).as("w_us"), col("event_type"))
      .agg(count(lit(1)).as("n"), (sum(col("vc")).cast("long") / 100.0).as("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // every emitted window matches the duplicate-free batch counts
    out.foreach { r =>
      val k = (r.getLong(0), r.getString(1))
      assert(batch(k) === ((r.getLong(2), r.getDouble(3))), s"window $k differs")
    }
    assert(out.nonEmpty && out.length < batch.size,
      "append mode must emit only closed windows")
  }

  test("declared streams keep their state contracts (engine progress telemetry)") {
    // the boundedness evidence of §2.10, read from the micro-batch
    // engine's own stateOperators progress at sf0.001
    val progress = Seq("st5_stateful_session", "st7_stream_join", "st8_stream_dedup_wm",
      "st9_stream_static_join", "st10_stream_flare", "st11_stream_hll", "st12_stream_cms",
      "st13_stream_quantile", "st14_stream_ewma")
      .map(q => q -> withProgress(SparkEntry.queries(q)(spark, sf))._2).toMap
    def ops(q: String) = progress(q).flatMap(_.stateOperators)
    // watermark / timeout eviction: state drains instead of growing
    for (q <- Seq("st5_stateful_session", "st7_stream_join", "st8_stream_dedup_wm"))
      assert(ops(q).map(_.numRowsRemoved).sum > 0, s"$q evicted no state")
    assert(ops("st8_stream_dedup_wm").map(_.numRowsDroppedByWatermark).sum > 0,
      "st8 dropped no late rows")
    // sketch state is bounded by the sketch shape, not the stream length
    for ((q, bound) <- Seq("st11_stream_hll" -> 5 * 64, "st12_stream_cms" -> 4 * 64,
                           "st13_stream_quantile" -> 5 * 256)) {
      val rows = progress(q).last.stateOperators.map(_.numRowsTotal).sum
      assert(rows > 0 && rows <= bound, s"$q final state rows $rows, bound $bound")
    }
    // stream-static join holds no join state: the only state operator
    // is the downstream aggregate
    assert(ops("st9_stream_static_join").map(_.operatorName).distinct === Seq("stateStoreSave"))
    // the three-file arrival fixture drives three micro-batches
    for (q <- Seq("st10_stream_flare", "st14_stream_ewma"))
      assert(progress(q).map(_.batchId).distinct.size === 3, s"$q micro-batches")
  }

  test("st10: flare hits score against prior-micro-batch state (cross-batch buffer)") {
    val E = 1704067200000000L; val D = 86400000000L
    val hits = SparkEntry.queries("st10_stream_flare")(spark, sf).collect()
    assert(hits.nonEmpty)
    // batch files split at E+10d and E+20d; a hit within one 4-day
    // horizon after a boundary has most of its buffer populated by
    // the PREVIOUS micro-batch, so nonzero counts here prove the
    // flatMapGroupsWithState buffer survived the batch boundary (the
    // DuckDB hash gate already proves the scores themselves).
    def near(c: Long) = hits.count { r =>
      val t = r.getLong(2); t > c && t < c + 4 * D }
    assert(near(E + 10 * D) > 0, "no hit scored against batch-1 state")
    assert(near(E + 20 * D) > 0, "no hit scored against batch-2 state")
  }

  test("stateful flare trigger fires on an injected spike train") {
    import spark.implicits._
    val E = 1704067200000000L
    val rows = (0 until 600).map { i =>
      val spike = if (i == 200 || i == 400) 50.0 else 0.0
      StreamOps.Ev(1L, i.toLong, E + i * 60000000L, 100.0 + spike + (i % 7) * 0.1)
    }
    val hits = StreamOps.flareTrigger(rows.toDS(), thr = 0.8).collect()
    assert(hits.exists(h => h.event_id == 200))
    assert(hits.exists(h => h.event_id == 400))
    assert(hits.length < 20, s"too many triggers: ${hits.length}")
  }
}
