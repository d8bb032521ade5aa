package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamOps

/** §2.10 — the declared streaming queries agree with their batch
  * counterparts when driven to completion over the same fixture. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

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
    val dropped = new java.util.concurrent.atomic.AtomicLong(0)
    val stateParts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach { s =>
          dropped.addAndGet(s.numRowsDroppedByWatermark)
          stateParts.add(s.numShufflePartitions)
        }
    }
    spark.streams.addListener(listener)
    val out =
      try SparkEntry.queries("st4_stream_append")(spark, sf).collect()
      finally spark.streams.removeListener(listener)
    assert(dropped.get() > 0, "watermark dropped no rows — late fixture not exercised")
    assert(!stateParts.isEmpty)
    stateParts.forEach(n => assert(n === graft.core.Session.streamParts.toLong))
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
