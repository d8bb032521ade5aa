package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.core.Tables._
import graft.ops.TsOps
import graft.streaming.StreamOps

/** Time-series operator surface (SURVEY.md §2.9 T1–T12, §2.4 A1/A4–A6/
  * A10/A13, §2.5 W2, §2.2 F2/F3/F6, §2.3 J4/J8) exercised on the
  * `events` fixture: `user_id` plays the role of the instrument/chunk
  * axis, `value` the flux, unit errors. Time is exact integer micros.
  */
object TimeSeries {
  type Q = (SparkSession, String) => DataFrame

  // Fold/transit constants (micros): 1-day fold period, 7-day transit
  // period with 1-day duration, epoch 2024-01-01T00:00:00Z.
  private val E = 1704067200000000L
  private val PDAY = 86400000000L
  private val P7 = 7L * PDAY
  private val DUR = PDAY

  /** a1b's caller-supplied IRREGULAR bin edges (hours from E; the
    * events fixture spans ~720 h, so the last bin (721 h, 2000 h) is
    * deliberately EMPTY — exercising the reference's prefilled-NaN
    * row). Derived (bin, lo_us, hi_us) triples feed both the Spark
    * broadcast table and the oracle's VALUES list. */
  private[queries] val a1bEdgeHours = Seq(0L, 5L, 7L, 19L, 40L, 77L, 100L,
    241L, 300L, 500L, 721L, 2000L)
  private[queries] val a1bBins: Seq[(Long, Long, Long)] =
    a1bEdgeHours.sliding(2).zipWithIndex.map { case (Seq(lo, hi), k) =>
      (k.toLong, E + lo * 3600000000L, E + hi * 3600000000L)
    }.toSeq

  /** t18's quantized trig basis at the 24 phase-bin centers:
    * (k, round(cos·100), round(sin·100)). Computed ONCE here and
    * injected as literals into BOTH the Spark plan and the DuckDB
    * oracle (the d30 shared-constants technique), so no libm call
    * ever crosses engines; 1e2 quantization keeps every 3×3 Cramer
    * determinant term within exact int64. */
  private[graft] val harmBasis: Seq[(Int, Long, Long)] =
    (0 until 24).map { k =>
      val th = 2.0 * math.Pi * (k + 0.5) / 24.0
      (k, math.round(math.cos(th) * 100), math.round(math.sin(th) * 100))
    }

  /** w2b's synthetic lightcurve in integer MICRO-units — ONE expression
    * string shared verbatim between the Spark builder and the DuckDB
    * oracle (the t3bSimValue technique). Quadratic-LCG noise at ±0.005
    * (the i² term breaks the pure-affine chain whose consecutive diffs
    * would be a two-valued constant), plus the two injected features
    * the discontinuity detector must separate:
    *  - a single-sample −0.3 SPIKE at i=500 → dif1[499] ≈ +3e5 clears
    *    20σ (σ(dif1) ≈ 1.23e4 with the three big diffs included) and
    *    the local-mean guard holds (J/3 = 1e5 < J√5/6 ≈ 1.12e5, noise
    *    margin ~12k vs ±5k) → BREAK;
    *  - a persistent −0.3 STEP at i≥1200 → dif1[1199] clears 20σ but
    *    the guard rejects it (2J/3 = 2e5 > J√2/3 ≈ 1.41e5) → NO break,
    * exactly the reference's glitch-vs-shift asymmetry. */
  private[queries] val w2bSimValue: String =
    "1000000 + ((i*i % 65536) * 1103515245 + i * 12345 + p * 999331) % 10000 - 5000" +
      " - (CASE WHEN i = 500 THEN 300000 ELSE 0 END)" +
      " - (CASE WHEN i >= 1200 THEN 300000 ELSE 0 END)"

  /** The w2b fixture: 2 parts × 2000 samples at 30-min cadence anchored
    * at the events epoch (the dense series the events fixture's 7 h
    * cadence can't provide), a 2-day time GAP opening at i=1600 on top
    * of [[w2bSimValue]]'s spike + step — so one partition exercises
    * all three boundary kinds (disc break, gap break, guarded non-break). */
  private def w2bSim(s: SparkSession, d: String): DataFrame =
    base(s, d).agg(min(col("t_us")).as("t0"))
      .withColumn("p", explode(sequence(lit(0L), lit(1L))))
      .withColumn("i", explode(sequence(lit(0L), lit(1999L))))
      .withColumn("t_us", col("t0") + col("i") * 1800000000L +
        when(col("i") >= 1600, 172800000000L).otherwise(0L))
      .withColumn("vq", expr(w2bSimValue))
      .select(col("p").cast("string").as("part"),
        (col("p") * 10000L + col("i")).as("id"),
        col("t_us"), col("vq"))

  /** Three-micro-batch arrival fixture shared by the append-mode
    * streaming queries st4, st5, st8, st10 and st14, returned as the
    * file stream over its three batch files on `ss` (one file per
    * micro-batch): [E, E+10d), [E+10d, E+20d), then the on-time tail
    * PLUS late duplicates of the first day — a full watermark behind,
    * which the engine must DROP.
    * `withLate = false` omits the day-one replays, giving three
    * time-disjoint ascending batches — with maxFilesPerTrigger=1 the
    * per-batch processing order then equals the global (t, id) order,
    * which is what lets an order-sensitive stateful kernel (st10) be
    * replayed exactly by a batch SQL oracle. The batch files are
    * written once through the fixture store, keyed on the projected
    * schema, the cut constants and the events source. */
  private def arrivalFixture(ss: SparkSession, d: String, prefix: String,
      project: DataFrame => DataFrame,
      withLate: Boolean = true): DataFrame = {
    val C1 = E + 10 * PDAY; val C2 = E + 20 * PDAY
    val schemaTag = project(events(ss, d)).schema
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val dir = graft.core.Fixtures.dir(prefix, Seq(schemaTag, s"$E|$C1|$C2|$withLate"),
        Seq(new java.io.File(d, "events.parquet"))) { root =>
      val src = project(events(ss, d))
        .withColumn("t_us", unix_micros(col("ts")))
      val tail = src.filter(col("t_us") >= C2)
      val batches = Seq(
        src.filter(col("t_us") < C1),
        src.filter(col("t_us") >= C1 && col("t_us") < C2),
        if (withLate) tail.unionByName(src.filter(col("t_us") < E + PDAY))
        else tail)
      batches.zipWithIndex.foreach { case (b, i) =>
        val stage = new java.io.File(root, s"w$i")
        b.drop("t_us").coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = stage.listFiles().find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(root, f"b$i%02d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        org.apache.commons.io.FileUtils.deleteDirectory(stage)
        // batch order is CONTRACTUAL (cross-batch rows are late vs the
        // watermark if batches reorder): fail the build loudly if the
        // filesystem refuses the stamp rather than let the source pick
        // an undefined order (r8 advice)
        require(dst.setLastModified(1000000000000L + i * 60000L),
          s"arrivalFixture: setLastModified failed on $dst — " +
          "batch processing order would be filesystem-defined")
      }
      // defense in depth against coarse mtime granularity: the stamps
      // are 60 s apart, so any rounding that still yields a strictly
      // increasing sequence preserves order; anything else fails here
      val stamped = root.listFiles().filter(_.getName.endsWith(".parquet"))
        .sortBy(_.getName).map(_.lastModified)
      require(stamped.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
        s"arrivalFixture: non-increasing mtimes ${stamped.mkString(",")} — " +
        "the file source would reorder batches")
    }.toString
    StreamOps.fileStream(ss, dir, "*.parquet", Tables.schemaOf(ss, dir), Some(1L))
  }

  /** The stored schema of the events parquet (nanosAsLong is set on a
    * stream session: `ts` arrives as the file stores it, for
    * [[Tables.normalizeTs]] to map). */
  private def eventSchema(ss: SparkSession, d: String) =
    Tables.schemaOf(ss, s"$d/events.parquet")

  /** The events parquet as a file stream on `ss`. */
  private def eventStream(ss: SparkSession, d: String): DataFrame =
    StreamOps.fileStream(ss, d, "events*.parquet", eventSchema(ss, d))

  case class StRow(user_id: Long, t_us: Long, ts: java.sql.Timestamp)
  case class StSess(s_us: Long, e_us: Long, n: Long)
  case class StOut(user_id: Long, s_us: Long, e_us: Long, n: Long)

  /** st5's stateful kernel: per-user gap sessionization (30 min) with
    * explicit watermark handling. State = the one open tail session;
    * closed sessions stream out append-style. Late rows are dropped at
    * the same ms boundary the engine's own watermark filter uses, so
    * the kernel's behavior is identical whether or not the engine
    * pre-filters. */
  private def sessionKernel(key: Long, rows: Iterator[StRow],
      state: org.apache.spark.sql.streaming.GroupState[StSess]): Iterator[StOut] = {
    val gapUs = 1800000000L; val gapMs = 1800000L
    val wm = state.getCurrentWatermarkMs()
    if (state.hasTimedOut) {
      val c = state.get; state.remove()
      Iterator(StOut(key, c.s_us, c.e_us, c.n))
    } else {
      val ontime = rows.filter(_.t_us / 1000 >= wm).toArray.sortBy(_.t_us)
      val out = scala.collection.mutable.ArrayBuffer[StOut]()
      var cur = state.getOption
      for (r <- ontime) cur match {
        case Some(c) if r.t_us - c.e_us <= gapUs =>
          cur = Some(StSess(c.s_us, r.t_us, c.n + 1))
        case Some(c) =>
          out += StOut(key, c.s_us, c.e_us, c.n)
          cur = Some(StSess(r.t_us, r.t_us, 1))
        case None =>
          cur = Some(StSess(r.t_us, r.t_us, 1))
      }
      cur match {
        case Some(c) if c.e_us / 1000 + gapMs < wm =>
          // watermark already passed this tail — no on-time event can
          // ever extend it (any future row is >= wm > end+gap)
          out += StOut(key, c.s_us, c.e_us, c.n); state.remove()
        case Some(c) =>
          state.update(c)
          state.setTimeoutTimestamp(math.max(c.e_us / 1000 + gapMs, wm + 1))
        case None => ()
      }
      out.iterator
    }
  }

  val queries: Map[String, Q] = Map(
    // T1 — phase fold (ref main.py:7346–7380): pure integer modulus.
    "t1_fold" -> ((s, d) => {
      base(s, d)
        .withColumn("phase_us", TsOps.phaseUs(col("t_us"), lit(E), lit(PDAY)))
        .select("event_id", "phase_us", "value")
        .orderBy("phase_us", "event_id")
    }),

    // T2 — phase binning: fold + 24 fixed bins + reference error model
    // (rebn_tser main.py:3755–3818; err_bin = sqrt((√Σe²/n)² + std²),
    // population std, unit errors).
    "t2_phase_bin" -> ((s, d) => {
      base(s, d)
        .withColumn("phase_us", TsOps.phaseUs(col("t_us"), lit(E), lit(PDAY)))
        .withColumn("bin", expr(s"(phase_us * 24) div ${PDAY}"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("_s"),
          sum(col("vc") * col("vc")).as("_q"))
        .withColumn("vmean", col("_s") / 100.0 / col("n"))
        .withColumn("vvar",
          (col("_q") - col("_s").cast("double") * col("_s") / col("n")) / col("n") / 10000.0)
        .withColumn("verr", sqrt(lit(1.0) / col("n") + greatest(col("vvar"), lit(0.0))))
        .select("bin", "n", "vmean", "verr")
        .orderBy("bin")
    }),

    // A1 — time rebinning at fixed 1-hour width per event_type.
    "a1_rebin_time" -> ((s, d) => {
      base(s, d)
        .withColumn("bin", expr(s"(t_us - ${E}) div 3600000000"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("_s"),
          sum(col("vc") * col("vc")).as("_q"))
        .withColumn("vmean", col("_s") / 100.0 / col("n"))
        .withColumn("vvar",
          (col("_q") - col("_s").cast("double") * col("_s") / col("n")) / col("n") / 10000.0)
        .withColumn("verr", sqrt(lit(1.0) / col("n") + greatest(col("vvar"), lit(0.0))))
        .select("event_type", "bin", "n", "vmean", "verr")
        .orderBy("event_type", "bin")
    }),

    // W2 — gap-based segmentation into regions (retr_timeedge
    // main.py:6590–6630): new region when gap > 1 h.
    "w2_gap_segment" -> ((s, d) => {
      TsOps.withRegion(base(s, d), Seq("user_id"), "t_us", "event_id", 3600000000L)
        .select("user_id", "event_id", "region")
        .orderBy("user_id", "event_id")
    }),

    // W2 full mode — gap breaks PLUS the reference's default-ON 20σ
    // discontinuity break (retr_timeedge `booladdddiscbdtr=True`,
    // main.py:6599–6605, default at 6683): the spike at i=500 breaks,
    // the persistent step at i=1200 is guard-rejected, the 2-day gap
    // at i=1600 breaks → regions {0,1,2} per part.
    "w2b_disc_segment" -> ((s, d) => {
      TsOps.withRegionDisc(w2bSim(s, d), Seq("part"), "t_us", "id", "vq",
          3600000000L)
        .select("part", "id", "region")
        .orderBy("part", "id")
    }),

    // A1 explicit-edge rebin (`rebn_tser` blimxdat branch,
    // main.py:3755–3759, 3805–3817): caller-supplied IRREGULAR bin
    // edges; membership is STRICTLY inside (lo < x < hi — a point on
    // an edge belongs to neither bin); EMPTY bins are still emitted
    // (the reference pre-fills NaN rows, centers always set). Same
    // error model as a1/t2. Broadcast range join: the edge table is
    // tiny, the scan side streams through it.
    "a1b_rebin_edges" -> ((s, d) => {
      val binsDf = s.createDataFrame(a1bBins).toDF("bin", "lo_us", "hi_us")
      val agg = base(s, d)
        .join(broadcast(binsDf),
          col("t_us") > col("lo_us") && col("t_us") < col("hi_us"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("_s"),
          sum(col("vc") * col("vc")).as("_q"))
      binsDf.join(agg, Seq("bin"), "left")
        .withColumn("bctr_us", (col("lo_us") + col("hi_us")) / lit(2.0))
        .withColumn("n", coalesce(col("n"), lit(0L)))
        // n=0 bins stay NULL (the reference's prefilled NaN row) — the
        // when() keeps the divisions off the n=0 path entirely
        .withColumn("vmean", when(col("n") > 0, col("_s") / 100.0 / col("n")))
        .withColumn("vvar", when(col("n") > 0,
          (col("_q") - col("_s").cast("double") * col("_s") / col("n")) / col("n") / 10000.0))
        .withColumn("verr", when(col("n") > 0,
          sqrt(lit(1.0) / col("n") + greatest(col("vvar"), lit(0.0)))))
        .select("bin", "bctr_us", "n", "vmean", "verr")
        .orderBy("bin")
    }),

    // §2.10 — Spark's native session_window in batch mode: the same
    // operator st3_stream_session runs on the stream, verified
    // here against the gaps-and-islands oracle. Spark merges two
    // events when their [ts, ts+gap) ranges overlap, so a new session
    // starts at gap >= 30 min (strictly-greater would be wrong).
    "st_session_window" -> ((s, d) => {
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("w.start")).as("s_us"),
          unix_micros(col("w.end")).as("e_us"), col("n"))
        .orderBy("user_id", "s_us")
    }),

    // §2.10 — a GENUINELY streaming declared query: readStream over
    // the events parquet → watermark → tumbling 1 h window per
    // event_type with exact-cents sums → memory sink, Trigger
    // AvailableNow (micro-batch engine runs to completion, then the
    // materialized sink is returned). Verifies the actual incremental
    // stateful-aggregation path — not just the batch operator — against
    // a plain GROUP BY oracle. At scale the same query runs unbounded
    // with the watermark dropping late state.
    "st2_stream_tumbling" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      val stream = eventStream(ss, d)
        .transform(graft.core.Tables.normalizeTs)
        // No watermark: complete mode never evicts state, so declaring
        // one would be inert and misleading. This query is the
        // finite-replay form (AvailableNow over a bounded fixture);
        // the unbounded-stream late-data/eviction contract is carried
        // by st4 (append + working watermark) and st5–st8.
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.core.Tables.cents(col("value"))).as("sc"))
      StreamOps.drain(ss, stream, "st2", "complete")
        .select(unix_micros(col("w.start")).as("w_us"), col("event_type"),
          col("n"), (col("sc").cast("long") / 100.0).as("sum_value"))
        .orderBy("w_us", "event_type")
    }),

    // §2.10 — streaming SESSION windows through the micro-batch
    // engine: same StreamOps harness as st2, but with the merging
    // stateful session_window operator — the streaming form of A10.
    // Checked bit-exact against the same gaps-and-islands SQL as the
    // batch st_session_window.
    "st3_stream_session" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      val stream = eventStream(ss, d)
        .transform(graft.core.Tables.normalizeTs)
        // No watermark — complete mode, finite replay only (see st2).
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
      StreamOps.drain(ss, stream, "st3", "complete")
        .select(col("user_id"), unix_micros(col("w.start")).as("s_us"),
          unix_micros(col("w.end")).as("e_us"), col("n"))
        .orderBy("user_id", "s_us")
    }),

    // §2.10 — streaming APPEND mode with a working watermark: the
    // fixture is three parquet files = three micro-batches
    // (maxFilesPerTrigger=1 + AvailableNow): [E, E+10d), [E+10d,
    // E+20d), then the on-time tail PLUS late duplicates of the first
    // day — a full watermark behind, which the engine must DROP (the
    // real §2.10 late-data contract; st2/st3 run watermark-free
    // complete mode, finite replay only). Append emits a window when the
    // watermark passes its end; the watermark in force during the
    // last batch derives from files 1–2 only (stats apply one batch
    // later), so the declared result is exactly the closed windows
    // over on-time rows below E+20d — which the oracle computes in
    // plain SQL, ms-truncating the max event time the way the
    // engine's per-batch stats do.
    "st4_stream_append" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      val stream = arrivalFixture(ss, d, "graft_st4",
        df => df.select(col("ts"), col("event_type"), col("value")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(graft.core.Tables.cents(col("value"))).as("sc"))
      StreamOps.drain(ss, stream, "st4")
        .select(unix_micros(col("w.start")).as("w_us"), col("event_type"),
          col("n"), (col("sc").cast("long") / 100.0).as("sum_value"))
        .orderBy("w_us", "event_type")
    }),

    // §2.10 — CUSTOM stateful streaming (the mapGroupsWithState rung
    // of the §2.11 ladder as a DECLARED query, not just a lib spec):
    // per-user sessionization via flatMapGroupsWithState with
    // event-time timeouts, through the real micro-batch engine on the
    // same three-batch arrival fixture as st4. Contract (derived from
    // the engine's watermark mechanics, asserted by the oracle):
    //  • late rows (below the batch watermark) are dropped by the
    //    kernel — the batch-3 day-one duplicates vanish;
    //  • a session closed by a LATER on-time event emits in that
    //    batch regardless of the watermark;
    //  • an open tail session emits iff the final in-force watermark
    //    (from batches 1–2 stats: max ms below E+20d minus the 1 h
    //    delay) passed its end+gap — via the event-time timeout when
    //    the key has no batch-3 data, or the kernel's own
    //    watermark check when it does;
    //  • anything later stays in state — exactly what an unbounded
    //    run would still hold open.
    // The oracle states that contract in SQL: gaps-and-islands
    // sessions over on-time rows, emitted iff not the user's last
    // session OR closed by the final watermark.
    "st5_stateful_session" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      import ss.implicits._
      val stream = arrivalFixture(ss, d, "graft_st5",
        df => df.select(col("ts"), col("user_id")))
        .withWatermark("ts", "1 hour")
        // ts itself must survive the projection: the event-time-timeout
        // analyzer looks for the watermarked column in the kernel input
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"), col("ts"))
        .as[StRow]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
          sessionKernel)
      StreamOps.drain(ss, stream.toDF(), "st5").orderBy("user_id", "s_us")
    }),

    // §2.10 — streaming INGEST DEDUP: dropDuplicates through the
    // micro-batch engine — the first stage of a streaming corpus
    // pipeline (each key emitted exactly once, on first arrival, in
    // append mode). State is one entry per distinct key, bounded by
    // key cardinality, not stream length; for time-scoped keys at
    // 100 TB the dropDuplicatesWithinWatermark variant caps state by
    // the watermark horizon instead. Oracle: plain SELECT DISTINCT.
    "st6_stream_dedup" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      val stream = eventStream(ss, d)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      StreamOps.drain(ss, stream, "st6").orderBy("user_id", "event_type")
    }),

    // §2.10 — state-BOUNDED streaming dedup: dropDuplicatesWithinWatermark
    // through the engine on the three-batch arrival fixture, with exact
    // duplicates injected into the on-time stream (event_id % 50). The
    // watermark contract this query proves: duplicates within the delay
    // are removed even across batches, state for expired keys is
    // evicted (bounded state — the 100 TB requirement st6's
    // unbounded-state dropDuplicates can't meet), and batch-3's day-one
    // replays — a full watermark behind — are dropped as late rather
    // than re-emitted from evicted state. All three outcomes collapse
    // to one SQL statement: DISTINCT over the logical table.
    "st8_stream_dedup_wm" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      val stream = arrivalFixture(ss, d, "graft_st8", df => {
        val base = df.select(col("ts"), col("user_id"), col("event_id"))
        base.unionByName(base.filter(col("event_id") % 50 === 0))
      })
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_id")
        .select(col("user_id"), col("event_id"))
      StreamOps.drain(ss, stream, "st8").orderBy("user_id", "event_id")
    }),

    // §2.10 — STREAM-STATIC enrichment join, the remaining core
    // Structured Streaming join shape (st7 covers stream-stream): the
    // static dimension is re-read and BROADCAST per micro-batch — no
    // state store involvement on the static side, so at 100 TB/day the
    // dim can be swapped under a running query; the only stateful
    // operator is the downstream tumbling-day aggregation. nation is
    // the enrichment dim, keyed off user_id % 25.
    "st9_stream_static_join" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      val dim = Tables.nation(ss, d)
        .select(col("n_nationkey"), col("n_name"))
      val stream = eventStream(ss, d)
        .transform(graft.core.Tables.normalizeTs)
        .withColumn("nk", col("user_id") % 25)
        .join(broadcast(dim), col("nk") === col("n_nationkey"))
        // No watermark — complete mode, finite replay only (see st2).
        .groupBy(window(col("ts"), "1 day").as("w"), col("n_name"))
        .agg(count(lit(1)).as("n"),
          sum(graft.core.Tables.cents(col("value"))).as("sc"))
      StreamOps.drain(ss, stream, "st9", "complete")
        .select(unix_micros(col("w.start")).as("w_us"), col("n_name"),
          col("n"), (col("sc").cast("long") / 100.0).as("sum_value"))
        .orderBy("w_us", "n_name")
    }),

    // §2.10 — STATEFUL streaming FLARE TRIGGER (T9 as an incremental
    // query, the last declared §2.10 bullet): per-user rolling robust
    // z via flatMapGroupsWithState through the real micro-batch
    // engine on the three-batch no-late arrival fixture. The state is
    // the horizon-deep (4-day) value buffer per user — bounded by
    // TIME, not stream length, so at 100 TB/day state is
    // O(users × events-per-horizon) regardless of retention — and it
    // carries across micro-batch boundaries (hits in batch 2 score
    // against batch-1 values), which is exactly what the batch T9
    // RANGE window cannot do incrementally. Horizon/threshold sized
    // to the events fixture density (~2.2 events/user/day ⇒ ~9-deep
    // buffers). Oracle: the buffer evolution under time-ordered
    // disjoint batches equals the global (t_us, event_id) scan, so a
    // range self-join replays it exactly — z = (v−med)/(max−min) is
    // three IEEE ops, bit-identical across engines; the median is an
    // ELEMENT of the buffer (upper median, index n/2), not an
    // interpolation, so no float formula can diverge.
    "st10_stream_flare" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      import ss.implicits._
      val stream = arrivalFixture(ss, d, "graft_st10",
        df => df.select(col("ts"), col("user_id"), col("event_id"),
          col("value")),
        withLate = false)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tUs"), col("value"))
        .as[StreamOps.Ev]
      val hits = StreamOps.flareTrigger(
        stream, thr = 0.45, horizonUs = 4L * PDAY)
      StreamOps.drain(ss, hits.toDF(), "st10")
        .select(col("user_id"), col("event_id"), col("tUs").as("t_us"),
          col("z"))
        .orderBy("user_id", "event_id")
    }),

    // §2.10 — STREAMING EWMA: w8's recurrence carried as REAL state —
    // one integer fixed-point estimate per user in a
    // flatMapGroupsWithState kernel, across three micro-batches (the
    // st10 no-late arrival fixture, whose time-disjoint batches make
    // processing order equal global order — which is what lets a
    // batch recursive CTE replay the walk bit-for-bit). This is the
    // deployment shape the w8 scaladoc promises: the batch form
    // truncates the horizon to stay a window; the streaming form
    // keeps the exact infinite-horizon recurrence with O(keys) state.
    "st14_stream_ewma" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      import ss.implicits._
      val stream = arrivalFixture(ss, d, "graft_st14",
        df => df.select(col("ts"), col("user_id"), col("event_id"),
          col("value")),
        withLate = false)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tUs"),
          cents(col("value")).as("vc"))
        .as[StreamOps.EvC]
      val out = StreamOps.streamEwma(stream)
      StreamOps.drain(ss, out.toDF(), "st14")
        .withColumn("ewma", col("efp") / lit(1048576.0) / lit(100.0))
        .select(col("user_id"), col("event_id"), col("tUs").as("t_us"),
          col("vc"), col("efp"), col("ewma"))
        .orderBy("user_id", "event_id")
    }),

    // §2.10 + d30 — STREAMING cardinality sketch: the HyperLogLog
    // register table maintained as a streaming stateful aggregation —
    // the deployment mode the d30 scaladoc promises. State is
    // |event_types|×64 register rows MAX regardless of stream length
    // (each micro-batch max-merges its partial registers into the
    // store), which is the textbook bounded-state distinct-count on an
    // unbounded stream; Spark's own approx_count_distinct streaming
    // path keeps the identical structure. Complete mode, finite
    // replay (the st2 contract): after AvailableNow drains, the final
    // register state EQUALS the batch sketch, so the estimate
    // post-processing on the memory sink reuses d30's exact-integer
    // estimator and the oracle replays it over the full table.
    "st11_stream_hll" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      import graft.text.TextOps
      val stream = eventStream(ss, d)
        .withColumn("h", expr(TextOps.md5Hash32Fast("CAST(user_id AS STRING)")))
        .withColumn("reg", col("h") % 64)
        .withColumn("rho", expr(TextOps.hllRho(TextOps.hllW("h"))))
        .groupBy(col("event_type"), col("reg"))
        .agg(max(col("rho")).as("m"))
      // estimate from the drained register state (batch post-process,
      // identical estimator to d30: grid-complete, Z, zero count, two
      // branches with shared precomputed constants)
      val regs = StreamOps.drain(ss, stream, "st11", "complete")
      // fresh attribute ids (et/rg) — grid derives from the same memory
      // table as regs, and a Seq-key self-join would see conflicting
      // attributes
      val grid = regs.select(col("event_type").as("et")).distinct()
        .select(col("et"), explode(sequence(lit(0L), lit(63L))).as("rg"))
      val est = grid.join(regs,
          col("et") === col("event_type") && col("rg") === col("reg"), "left")
        .select(col("et").as("event_type"), coalesce(col("m"), lit(0L)).as("m"))
        .groupBy("event_type").agg(
          sum(expr(TextOps.pow2("27 - m"))).as("z"),
          sum(when(col("m") === 0, 1L).otherwise(0L)).as("n_zero"))
        .withColumn("raw", expr(TextOps.hllRaw("z")))
        .withColumn("est_hll", expr(
          s"CASE WHEN raw <= 160 AND n_zero > 0 THEN ${TextOps.hllLinearCount("n_zero")} ELSE raw END"))
      val exact = graft.core.Tables.events(ss, d)
        .groupBy("event_type").agg(countDistinct(col("user_id")).as("exact"))
      est.join(exact, Seq("event_type"))
        .select("event_type", "n_zero", "z", "est_hll", "exact")
        .orderBy("event_type")
    }),

    // §2.10 + d29 — STREAMING frequency sketch: the CountMin cell grid
    // maintained as a streaming stateful aggregation — st11's HLL
    // counterpart for COUNT (the pair every streaming-analytics store
    // keeps: HLL for "how many distinct", CMS for "how often each").
    // State is depth×width = 256 cell rows MAX at any stream length:
    // each micro-batch's partial counts SUM-merge into the store
    // (count over grouped keys is Spark's incremental agg), which is
    // the mergeability CMS exists for. Complete mode, finite replay
    // (the st2 contract): after AvailableNow drains, the cell grid
    // EQUALS the batch sketch, so the heavy-hitter probe on the
    // drained sink reuses d29's estimator — top-20 exact counts ride
    // along to ground the estimates (est ≥ true by construction).
    "st12_stream_cms" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      import graft.text.TextOps
      val depth = 4; val width = 64
      val hhash = TextOps.md5Hash32Fast("CAST(user_id AS STRING)")
      def rowBuckets = explode(array((0 until depth).map(i =>
        struct(lit(i.toLong).as("rw"),
          (expr(TextOps.minhashExpr("h", i)) % width).as("bucket"))): _*)).as("c")
      val stream = eventStream(ss, d)
        .withColumn("h", expr(hhash))
        .select(rowBuckets)
        .groupBy(col("c.rw").as("rw"), col("c.bucket").as("bucket"))
        .agg(count(lit(1)).as("cell"))
      val cells = StreamOps.drain(ss, stream, "st12", "complete")
      val top = graft.core.Tables.events(ss, d)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("user_id")).limit(20)
        .withColumn("h", expr(hhash))
      top.select(col("user_id"), col("cnt"), rowBuckets)
        .select(col("user_id"), col("cnt"),
          col("c.rw").as("rw"), col("c.bucket").as("bucket"))
        .join(broadcast(cells), Seq("rw", "bucket"))
        .groupBy("user_id", "cnt").agg(min(col("cell")).as("est"))
        .orderBy(col("cnt").desc, col("user_id"))
    }),

    // ST13 — streaming quantile sketch: a fixed-range 256-bin
    // histogram as a stateful streaming aggregation — the third
    // sketch beside st11 (HLL / cardinality) and st12 (CMS /
    // frequency). The Prometheus-histogram design: bins are FIXED at
    // declaration ([0, 640.00) in 2.50 steps, tails clamped to the
    // edge bins), so state is ≤ types×256 rows at ANY stream length,
    // count-merged per micro-batch with no per-value state. The
    // estimator — cumulative walk + upper-bin-edge readout at
    // p50/p90/p99 — post-processes the drained grid (windows over
    // ≤256 rows per series) and is grounded against the exact order
    // statistic from the batch table; the histogram estimate is
    // within one 2.50 bin of exact by construction. All targets are
    // exact integer arithmetic (ceil via (n·q+99) div 100).
    "st13_stream_quantile" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      val stream = eventStream(ss, d)
        .withColumn("vc", cents(col("value")))
        .withColumn("bin", least(greatest(expr("vc div 250"), lit(0L)), lit(255L)))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("cnt"))
      val hist = StreamOps.drain(ss, stream, "st13", "complete")
      val qs1 = broadcast(ss.createDataFrame(Seq(Tuple1(50), Tuple1(90),
        Tuple1(99))).toDF("q"))
      val qs2 = broadcast(ss.createDataFrame(Seq(Tuple1(50), Tuple1(90),
        Tuple1(99))).toDF("q"))
      val wC = Window.partitionBy("event_type").orderBy("bin")
      val est = hist
        .withColumn("cum", sum(col("cnt")).over(wC))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy("event_type")))
        .crossJoin(qs1)
        .filter(col("cum") >= expr("(n * q + 99) div 100"))
        .groupBy("event_type", "q")
        .agg(min(col("bin")).as("qbin"))
        .withColumn("est", (col("qbin") + 1) * lit(250L) / lit(100.0))
      val ev = graft.core.Tables.events(ss, d)
        .withColumn("vc", cents(col("value")))
      // exact grounding WITHOUT a global sort (r13; the r12 ×1000
      // mechanism hunt): the k-th smallest vc needs only the value
      // FREQUENCY table — one map-combined aggregation collapses the
      // corpus to ≤ types × |distinct vc| rows (vc is cent-quantized:
      // ~20 k values) and the cumulative walk reads the order
      // statistic off it. The previous row_number() form sorted the
      // FULL corpus per event_type (100 M rows through 8 partitions at
      // ×1000 — 5.5× the whole query's remaining cost; measured by
      // StreamKnobSweep, recorded in BASELINE.md §r13 at commit eeea311).
      val freq = ev.groupBy("event_type", "vc").agg(count(lit(1)).as("c"))
      val wV = Window.partitionBy("event_type").orderBy("vc")
      val exact = freq
        .withColumn("cum", sum(col("c")).over(wV))
        .withColumn("n2", sum(col("c")).over(Window.partitionBy("event_type")))
        .crossJoin(qs2)
        .filter(col("cum") >= expr("(n2 * q + 99) div 100"))
        .groupBy("event_type", "q")
        .agg(min(col("vc")).as("kv"))
        .select(col("event_type"), col("q"), (col("kv") / lit(100.0)).as("exact"))
      est.join(exact, Seq("event_type", "q"))
        .select("event_type", "q", "qbin", "est", "exact")
        .orderBy("event_type", "q")
    }),

    // §2.10 — STREAM-STREAM inner join through the micro-batch engine:
    // click→purchase attribution within 6 h per user — the funnel
    // query. Both sides carry watermarks and the join condition
    // bounds purchase time to [click, click+6h], which is what lets
    // the engine evict click state once the purchase-side watermark
    // passes click+6h — bounded state on an unbounded stream. The
    // oracle is the identical range join in plain SQL.
    "st7_stream_join" -> ((s, d) => {
      val ss = StreamOps.streamSession(s)
      // bounded batches: with ONE AvailableNow batch the watermark
      // never advances mid-batch, so a stream-stream join buffers
      // BOTH full streams in the state store before any eviction —
      // the 100× sweep measured 281 s of exactly that. Capping files
      // per trigger lets the watermark advance between batches and
      // keeps join state at ~rate × (join window + delay). r12: the
      // cap must hold the batch volume constant in ROWS, not files —
      // a fixed 8 files/batch was tuned at ~300 k-row files (×100:
      // 2.5 M rows/batch, the r10 state-matrix optimum); the ×1000
      // corpus keeps the same 32-file layout with 3.1 M-row files, so
      // 8 files/batch = 25 M rows buffered under a frozen watermark
      // and the per-key state probe goes quadratic (measured: one
      // stage pinned >30 min). mfpt = targetRows / rowsPerFile; the
      // row count is a parquet footer read. Results are unchanged at
      // any batching: the file stream is time-ordered, so nothing
      // arrives later than the watermark (driver fixture = 1 file =
      // 1 batch, bit-identical).
      // file count and row count from the SAME frame (r12 advice: a
      // directory listing vs the glob can silently diverge if the glob
      // ever matches extra datasets) — inputFiles enumerates exactly
      // the files the stream will read, count() reads their footers
      val evFrame = ss.read.parquet(s"$d/events*.parquet")
      val nFiles = math.max(1, evFrame.inputFiles.length)
      val totalRows = evFrame.count()
      val rowsPerFile = math.max(1L, totalRows / nFiles)
      val mfpt = math.max(1L, 2500000L / rowsPerFile)
      val schema = eventSchema(ss, d)
      def src = StreamOps.fileStream(ss, d, "events*.parquet", schema, Some(mfpt))
        .transform(graft.core.Tables.normalizeTs)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
          col("ts").as("b_ts"))
        .withWatermark("b_ts", "1 hour")
      val joined = clicks.join(buys,
        col("user_id") === col("b_user") &&
        col("b_ts") >= col("c_ts") &&
        col("b_ts") <= col("c_ts") + expr("INTERVAL 6 HOURS"))
      StreamOps.drain(ss, joined, "st7")
        .select(col("user_id"), col("click_id"), col("buy_id"),
          (unix_micros(col("b_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
        .orderBy("user_id", "click_id", "buy_id")
    }),

    // A10 — sessionization (gaps-and-islands, ref main.py:6347–6368):
    // 30-min inactivity threshold, per-session aggregates.
    "a10_sessionize" -> ((s, d) => {
      TsOps.sessionize(base(s, d), Seq("user_id"), "t_us", "event_id", 1800000000L)
        .groupBy("user_id", "session")
        .agg(count(lit(1)).as("n"), min(col("t_us")).as("t0_us"),
          max(col("t_us")).as("t1_us"),
          (sum(col("vc")).cast("long") / 100.0).as("sum_value"))
        .withColumn("dur_us", col("t1_us") - col("t0_us"))
        .orderBy("user_id", "session")
    }),

    // A4 — rolling std excluding the window max (retr_stdvwind
    // main.py:6907–6944), ±5-row frame per user; population std from
    // exact integer sums. Frame-max multiplicity: each row is exploded
    // into its 11 frame memberships (center rn = brn + j, j ∈ −5..5) so
    // the join is pure equi on (user_id, rn, max) — strictly linear in
    // rows×11, no per-user cartesian intermediate at any skew.
    "a4_peakcut_std" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      val fr = w.rowsBetween(-5, 5)
      // one select: rank + the four frame aggregates share the
      // (partition, order) spec → ONE WindowExec, one buffer (r14)
      val st = base(s, d).select(col("*"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(fr).as("n"),
        sum(col("vc")).over(fr).as("sv"),
        sum(col("vc") * col("vc")).over(fr).as("q"),
        max(col("vc")).over(fr).as("m"))
      val rn = st.select(col("user_id").as("b_user"), col("rn").as("brn"), col("vc").as("bvc"))
        .withColumn("crn", explode(array((-5 to 5).map(j => col("brn") + lit(j)): _*)))
      val cnt = st.join(rn,
          col("user_id") === col("b_user") &&
          col("rn") === col("crn") &&
          col("bvc") === col("m"))
        .groupBy("event_id").agg(count(lit(1)).as("cnt"))
      st.join(cnt, "event_id")
        .withColumn("n2", col("n") - col("cnt"))
        .withColumn("s2", col("sv") - col("cnt") * col("m"))
        .withColumn("q2", col("q") - col("cnt") * col("m") * col("m"))
        .withColumn("stdv", when(col("n2") > 0,
          sqrt((col("q2") - col("s2").cast("double") * col("s2") / col("n2")) / col("n2")) / 100.0))
        .select("event_id", "n2", "stdv")
        .orderBy("event_id")
    }),

    // A5/T3 — rolling median baseline + 'medi'-mode detrend
    // (bdtr_tser main.py:6784–6795): value − median(±5 rows) + 1.
    "t3_detrend_median" -> ((s, d) => {
      val fr = Window.partitionBy("user_id").orderBy("t_us", "event_id").rowsBetween(-5, 5)
      base(s, d)
        .withColumn("med", expr("percentile(vc, 0.5)").over(fr) / 100.0)
        .withColumn("detr", col("value") - col("med") + 1.0)
        .select("event_id", "med", "detr")
        .orderBy("event_id")
    }),

    // A6/T9 — rolling robust z-score vs 5/50/95 envelope in a ±1 h RANGE
    // window (flare trigger, ref main.py:11367–11391), threshold z>2.5.
    "t9_robust_z" -> ((s, d) => {
      val fr = Window.partitionBy("user_id").orderBy("t_us")
        .rangeBetween(-3600000000L, 3600000000L)
      base(s, d)
        // one select: the three envelope percentiles share the frame →
        // one WindowExec, one buffer, one percentile sort reused (r14)
        .select(col("*"),
          (expr("percentile(vc, 0.5)").over(fr) / 100.0).as("med"),
          (expr("percentile(vc, 0.05)").over(fr) / 100.0).as("p05"),
          (expr("percentile(vc, 0.95)").over(fr) / 100.0).as("p95"))
        // round the envelope width BEFORE the degenerate-window nullif
        // (r8, sf1-sweep find): Spark percentile interpolates
        // lo + h*(hi-lo) (exact when hi == lo) but DuckDB quantile_cont
        // computes (1-h)*lo + h*hi, which is ~1 ulp off for h = 0.05 -
        // without the rounding, a 3.6e-12 width flips NULL vs 0.0
        // between engines on two-equal-value windows
        // round6 = codegen RoundHalfUpK, bit-identical to round(x, 6)
        // (r16: this was ~2×100 M BigDecimal ops at ×1000)
        .withColumn("z", round6((col("value") - col("med")) /
          nullif(round6(col("p95") - col("p05")), lit(0.0))))
        .withColumn("is_flare", col("z") > 2.5)
        .select("event_id", "z", "is_flare")
        .orderBy("event_id")
    }),

    // F2 — custom time-interval mask, anti-semantics (main.py:10841–10865).
    "f2_interval_mask" -> ((s, d) => {
      val w1a = E + 5 * PDAY; val w1b = E + 6 * PDAY
      val w2a = E + 20 * PDAY; val w2b = E + 22 * PDAY
      base(s, d)
        .filter(!(col("t_us") >= w1a && col("t_us") < w1b) &&
                !(col("t_us") >= w2a && col("t_us") < w2b))
        .select("event_id", "t_us")
        .orderBy("event_id")
    }),

    // J4 — interval join of the samples against 3 literal windows: a
    // BroadcastNestedLoopJoin on t_us >= lo_us AND t_us < hi_us over the
    // broadcast windows (no equi key, no shuffle but the output sort).
    "j4_interval_join" -> ((s, d) => {
      val wins = s.createDataFrame(Seq(
        (0, E + 2 * PDAY, E + 3 * PDAY),
        (1, E + 10 * PDAY, E + 11 * PDAY),
        (2, E + 25 * PDAY, E + 26 * PDAY)))
        .toDF("window_id", "lo_us", "hi_us")
      base(s, d).join(broadcast(wins),
          col("t_us") >= col("lo_us") && col("t_us") < col("hi_us"))
        .select("event_id", "window_id")
        .orderBy("event_id")
    }),

    // F3/T10 — closed-form in-transit predicate + per-transit aggregates
    // (retr_indxtimetran main.py:6502–6587): P=7 d, dur=1 d.
    "t10_transit_stats" -> ((s, d) => {
      base(s, d)
        .withColumn("k", TsOps.transitIndex(col("t_us"), lit(E), lit(P7)))
        .filter(TsOps.inTransit(col("t_us"), lit(E), lit(P7), lit(DUR)))
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          (sum(col("vc")).cast("long") / 100.0 / count(lit(1))).as("vmean"))
        .orderBy("k")
    }),

    // T20 — odd/even depth test (the standard eclipsing-binary
    // false-positive vetting diagnostic: a blended binary at twice
    // the period shows alternating transit depths, a planet shows
    // equal ones; cf. the reference's vetting around its transit
    // stats, main.py:6540 region). Pools the in-transit samples by
    // transit-index PARITY, measures each parity's depth against the
    // shared out-of-transit baseline — every number a ratio of exact
    // integer sums. Scale shape: one filtered keyed aggregation (2
    // groups) + a one-row baseline broadcast; at 100 TB this is two
    // map-side-combined passes over the series.
    "t20_oddeven" -> ((s, d) => {
      val b = base(s, d)
        .withColumn("k", TsOps.transitIndex(col("t_us"), lit(E), lit(P7)))
        .withColumn("intr",
          TsOps.inTransit(col("t_us"), lit(E), lit(P7), lit(DUR)))
      val oot = b.filter(!col("intr"))
        .agg(sum(col("vc")).cast("long").as("so"),
          count(lit(1)).cast("long").as("no"))
      b.filter(col("intr"))
        .withColumn("parity", expr("((k % 2) + 2) % 2"))
        .groupBy("parity")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("vc")).cast("long").as("sv"))
        .crossJoin(broadcast(oot))
        .withColumn("mean_val", col("sv").cast("double") / col("n") / 100.0)
        .withColumn("oot_mean", col("so").cast("double") / col("no") / 100.0)
        .withColumn("depth", col("oot_mean") - col("mean_val"))
        .select("parity", "n", "sv", "mean_val", "oot_mean", "depth")
        .orderBy("parity")
    }),

    // T21 — transit-timing variations (O−C): per-transit observed
    // center vs the linear ephemeris (the TTV diagnostic the
    // reference's timing stage produces; departures from zero reveal
    // additional companions). The observed center is the
    // DEPTH-WEIGHTED mean time of the in-transit samples — weight
    // w = baseline_mean_cents − vc (integerized, clamped ≥0 so noise
    // above baseline never flips a weight), giving center =
    // Σw·(t−C_k) / Σw + C_k in exact micros-by-rational form; O−C is
    // emitted as both the exact integer pair (num, den) and the
    // divided minutes. Scale shape: one-row baseline broadcast + ONE
    // keyed aggregation on the transit index — map-side combined,
    // like t10.
    "t21_ttv" -> ((s, d) => {
      val b = base(s, d)
        .withColumn("k", TsOps.transitIndex(col("t_us"), lit(E), lit(P7)))
        .withColumn("intr",
          TsOps.inTransit(col("t_us"), lit(E), lit(P7), lit(DUR)))
      val oot = b.filter(!col("intr"))
        .agg(sum(col("vc")).cast("long").as("so"),
          count(lit(1)).cast("long").as("no"))
      b.filter(col("intr"))
        .crossJoin(broadcast(oot))
        // integer baseline mean in cents (floor), then clamped weight
        .withColumn("bm", expr("(so - ((so % no + no) % no)) div no"))
        .withColumn("w", greatest(col("bm") - col("vc"), lit(0L)))
        .withColumn("ck", lit(E) + col("k") * lit(P7))
        .groupBy("k")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("w")).cast("long").as("sw"),
          // per-row |w·(t−ck)| ≤ 1e4 cents × DUR/2 ≈ 3.6e13, so an
          // int64 ACCUMULATOR exhausts at ~2.5e5 in-transit rows per
          // transit — real at the claimed corpus scale. Accumulate in
          // decimal(38,0) (exact, ~1e24-row headroom; DuckDB's BIGINT
          // sum is HUGEINT-backed the same way) and cast back, which
          // under ANSI fails loudly in the truly-out-of-range case
          // instead of wrapping (the d15 label-sum discipline).
          sum((col("w") * (col("t_us") - col("ck"))).cast("decimal(38,0)"))
            .cast("long").as("swt"))
        .filter(col("sw") > 0)
        .withColumn("oc_min",
          col("swt").cast("double") / col("sw") / 6e7)
        .select("k", "n", "sw", "swt", "oc_min")
        .orderBy("k")
    }),

    // F3+/T10b — ingress/egress sub-windows + secondary eclipse
    // (retr_indxtimetran main.py:6540–6567: typeineg
    // ingrinit/ingrfinl/eggrinit/eggrfinl quarter-splits and the
    // boolseco phase-0.5 offset; retr_timetran fracineg
    // main.py:118–173). rrat = 1/3 ⇒ durafull = (1−rrat)/(1+rrat)·DUR
    // = DUR/2 exactly, so every sub-window edge is an exact integer
    // micro offset from the transit center: totl half DUR/2, full half
    // DUR/4, ingress/egress midpoints at 3·DUR/8. Per-transit
    // 4-interval counts/means, the reference's fracineg ratios
    // (ingrinit/ingrfinl, eggrinit/eggrfinl), and the secondary-eclipse
    // (phase-0.5) window mean, full-outer on the transit index. One
    // shuffle per aggregate on k — scales like any keyed agg.
    "t10b_ineg_secondary" -> ((s, d) => {
      val D2 = DUR / 2; val D38 = 3 * DUR / 8; val D4 = DUR / 4
      val b = base(s, d)
        .withColumn("k", TsOps.transitIndex(col("t_us"), lit(E), lit(P7)))
        .withColumn("dt", col("t_us") - lit(E) - col("k") * P7)
      def win(lo: Long, hi: Long) = col("dt") > lo && col("dt") < hi
      val conds = Seq(win(-D2, -D38), win(-D38, -D4), win(D4, D38), win(D38, D2))
      val aggs = conds.zipWithIndex.flatMap { case (c, i) =>
        Seq(count(when(c, lit(1))).as(s"n$i"),
          (sum(when(c, col("vc"))).cast("long") / 100.0 /
            count(when(c, lit(1)))).as(s"m$i"))
      }
      val prim = b.filter(conds.reduce(_ || _))
        .groupBy("k")
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("frac_ingr",
          when(col("n0") > 0 && col("n1") > 0, round6(col("m0") / col("m1"))))
        .withColumn("frac_eggr",
          when(col("n2") > 0 && col("n3") > 0, round6(col("m2") / col("m3"))))
      val sec = base(s, d)
        .withColumn("pm2", ((col("t_us") - E) % P7 + P7) % P7)
        .withColumn("k", expr(s"(t_us - $E - pm2) div $P7"))
        .withColumn("dt2", col("pm2") - P7 / 2)
        .filter(col("dt2") > -D2 && col("dt2") < D2)
        .groupBy("k")
        .agg(count(lit(1)).as("n_sec"),
          (sum(col("vc")).cast("long") / 100.0 / count(lit(1))).as("m_sec"))
      prim.join(sec, Seq("k"), "full_outer")
        .select("k", "n0", "m0", "n1", "m1", "n2", "m2", "n3", "m3",
          "frac_ingr", "frac_eggr", "n_sec", "m_sec")
        .orderBy("k")
    }),

    // J8 — as-of linear interpolation onto a uniform 6-h grid per
    // event_type (ref interp1d main.py:6286).
    "j8_asof_interp" -> ((s, d) => {
      val b = base(s, d)
      val mm = b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
      val grid = mm.withColumn("i",
          explode(sequence(lit(0L), expr("(t1 - t0) div 21600000000"))))
        .select((col("t0") + col("i") * 21600000000L).as("g_us"))
      val w = Window.partitionBy("event_type").orderBy("t_us", "event_id")
      val seg = b
        .withColumn("t_next", lead(col("t_us"), 1).over(w))
        .withColumn("v_next", lead(col("vc"), 1).over(w))
        .filter(col("t_next").isNotNull && col("t_next") =!= col("t_us"))
      seg.join(broadcast(grid), col("g_us") >= col("t_us") && col("g_us") < col("t_next"))
        .withColumn("interp", col("vc") / 100.0 +
          (col("v_next") / 100.0 - col("vc") / 100.0) *
            (col("g_us") - col("t_us")) / (col("t_next") - col("t_us")))
        .select("event_type", "g_us", "interp")
        .orderBy("event_type", "g_us")
    }),

    // J8b — the custom whole-operator as-of join (§2.11(c):
    // LogicalPlan + SparkStrategy + SparkPlan, graft.plans.AsOfJoin):
    // nearest PRECEDING sample per (event_type) for every 6-h grid
    // point — one co-partitioned sorted merge, O(1) state per
    // partition, against DuckDB's native ASOF JOIN as the oracle.
    // Samples pre-dedup to one row per (event_type, t_us) so the
    // as-of pick is unique in both engines.
    "j8b_asof_nearest" -> ((s, d) => {
      val b = base(s, d)
      val samples = b.groupBy("event_type", "t_us").agg(max(col("vc")).as("vc"))
      val mm = b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
      val grid = mm.withColumn("i",
          explode(sequence(lit(0L), expr("(t1 - t0) div 21600000000"))))
        .select((col("t0") + col("i") * 21600000000L).as("g_us"))
        .crossJoin(b.select(col("event_type").as("g_type")).distinct())
      graft.plans.AsOfJoin.asof(grid, samples, "g_type", "g_us", "event_type", "t_us")
        .select(col("g_type").as("event_type"), col("g_us"),
          col("t_us").as("s_us"), (col("vc") / 100.0).as("v"))
        .orderBy("event_type", "g_us")
    }),

    // F4/T4 — iterative sigma clip, 3 rounds of 2.5σ per event_type
    // (scipy sigmaclip semantics, ref main.py:10989–11002). One plan, no
    // window: each round's per-event_type stats aggregate (an exchange
    // hashed on event_type) is broadcast-hash-joined back as the filter.
    "t4_sigma_clip" -> ((s, d) => {
      TsOps.sigmaClip(base(s, d), Seq("event_type"), "vc", 2.5, 3)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_kept"),
          (sum(col("vc")).cast("long") / 100.0).as("sum_kept"))
        .orderBy("event_type")
    }),

    // A13 — residual RMS vs bin width (ref main.py:911–930; width grid
    // 11157–11164): 50 LINEARLY spaced widths from baseline/2000 to
    // 0.3·baseline (the reference's linspace(minmdeltrebn,
    // maxmdeltrebn, 50)), bin means integerized at 1e-6, population
    // RMS across bins per width. The 50× explode is map-local; the
    // only shuffle is the (width, bin) aggregation.
    "a13_rms_binwidth" -> ((s, d) => {
      val mm = base(s, d).agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
      base(s, d).crossJoin(broadcast(mm))
        .withColumn("k", explode(sequence(lit(0L), lit(49L))))
        .withColumn("wmin", greatest(lit(1L), expr("(t1 - t0) div 2000")))
        .withColumn("wmax", expr("3 * (t1 - t0) div 10"))
        .withColumn("width_us", col("wmin") + expr("(k * (wmax - wmin)) div 49"))
        .withColumn("bin", expr(s"(t_us - ${E}) div width_us"))
        .groupBy("width_us", "bin")
        .agg((sum(col("vc")).cast("double") / 100.0 / count(lit(1))).as("m"))
        .withColumn("mi", roundAway(col("m") * 1e6).cast("long"))
        .groupBy("width_us")
        .agg(count(lit(1)).as("n_bins"), sum(col("mi")).as("_s"),
          // DECIMAL(38,0) accumulator (r8, the t21 discipline — found
          // by the sf1 sweep): mi is an UNCENTERED 1e6-scaled bin
          // mean, so Σ mi² reaches ~n_bins·(mean·1e6)² and overflows
          // int64 once means grow past ~7e7 — DuckDB's sum(BIGINT)
          // auto-widens to HUGEINT, Spark's ANSI long sum errors.
          // r9 (ADVICE): one OPERAND is cast first so the product
          // itself is decimal — a single mi² term over 2^63 (|bin
          // mean| > ~3e9 in 1e6 units) no longer overflows either;
          // decimal→double rounds to the same double HUGEINT→double
          // does, so rms stays bit-identical.
          sum(expr("CAST(mi AS DECIMAL(38,0)) * mi")).as("_q"))
        .withColumn("rms", round6(
          sqrt((col("_q") - col("_s").cast("double") * col("_s") / col("n_bins")) /
            col("n_bins")) / 1e6))
        .select("width_us", "n_bins", "rms")
        .orderBy("width_us")
    }),

    // T11 — uniform model-evaluation grid (setp_time main.py:7505–7554):
    // ~500 points spanning the observed range.
    "t11_time_grid" -> ((s, d) => {
      val b = base(s, d)
      b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
        .withColumn("step", expr("(t1 - t0) div 500"))
        .withColumn("i", explode(sequence(lit(0L), lit(500L))))
        .select(col("i"), (col("t0") + col("i") * col("step")).as("grid_us"))
        .orderBy("i")
    }),

    // T12 — model evaluation on the grid (retr_dictmodl_mile
    // main.py:327–668): box transit + exponential flare + sinusoid RV.
    "t12_model_eval" -> ((s, d) => {
      val b = base(s, d)
      b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
        .withColumn("step", expr("(t1 - t0) div 500"))
        .withColumn("i", explode(sequence(lit(0L), lit(500L))))
        .withColumn("g_us", col("t0") + col("i") * col("step"))
        .withColumn("ph", TsOps.phaseCenteredUs(col("g_us"), lit(E), lit(P7)))
        .withColumn("flux", round6(
          lit(1.0) - when(abs(col("ph")) < DUR / 2, 0.01).otherwise(0.0) +
            lit(0.02) * exp(-TsOps.phaseUs(col("g_us"), lit(E), lit(PDAY))
              .cast("double") / 7200000000.0)))
        .withColumn("rv", round6(lit(5.0) *
          sin(lit(2.0 * math.Pi) * (col("g_us") - E).cast("double") / P7)))
        .select("i", "g_us", "flux", "rv")
        .orderBy("i")
    }),

    // T12d — LIMB-DARKENED model evaluation (the reference's actual
    // model core, ephesos.eval_modl main.py:497–528; t12 composes a
    // BOX transit — this evaluates the quadratic-LD occultation from
    // model/LimbDark.scala over the same 501-point grid, for three
    // (rrat, T14) configurations spanning shallow/deep and
    // short/long: the parameters arrive as COLUMNS, exactly the shape
    // the t13d likelihood evaluates per proposal). Pure codegen
    // column math — the LD chain is √/min/max/±×÷ only, so the raw
    // doubles are bit-identical in the DuckDB replay with no
    // rounding at all (stronger than t12's 6-dp rounding, which its
    // exp/sin transcendentals force). Scale: generated grid — no
    // input-proportional work except the one-row agg; no shuffle
    // until the output sort.
    "t12d_model_ld" -> ((s, d) => {
      import graft.model.LimbDark
      val b = base(s, d)
      b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
        .withColumn("step", expr("(t1 - t0) div 500"))
        .withColumn("cfg", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("pp", expr("CASE WHEN cfg = 0 THEN CAST(0.08 AS DOUBLE) " +
          "WHEN cfg = 1 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.25 AS DOUBLE) END"))
        .withColumn("tt", expr("CASE WHEN cfg = 0 THEN CAST(0.6 AS DOUBLE) " +
          "WHEN cfg = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(1.6 AS DOUBLE) END"))
        .withColumn("i", explode(sequence(lit(0L), lit(500L))))
        .withColumn("g_us", col("t0") + col("i") * col("step"))
        .withColumn("ph", TsOps.phaseUs(col("g_us"), lit(E), lit(P7)))
        .withColumn("phd", expr("CAST(ph AS DOUBLE) / 86400e6"))
        .withColumn("aph", expr("CASE WHEN phd < 3.5 THEN phd ELSE 7.0 - phd END"))
        .withColumn("hu", expr(LimbDark.huSql("aph", "tt")))
        .withColumn("z", expr(LimbDark.zSql("hu", "pp")))
        .withColumn("lam", expr(LimbDark.lamSql("z", "pp")))
        .withColumn("mu", expr(LimbDark.muSql("z", "pp")))
        .withColumn("iz", expr(LimbDark.izSql("mu")))
        .withColumn("flux_ld", expr(LimbDark.fluxSql("hu", "pp", "iz", "lam")))
        .select("cfg", "i", "g_us", "aph", "flux_ld")
        .orderBy("cfg", "i")
    }),

    // T12e — EXACT quadratic-LD occultation (r9: the last model-
    // fidelity gap the verdict names — the reference's typelmdk=
    // 'quadkipp' is the exact form, main.py:511; t12d's small-planet
    // factorization approximates it to ~1e-3 at p = 0.25). The
    // declared model integrates the exact overlap integrand: the
    // fully-covered inner disk in closed form + a FIXED 256-node
    // (LimbDarkExact.N) midpoint quadrature over the partial band,
    // with acos built from
    // a literal-table atan (no libm at eval time) and node
    // contributions 1e-12-quantized so the Σ is an order-free integer
    // (model/LimbDarkExact.scala — validated against an independent
    // 20 000-node integration in spec). Output carries BOTH models'
    // raw doubles; the delta IS the small-planet error, visible per
    // phase. Scale: generated grid × 256 nodes (~385 k rows) — one
    // keyed aggregation, no corpus term beyond the anchor agg.
    "t12e_model_ldx" -> ((s, d) => {
      import graft.model.{LimbDark, LimbDarkExact => LX}
      val b = base(s, d)
      val rows = b.agg(min(col("t_us")).as("t0"), max(col("t_us")).as("t1"))
        .withColumn("step", expr("(t1 - t0) div 500"))
        .withColumn("cfg", explode(array(lit(0), lit(1), lit(2))))
        .withColumn("pp", expr("CASE WHEN cfg = 0 THEN CAST(0.08 AS DOUBLE) " +
          "WHEN cfg = 1 THEN CAST(0.15 AS DOUBLE) ELSE CAST(0.25 AS DOUBLE) END"))
        .withColumn("tt", expr("CASE WHEN cfg = 0 THEN CAST(0.6 AS DOUBLE) " +
          "WHEN cfg = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(1.6 AS DOUBLE) END"))
        .withColumn("i", explode(sequence(lit(0L), lit(500L))))
        .withColumn("g_us", col("t0") + col("i") * col("step"))
        .withColumn("ph", TsOps.phaseUs(col("g_us"), lit(E), lit(P7)))
        .withColumn("phd", expr("CAST(ph AS DOUBLE) / 86400e6"))
        .withColumn("aph", expr("CASE WHEN phd < 3.5 THEN phd ELSE 7.0 - phd END"))
        .withColumn("hu", expr(LimbDark.huSql("aph", "tt")))
        .withColumn("z", expr(LimbDark.zSql("hu", "pp")))
        .withColumn("lam", expr(LimbDark.lamSql("z", "pp")))
        .withColumn("mu", expr(LimbDark.muSql("z", "pp")))
        .withColumn("izc", expr(LimbDark.izSql("mu")))
        .withColumn("flux_ld", expr(LimbDark.fluxSql("hu", "pp", "izc", "lam")))
      val band = LX.q1Sql.foldLeft(rows) { case (df, (n, sql)) =>
        df.withColumn(n, expr(sql)) }
        .withColumn("ain", expr(LX.ainSql))
        .withColumn("w", expr(LX.wSql))
        .withColumn("j", explode(sequence(lit(0L), lit(LX.N - 1L))))
        .withColumn("r", expr(LX.rSql))
        .withColumn("x", expr(LX.xSql))
        .withColumn("tq", expr(LX.tqSql))
        .withColumn("xr", expr(LX.xrSql))
        .withColumn("flip", expr(LX.flipSql))
        .withColumn("ai", expr(LX.aiSql))
        .withColumn("ci", expr(LX.ciSql))
        .withColumn("d", expr(LX.dSql))
        .withColumn("atv", expr(LX.atSql))
        .withColumn("alpha", expr(LX.alphaSql))
        .withColumn("qj", expr(LX.qjSql))
      band.groupBy("cfg", "i", "g_us", "aph", "hu", "flux_ld", "ain")
        .agg(sum(col("qj")).cast("long").as("sq"))
        .withColumn("flux_ldx", expr(LX.fluxSql("hu", "ain", "sq")))
        .select("cfg", "i", "g_us", "aph", "flux_ld", "flux_ldx")
        .orderBy("cfg", "i")
    }),

    // T16 — ACF period detector (the McQuillan et al. 2013 rotation-
    // period method; complements T5's Lomb–Scargle and T6's BLS with
    // the third standard periodogram family, cf. the reference's
    // period-search stage around main.py:5203). Rebin to a uniform
    // 1-hour grid per series, center, then correlate the grid against
    // itself at integer-hour lags 1..48; local maxima of the ACF mark
    // period candidates (the 24 h signal in the fixture peaks at
    // lag 24). Scale shape: the REBIN is the one corpus-scale
    // aggregation — after it the series is span/Δ bins regardless of
    // input rows, so the lag correlation is an EQUI-join on
    // (event_type, bin+lag) keys, linear in bins×K with no theta join
    // and no global window (peak detection partitions by series over
    // K rows). All sums are exact int64: bin means are floor-divided
    // cents (explicit positive-mod floor formula, identical in both
    // engines), centering subtracts the floor-divided per-series mean,
    // and acf is a ratio of two exact integer sums.
    "t16_acf" -> ((s, d) => {
      val K = 48
      val bins = base(s, d)
        .withColumn("bin", expr(s"(t_us - $E) div 3600000000"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), sum(col("vc")).cast("long").as("sv"))
        .withColumn("mb", expr("(sv - ((sv % n + n) % n)) div n"))
      val tot = bins.groupBy("event_type").agg(
        sum(col("mb")).cast("long").as("smb"),
        count(lit(1)).cast("long").as("nb"))
      val cb = bins.join(broadcast(tot), "event_type")
        .withColumn("c", col("mb") - expr("(smb - ((smb % nb + nb) % nb)) div nb"))
        .select(col("event_type"), col("bin"), col("c"))
      val lags = s.range(1, K + 1).toDF("lag")
      val rhs = cb.select(col("event_type"), col("bin").as("bin2"),
        col("c").as("c2"))
      val num = cb.crossJoin(broadcast(lags))
        .withColumn("bin2", col("bin") + col("lag"))
        .join(rhs, Seq("event_type", "bin2"))
        .groupBy("event_type", "lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("c") * col("c2")).cast("long").as("num"))
      val den = cb.groupBy("event_type")
        .agg(sum(col("c") * col("c")).cast("long").as("den"))
      val w = Window.partitionBy("event_type").orderBy("lag")
      num.join(broadcast(den), "event_type")
        .withColumn("acf", col("num").cast("double") / col("den"))
        .withColumn("ap", lag(col("acf"), 1).over(w))
        .withColumn("an", lead(col("acf"), 1).over(w))
        .withColumn("is_peak",
          when(col("ap").isNotNull && col("an").isNotNull &&
            col("acf") > col("ap") && col("acf") > col("an"), lit(true))
            .otherwise(lit(false)))
        .select("event_type", "lag", "n_pairs", "num", "acf", "is_peak")
        .orderBy("event_type", "lag")
    }),

    // T17 — cross-correlation lead/lag estimation between two series
    // (the CCF companion of t16's ACF; in the reference's domain this
    // is multi-band lag measurement, cf. the per-energy light curves
    // around main.py:3928): rebin both series to the shared 1-h grid,
    // center each, correlate a against b at signed lags −48..48, and
    // flag the argmax lag — a positive best lag means a leads b.
    // Same scale shape as t16: rebin is the one corpus-scale agg;
    // the lag correlation is an equi-join on bin+lag; the normalizer
    // sqrt(Σca²·Σcb²) is IEEE-correctly-rounded over exact integer
    // sums, so ccf is bit-reproducible; argmax is a window over ≤97
    // rows (grid-bounded).
    "t17_xcorr" -> ((s, d) => {
      val K = 48
      val bins = base(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .withColumn("bin", expr(s"(t_us - $E) div 3600000000"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n"), sum(col("vc")).cast("long").as("sv"))
        .withColumn("mb", expr("(sv - ((sv % n + n) % n)) div n"))
      val tot = bins.groupBy("event_type").agg(
        sum(col("mb")).cast("long").as("smb"),
        count(lit(1)).cast("long").as("nb"))
      val cb = bins.join(broadcast(tot), "event_type")
        .withColumn("c", col("mb") - expr("(smb - ((smb % nb + nb) % nb)) div nb"))
        .select(col("event_type"), col("bin"), col("c"))
      val a = cb.filter(col("event_type") === "click")
        .select(col("bin"), col("c").as("ca"))
      val b = cb.filter(col("event_type") === "purchase")
        .select(col("bin").as("bin2"), col("c").as("cb"))
      val lags = s.range(-K, K + 1).toDF("lag")
      val num = a.crossJoin(broadcast(lags))
        .withColumn("bin2", col("bin") + col("lag"))
        .join(b, "bin2")
        .groupBy("lag")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("ca") * col("cb")).cast("long").as("num"))
      val pw = cb.groupBy("event_type")
        .agg(sum(col("c") * col("c")).cast("long").as("pp"))
      num
        .crossJoin(broadcast(pw.filter(col("event_type") === "click")
          .select(col("pp").as("pa"))))
        .crossJoin(broadcast(pw.filter(col("event_type") === "purchase")
          .select(col("pp").as("pb"))))
        .withColumn("ccf", col("num").cast("double") /
          sqrt(col("pa").cast("double") * col("pb")))
        .withColumn("is_best",
          col("ccf") === max(col("ccf")).over(Window.partitionBy(lit(1))))
        .select("lag", "n_pairs", "num", "ccf", "is_best")
        .orderBy("lag")
    }),

    // T18 — closed-form harmonic (sinusoid) fit at the fold period:
    // the amplitude/phase estimation step of rotational-modulation
    // analysis (the reference fits sinusoid components in its model
    // stage, cf. main.py:3928 region). Phase-fold to 24 bins (t2),
    // take integer bin means (t16's floor-div), and solve the 3×3
    // normal equations for mean + A·cos + B·sin by CRAMER'S RULE over
    // exact int64 sums — the t3b integerized-solver technique with
    // the trig basis quantized at 1e2 from [[harmBasis]] literals
    // shared verbatim with the oracle. Scale shape: one corpus-scale
    // phase-bin aggregation, a 24-row broadcast basis join, and a
    // per-series rollup; the determinants are order-free integer
    // arithmetic, so the fit is bit-reproducible at any parallelism.
    "t18_harmonic" -> ((s, d) => {
      import s.implicits._
      val basis = broadcast(harmBasis.toDF("k", "c2", "s2"))
      val binned = base(s, d)
        .withColumn("ph", TsOps.phaseUs(col("t_us"), lit(E), lit(PDAY)))
        .withColumn("k", expr(s"((ph * 24) div $PDAY)").cast("int"))
        .groupBy("event_type", "k")
        .agg(count(lit(1)).as("n"), sum(col("vc")).cast("long").as("sv"))
        .withColumn("mb", expr("(sv - ((sv % n + n) % n)) div n"))
      binned.join(basis, "k").groupBy("event_type").agg(
          count(lit(1)).cast("long").as("nb"),
          sum(col("c2")).cast("long").as("sc"),
          sum(col("s2")).cast("long").as("ss"),
          sum(col("c2") * col("c2")).cast("long").as("scc"),
          sum(col("s2") * col("s2")).cast("long").as("sss"),
          sum(col("c2") * col("s2")).cast("long").as("scs"),
          sum(col("mb")).cast("long").as("sy"),
          sum(col("c2") * col("mb")).cast("long").as("scy"),
          sum(col("s2") * col("mb")).cast("long").as("ssy"))
        .withColumn("det", expr(
          "nb*(scc*sss - scs*scs) - sc*(sc*sss - scs*ss) + ss*(sc*scs - scc*ss)"))
        .withColumn("dm", expr(
          "sy*(scc*sss - scs*scs) - sc*(scy*sss - scs*ssy) + ss*(scy*scs - scc*ssy)"))
        .withColumn("da", expr(
          "nb*(scy*sss - scs*ssy) - sy*(sc*sss - scs*ss) + ss*(sc*ssy - scy*ss)"))
        .withColumn("db", expr(
          "nb*(scc*ssy - scy*scs) - sc*(sc*ssy - scy*ss) + sy*(sc*scs - scc*ss)"))
        // det = 0 only for a degenerate folded profile (<3 occupied
        // phase bins) — impossible on the fixture, but a sparse series
        // must yield a clean empty row, not an ANSI divide-by-zero
        // (t19's guard, mirrored here for symmetry)
        .filter(col("det") =!= 0L)
        .withColumn("mean_val", col("dm").cast("double") / col("det") / 100.0)
        .withColumn("a2", col("da").cast("double") / col("det"))
        .withColumn("b2", col("db").cast("double") / col("det"))
        .withColumn("amp_val",
          sqrt(col("a2") * col("a2") + col("b2") * col("b2")))
        .select("event_type", "nb", "det", "dm", "da", "db",
          "mean_val", "amp_val")
        .orderBy("event_type")
    }),

    // T19 — time-resolved harmonic amplitude (the spectrogram row of
    // t18: the same closed-form sinusoid fit, evaluated per 7-day
    // window, so amplitude EVOLUTION is observable — the windowed
    // periodogram every rotation/activity study plots). Identical
    // integer machinery to t18 — phase-bin aggregation now keyed by
    // (series, week), the 24-row basis broadcast, per-(series, week)
    // Cramer rollup — so the window axis adds a group key, not a new
    // shuffle shape; everything stays order-free exact int64.
    "t19_sliding_harmonic" -> ((s, d) => {
      import s.implicits._
      val W = 7L * PDAY
      val basis = broadcast(harmBasis.toDF("k", "c2", "s2"))
      val binned = base(s, d)
        .withColumn("wk", expr(s"(t_us - $E) div $W"))
        .withColumn("ph", TsOps.phaseUs(col("t_us"), lit(E), lit(PDAY)))
        .withColumn("k", expr(s"((ph * 24) div $PDAY)").cast("int"))
        .groupBy("event_type", "wk", "k")
        .agg(count(lit(1)).as("n"), sum(col("vc")).cast("long").as("sv"))
        .withColumn("mb", expr("(sv - ((sv % n + n) % n)) div n"))
      binned.join(basis, "k").groupBy("event_type", "wk").agg(
          count(lit(1)).cast("long").as("nb"),
          sum(col("c2")).cast("long").as("sc"),
          sum(col("s2")).cast("long").as("ss"),
          sum(col("c2") * col("c2")).cast("long").as("scc"),
          sum(col("s2") * col("s2")).cast("long").as("sss"),
          sum(col("c2") * col("s2")).cast("long").as("scs"),
          sum(col("mb")).cast("long").as("sy"),
          sum(col("c2") * col("mb")).cast("long").as("scy"),
          sum(col("s2") * col("mb")).cast("long").as("ssy"))
        .withColumn("det", expr(
          "nb*(scc*sss - scs*scs) - sc*(sc*sss - scs*ss) + ss*(sc*scs - scc*ss)"))
        .withColumn("da", expr(
          "nb*(scy*sss - scs*ssy) - sy*(sc*sss - scs*ss) + ss*(sc*ssy - scy*ss)"))
        .withColumn("db", expr(
          "nb*(scc*ssy - scy*scs) - sc*(sc*ssy - scy*ss) + sy*(sc*scs - scc*ss)"))
        .filter(col("det") =!= 0L)
        .withColumn("a2", col("da").cast("double") / col("det"))
        .withColumn("b2", col("db").cast("double") / col("det"))
        .withColumn("amp_val",
          sqrt(col("a2") * col("a2") + col("b2") * col("b2")))
        .select("event_type", "wk", "nb", "det", "da", "db", "amp_val")
        .orderBy("event_type", "wk")
    }),

    // W8 — exponentially-weighted moving average, bounded horizon:
    // the exponential-decay member of the rolling family (t3/a4/t9
    // are uniform-window). True EWMA is an infinite recurrence; the
    // scale-honest batch form truncates at H=20 lags with exact
    // power-of-two weights 2^(19−k) — beyond 20 halvings the dropped
    // tail is below 1e-6 of the weight mass — so the whole smoother
    // is ONE partitioned window with 20 codegen'd lag() terms and
    // exact integer num/den sums (a streaming deployment would
    // instead carry one state row per key; st5's kernel shape).
    // Partial leading windows normalize by the weights actually
    // present, not by a padded denominator.
    "w8_ewma" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
      val num = (0 until 20).map(k =>
        coalesce(lag(col("vc"), k).over(w), lit(0L)) * lit(1L << (19 - k)))
        .reduce(_ + _)
      val den = (0 until 20).map(k =>
        when(lag(col("vc"), k).over(w).isNotNull, lit(1L << (19 - k)))
          .otherwise(lit(0L)))
        .reduce(_ + _)
      base(s, d)
        .withColumn("num", num.cast("long"))
        .withColumn("den", den.cast("long"))
        .withColumn("ewma", col("num").cast("double") / col("den") / 100.0)
        .select("event_id", "user_id", "t_us", "vc", "num", "den", "ewma")
        .orderBy("user_id", "t_us", "event_id")
    }),

    // T7/A11 — periodic-outlier period candidate (srch_outlperi
    // main.py:5203–5279): top-5 outliers → sorted pairwise Δt →
    // successive fractional change.
    "t7_outlperi" -> ((s, d) => {
      val top = base(s, d)
        .orderBy(desc("value"), asc("event_id")).limit(5)
        .select(col("event_id"), col("t_us"))
      val a = top.select(col("event_id").as("a_id"), col("t_us").as("a_t"))
      val bb = top.select(col("event_id").as("b_id"), col("t_us").as("b_t"))
      val pairs = a.crossJoin(bb).filter(col("a_id") < col("b_id"))
        .select(abs(col("b_t") - col("a_t")).as("dt_us"))
      val w = Window.orderBy("dt_us")
      pairs
        .withColumn("rank", row_number().over(w))
        .withColumn("prev", lag(col("dt_us"), 1).over(w))
        .withColumn("frac", round6((col("dt_us") - col("prev")).cast("double") /
          col("prev")))
        .select("rank", "dt_us", "frac")
        .orderBy("rank")
    })
  )

  val oracle: Map[String, String] = {
    val refErr =
      """  count(*) AS n, sum(vc) AS _s, sum(vc*vc) AS _q""".stripMargin
    // gaps-and-islands sessions (a new one at gap >= 30 min), shared by
    // st3_stream_session and st_session_window: the streaming query
    // must produce the same sessions as the batch operator
    val sessionWindowSql =
      s"""WITH $baseSql,
         |flagged AS (SELECT user_id, t_us,
         |  sum(CASE WHEN gap >= 1800000000 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY t_us, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
         |  FROM (SELECT user_id, event_id, t_us,
         |          t_us - lag(t_us, 1) OVER (PARTITION BY user_id
         |                                    ORDER BY t_us, event_id) AS gap
         |        FROM base))
         |SELECT user_id, min(t_us) AS s_us,
         |  max(t_us) + 1800000000 AS e_us, count(*) AS n
         |FROM flagged GROUP BY user_id, session
         |ORDER BY user_id, s_us""".stripMargin
    Map(
      "t1_fold" ->
        s"""WITH $baseSql
           |SELECT event_id, ((t_us - $E) % $PDAY + $PDAY) % $PDAY AS phase_us, value
           |FROM base ORDER BY phase_us, event_id""".stripMargin,

      "t2_phase_bin" ->
        s"""WITH $baseSql,
           |f AS (SELECT vc, ((t_us - $E) % $PDAY + $PDAY) % $PDAY AS phase_us FROM base),
           |g AS (SELECT (phase_us * 24) // $PDAY AS bin, $refErr
           |      FROM f GROUP BY 1)
           |SELECT bin, n, _s/100.0/n AS vmean,
           |  sqrt(1.0/n + greatest((_q - CAST(_s AS DOUBLE)*_s/n)/n/10000.0, 0.0)) AS verr
           |FROM g ORDER BY bin""".stripMargin,

      "a1_rebin_time" ->
        s"""WITH $baseSql,
           |g AS (SELECT event_type, (t_us - $E) // 3600000000 AS bin, $refErr
           |      FROM base GROUP BY 1, 2)
           |SELECT event_type, bin, n, _s/100.0/n AS vmean,
           |  sqrt(1.0/n + greatest((_q - CAST(_s AS DOUBLE)*_s/n)/n/10000.0, 0.0)) AS verr
           |FROM g ORDER BY event_type, bin""".stripMargin,

      "w2_gap_segment" ->
        s"""WITH $baseSql
           |SELECT user_id, event_id,
           |  CAST(sum(CASE WHEN gap > 3600000000 THEN 1 ELSE 0 END)
           |    OVER (PARTITION BY user_id ORDER BY t_us, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS region
           |FROM (SELECT user_id, event_id, t_us,
           |        t_us - lag(t_us, 1) OVER (PARTITION BY user_id
           |                                  ORDER BY t_us, event_id) AS gap
           |      FROM base)
           |ORDER BY user_id, event_id""".stripMargin,

      // w2b: the sim + the full break logic restated layer by layer —
      // every statistic from exact integer window sums, the two
      // double comparisons the same expression tree as the engine's.
      "w2b_disc_segment" ->
        s"""WITH e0 AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
           |sim AS (SELECT part, id, t_us, $w2bSimValue AS vq
           |  FROM (SELECT p, i, CAST(p AS VARCHAR) AS part, p*10000 + i AS id,
           |      t0 + i*1800000000
           |        + (CASE WHEN i >= 1600 THEN 172800000000 ELSE 0 END) AS t_us
           |    FROM e0, (SELECT unnest(generate_series(0, 1)) AS p),
           |         (SELECT unnest(generate_series(0, 1999)) AS i))),
           |s1 AS (SELECT part, id, t_us, vq,
           |    t_us - lag(t_us) OVER (PARTITION BY part ORDER BY t_us, id) AS _gap,
           |    lag(vq) OVER (PARTITION BY part ORDER BY t_us, id) - vq AS _d,
           |    count(vq) OVER (PARTITION BY part ORDER BY t_us, id
           |      ROWS BETWEEN 4 PRECEDING AND 2 PRECEDING) AS _nl,
           |    sum(vq) OVER (PARTITION BY part ORDER BY t_us, id
           |      ROWS BETWEEN 4 PRECEDING AND 2 PRECEDING) AS _sl,
           |    count(vq) OVER (PARTITION BY part ORDER BY t_us, id
           |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS _nr,
           |    sum(vq) OVER (PARTITION BY part ORDER BY t_us, id
           |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS _sr,
           |    sum(vq*vq) OVER (PARTITION BY part ORDER BY t_us, id
           |      ROWS BETWEEN 4 PRECEDING AND 2 PRECEDING) AS _ql,
           |    sum(vq*vq) OVER (PARTITION BY part ORDER BY t_us, id
           |      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS _qr
           |  FROM sim),
           |s2 AS (SELECT *,
           |    count(_d) OVER (PARTITION BY part) AS _nd,
           |    sum(_d) OVER (PARTITION BY part) AS _sd,
           |    sum(_d*_d) OVER (PARTITION BY part) AS _qd,
           |    _nl + _nr AS _n6, _sl + _sr AS _s6, _ql + _qr AS _q6
           |  FROM s1),
           |s3 AS (SELECT part, id, t_us,
           |    CASE WHEN _gap > 3600000000 OR (
           |      coalesce(CAST(_d AS DOUBLE) >
           |        20.0 * sqrt((_qd - CAST(_sd AS DOUBLE)*_sd/_nd)/_nd), false)
           |      AND _nl = 3
           |      AND (CAST(_sl AS DOUBLE)/_nl - CAST(_sr AS DOUBLE)/_nr) <
           |        sqrt((_q6 - CAST(_s6 AS DOUBLE)*_s6/_n6)/_n6))
           |    THEN 1 ELSE 0 END AS _brk
           |  FROM s2)
           |SELECT part, id,
           |  CAST(sum(_brk) OVER (PARTITION BY part ORDER BY t_us, id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS region
           |FROM s3 ORDER BY part, id""".stripMargin,

      "a1b_rebin_edges" ->
        s"""WITH $baseSql,
           |bins(bin, lo_us, hi_us) AS (VALUES ${
             a1bBins.map { case (k, lo, hi) => s"($k, $lo, $hi)" }.mkString(", ")}),
           |g AS (SELECT bin, $refErr
           |      FROM base JOIN bins ON t_us > lo_us AND t_us < hi_us GROUP BY 1)
           |SELECT bins.bin, (lo_us + hi_us) / 2.0 AS bctr_us,
           |  coalesce(g.n, 0) AS n,
           |  CASE WHEN g.n > 0 THEN _s/100.0/g.n END AS vmean,
           |  CASE WHEN g.n > 0 THEN sqrt(1.0/g.n +
           |    greatest((_q - CAST(_s AS DOUBLE)*_s/g.n)/g.n/10000.0, 0.0)) END AS verr
           |FROM bins LEFT JOIN g ON bins.bin = g.bin
           |ORDER BY bins.bin""".stripMargin,

      "st6_stream_dedup" ->
        """SELECT DISTINCT user_id, event_type FROM events
          |ORDER BY user_id, event_type""".stripMargin,

      // Streaming HLL replay: AvailableNow drains the whole fixture, so
      // the final register state equals the batch sketch — replay d30's
      // estimator over the full events table (same register split, ρ
      // ladder, max-merge, grid completion, and two-branch estimate
      // with identical baked constants).
      "st11_stream_hll" -> {
        import graft.text.TextOps
        s"""WITH hashed AS (
           |  SELECT event_type, (h % 64) AS reg,
           |    ${TextOps.hllRho(TextOps.hllW("h"))} AS rho
           |  FROM (SELECT event_type,
           |      ${TextOps.md5Hash32("CAST(user_id AS VARCHAR)")} AS h
           |    FROM events)),
           |regs AS (SELECT event_type, reg, max(rho) AS m
           |  FROM hashed GROUP BY 1, 2),
           |grid AS (
           |  SELECT event_type, unnest(generate_series(0, 63)) AS reg
           |  FROM (SELECT DISTINCT event_type FROM events)),
           |fullgrid AS (
           |  SELECT g.event_type, coalesce(r.m, 0) AS m
           |  FROM grid g LEFT JOIN regs r
           |    ON r.event_type = g.event_type AND r.reg = g.reg),
           |est AS (
           |  SELECT event_type,
           |    CAST(sum(${TextOps.pow2("27 - m")}) AS BIGINT) AS z,
           |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
           |  FROM fullgrid GROUP BY 1),
           |est2 AS (
           |  SELECT event_type, n_zero, z,
           |    CASE WHEN raw <= 160 AND n_zero > 0
           |      THEN ${TextOps.hllLinearCount("n_zero")} ELSE raw END AS est_hll
           |  FROM (SELECT *, ${TextOps.hllRaw("z")} AS raw FROM est)),
           |exact AS (SELECT event_type, count(DISTINCT user_id) AS exact
           |  FROM events GROUP BY 1)
           |SELECT e.event_type, e.n_zero, e.z, e.est_hll, x.exact
           |FROM est2 e JOIN exact x ON x.event_type = e.event_type
           |ORDER BY e.event_type""".stripMargin
      },

      // CMS replay over the full table (drained streaming state equals
      // the batch sketch): same md5 hash, same (2k+3, k²+1) row-hash
      // family, same 4×64 grid and min-probe as d29.
      "st12_stream_cms" -> {
        import graft.text.TextOps
        s"""WITH th AS (
           |  SELECT user_id, ${TextOps.md5Hash32("CAST(user_id AS VARCHAR)")} AS h
           |  FROM events),
           |rws AS (SELECT unnest(generate_series(0, 3)) AS rw),
           |cells AS (
           |  SELECT rw, (((2*rw+3)*h + rw*rw + 1) % 2147483647) % 64 AS bucket,
           |    count(*) AS cell
           |  FROM th, rws GROUP BY 1, 2),
           |top AS (
           |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1
           |  ORDER BY cnt DESC, user_id LIMIT 20),
           |probes AS (
           |  SELECT user_id, cnt, rw,
           |    (((2*rw+3)*h + rw*rw + 1) % 2147483647) % 64 AS bucket
           |  FROM (SELECT user_id, cnt,
           |      ${TextOps.md5Hash32("CAST(user_id AS VARCHAR)")} AS h FROM top),
           |    rws)
           |SELECT probes.user_id, cnt, min(cell) AS est
           |FROM probes JOIN cells ON probes.rw = cells.rw
           |  AND probes.bucket = cells.bucket
           |GROUP BY probes.user_id, cnt
           |ORDER BY cnt DESC, probes.user_id""".stripMargin
      },

      // Replays the streaming kernel's walk as a per-user recursive
      // CTE (the t3c recurrence technique): rank each user's events in
      // the same (t_us, event_id) order the kernel folds in, seed with
      // vc·2^20, and advance all users in lockstep one rank per
      // iteration — exact because the no-late fixture makes the
      // engine's processing order equal this global order.
      "st14_stream_ewma" ->
        """WITH RECURSIVE ev AS (SELECT user_id, event_id,
          |    epoch_us(ts) AS t_us,
          |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |    ORDER BY t_us, event_id) AS r FROM ev),
          |rec AS (
          |  SELECT user_id, event_id, t_us, vc, r, vc * 1048576 AS efp
          |  FROM ranked WHERE r = 1
          |  UNION ALL
          |  SELECT n.user_id, n.event_id, n.t_us, n.vc, n.r,
          |    (rec.efp + n.vc * 1048576) // 2
          |  FROM rec JOIN ranked n
          |    ON n.user_id = rec.user_id AND n.r = rec.r + 1)
          |SELECT user_id, event_id, t_us, vc, efp,
          |  CAST(efp AS DOUBLE) / 1048576.0 / 100.0 AS ewma
          |FROM rec ORDER BY user_id, event_id""".stripMargin,

      // Replays the drained histogram grid and both readouts in plain
      // SQL: the same clamped fixed bins, ceil targets as exact
      // integer arithmetic, and the exact order statistic from the
      // batch table for grounding.
      "st13_stream_quantile" ->
        """WITH ev AS (SELECT event_type, event_id,
          |    CAST(round(value * 100) AS BIGINT) AS vc FROM events),
          |hist AS (SELECT event_type,
          |    least(greatest(vc // 250, 0), 255) AS bin, count(*) AS cnt
          |  FROM ev GROUP BY 1, 2),
          |cum AS (SELECT event_type, bin, cnt,
          |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
          |    sum(cnt) OVER (PARTITION BY event_type) AS n
          |  FROM hist),
          |qs AS (SELECT unnest([50, 90, 99]) AS q),
          |est AS (SELECT event_type, q, min(bin) AS qbin
          |  FROM cum, qs WHERE cum >= (n * q + 99) // 100 GROUP BY 1, 2),
          |ranked AS (SELECT event_type, vc,
          |    row_number() OVER (PARTITION BY event_type
          |      ORDER BY vc, event_id) AS r,
          |    count(*) OVER (PARTITION BY event_type) AS n2
          |  FROM ev),
          |ex AS (SELECT event_type, q, vc / 100.0 AS exact
          |  FROM ranked, qs WHERE r = (n2 * q + 99) // 100)
          |SELECT e.event_type, e.q, e.qbin,
          |  (e.qbin + 1) * 250 / 100.0 AS est, x.exact
          |FROM est e JOIN ex x USING (event_type, q)
          |ORDER BY event_type, q""".stripMargin,

      "st8_stream_dedup_wm" ->
        """SELECT DISTINCT user_id, event_id FROM events
          |ORDER BY user_id, event_id""".stripMargin,

      // ns→us truncation via `ts div 1000` matches the Spark loader;
      // duckdb's TIMESTAMP is already micros so epoch_us is exact.
      "st7_stream_join" ->
        """SELECT a.user_id, a.event_id AS click_id, b.event_id AS buy_id,
          |  epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
          |FROM events a JOIN events b
          |  ON a.user_id = b.user_id
          | AND a.event_type = 'click' AND b.event_type = 'purchase'
          | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
          |ORDER BY a.user_id, click_id, buy_id""".stripMargin,

      // Replays the stateful kernel as a batch range self-join: the
      // buffer at event a is every b of the same user with
      // b.t ∈ [a.t − 4d, a.t] and (b.t, b.id) ≤ (a.t, a.id) —
      // exact because the no-late fixture processes events in global
      // (t, id) order and the kernel's per-event horizon filter is
      // monotone (a dropped entry can never re-qualify). Upper median
      // = sorted element at 0-based index n/2 ⇒ 1-based n//2 + 1.
      "st10_stream_flare" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t, value AS v
          |           FROM events),
          |pairs AS (
          |  SELECT a.user_id AS u, a.event_id AS id, a.t AS t, a.v AS v,
          |         b.v AS bv
          |  FROM e a JOIN e b ON a.user_id = b.user_id
          |   AND b.t >= a.t - 345600000000
          |   AND (b.t < a.t OR (b.t = a.t AND b.event_id <= a.event_id))),
          |st AS (
          |  SELECT u, id, t, v, count(*) AS n, max(bv) AS mx, min(bv) AS mn,
          |    (array_agg(bv ORDER BY bv))[count(*) // 2 + 1] AS med
          |  FROM pairs GROUP BY 1, 2, 3, 4)
          |SELECT u AS user_id, id AS event_id, t AS t_us,
          |  (v - med) / (mx - mn) AS z
          |FROM st
          |WHERE n >= 5 AND mx > mn AND (v - med) / (mx - mn) > 0.45
          |ORDER BY user_id, event_id""".stripMargin,

      // Spark's window(ts, '1 day') aligns to UTC epoch days; events
      // user_id is non-negative so plain % mirrors the Spark key.
      "st9_stream_static_join" ->
        """SELECT (epoch_us(e.ts) // 86400000000) * 86400000000 AS w_us,
          |  n.n_name AS n_name, count(*) AS n,
          |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
          |    / 100.0 AS sum_value
          |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
          |GROUP BY 1, 2 ORDER BY w_us, n_name""".stripMargin,

      "st2_stream_tumbling" ->
        s"""WITH $baseSql
           |SELECT t_us - (t_us % 3600000000) AS w_us, event_type,
           |  count(*) AS n, CAST(sum(vc) AS BIGINT) / 100.0 AS sum_value
           |FROM base GROUP BY 1, 2 ORDER BY w_us, event_type""".stripMargin,

      // closed windows only: the engine's final no-data micro-batch
      // (noDataMicroBatches, on by default) applies the watermark from
      // the last data batch, so the final effective watermark is the
      // ms-truncated max event time over ALL on-time rows minus the
      // 1 h delay, and every window it passed is emitted. The late
      // duplicates never appear — they arrive a full watermark behind
      // and the engine drops them (their early windows would
      // double-count otherwise, so the hash check proves the drop).
      "st4_stream_append" ->
        s"""WITH $baseSql,
           |ontime AS (SELECT t_us, event_type, vc FROM base),
           |wm AS (SELECT (max(t_us) // 1000) * 1000 - 3600000000 AS wm_us
           |       FROM ontime),
           |agg AS (SELECT t_us - (t_us % 3600000000) AS w_us, event_type,
           |    count(*) AS n, CAST(sum(vc) AS BIGINT) / 100.0 AS sum_value
           |  FROM ontime GROUP BY 1, 2)
           |SELECT w_us, event_type, n, sum_value FROM agg, wm
           |WHERE w_us + 3600000000 <= wm_us
           |ORDER BY w_us, event_type""".stripMargin,

      // st5 contract in SQL: gap sessions over on-time rows; a session
      // is emitted iff a later on-time event closed it (not the user's
      // last) OR the final watermark — max event ms minus the 1 h
      // delay, in force during the timeout-flushing no-data batch the
      // engine runs after the last file — passed its end + gap.
      "st5_stateful_session" ->
        s"""WITH $baseSql,
           |wm AS (SELECT max(t_us // 1000) - 3600000 AS wm_ms FROM base),
           |d AS (SELECT user_id, t_us,
           |    CASE WHEN t_us - lag(t_us) OVER (PARTITION BY user_id
           |                                     ORDER BY t_us) > 1800000000
           |         THEN 1 ELSE 0 END AS brk
           |  FROM base),
           |i AS (SELECT user_id, t_us,
           |    sum(brk) OVER (PARTITION BY user_id ORDER BY t_us
           |                   ROWS UNBOUNDED PRECEDING) AS sess
           |  FROM d),
           |ag AS (SELECT user_id, sess, min(t_us) AS s_us, max(t_us) AS e_us,
           |    CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1, 2),
           |mx AS (SELECT user_id, max(sess) AS last_sess FROM ag GROUP BY 1)
           |SELECT ag.user_id, s_us, e_us, n
           |FROM ag JOIN mx USING (user_id), wm
           |WHERE sess < last_sess OR (e_us // 1000) + 1800000 < wm_ms
           |ORDER BY user_id, s_us""".stripMargin,

      "st3_stream_session" -> sessionWindowSql,
      "st_session_window" -> sessionWindowSql,

      "a10_sessionize" ->
        s"""WITH $baseSql,
           |flagged AS (SELECT user_id, event_id, t_us, vc,
           |  sum(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END)
           |    OVER (PARTITION BY user_id ORDER BY t_us, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session
           |  FROM (SELECT user_id, event_id, t_us, vc,
           |          t_us - lag(t_us, 1) OVER (PARTITION BY user_id
           |                                    ORDER BY t_us, event_id) AS gap
           |        FROM base))
           |SELECT user_id, CAST(session AS BIGINT) AS session,
           |  count(*) AS n, min(t_us) AS t0_us,
           |  max(t_us) AS t1_us,
           |  CAST(sum(vc) AS BIGINT)/100.0 AS sum_value,
           |  max(t_us) - min(t_us) AS dur_us
           |FROM flagged GROUP BY user_id, session
           |ORDER BY user_id, session""".stripMargin,

      "a4_peakcut_std" ->
        s"""WITH $baseSql,
           |rn AS (SELECT *, row_number() OVER
           |         (PARTITION BY user_id ORDER BY t_us, event_id) AS rn FROM base),
           |st AS (SELECT *, count(*) OVER fr AS n, sum(vc) OVER fr AS sv,
           |         sum(vc*vc) OVER fr AS q, max(vc) OVER fr AS m
           |       FROM rn
           |       WINDOW fr AS (PARTITION BY user_id ORDER BY t_us, event_id
           |                     ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)),
           |cm AS (SELECT a.event_id, count(*) AS cnt
           |       FROM st a JOIN rn b ON a.user_id = b.user_id
           |         AND b.rn BETWEEN a.rn - 5 AND a.rn + 5 AND b.vc = a.m
           |       GROUP BY a.event_id)
           |SELECT st.event_id, n - cnt AS n2,
           |  CASE WHEN n - cnt > 0 THEN
           |    sqrt(((q - cnt*m*m) - CAST(sv - cnt*m AS DOUBLE)*(sv - cnt*m)/(n - cnt))
           |         /(n - cnt))/100.0 END AS stdv
           |FROM st JOIN cm ON st.event_id = cm.event_id
           |ORDER BY st.event_id""".stripMargin,

      "t3_detrend_median" ->
        s"""WITH $baseSql
           |SELECT event_id,
           |  quantile_cont(vc, 0.5) OVER fr / 100.0 AS med,
           |  value - quantile_cont(vc, 0.5) OVER fr / 100.0 + 1.0 AS detr
           |FROM base
           |WINDOW fr AS (PARTITION BY user_id ORDER BY t_us, event_id
           |              ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
           |ORDER BY event_id""".stripMargin,

      "t9_robust_z" ->
        s"""WITH $baseSql,
           |env AS (SELECT event_id, value,
           |  quantile_cont(vc, 0.5)  OVER fr / 100.0 AS med,
           |  quantile_cont(vc, 0.05) OVER fr / 100.0 AS p05,
           |  quantile_cont(vc, 0.95) OVER fr / 100.0 AS p95
           |FROM base
           |WINDOW fr AS (PARTITION BY user_id ORDER BY t_us
           |              RANGE BETWEEN 3600000000 PRECEDING AND 3600000000 FOLLOWING))
           |SELECT event_id,
           |  round((value - med) / nullif(round(p95 - p05, 6), 0.0), 6) AS z,
           |  round((value - med) / nullif(round(p95 - p05, 6), 0.0), 6) > 2.5 AS is_flare
           |FROM env ORDER BY event_id""".stripMargin,

      "f2_interval_mask" ->
        s"""WITH $baseSql
           |SELECT event_id, t_us FROM base
           |WHERE NOT (t_us >= ${E + 5 * PDAY} AND t_us < ${E + 6 * PDAY})
           |  AND NOT (t_us >= ${E + 20 * PDAY} AND t_us < ${E + 22 * PDAY})
           |ORDER BY event_id""".stripMargin,

      "j4_interval_join" ->
        s"""WITH $baseSql,
           |wins(window_id, lo_us, hi_us) AS (VALUES
           |  (0, ${E + 2 * PDAY}, ${E + 3 * PDAY}),
           |  (1, ${E + 10 * PDAY}, ${E + 11 * PDAY}),
           |  (2, ${E + 25 * PDAY}, ${E + 26 * PDAY}))
           |SELECT event_id, window_id FROM base JOIN wins
           |  ON t_us >= lo_us AND t_us < hi_us
           |ORDER BY event_id""".stripMargin,

      "t10_transit_stats" ->
        s"""WITH $baseSql,
           |ph AS (SELECT vc, t_us,
           |    ((t_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 - ${P7 / 2} AS pc,
           |    t_us - $E + ${P7 / 2} AS a,
           |    ((t_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 AS pm
           |  FROM base)
           |SELECT CAST((a - pm) / $P7 AS BIGINT) AS k, count(*) AS n,
           |  CAST(sum(vc) AS BIGINT)/100.0/count(*) AS vmean
           |FROM ph WHERE abs(pc) < ${DUR / 2}
           |GROUP BY 1 ORDER BY k""".stripMargin,

      // Same transit indexing; the weighted-center sums replayed with
      // the identical clamped integer weights and floor-div baseline.
      "t21_ttv" ->
        s"""WITH $baseSql,
           |ph AS (SELECT vc, t_us,
           |    ((t_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 - ${P7 / 2} AS pc,
           |    t_us - $E + ${P7 / 2} AS a,
           |    ((t_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 AS pm
           |  FROM base),
           |kk AS (SELECT vc, t_us, abs(pc) < ${DUR / 2} AS intr,
           |    CAST((a - pm) / $P7 AS BIGINT) AS k FROM ph),
           |oot AS (SELECT CAST(sum(vc) AS BIGINT) AS so,
           |    CAST(count(*) AS BIGINT) AS no FROM kk WHERE NOT intr),
           |wt AS (SELECT k, t_us,
           |    greatest((so - ((so % no + no) % no)) // no - vc, 0) AS w,
           |    $E + k * $P7 AS ck
           |  FROM kk, oot WHERE intr),
           |g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(w) AS BIGINT) AS sw,
           |    CAST(sum(w * (t_us - ck)) AS BIGINT) AS swt
           |  FROM wt GROUP BY 1)
           |SELECT k, n, sw, swt,
           |  CAST(swt AS DOUBLE) / sw / 6e7 AS oc_min
           |FROM g WHERE sw > 0 ORDER BY k""".stripMargin,

      // Same transit-index arithmetic pooled by parity; baseline from
      // the complementary out-of-transit rows; identical ratio order.
      "t20_oddeven" ->
        s"""WITH $baseSql,
           |ph AS (SELECT vc,
           |    ((t_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 - ${P7 / 2} AS pc,
           |    t_us - $E + ${P7 / 2} AS a,
           |    ((t_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 AS pm
           |  FROM base),
           |kk AS (SELECT vc, abs(pc) < ${DUR / 2} AS intr,
           |    CAST((a - pm) / $P7 AS BIGINT) AS k FROM ph),
           |oot AS (SELECT CAST(sum(vc) AS BIGINT) AS so,
           |    CAST(count(*) AS BIGINT) AS no FROM kk WHERE NOT intr),
           |par AS (SELECT ((k % 2) + 2) % 2 AS parity,
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(vc) AS BIGINT) AS sv
           |  FROM kk WHERE intr GROUP BY 1)
           |SELECT parity, n, sv,
           |  CAST(sv AS DOUBLE) / n / 100.0 AS mean_val,
           |  CAST(so AS DOUBLE) / no / 100.0 AS oot_mean,
           |  CAST(so AS DOUBLE) / no / 100.0
           |    - CAST(sv AS DOUBLE) / n / 100.0 AS depth
           |FROM par, oot ORDER BY parity""".stripMargin,

      "t10b_ineg_secondary" -> {
        val D2 = DUR / 2; val D38 = 3 * DUR / 8; val D4 = DUR / 4
        def n(c: String) = s"count(CASE WHEN $c THEN 1 END)"
        def m(c: String) =
          s"CAST(sum(CASE WHEN $c THEN vc END) AS BIGINT)/100.0/count(CASE WHEN $c THEN 1 END)"
        val cs = Seq(
          s"dt > ${-D2} AND dt < ${-D38}", s"dt > ${-D38} AND dt < ${-D4}",
          s"dt > $D4 AND dt < $D38", s"dt > $D38 AND dt < $D2")
        s"""WITH $baseSql,
           |ph AS (SELECT vc, t_us, t_us - $E + ${P7 / 2} AS a,
           |    ((t_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 AS pm
           |  FROM base),
           |kd AS (SELECT vc, CAST((a - pm) / $P7 AS BIGINT) AS k,
           |    t_us - $E - CAST((a - pm) / $P7 AS BIGINT) * $P7 AS dt
           |  FROM ph),
           |prim AS (SELECT k,
           |    ${cs.zipWithIndex.map { case (c, i) =>
                  s"${n(c)} AS n$i, ${m(c)} AS m$i" }.mkString(",\n    ")}
           |  FROM kd
           |  WHERE ${cs.map(c => s"($c)").mkString(" OR ")}
           |  GROUP BY k),
           |prim2 AS (SELECT *,
           |    CASE WHEN n0 > 0 AND n1 > 0 THEN round(m0 / m1, 6) END AS frac_ingr,
           |    CASE WHEN n2 > 0 AND n3 > 0 THEN round(m2 / m3, 6) END AS frac_eggr
           |  FROM prim),
           |sec AS (SELECT (t_us - $E - pm2) // $P7 AS k,
           |    count(*) AS n_sec,
           |    CAST(sum(vc) AS BIGINT)/100.0/count(*) AS m_sec
           |  FROM (SELECT vc, t_us, ((t_us - $E) % $P7 + $P7) % $P7 AS pm2 FROM base)
           |  WHERE pm2 - ${P7 / 2} > ${-D2} AND pm2 - ${P7 / 2} < $D2
           |  GROUP BY 1)
           |SELECT k, n0, m0, n1, m1, n2, m2, n3, m3, frac_ingr, frac_eggr,
           |  n_sec, m_sec
           |FROM prim2 FULL JOIN sec USING (k) ORDER BY k""".stripMargin
      },

      "j8b_asof_nearest" ->
        s"""WITH $baseSql,
           |sm AS (SELECT event_type, t_us, max(vc) AS vc FROM base GROUP BY 1, 2),
           |mm AS (SELECT min(t_us) AS t0, max(t_us) AS t1 FROM base),
           |grid AS (SELECT g_type, g_us FROM
           |    (SELECT t0 + 21600000000 * unnest(generate_series(0,
           |       CAST((t1 - t0) // 21600000000 AS BIGINT))) AS g_us FROM mm),
           |    (SELECT DISTINCT event_type AS g_type FROM base))
           |SELECT g.g_type AS event_type, g.g_us, s.t_us AS s_us,
           |  s.vc / 100.0 AS v
           |FROM grid g ASOF JOIN sm s
           |  ON g.g_type = s.event_type AND g.g_us >= s.t_us
           |ORDER BY event_type, g_us""".stripMargin,

      "j8_asof_interp" ->
        s"""WITH $baseSql,
           |mm AS (SELECT min(t_us) AS t0, max(t_us) AS t1 FROM base),
           |grid AS (SELECT t0 + 21600000000 * unnest(generate_series(0, CAST((t1 - t0) // 21600000000 AS BIGINT))) AS g_us FROM mm),
           |seg AS (SELECT event_type, t_us, vc,
           |    lead(t_us, 1) OVER w AS t_next, lead(vc, 1) OVER w AS v_next
           |  FROM base
           |  WINDOW w AS (PARTITION BY event_type ORDER BY t_us, event_id))
           |SELECT event_type, g_us,
           |  vc/100.0 + (v_next/100.0 - vc/100.0) * (g_us - t_us) / (t_next - t_us) AS interp
           |FROM seg JOIN grid ON g_us >= t_us AND g_us < t_next
           |WHERE t_next IS NOT NULL AND t_next <> t_us
           |ORDER BY event_type, g_us""".stripMargin,

      "t4_sigma_clip" -> {
        def stats(src: String) =
          s"""(SELECT event_type, count(*) AS n, sum(vc) AS s, sum(vc*vc) AS q
             | FROM $src GROUP BY 1)""".stripMargin
        def clip(src: String, st: String) =
          s"""(SELECT $src.* FROM $src JOIN $st USING (event_type)
             | WHERE vc/100.0 > CAST(s AS DOUBLE)/n/100.0
             |     - 2.5 * sqrt((q - CAST(s AS DOUBLE)*s/n)/n)/100.0
             |   AND vc/100.0 < CAST(s AS DOUBLE)/n/100.0
             |     + 2.5 * sqrt((q - CAST(s AS DOUBLE)*s/n)/n)/100.0)""".stripMargin
        s"""WITH $baseSql,
           |c0 AS (SELECT event_type, vc FROM base),
           |s1 AS ${stats("c0")},
           |c1 AS ${clip("c0", "s1")},
           |s2 AS ${stats("c1")},
           |c2 AS ${clip("c1", "s2")},
           |s3 AS ${stats("c2")},
           |c3 AS ${clip("c2", "s3")}
           |SELECT event_type, count(*) AS n_kept,
           |  CAST(sum(vc) AS BIGINT)/100.0 AS sum_kept
           |FROM c3 GROUP BY 1 ORDER BY event_type""".stripMargin
      },

      "a13_rms_binwidth" ->
        s"""WITH $baseSql,
           |mm AS (SELECT min(t_us) AS t0, max(t_us) AS t1 FROM base),
           |wd AS (SELECT GREATEST(1, (t1 - t0) // 2000)
           |      + (k * ((3 * (t1 - t0) // 10) - GREATEST(1, (t1 - t0) // 2000))) // 49
           |      AS width_us
           |  FROM mm, (SELECT unnest(generate_series(0, 49)) AS k)),
           |bins AS (SELECT width_us, (t_us - $E) // width_us AS bin,
           |    CAST(round(CAST(sum(vc) AS DOUBLE)/100.0/count(*) * 1e6) AS BIGINT) AS mi
           |  FROM base, wd GROUP BY 1, 2),
           |agg AS (SELECT width_us, count(*) AS n_bins, sum(mi) AS _s,
           |    sum(CAST(mi AS HUGEINT)*mi) AS _q FROM bins GROUP BY 1)
           |SELECT width_us, n_bins,
           |  round(sqrt((_q - CAST(_s AS DOUBLE)*_s/n_bins)/n_bins)/1e6, 6) AS rms
           |FROM agg ORDER BY width_us""".stripMargin,

      "t11_time_grid" ->
        s"""WITH $baseSql,
           |mm AS (SELECT min(t_us) AS t0, max(t_us) AS t1,
           |         (max(t_us) - min(t_us)) // 500 AS step FROM base),
           |g AS (SELECT unnest(generate_series(0, 500)) AS i, t0, step FROM mm)
           |SELECT i, t0 + i * step AS grid_us FROM g ORDER BY i""".stripMargin,

      "t12_model_eval" ->
        s"""WITH $baseSql,
           |mm AS (SELECT min(t_us) AS t0, (max(t_us) - min(t_us)) // 500 AS step FROM base),
           |g AS (SELECT i, t0 + i * step AS g_us FROM
           |        (SELECT unnest(generate_series(0, 500)) AS i, t0, step FROM mm)),
           |ph AS (SELECT i, g_us,
           |    ((g_us - $E + ${P7 / 2}) % $P7 + $P7) % $P7 - ${P7 / 2} AS pc,
           |    ((g_us - $E) % $PDAY + $PDAY) % $PDAY AS pd
           |  FROM g)
           |SELECT i, g_us,
           |  round(1.0 - (CASE WHEN abs(pc) < ${DUR / 2} THEN 0.01 ELSE 0.0 END)
           |    + 0.02 * exp(-CAST(pd AS DOUBLE) / 7200000000.0), 6) AS flux,
           |  round(5.0 * sin(2.0 * pi() * CAST(g_us - $E AS DOUBLE) / $P7), 6) AS rv
           |FROM ph ORDER BY i""".stripMargin,

      // Same grid, same LD layer strings (model/LimbDark.scala) as
      // named CTE columns — raw doubles compared bit-for-bit, no
      // rounding (the model chain has no transcendental).
      "t12d_model_ld" -> {
        import graft.model.LimbDark
        s"""WITH $baseSql,
           |mm AS (SELECT min(t_us) AS t0, (max(t_us) - min(t_us)) // 500 AS step FROM base),
           |cf AS (SELECT * FROM (VALUES
           |    (0, CAST(0.08 AS DOUBLE), CAST(0.6 AS DOUBLE)),
           |    (1, CAST(0.15 AS DOUBLE), CAST(1.0 AS DOUBLE)),
           |    (2, CAST(0.25 AS DOUBLE), CAST(1.6 AS DOUBLE))) t(cfg, pp, tt)),
           |g AS (SELECT cfg, pp, tt, i, t0 + i * step AS g_us FROM
           |        (SELECT unnest(generate_series(0, 500)) AS i, t0, step FROM mm), cf),
           |ap AS (SELECT cfg, pp, tt, i, g_us,
           |    CASE WHEN phd < 3.5 THEN phd ELSE 7.0 - phd END AS aph
           |  FROM (SELECT cfg, pp, tt, i, g_us,
           |          CAST(((g_us - $E) % $P7 + $P7) % $P7 AS DOUBLE) / 86400e6 AS phd
           |        FROM g) pd),
           |l1 AS (SELECT cfg, pp, i, g_us, aph, ${LimbDark.huSql("aph", "tt")} AS hu FROM ap),
           |l2 AS (SELECT cfg, pp, i, g_us, aph, hu, ${LimbDark.zSql("hu", "pp")} AS z FROM l1),
           |l3 AS (SELECT cfg, pp, i, g_us, aph, hu,
           |    ${LimbDark.lamSql("z", "pp")} AS lam,
           |    ${LimbDark.muSql("z", "pp")} AS mu FROM l2),
           |l4 AS (SELECT cfg, pp, i, g_us, aph, hu, lam, ${LimbDark.izSql("mu")} AS iz FROM l3)
           |SELECT cfg, i, g_us, aph,
           |  ${LimbDark.fluxSql("hu", "pp", "iz", "lam")} AS flux_ld
           |FROM l4 ORDER BY cfg, i""".stripMargin
      },

      // The exact-occultation replay: the same named layers (inner
      // closed form + 256-node band, literal-table atan) over the
      // identical grid; the node Σ is an order-free integer so the
      // grouped sum replays exactly; flux_ld and flux_ldx are raw
      // doubles, no rounding.
      "t12e_model_ldx" -> {
        import graft.model.{LimbDark, LimbDarkExact => LX}
        val q1cols = LX.q1Sql.map { case (n, sql) => s"$sql AS $n" }.mkString(",\n    ")
        s"""WITH $baseSql,
           |mm AS (SELECT min(t_us) AS t0, (max(t_us) - min(t_us)) // 500 AS step FROM base),
           |cf AS (SELECT * FROM (VALUES
           |    (0, CAST(0.08 AS DOUBLE), CAST(0.6 AS DOUBLE)),
           |    (1, CAST(0.15 AS DOUBLE), CAST(1.0 AS DOUBLE)),
           |    (2, CAST(0.25 AS DOUBLE), CAST(1.6 AS DOUBLE))) t(cfg, pp, tt)),
           |g AS (SELECT cfg, pp, tt, i, t0 + i * step AS g_us FROM
           |        (SELECT unnest(generate_series(0, 500)) AS i, t0, step FROM mm), cf),
           |ap AS (SELECT cfg, pp, tt, i, g_us,
           |    CASE WHEN phd < 3.5 THEN phd ELSE 7.0 - phd END AS aph
           |  FROM (SELECT cfg, pp, tt, i, g_us,
           |          CAST(((g_us - $E) % $P7 + $P7) % $P7 AS DOUBLE) / 86400e6 AS phd
           |        FROM g) pd),
           |l1 AS (SELECT cfg, pp, i, g_us, aph, ${LimbDark.huSql("aph", "tt")} AS hu FROM ap),
           |l2 AS (SELECT cfg, pp, i, g_us, aph, hu, ${LimbDark.zSql("hu", "pp")} AS z FROM l1),
           |l3 AS (SELECT cfg, pp, i, g_us, aph, hu, z,
           |    ${LimbDark.lamSql("z", "pp")} AS lam,
           |    ${LimbDark.muSql("z", "pp")} AS mu FROM l2),
           |l4 AS (SELECT cfg, pp, i, g_us, aph, hu, z, lam, ${LimbDark.izSql("mu")} AS izc FROM l3),
           |l5 AS (SELECT cfg, pp, i, g_us, aph, hu, z,
           |    ${LimbDark.fluxSql("hu", "pp", "izc", "lam")} AS flux_ld FROM l4),
           |b1 AS (SELECT cfg, pp, i, g_us, aph, hu, z, flux_ld,
           |    $q1cols FROM l5),
           |b2 AS (SELECT *, ${LX.ainSql} AS ain, ${LX.wSql} AS w FROM b1),
           |b3 AS (SELECT b2.*, j.j AS j FROM b2,
           |    (SELECT unnest(generate_series(0, ${LX.N - 1})) AS j) j),
           |b4 AS (SELECT *, ${LX.rSql} AS r FROM b3),
           |b5 AS (SELECT *, ${LX.xSql} AS x FROM b4),
           |b6 AS (SELECT *, ${LX.tqSql} AS tq FROM b5),
           |b7 AS (SELECT *, ${LX.xrSql} AS xr, ${LX.flipSql} AS flip FROM b6),
           |b8 AS (SELECT *, ${LX.aiSql} AS ai FROM b7),
           |b9 AS (SELECT *, ${LX.ciSql} AS ci, ${LX.dSql} AS d FROM b8),
           |b10 AS (SELECT *, ${LX.atSql} AS atv FROM b9),
           |b11 AS (SELECT *, ${LX.alphaSql} AS alpha FROM b10),
           |b12 AS (SELECT *, ${LX.qjSql} AS qj FROM b11),
           |gq AS (SELECT cfg, i, g_us, aph, hu, flux_ld, ain,
           |    CAST(sum(qj) AS BIGINT) AS sq
           |  FROM b12 GROUP BY 1, 2, 3, 4, 5, 6, 7)
           |SELECT cfg, i, g_us, aph, flux_ld,
           |  ${LX.fluxSql("hu", "ain", "sq")} AS flux_ldx
           |FROM gq ORDER BY cfg, i""".stripMargin
      },

      // Same rebin→center→lag-join arithmetic, independently spelled:
      // floor divisions via the explicit positive-mod formula (// on
      // the already-divisible numerator), lags from generate_series,
      // peak test on the same exact-integer acf ratio.
      "t16_acf" ->
        s"""WITH $baseSql,
           |bins AS (SELECT event_type, (t_us - $E) // 3600000000 AS bin,
           |    count(*) AS n, CAST(sum(vc) AS BIGINT) AS sv
           |  FROM base GROUP BY 1, 2),
           |mb AS (SELECT event_type, bin,
           |    (sv - ((sv % n + n) % n)) // n AS mb FROM bins),
           |tot AS (SELECT event_type, CAST(sum(mb) AS BIGINT) AS smb,
           |    CAST(count(*) AS BIGINT) AS nb FROM mb GROUP BY 1),
           |cb AS (SELECT m.event_type, m.bin,
           |    m.mb - (t.smb - ((t.smb % t.nb + t.nb) % t.nb)) // t.nb AS c
           |  FROM mb m JOIN tot t USING (event_type)),
           |lags AS (SELECT unnest(generate_series(1, 48)) AS lag),
           |num AS (SELECT a.event_type, l.lag,
           |    CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(a.c * b.c) AS BIGINT) AS num
           |  FROM cb a CROSS JOIN lags l
           |  JOIN cb b ON b.event_type = a.event_type
           |    AND b.bin = a.bin + l.lag
           |  GROUP BY 1, 2),
           |den AS (SELECT event_type, CAST(sum(c * c) AS BIGINT) AS den
           |  FROM cb GROUP BY 1),
           |acf AS (SELECT n.event_type, n.lag, n.n_pairs, n.num,
           |    CAST(n.num AS DOUBLE) / d.den AS acf
           |  FROM num n JOIN den d USING (event_type)),
           |pk AS (SELECT *,
           |    lag(acf) OVER (PARTITION BY event_type ORDER BY lag) AS ap,
           |    lead(acf) OVER (PARTITION BY event_type ORDER BY lag) AS an
           |  FROM acf)
           |SELECT event_type, lag, n_pairs, num, acf,
           |  coalesce(ap IS NOT NULL AND an IS NOT NULL
           |    AND acf > ap AND acf > an, FALSE) AS is_peak
           |FROM pk ORDER BY event_type, lag""".stripMargin,

      // CCF between the click and purchase series: the t16 rebin/
      // center arithmetic restricted to the two series, signed lags,
      // IEEE sqrt normalizer over the same exact integer power sums.
      "t17_xcorr" ->
        s"""WITH $baseSql,
           |bins AS (SELECT event_type, (t_us - $E) // 3600000000 AS bin,
           |    count(*) AS n, CAST(sum(vc) AS BIGINT) AS sv
           |  FROM base WHERE event_type IN ('click', 'purchase')
           |  GROUP BY 1, 2),
           |mb AS (SELECT event_type, bin,
           |    (sv - ((sv % n + n) % n)) // n AS mb FROM bins),
           |tot AS (SELECT event_type, CAST(sum(mb) AS BIGINT) AS smb,
           |    CAST(count(*) AS BIGINT) AS nb FROM mb GROUP BY 1),
           |cb AS (SELECT m.event_type, m.bin,
           |    m.mb - (t.smb - ((t.smb % t.nb + t.nb) % t.nb)) // t.nb AS c
           |  FROM mb m JOIN tot t USING (event_type)),
           |a AS (SELECT bin, c AS ca FROM cb WHERE event_type = 'click'),
           |b AS (SELECT bin, c AS cb FROM cb WHERE event_type = 'purchase'),
           |lags AS (SELECT unnest(generate_series(-48, 48)) AS lag),
           |num AS (SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(a.ca * b.cb) AS BIGINT) AS num
           |  FROM a CROSS JOIN lags l
           |  JOIN b ON b.bin = a.bin + l.lag GROUP BY 1),
           |pw AS (SELECT
           |    CAST(sum(CASE WHEN event_type = 'click' THEN c * c
           |      ELSE 0 END) AS BIGINT) AS pa,
           |    CAST(sum(CASE WHEN event_type = 'purchase' THEN c * c
           |      ELSE 0 END) AS BIGINT) AS pb
           |  FROM cb),
           |ccf AS (SELECT lag, n_pairs, num,
           |    CAST(num AS DOUBLE) / sqrt(CAST(pa AS DOUBLE) * pb) AS ccf
           |  FROM num, pw)
           |SELECT lag, n_pairs, num, ccf,
           |  ccf = max(ccf) OVER () AS is_best
           |FROM ccf ORDER BY lag""".stripMargin,

      // Same integerized Cramer solve; the trig basis arrives as the
      // SAME literals the engine uses (harmBasis), so the whole fit
      // is integer arithmetic plus three final divisions and a sqrt.
      "t18_harmonic" -> {
        val basisVals = harmBasis
          .map { case (k, c, s2) => s"($k, $c, $s2)" }.mkString(", ")
        s"""WITH $baseSql,
           |f AS (SELECT event_type, vc,
           |    ((t_us - $E) % $PDAY + $PDAY) % $PDAY AS ph FROM base),
           |binned AS (SELECT event_type, (ph * 24) // $PDAY AS k,
           |    count(*) AS n, CAST(sum(vc) AS BIGINT) AS sv
           |  FROM f GROUP BY 1, 2),
           |mbt AS (SELECT event_type, k,
           |    (sv - ((sv % n + n) % n)) // n AS mb FROM binned),
           |basis AS (SELECT * FROM (VALUES $basisVals) AS t(k, c2, s2)),
           |sums AS (SELECT event_type,
           |    CAST(count(*) AS BIGINT) AS nb,
           |    CAST(sum(c2) AS BIGINT) AS sc,
           |    CAST(sum(s2) AS BIGINT) AS ss,
           |    CAST(sum(c2 * c2) AS BIGINT) AS scc,
           |    CAST(sum(s2 * s2) AS BIGINT) AS sss,
           |    CAST(sum(c2 * s2) AS BIGINT) AS scs,
           |    CAST(sum(mb) AS BIGINT) AS sy,
           |    CAST(sum(c2 * mb) AS BIGINT) AS scy,
           |    CAST(sum(s2 * mb) AS BIGINT) AS ssy
           |  FROM mbt JOIN basis USING (k) GROUP BY 1),
           |cr AS (SELECT event_type, nb,
           |    nb*(scc*sss - scs*scs) - sc*(sc*sss - scs*ss)
           |      + ss*(sc*scs - scc*ss) AS det,
           |    sy*(scc*sss - scs*scs) - sc*(scy*sss - scs*ssy)
           |      + ss*(scy*scs - scc*ssy) AS dm,
           |    nb*(scy*sss - scs*ssy) - sy*(sc*sss - scs*ss)
           |      + ss*(sc*ssy - scy*ss) AS da,
           |    nb*(scc*ssy - scy*scs) - sc*(sc*ssy - scy*ss)
           |      + sy*(sc*scs - scc*ss) AS db
           |  FROM sums)
           |SELECT event_type, nb, det, dm, da, db,
           |  CAST(dm AS DOUBLE) / det / 100.0 AS mean_val,
           |  sqrt((CAST(da AS DOUBLE) / det) * (CAST(da AS DOUBLE) / det)
           |    + (CAST(db AS DOUBLE) / det) * (CAST(db AS DOUBLE) / det))
           |    AS amp_val
           |FROM cr WHERE det <> 0 ORDER BY event_type""".stripMargin
      },

      // t18's replay with the week as an extra group key; same basis
      // literals, same Cramer spelling, same zero-det guard.
      "t19_sliding_harmonic" -> {
        val basisVals = harmBasis
          .map { case (k, c, s2) => s"($k, $c, $s2)" }.mkString(", ")
        s"""WITH $baseSql,
           |f AS (SELECT event_type, vc,
           |    (t_us - $E) // ${7L * PDAY} AS wk,
           |    ((t_us - $E) % $PDAY + $PDAY) % $PDAY AS ph FROM base),
           |binned AS (SELECT event_type, wk, (ph * 24) // $PDAY AS k,
           |    count(*) AS n, CAST(sum(vc) AS BIGINT) AS sv
           |  FROM f GROUP BY 1, 2, 3),
           |mbt AS (SELECT event_type, wk, k,
           |    (sv - ((sv % n + n) % n)) // n AS mb FROM binned),
           |basis AS (SELECT * FROM (VALUES $basisVals) AS t(k, c2, s2)),
           |sums AS (SELECT event_type, wk,
           |    CAST(count(*) AS BIGINT) AS nb,
           |    CAST(sum(c2) AS BIGINT) AS sc,
           |    CAST(sum(s2) AS BIGINT) AS ss,
           |    CAST(sum(c2 * c2) AS BIGINT) AS scc,
           |    CAST(sum(s2 * s2) AS BIGINT) AS sss,
           |    CAST(sum(c2 * s2) AS BIGINT) AS scs,
           |    CAST(sum(mb) AS BIGINT) AS sy,
           |    CAST(sum(c2 * mb) AS BIGINT) AS scy,
           |    CAST(sum(s2 * mb) AS BIGINT) AS ssy
           |  FROM mbt JOIN basis USING (k) GROUP BY 1, 2),
           |cr AS (SELECT event_type, wk, nb,
           |    nb*(scc*sss - scs*scs) - sc*(sc*sss - scs*ss)
           |      + ss*(sc*scs - scc*ss) AS det,
           |    nb*(scy*sss - scs*ssy) - sy*(sc*sss - scs*ss)
           |      + ss*(sc*ssy - scy*ss) AS da,
           |    nb*(scc*ssy - scy*scs) - sc*(sc*ssy - scy*ss)
           |      + sy*(sc*scs - scc*ss) AS db
           |  FROM sums)
           |SELECT event_type, wk, nb, det, da, db,
           |  sqrt((CAST(da AS DOUBLE) / det) * (CAST(da AS DOUBLE) / det)
           |    + (CAST(db AS DOUBLE) / det) * (CAST(db AS DOUBLE) / det))
           |    AS amp_val
           |FROM cr WHERE det <> 0 ORDER BY event_type, wk""".stripMargin
      },

      // Identical 20-term truncated-exponential window, generated from
      // the same loop constants.
      "w8_ewma" -> {
        val numSql = (0 until 20).map(k =>
          s"coalesce(lag(vc, $k) OVER wu, 0) * ${1L << (19 - k)}")
          .mkString(" + ")
        val denSql = (0 until 20).map(k =>
          s"(CASE WHEN lag(vc, $k) OVER wu IS NOT NULL THEN ${1L << (19 - k)} ELSE 0 END)")
          .mkString(" + ")
        s"""WITH $baseSql,
           |e AS (SELECT event_id, user_id, t_us, vc,
           |    CAST($numSql AS BIGINT) AS num,
           |    CAST($denSql AS BIGINT) AS den
           |  FROM base
           |  WINDOW wu AS (PARTITION BY user_id ORDER BY t_us, event_id))
           |SELECT event_id, user_id, t_us, vc, num, den,
           |  CAST(num AS DOUBLE) / den / 100.0 AS ewma
           |FROM e ORDER BY user_id, t_us, event_id""".stripMargin
      },

      "t7_outlperi" ->
        s"""WITH $baseSql,
           |top5 AS (SELECT event_id, t_us FROM base
           |         ORDER BY value DESC, event_id ASC LIMIT 5),
           |pairs AS (SELECT abs(b.t_us - a.t_us) AS dt_us
           |          FROM top5 a, top5 b WHERE a.event_id < b.event_id),
           |ranked AS (SELECT dt_us, row_number() OVER (ORDER BY dt_us) AS rank,
           |             lag(dt_us, 1) OVER (ORDER BY dt_us) AS prev
           |           FROM pairs)
           |SELECT rank, dt_us,
           |  round(CAST(dt_us - prev AS DOUBLE) / prev, 6) AS frac
           |FROM ranked ORDER BY rank""".stripMargin
    )
  }
}
