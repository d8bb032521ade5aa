package graft

import org.apache.spark.sql.functions._

/** Semantic invariants of the round-4 corpus operators (d18–d20, e6)
  * beyond the DuckDB hash gate: redaction consistency, decontamination
  * flag logic, sampling-rate/cap discipline, and SemDeDup's
  * representative ordering.
  */
class CorpusOpsSpec extends SparkSpec {

  test("d18: scrub hash differs from raw hash exactly when a hit was redacted") {
    val out = SparkEntry.queries("d18_pii_scrub")(spark, sf)
    val raw = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("raw_md5"))
    val joined = out.join(raw, "doc_id").cache()
    try {
      assert(joined.filter(col("n_hits") > 0 && col("scrub_md5") === col("raw_md5")).count() === 0)
      assert(joined.filter(col("n_hits") === 0 && col("scrub_md5") =!= col("raw_md5")).count() === 0)
      // redaction must exist somewhere in the fixture, else the test is vacuous
      assert(joined.filter(col("n_hits") > 0).count() > 0)
    } finally joined.unpersist()
  }

  test("d19: contaminated implies ratio >= 0.8; overlap never exceeds trigram count") {
    val out = SparkEntry.queries("d19_decontaminate")(spark, sf).cache()
    try {
      assert(out.filter(col("n_overlap") > col("n_tg")).count() === 0)
      assert(out.filter(col("contaminated") && col("n_overlap") * 10 < col("n_tg") * 8).count() === 0)
      // benchmark docs themselves never appear as training rows
      assert(out.filter(col("doc_id") % 50 === 0).count() === 0)
      assert(out.count() > 0)
    } finally out.unpersist()
  }

  test("d20: hash gate below rate, per-language cap respected") {
    val out = SparkEntry.queries("d20_stratified_sample")(spark, sf).cache()
    try {
      val rates = Map("en" -> 9, "de" -> 6, "es" -> 4, "fr" -> 3, "zh" -> 2)
      val byLang = out.groupBy("lang")
        .agg(count(lit(1)).as("n"), max(col("h")).as("maxh"), max(col("rn")).as("maxrn"))
        .collect()
      byLang.foreach { r =>
        val lang = r.getString(0)
        assert(r.getLong(1) <= 40, s"$lang over cap")
        assert(r.getLong(2) < rates(lang), s"$lang hash >= rate")
        assert(r.getInt(3) <= 40)
      }
      // the gate is a pure filter: every sampled doc must exist verbatim
      val docs = graft.core.Tables.documents(spark, sf).select("doc_id", "lang", "source")
      assert(out.select("doc_id", "lang", "source").except(docs).count() === 0)
    } finally out.unpersist()
  }

  test("d21: packing preserves every token and bins are contiguous per source") {
    val out = SparkEntry.queries("d21_seq_packing")(spark, sf).cache()
    try {
      val docs = graft.core.Tables.documents(spark, sf)
        .withColumn("n_tok", size(split(col("text"), " ")))
      assert(out.agg(sum("tot_tok")).head.getLong(0) ===
        docs.agg(sum("n_tok")).head.getLong(0))
      assert(out.agg(sum("n_docs")).head.getLong(0) === docs.count())
      // bins numbered 0..max without holes within each source
      val holes = out.groupBy("source")
        .agg(max(col("bin")).as("mx"), count(lit(1)).as("n"))
        .filter(col("mx") + 1 =!= col("n")).count()
      assert(holes === 0)
    } finally out.unpersist()
  }

  test("d22: fingerprint count bounded by window positions, never zero") {
    val out = SparkEntry.queries("d22_winnowing")(spark, sf).cache()
    try {
      assert(out.filter(col("n_fp") <= 0).count() === 0)
      // at most one distinct minimum per window position
      assert(out.filter(col("n_fp") > col("n_grams") - 3).count() === 0)
      assert(out.filter(col("min_fp") > col("max_fp")).count() === 0)
    } finally out.unpersist()
  }

  test("e7: every vector projects to all 16 dims; matrix sparsity as designed") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val out = SparkEntry.queries("e7_random_projection")(spark, sf)
    // every vector gets all 16 output dims
    val counts = out.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 16).count()
    assert(counts === 0)
    assert(out.count() === emb.count() * 16)
    // sparse matrix really is ~2/3 zeros: a zero row of the projection
    // yields y == 0 for the zero vector only; check overall sparsity
    // via the deterministic generator instead
    val sgn = (0 until 16).flatMap(r => (0 until 64).map(j =>
      ((r * 64 + j).toLong * 2654435761L) % 2147483648L % 6))
    val nz = sgn.count(u => u == 0 || u == 1)
    assert(nz > 0 && nz < sgn.size / 2, s"unexpected density $nz/${sgn.size}")
  }

  test("d23: ranks positive, floor at the damping term, hubs above init") {
    val out = SparkEntry.queries("d23_pagerank")(spark, sf).cache()
    try {
      // every node retains at least the damping mass (isolated nodes
      // sit exactly at 0.15e9 after round 1 and stay there)
      assert(out.filter(col("pr_i9") < 150000000L).count() === 0)
      // the graph is non-trivial: some hub exceeds the uniform init
      assert(out.filter(col("pr_i9") > 1000000000L).count() > 0)
      // total mass conserved within the floor-div leakage (< 1%)
      val n = out.count().toDouble
      val tot = out.agg(sum(col("pr_i9"))).head.getLong(0).toDouble
      assert(math.abs(tot / (n * 1e9) - 1.0) < 0.01, s"mass ${tot / (n * 1e9)}")
    } finally out.unpersist()
  }

  test("u5: merge partitions the key space exactly") {
    // sf0.01: at sf0.001 every o_orderkey is below the change batch's
    // 8000 floor, so nothing is updated or inserted and the merge is
    // never exercised (10 000 base, 4 000 change, 2 000 overlap rows here)
    val big = sf.replace("sf0.001", "sf0.01")
    val out = SparkEntry.queries("u5_merge_upsert")(spark, big).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("updated", "inserted", "kept").foreach(k => assert(out.getOrElse(k, 0L) > 0, k))
    val orders = graft.core.Tables.orders(spark, big)
    val nBase = orders.filter(col("o_orderkey") < 10000).count()
    val nUpd = orders.filter(col("o_orderkey") >= 8000 && col("o_orderkey") < 12000).count()
    assert(out.getOrElse("updated", 0L) + out.getOrElse("kept", 0L) === nBase)
    assert(out.getOrElse("updated", 0L) + out.getOrElse("inserted", 0L) === nUpd)
  }

  test("d25: spans are maximal merged >=K-token runs; boundaries match a brute-force replay") {
    val K = 10
    val out = SparkEntry.queries("d25_substring_spans")(spark, sf).collect()
    assert(out.nonEmpty)
    // every span covers at least one K-window and spans never overlap
    assert(out.forall(_.getInt(3) >= K))
    out.groupBy(_.getLong(0)).foreach { case (_, spans) =>
      val sorted = spans.sortBy(_.getInt(1))
      sorted.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1).getInt(1) > p(0).getInt(2),
          s"overlapping spans for doc ${p(0).getLong(0)}")
      }
    }
    // independent replay in plain Scala: exact K-gram cross-doc marks
    // merged by interval overlap must reproduce the engine's spans
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val gramDocs = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    // sliding(K) on a shorter-than-K seq yields one short window —
    // guard to mirror the query's size(l) >= K filter
    docs.foreach { case (id, ts) => if (ts.length >= K)
      ts.sliding(K).map(_.mkString(" ")).foreach(g =>
        gramDocs.getOrElseUpdate(g, scala.collection.mutable.Set.empty) += id)
    }
    val expect = docs.toSeq.filter(_._2.length >= K).flatMap { case (id, ts) =>
      val marks = ts.sliding(K).zipWithIndex.collect {
        case (w, i) if gramDocs(w.mkString(" ")).size > 1 => i + 1 }.toSeq
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      marks.foreach { i =>
        if (spans.nonEmpty && i <= spans.last._2)
          spans(spans.length - 1) = (spans.last._1, i + K - 1)
        else spans += ((i, i + K - 1))
      }
      spans.map { case (a, b) => (id, a, b, b - a + 1) }
    }.sortBy(t => (t._1, t._2))
    val got = out.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got === expect)
  }

  test("d26: merge choices and corpus piece counts match a plain-Scala BPE replay") {
    val out = SparkEntry.queries("d26_bpe_train")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(out.length === 3)
    // independent replay: word counts -> greedy merge loop in plain Scala
    val wf = scala.collection.mutable.Map.empty[String, Long]
    graft.core.Tables.documents(spark, sf).select("text").collect()
      .foreach(_.getString(0).split(" ", -1).foreach(w =>
        wf(w) = wf.getOrElse(w, 0L) + 1))
    var seg: Map[String, Vector[String]] =
      wf.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val expect = (1 to 3).map { r =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- seg; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1)); pc(k) = pc.getOrElse(k, 0L) + wf(w)
      }
      val ((a, b), n) = pc.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
      seg = seg.map { case (w, syms) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (acc.nonEmpty && acc.last == a && x == b) acc(acc.length - 1) = a + b
          else acc += x
        }
        w -> acc.toVector
      }
      val tot = seg.map { case (w, s) => wf(w) * s.length }.sum
      (r, a, b, n, tot)
    }
    assert(out.toSeq === expect,
      "engine merges must equal the independent greedy replay")
    // each merge strictly shrinks the corpus piece count
    assert(out.sliding(2).forall(p => p(1)._5 < p(0)._5))
  }

  test("d27: per-doc piece counts match a plain-Scala apply of the fixed ranking") {
    val out = SparkEntry.queries("d27_bpe_encode")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"),
      ("o", "r"), ("a", "t"), ("s", "t"))
    def encode(w: String): Int = {
      var syms = w.map(_.toString).toVector
      for ((a, b) <- merges) {
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { x =>
          if (acc.nonEmpty && acc.last == a && x == b) acc(acc.length - 1) = a + b
          else acc += x
        }
        syms = acc.toVector
      }
      syms.length
    }
    val cache = scala.collection.mutable.Map.empty[String, Int]
    val docs = graft.core.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
    assert(out.size === docs.length)
    docs.foreach { r =>
      val ws = r.getString(1).split(" ", -1).filter(_.nonEmpty)
      val np = ws.map(w => cache.getOrElseUpdate(w, encode(w)).toLong).sum
      assert(out(r.getLong(0)) === ((ws.length.toLong, np, 100 * np / ws.length)),
        s"doc ${r.getLong(0)}")
    }
    // the ranking actually fires: encoding strictly compresses somewhere
    assert(out.values.exists { case (nw, np, _) => np < nw * 4 })
  }

  test("e6: representative precedes its duplicates and shares the cluster") {
    val out = SparkEntry.queries("e6_semdedup")(spark, sf).cache()
    try {
      assert(out.filter(col("is_dup") && col("keep_id") >= col("vec_id")).count() === 0)
      assert(out.filter(!col("is_dup") && col("keep_id") =!= col("vec_id")).count() === 0)
      // keep_id always references a vector of the SAME cluster
      val reps = out.select(col("vec_id").as("rid"), col("cid").as("rcid"))
      assert(out.filter(col("is_dup")).join(reps, col("keep_id") === col("rid"))
        .filter(col("cid") =!= col("rcid")).count() === 0)
      // every vector of the corpus is listed exactly once
      assert(out.count() === graft.core.Tables.embeddings(spark, sf).count())
    } finally out.unpersist()
  }
}
