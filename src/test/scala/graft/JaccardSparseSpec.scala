package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._
import graft.queries.TextQueries

/** d2's dense/sparse strategy choice: the fixtures' small bigram
  * universe always selects the dense bitmap arm, so the sparse
  * prefix-filtered bucket join — the 100 TB shape — would otherwise
  * ship untested. Synthetic corpora with >4096 distinct bigrams make
  * the shipped predicate [[graft.queries.TextQueries.d2Dense]] choose
  * the sparse arm, and the query's output is checked against
  * brute-force Jaccard computed in Scala. */
class JaccardSparseSpec extends SparkSpec {
  import spark.implicits._

  /** Asserts that d2 chose the sparse arm for `dir`: the shipped
    * predicate rejects the dense arm on the corpus counts, and `out`,
    * d2's executed frame there, holds none of the dense arm's
    * nested-loop join. */
  private def assertSparse(dir: String, out: DataFrame): Unit = {
    val r = TextQueries.bigramStream(graft.core.Tables.documents(spark, dir))
      .agg(countDistinct("bg"), countDistinct("doc_id")).head()
    val (nu, nd) = (r.getLong(0), r.getLong(1))
    assert(!TextQueries.d2Dense(nu, nd), s"fixture (nu=$nu, nd=$nd) selects the dense arm")
    val plan = out.queryExecution.executedPlan
    assert(collectAll(plan) { case j: BroadcastNestedLoopJoinExec => j }.isEmpty,
      s"d2 ran the dense arm's nested-loop join:\n$plan")
  }

  test("sparse bucket-join path activates past the universe gate and matches brute force") {
    // 100 docs, each 120 tokens drawn from a per-doc-salted LCG over a
    // 9000-word vocabulary → bigram universe ≫ 4096; consecutive doc
    // pairs (2k, 2k+1) share a long prefix so real near-dups exist.
    def tokens(doc: Int): Seq[String] = {
      val salt = doc / 2 // pair-mates share a stream...
      val own = doc % 2  // ...then diverge in the tail
      (0 until 120).map { i =>
        val stream = if (i < 100) salt * 7919 + i else salt * 7919 + own * 131071 + i
        s"w${(stream.toLong * 1103515245L + 12345L) % 9001L}" // prime modulus — a composite one collapses the LCG range (gcd with the multiplier)
      }
    }
    val docs = (0 until 100).map(i => (i.toLong, tokens(i).mkString(" "), "s0"))
      .toDF("doc_id", "text", "source")
    withTempDir("graft_sparse") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

      val q = SparkEntry.queries("d2_ngram_jaccard")(spark, dir)
      val out = q.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assertSparse(dir, q)

      // brute-force oracle in plain Scala
      def bigrams(doc: Int): Set[String] =
        tokens(doc).sliding(2).map(_.mkString(" ")).toSet
      val expected = (for {
        a <- 0 until 100; b <- a + 1 until 100
        ba = bigrams(a); bb = bigrams(b)
        inter = (ba intersect bb).size
        j = inter.toDouble / (ba.size + bb.size - inter)
        if j > 0.4
      } yield (a.toLong, b.toLong) -> ((inter.toLong, math.rint(j * 1e6) / 1e6))).toMap

      assert(expected.nonEmpty, "fixture produced no near-dup pairs")
      assert(out.keySet === expected.keySet,
        s"pair sets differ: extra=${out.keySet diff expected.keySet} missing=${expected.keySet diff out.keySet}")
      out.foreach { case (k, v) => assert(v === expected(k), s"pair $k differs") }
    }
  }

  test("prefix filter: skewed-df vocabulary cuts candidates >=10x and the output stays exact (r17)") {
    // Two-tier Zipf-ish token draw — the web-corpus df shape the flat
    // driver fixture cannot model (r16 probe: sf0.1 max df 338, no hot
    // tail): each position tosses a hash coin; heads draws one of 3 HOT
    // words (so the ~9 hot-hot bigrams appear in most docs,
    // df ≈ ndocs), tails one of 30000 cold words (df ≈ 1). Pair-mates
    // (2k, 2k+1) share the stream for 90% of positions → real near-dups.
    val nDocs = 800; val nTok = 40
    def tokens(doc: Int): Seq[String] = {
      val salt = doc / 2; val own = doc % 2
      (0 until nTok).map { i =>
        val stream = if (i < 36) salt * 7919L + i else salt * 7919L + own * 131071L + i
        val h = (stream * 1103515245L + 12345L) % 2147483648L
        val h2 = (h ^ (h >> 13)) * 69069L % 2147483648L
        if (h2 % 2 == 0) s"h${h2 % 3}" else s"c${h2 % 30000L}"
      }
    }
    val docs = (0 until nDocs).map(i => (i.toLong, tokens(i).mkString(" "), "s0"))
      .toDF("doc_id", "text", "source")
    withTempDir("graft_skewdf") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

      // shared bigram stream, exactly the query's kernel
      val bg = TextQueries.bigramStream(graft.core.Tables.documents(spark, dir))
        .localCheckpoint()
      val dfStats = bg.groupBy("bg").agg(count(lit(1)).as("dfc"))
        .agg(max("dfc"), count(lit(1))).head
      info(s"bigram df: max=${dfStats.getLong(0)} over ${dfStats.getLong(1)} distinct values")
      assert(dfStats.getLong(0) > nDocs / 2,
        "fixture lost its hot tail — the skew this test exists to model")

      // TELEMETRY — candidate volume, retired full-stream join vs the
      // landed prefix join (identical length filter on both):
      val sz = bg.groupBy("doc_id").agg(count(lit(1)).as("nb"))
      val szd = bg.join(sz, "doc_id")
      def lenFilter = col("b.nb") >= ceil(col("a.nb") * 0.4) &&
        col("b.nb") <= floor(col("a.nb") / 0.4)
      val oldCand = szd.as("a").join(szd.as("b"),
        col("a.bg") === col("b.bg") && col("a.doc_id") < col("b.doc_id") && lenFilter).count()
      val dfT = bg.groupBy("bg").agg(count(lit(1)).as("dfc"))
      val pre = bg.join(dfT, "bg").groupBy("doc_id")
        .agg(sort_array(collect_list(struct(col("dfc"), col("bg")))).as("sets"))
        .select(col("doc_id"),
          size(col("sets")).cast("long").as("nb"),
          explode(expr(
            "slice(transform(sets, x -> x.bg), 1, size(sets) - CAST((2 * size(sets)) DIV 5 AS INT))")).as("bg"))
      val newCand = pre.as("a").join(pre.as("b"),
        col("a.bg") === col("b.bg") && col("a.doc_id") < col("b.doc_id") && lenFilter).count()
      info(s"candidates: full-stream join $oldCand -> prefix join $newCand " +
        f"(cut x${oldCand.toDouble / math.max(1L, newCand)}%.1f)")
      assert(newCand * 10 <= oldCand,
        s"prefix filter should cut candidates >=10x on a skewed vocabulary " +
        s"(old=$oldCand new=$newCand)")

      // EXACTNESS — the declared query against brute force over the same
      // fixture (the prefix stage must lose no qualifying pair)
      val q = SparkEntry.queries("d2_ngram_jaccard")(spark, dir)
      val out = q.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assertSparse(dir, q)
      def bigrams(doc: Int): Set[String] =
        tokens(doc).sliding(2).map(_.mkString(" ")).toSet
      val sets = (0 until nDocs).map(bigrams)
      val expected = (for {
        a <- 0 until nDocs; b <- a + 1 until nDocs
        inter = (sets(a) intersect sets(b)).size
        j = inter.toDouble / (sets(a).size + sets(b).size - inter)
        if j > 0.4
      } yield (a.toLong, b.toLong) -> ((inter.toLong, math.rint(j * 1e6) / 1e6))).toMap
      assert(expected.nonEmpty, "fixture produced no near-dup pairs")
      assert(out.keySet === expected.keySet,
        s"pair sets differ: extra=${out.keySet diff expected.keySet} missing=${expected.keySet diff out.keySet}")
      out.foreach { case (k, v) => assert(v === expected(k), s"pair $k differs") }
    }
  }

  test("d2 runs the same construction jobs in 6 fresh sessions, at most 3") {
    val dir = "/root/testdata/sf0.01"
    // the first build reads the fixture's schema; later builds reuse it
    SparkEntry.queries("d2_ngram_jaccard")(spark, dir)
    val jobs = (1 to 6).map { _ =>
      val fresh = spark.newSession()
      jobsDuring(SparkEntry.queries("d2_ngram_jaccard")(fresh, dir)).size
    }
    info(s"construction jobs per session: ${jobs.mkString(", ")}")
    assert(jobs.distinct.size === 1 && jobs.head <= 3,
      s"construction jobs per session: ${jobs.mkString(", ")}")
  }
}
