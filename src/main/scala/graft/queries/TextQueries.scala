package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._
import graft.expr.VecExprs.{bitmap_and_count, bitmap_from_indices, dot_i12, sign_bucket}
import graft.text.TextOps

/** LLM-data-pipeline operators over `documents` and `embeddings`
  * (BASELINE.json north star): deduplication (exact, minhash+LSH,
  * simhash, n-gram Jaccard), text analysis (language-ID heuristic,
  * quality scoring, token counting, fingerprinting), and similarity
  * search (brute-force cosine top-k, sign-LSH bucketed ANN).
  *
  * Scale notes: every operator is a shuffle on a content-derived key
  * (hash, band, bucket, dimension) — no driver-side loops; candidate
  * generation is always hash/band-bucketed so the pairwise stage is
  * bucket-local rather than a global cross join.
  */
object TextQueries {
  type Q = (SparkSession, String) => DataFrame

  private val H = TextOps.md5Hash32Fast("tok")

  /** Distinct tokens per document, deduplicated row-locally
    * (array_distinct before explode) so no shuffle is spent on it. */
  private def distinctToks(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))

  /** d2's bigram kernel: each document's distinct adjacent-token
    * bigrams, built row-locally (zip_with over the two offset token
    * slices, array_distinct before explode), as `(doc_id, bg)`. */
  private[graft] def bigramStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(expr(
      """array_distinct(zip_with(
        |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
        |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
        |  (x, y) -> concat(x, ' ', y)))""".stripMargin)).as("bg"))

  /** d2's strategy choice from its corpus counts: the dense bitmap arm
    * for a non-empty bigram universe of at most 4096 over at most
    * 20000 docs, the sparse prefix-filter arm otherwise. */
  private[graft] def d2Dense(nu: Long, nd: Long): Boolean =
    0 < nu && nu <= 4096 && nd <= 20000

  /** d4b's candidate stage over a `(doc_id, simhash)` frame of 32-bit
    * simhashes: 2×16-bit halves, the probe side emitting each half's
    * exact value plus its 16 one-bit flips, one plain equi-join on
    * (half, value), the Hamming ≤ 3 popcount gate, then the pair-keyed
    * distinct. Returns `(a_id, b_id, hamming, x32)` with a_id < b_id
    * (exactness argument at the d4b query; D4bSkewSpec runs it under
    * AQE skew-splitting). */
  def simhashPairs(sh: DataFrame): DataFrame = {
    val halves = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 2).map(b => struct(lit(b).as("half"),
        expr(s"(simhash div ${1L << (16 * b)}) % 65536").as("hv"))): _*)).as("hb"))
      .select(col("doc_id"), col("simhash"),
        col("hb.half").as("half"), col("hb.hv").as("hv"))
    val probes = halves.select(col("doc_id"), col("simhash"), col("half"),
      explode(concat(array(col("hv")),
        array((0 until 16).map(i => expr(s"hv ^ ${1L << i}")): _*))).as("pv"))
    val rhs = halves.select(col("half").as("half2"), col("hv").as("hv2"),
      col("doc_id").as("b_id"), col("simhash").as("sh2"))
    probes.join(rhs,
        col("half") === col("half2") && col("pv") === col("hv2") &&
        col("doc_id") < col("b_id"))
      .withColumn("hamming", expr("bit_count(simhash ^ sh2)"))
      .filter(col("hamming") <= 3)
      .withColumn("x32", expr("simhash ^ sh2"))
      .select(col("doc_id").as("a_id"), col("b_id"),
        col("hamming").cast("long").as("hamming"), col("x32"))
      .distinct()
  }

  /** e4/e6/e13's shared fixed codebook: 16 deterministic 64-dim
    * dyadic-float centroids + exact integer norms (one definition —
    * the three queries used to carry identical literals). */
  private lazy val fixedCode: Seq[(Int, Seq[Float], Long)] =
    (0 until 16).map { cid =>
      val arr = Array.tabulate(64) { j =>
        val u = ((cid * 64 + j).toLong * 2654435761L) % 2147483648L
        ((u % 1025) - 512).toFloat / 1024.0f
      }
      val nrmc = arr.map(x =>
        graft.expr.VecExprs.roundHalfAway(x.toDouble * x.toDouble * 1e12)).sum
      (cid, arr.toSeq, nrmc)
    }

  /** Row-local nearest-cell id against [[fixedCode]] (r16, guide
    * §2.3/§2.4): the codebook is a compile-time literal, so the
    * per-vector argmin is ONE codegen projection — least() over
    * (dist, cid) structs compares lexicographically, i.e. exactly the
    * retired crossJoin(16×) + min(struct(dist, cid)) aggregation
    * (ties to the lowest cid, every centroid present, no nulls),
    * without the 16× row blowup or the per-vector aggregation
    * exchange that shuffled the embedding payload. Distances go
    * through the same DotI12 kernel against the same float arrays, so
    * the assignment is bit-identical. Requires columns
    * `embedding` + `nrm`. */
  private def fixedCid: Column =
    least(fixedCode.map { case (cid, arr, nrmc) =>
      struct((col("nrm") - lit(2) * dot_i12(col("embedding"), typedLit(arr))
        + lit(nrmc)).as("d"), lit(cid).as("c"))
    }: _*).getField("c")

  /** d31's directed top-3 kNN graph: sign-LSH buckets with the
    * population-128 sub-cell salt (the r6 quadratic fix — candidate
    * volume ≤ n·128 at any clusteredness), exact-integer dots, ranked
    * (sim DESC NULLS LAST, v ASC). Extracted from the d31 block (the
    * m6 machinery move, r14) so D31RecallSpec audits the PRODUCTION
    * candidate path against all-pairs truth. Returns (u, v) edges,
    * eagerly localCheckpoint-ed — d31 feeds it to six self-join arms;
    * without the cut each arm re-runs the bucket join (measured at
    * sf0.1: d31 0.63 → 1.17 s and 4 more jobs without it). */
  private[graft] def knnDirected(emb: DataFrame): DataFrame = {
    val nv = emb.agg(count(lit(1)).as("n_vec"))
    val wb0 = emb.crossJoin(broadcast(nv))
      .withColumn("nbits", least(lit(16), greatest(lit(8),
        ceil(log2(col("n_vec").cast("double") / 4.0)).cast("int"))))
      .withColumn("bucket", sign_bucket(col("embedding"), col("nbits")))
      .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      .select("vec_id", "bucket", "embedding", "nrm")
    // bucket-population salt: ≤|distinct buckets| rows, broadcast
    val bc = wb0.groupBy("bucket").agg(count(lit(1)).as("bc"))
    val wb = wb0.join(broadcast(bc), "bucket")
      .withColumn("nsub", expr("(bc + 127) div 128"))
      .withColumn("sub",
        expr(TextOps.md5Hash32Fast("CAST(vec_id AS STRING)")) % col("nsub"))
    val cand = wb.as("a").join(wb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.sub") === col("b.sub") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", dot_i12(col("a.embedding"), col("b.embedding")))
      .withColumn("sim", (col("dot") / 1e12) /
        nullif(sqrt(col("a.nrm") / 1e12) * sqrt(col("b.nrm") / 1e12), lit(0.0)))
      .select(col("a.vec_id").as("u"), col("b.vec_id").as("v"), col("sim"))
    val wr = Window.partitionBy("u").orderBy(desc_nulls_last("sim"), asc("v"))
    cand.withColumn("rn", row_number().over(wr)).filter(col("rn") <= 3)
      .select("u", "v").localCheckpoint()
  }

  /** Corpus similarity graph shared by d15 (components) and d23
    * (PageRank): symmetrized, deduplicated minhash-band star edges,
    * plus the node list (doc_ids that produced a signature). Built
    * ONCE per (session, sfDir) and eagerly localCheckpoint-ed: both
    * consumers iterate over the graph (lineage truncation is needed
    * regardless), and sharing the materialization means the SECOND
    * consumer pays zero edge construction — r6's persist-hygiene fix
    * removed the accidental CacheManager plan-match reuse that had
    * hidden this cost, and d23 regressed 0.50→2.90 s re-paying the
    * full token explode → minhash → window → distinct chain. The
    * checkpointed blocks are O(corpus) rows of two longs; entries die
    * with their session (cluster equivalent: a shared checkpointed
    * edge table materialized once per curation run).
    */
  private val simGraphCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), (DataFrame, DataFrame)]

  /** Content token of the documents table's files (paths, sizes,
    * mtimes): the cache key carries it so a fixture dir regenerated
    * IN PLACE within one session gets a fresh graph instead of the
    * stale checkpointed edges (r8 advice), and so stale entries can
    * be found and freed. */
  private def docsToken(d: String): String =
    // r9: full-width SHA-256 (a 32-bit hashCode collision would
    // silently serve a stale checkpointed graph — r9 advice)
    graft.core.Digest.fileToken(new java.io.File(d, "documents.parquet"))

  /** Free the storage blocks behind a localCheckpoint-ed frame: the
    * blocks belong to the materialized RDD inside the plan's
    * LogicalRDD leaf (a plain unpersist() only touches CacheManager
    * entries, which a checkpoint never registers). For a
    * [[checkpointReset]] frame the persisted RDD sits a couple of
    * row-conversion hops ABOVE the leaf's rdd, so walk the (bounded —
    * checkpointing truncates it) RDD lineage and unpersist every
    * persisted ancestor. */
  private def unpersistCheckpointed(df: DataFrame): Unit = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit = {
      if (r.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE)
        r.unpersist(false)
      r.dependencies.foreach(dep => walk(dep.rdd))
    }
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => walk(l.rdd)
      case _ => ()
    }
  }

  /** One LARGE-STAR round of d15's alternating connected-components
    * loop (Kiveris et al., SoCC'14): per node x over the FULL
    * neighborhood, m = min(N(x) ∪ {x}); larger neighbors re-attach to
    * m. Output rows are canonical by construction (y > x ≥ m) and each
    * input edge yields at most one output edge (only its smaller
    * endpoint's reduce emits it). Hinted shuffle_hash: per-round frames
    * are checkpoint-truncated with RESET stats, so without the hint the
    * size-estimate-driven planner would pick SortMergeJoin for what is
    * a tiny-per-round build side. Object-level (r16, verdict #4) so
    * JoinScaleSpec can pin the EXECUTED join strategy — the hint lives
    * in code, but only a spec on the AQE-finalized plan proves the
    * runtime keeps honoring it. */
  private[graft] def ccLargeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("a").as("x"), col("b").as("y"))
      .unionAll(e.select(col("b").as("x"), col("a").as("y")))
    val mins = nbrs.groupBy("x").agg(min(col("y")).as("my"))
      .select(col("x").as("mx"), least(col("my"), col("x")).as("m"))
    nbrs.filter(col("y") > col("x")).hint("shuffle_hash")
      .join(mins, col("x") === col("mx"))
      .select(col("y").as("a"), col("m").as("b")).distinct()
  }

  /** One SMALL-STAR round (see [[ccLargeStar]]): per larger endpoint a
    * with smaller neighbors Γ⁻(a), m = min(Γ⁻(a)); every s ∈ Γ⁻(a)\{m}
    * and a itself re-attach to m. Canonical again (s > m, a > m). */
  private[graft] def ccSmallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("a").agg(min(col("b")).as("m"))
      .select(col("a").as("ma"), col("m"))
    val re = e.hint("shuffle_hash").join(mins, col("a") === col("ma"))
    re.filter(col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
      .unionAll(mins.select(col("ma").as("a"), col("m").as("b")))
      .distinct()
  }

  /** The fixpoint test of the star alternation: true when the
    * canonical (a > b), distinct edges `e` form a star forest — every
    * `a` has exactly one `b` and no `b` is also an `a`. Both star steps
    * leave a star forest unchanged, and each star is one component
    * centred on its minimum, so the loop can stop here. One shuffle of
    * 2|E| rows keyed on the node. */
  private[graft] def ccConverged(e: DataFrame): Boolean =
    e.select(col("a").as("n"), lit(1).as("na"), lit(0).as("nb"))
      .unionAll(e.select(col("b").as("n"), lit(0).as("na"), lit(1).as("nb")))
      .groupBy("n").agg(sum(col("na")).as("na"), sum(col("nb")).as("nb"))
      .filter(col("na") > 1 || (col("na") > 0 && col("nb") > 0))
      .isEmpty

  /** localCheckpoint that also RESETS plan statistics. A checkpoint
    * truncates LINEAGE but copies the estimated sizeInBytes into the
    * checkpointed LogicalRDD (`rewriteStatsAndConstraints`), so in an
    * iterative loop the size-only join estimate COMPOUNDS
    * multiplicatively across rounds — the exponent grows geometrically
    * until `SizeInBytesOnlyStatsPlanVisitor` overflows BigInteger
    * ("BigInteger would overflow supported range"; measured: d15 at
    * the ×1000 corpus, ~20 propagation rounds). Rebuilding the frame
    * from the checkpointed RDD gives a leaf with DEFAULT stats each
    * round — bounded per-round products, identical rows (the rebuild
    * only re-wraps the same materialized blocks). */
  private[graft] def checkpointReset(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  private def simGraph(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val token = docsToken(d)
    // evict graphs built from a previous generation of this dir — and
    // unpersist their checkpoint blocks, which otherwise pin memory
    // for the session lifetime
    simGraphCache.keys
      .filter(k => k._1 == s && k._2 == d && k._3 != token)
      .foreach { k =>
        simGraphCache.remove(k).foreach { case (e, n) =>
          unpersistCheckpointed(e); unpersistCheckpointed(n) }
      }
    simGraphCache.getOrElseUpdate((s, d, token), {
      val toks = distinctToks(s, d).withColumn("h", expr(H))
      // two BANDS of two minhash rows each (d3's banding, packed
      // losslessly into one long per band) — single-hash buckets over
      // a small vocabulary collide so often the graph degenerates to
      // one giant component
      val sig = toks.groupBy("doc_id").agg(
        min(expr(TextOps.minhashExpr("h", 0))).as("h0"),
        min(expr(TextOps.minhashExpr("h", 1))).as("h1"),
        min(expr(TextOps.minhashExpr("h", 2))).as("h2"),
        min(expr(TextOps.minhashExpr("h", 3))).as("h3"))
        .select(col("doc_id"),
          (col("h0") * 2147483648L + col("h1")).as("m0"),
          (col("h2") * 2147483648L + col("h3")).as("m1"))
        // persist → consume → unpersist: the two band passes and the
        // node dump each read sig; nothing stays registered after the
        // checkpoints materialize
        .persist()
      // STAR edges within single-band buckets (doc ↔ bucket-min doc):
      // sufficient for connectivity and O(corpus) edges, never
      // O(pairs²)
      val star = Seq("m0", "m1").map { b =>
        sig.withColumn("root", min(col("doc_id")).over(Window.partitionBy(b)))
          .filter(col("doc_id") =!= col("root"))
          .select(col("doc_id").as("src"), col("root").as("dst"))
      }.reduce(_ unionByName _)
      // localCheckpoint, not persist: persist caches DATA but keeps
      // the full logical plan, and both consumers embed the graph
      // several times per iteration round — with persist the plan TREE
      // doubles every round and Catalyst re-optimization time grows
      // exponentially (measured in r4: round 2 planned 8× slower than
      // round 0, final action re-planned ~40 s at sf0.1).
      // Checkpointing truncates the lineage to the materialized
      // partitions. At cluster scale use checkpoint() on reliable
      // storage for the same reason.
      val sym = star
        .unionByName(star.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
      val nodes = sig.select(col("doc_id")).localCheckpoint(true)
      sig.unpersist()
      (sym, nodes)
    })
  }

  val queries: Map[String, Q] = Map(
    // D1 — exact dedup by content hash: every duplicate group keyed by
    // md5(text), deterministic representative = min doc_id.
    "d1_exact_dedup" -> ((s, d) => {
      documents(s, d)
        .groupBy(md5(col("text")).as("content_key"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
        .orderBy("content_key")
    }),

    // D2 — n-gram (bigram) Jaccard near-dup: exact |∩|/|∪| over per-doc
    // distinct-bigram sets, pairs with jaccard > 0.4. The bigram set is
    // built row-locally by `bigramStream` — no self-join, no distinct
    // shuffle. Construction checkpoints the bigram stream (its one
    // localCheckpoint) and reads the corpus counts nu (distinct
    // bigrams) and nd (docs) off it with one head(); `d2Dense` then
    // picks ONE candidate strategy on the driver and only that arm is
    // built:
    //  • dense (universe ≤4096 AND docs ≤2e4 — where a shared-bigram
    //    bucket join degenerates to ~n² pair rows with per-row shuffle
    //    cost): pack each doc's set into a bitmap of the global bigram
    //    index and intersect via popcount(x & y) over a length-filtered
    //    broadcast nested-loop self-join;
    //  • sparse (real corpora, or an empty universe, which yields no
    //    rows): rarest-first PREFIX-filtered bucket join
    //    (AllPairs/PPJoin, r17) — candidates only where two docs share
    //    a bigram inside their first |A|−⌊0.4·|A|⌋ rarest bigrams,
    //    pruned further by the Jaccard length filter
    //    0.4·|A| ≤ |B| ≤ |A|/0.4, then verified exactly row-locally.
    // Everything after the head() is plan-internal.
    "d2_ngram_jaccard" -> ((s, d) => {
      // The bigram stream feeds the counts and then several consumers
      // of either arm (dense: index + bitmap build; sparse: df table +
      // per-doc sets); checkpointing it once replaces re-parses of the
      // corpus (split/zip_with/array_distinct/explode ≈ 0.35 s each at
      // sf0.1) and keeps every downstream plan constant-size.
      val bg = bigramStream(documents(s, d)).localCheckpoint()
      val n = bg.agg(countDistinct(col("bg")), countDistinct(col("doc_id"))).head()
      val (nu, nd) = (n.getLong(0), n.getLong(1))
      val pairs = if (d2Dense(nu, nd)) {
        // Per-row length bounds are precomputed so the 25M-pair BNLJ
        // condition is three comparisons, no arithmetic.
        val nwords = ((nu + 63) / 64).toInt
        val idx = bg.select("bg").distinct()
          .withColumn("i", row_number().over(Window.orderBy("bg")) - 1)
        val docs = bg.join(broadcast(idx), "bg")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(col("i"))).as("idxs"))
          .select(col("doc_id"), size(col("idxs")).as("nb"),
            bitmap_from_indices(col("idxs"), lit(nwords)).as("words"))
          .withColumn("lo", ceil(col("nb") * 0.4))
          .withColumn("hi", floor(col("nb") / 0.4))
        docs.as("a").join(broadcast(docs.as("b")),
            col("a.doc_id") < col("b.doc_id") &&
            col("b.nb") >= col("a.lo") && col("b.nb") <= col("a.hi"))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
            col("a.nb").as("na"), col("b.nb").as("nbb"),
            bitmap_and_count(col("a.words"), col("b.words")).as("inter"))
          .filter(col("inter") > 0)
      } else {
        // AllPairs/PPJoin prefix filter under a rarest-first global
        // order (r17; Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07).
        // The retired form joined the FULL bigram streams on the shared
        // bigram, so candidates were Σ df²/2 over the vocabulary — a
        // skewed web vocabulary's hot tail owns that sum. Prefix filter:
        // order bigrams globally by (df, bg) ascending (rarest first —
        // df ties broken by the bigram itself, so the order is total
        // with NO global rank window), sort each doc's set in that
        // order, and index only the first ℓ = nb − ⌊0.4·nb⌋ bigrams.
        // EXACTNESS (smallest-common-element lemma): J(A,B) > 0.4 ⟹
        // |A∩B| > 0.4·|A∪B| ≥ 0.4·|A| ⟹ |A∩B| ≥ ⌊0.4·|A|⌋+1; the
        // smallest shared bigram c has at most |A|−|A∩B| ≤
        // |A|−⌊0.4·|A|⌋−1 A-elements before it, so c sits inside BOTH
        // prefixes and every qualifying pair surfaces as a candidate.
        // Hot bigrams land at the END of the order and mostly fall
        // OUTSIDE prefixes, so the hot tail stops generating pairs.
        // Candidates are then verified EXACTLY by a row-local
        // array_intersect over the full per-doc sets — nothing
        // approximate reaches the output (JaccardSparseSpec pins both
        // the equality and the skewed-vocab candidate-count drop).
        // df build and df attach share one Exchange(bg) subtree (AQE
        // reuse); while the vocab fits the broadcast threshold AQE
        // broadcasts dfT instead and bg is not shuffled at all here.
        val dfT = bg.groupBy("bg").agg(count(lit(1)).as("dfc"))
        val docs = bg.join(dfT, "bg")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("dfc"), col("bg")))).as("sets"))
          .select(col("doc_id"),
            expr("transform(sets, x -> x.bg)").as("arr"),
            size(col("sets")).cast("long").as("nb"))
          // ⌊0.4·nb⌋ in exact integers — (2·nb) div 5 — so no double
          // boundary can shorten a prefix.
          .withColumn("pref",
            expr("slice(arr, 1, size(arr) - CAST((2 * size(arr)) DIV 5 AS INT))"))
        val pre = docs.select(col("doc_id"), col("nb"), explode(col("pref")).as("bg"))
        val cand = pre.as("a").join(pre.as("b"),
            col("a.bg") === col("b.bg") && col("a.doc_id") < col("b.doc_id") &&
            col("b.nb") >= ceil(col("a.nb") * 0.4) &&
            col("b.nb") <= floor(col("a.nb") / 0.4))
          .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
          .distinct()
        cand
          .join(docs.select(col("doc_id").as("a_id"), col("arr").as("arr_a"),
            col("nb").as("na")), "a_id")
          .join(docs.select(col("doc_id").as("b_id"), col("arr").as("arr_b"),
            col("nb").as("nbb")), "b_id")
          .select(col("a_id"), col("b_id"),
            size(array_intersect(col("arr_a"), col("arr_b"))).cast("long").as("inter"),
            col("na"), col("nbb"))
      }
      pairs
        .withColumn("jaccard", col("inter").cast("double") /
          (col("na") + col("nbb") - col("inter")))
        .filter(col("jaccard") > 0.4)
        .select(col("a_id"), col("b_id"), col("inter"), round6(col("jaccard")).as("jaccard"))
        .orderBy("a_id", "b_id")
    }),

    // D3 — minhash + LSH banding: 8 universal hashes over the distinct
    // token set, 4 bands of 2 rows; a pair is a candidate iff it shares
    // ≥1 band bucket, n_bands = #shared buckets. Near-dup corpora make
    // the answer quadratic in duplicate-group size, so every shuffle
    // here moves DISTINCT-signature rows only (tiny), and the O(pairs)
    // doc-pair stream is produced by map-side explodes at the very
    // end — never shuffled, sorted, aggregated, or broadcast (row
    // order is canonicalized by the driver's compare).
    "d3_minhash_lsh" -> ((s, d) => {
      val toks = distinctToks(s, d).withColumn("h", expr(H))
      val mh = (0 until 8).map(k => min(expr(TextOps.minhashExpr("h", k))).as(s"m$k"))
      val sig = toks.groupBy("doc_id").agg(mh.head, mh.tail: _*)
      // Each minhash is < 2^31 (mod 2147483647), so a band's two rows
      // pack LOSSLESSLY into one long: p_b = m_{2b}·2^31 + m_{2b+1}.
      // The band bucket key IS p_b (exact band equality, no hash
      // collisions), and gid = struct(p0..p3) is the full signature —
      // collision-free group identity at half the struct width of the
      // raw 8-tuple, so signature shuffles stay cheap.
      val packs = (0 until 4).map(b =>
        (col(s"m${2 * b}") * 2147483648L + col(s"m${2 * b + 1}")).as(s"p$b"))
      // Shared by the bucket explosion and the within-signature pair
      // stream with no checkpoint: both read the same shuffle of the
      // signature aggregate (the executed plan reuses the exchange), so
      // the query runs no job while it is built.
      val sigs = sig.select(col("doc_id") +: packs: _*)
        .groupBy("p0", "p1", "p2", "p3")
        .agg(collect_list(col("doc_id")).as("ids"))
        .withColumn("gid", struct(col("p0"), col("p1"), col("p2"), col("p3")))
      // Candidate signature pairs WITHOUT a self-join: group the
      // signatures sharing a band bucket (shuffle key = (band, bh)),
      // then explode the i<j member pairs map-side — one shuffle and
      // one codegen stage instead of a two-sided join. Each signature
      // carries its member-id array so no later join is needed either.
      val buckets = sigs.select(
          explode(array((0 until 4).map(b =>
            struct(lit(b).as("band"), col(s"p$b").as("bh"))): _*)).as("bb"),
          struct(col("gid"), col("ids")).as("sg"))
        .select(col("bb.band").as("band"), col("bb.bh").as("bh"), col("sg"))
        .groupBy("band", "bh").agg(collect_list(col("sg")).as("ms"))
        .filter(size(col("ms")) > 1)
      val pairsRaw = buckets
        .select(col("ms"), posexplode(col("ms")).as(Seq("i", "x")))
        .select(col("x"), explode(expr("slice(ms, i + 2, size(ms) - i - 1)")).as("y"))
        .select(
          when(col("x.gid") < col("y.gid"), col("x")).otherwise(col("y")).as("a"),
          when(col("x.gid") < col("y.gid"), col("y")).otherwise(col("x")).as("b"))
      val sigPairs = pairsRaw
        .groupBy(col("a.gid").as("ga"), col("b.gid").as("gb"))
        .agg(count(lit(1)).as("n_bands"),
          first(col("a.ids")).as("ids_a"), first(col("b.ids")).as("ids_b"))
      // Pair expansion: every shuffle in this query moves only
      // DISTINCT-signature rows (each carrying its member-id array);
      // the O(pairs) doc-pair stream is produced by chained map-side
      // explodes AFTER the aggregations and is never shuffled, sorted,
      // or broadcast. (Broadcasting the one-row-per-document
      // membership table — the round-1 shape — would ship the whole
      // corpus to every executor at 100 TB.)
      val cross = sigPairs
        .select(col("n_bands"), col("ids_b"), explode(col("ids_a")).as("x"))
        .select(col("n_bands"), col("x"), explode(col("ids_b")).as("y"))
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"), col("n_bands"))
      val within = sigs
        .select(col("ids"), posexplode(col("ids")).as(Seq("i", "x")))
        .select(col("x"),
          explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("y"))
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"), lit(4L).as("n_bands"))
      cross.unionAll(within)
    }),

    // D4 — simhash (16-bit) document signature from distinct-token
    // hashes: bit j set iff Σ_tokens (2·bit_j(h) − 1) > 0.
    "d4_simhash" -> ((s, d) => {
      val toks = distinctToks(s, d).withColumn("h", expr(H))
      // One shuffle: the 16 per-bit vote sums are parallel aggregate
      // columns (map-side combined), not exploded rows.
      val votes = (0 until 16).map(j =>
        sum(expr(s"2 * ((h div ${1L << j}) % 2) - 1")).as(s"s$j"))
      toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .withColumn("simhash", (0 until 16).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _))
        .select("doc_id", "simhash")
        .orderBy("doc_id")
    }),

    // D4b — simhash NEAR-DUP PAIRS at Hamming ≤ 3 via MULTIPROBE
    // pigeonhole banding (r16; candidate-bounding evolution of the
    // Manku et al. WWW'07 trick). 4×8-bit exact banding is exact but
    // its candidate volume is Σ bucket² over only 256 values per band
    // — at the ×1000 corpus (5 M docs) the bucket² term dominated the
    // honest floor (309 s). Split into 2×16-bit HALVES instead:
    //   EXACTNESS: H(x,y) ≤ 3 splits its diffs (d1, d2), d1+d2 ≤ 3 ⟹
    //   min(d1, d2) ≤ 1 — some half differs in AT MOST ONE bit. The
    //   probe side emits each half's exact value plus its 16 one-bit
    //   flips (17 keys/half); the build side emits exact values only.
    //   A 0-diff half matches exact↔exact; a 1-diff half matches via
    //   the flipped probe — every Hamming≤3 pair is found (both
    //   directions, deduped below), NOTHING approximate. Pinned by
    //   D4bEquivSpec: brute-force popcount pairs AND the 4×8 exact-
    //   band reference produce the identical frame.
    //   VOLUME: 65 536 values per half → buckets shrink ~256×; probe
    //   fanout ×17 is flat per doc, so candidates are
    //   Σ_v probe(v)·|bucket(v)| — measured ×1000: 58 s vs 309 s for
    //   the 4×8 form, identical 18 263 337 output rows.
    // (32-bit simhash, not d4's declared 16: a 16-bit sketch over this
    // vocabulary collapses the corpus into a few hashes and the pair
    // set degenerates to ~all-pairs.) The popcount gate still runs on
    // the exploded candidate stream BEFORE the pair-keyed distinct,
    // and n_shared_bands (count of agreeing ORIGINAL 8-bit bands —
    // the output contract) is computed from the pair's XOR directly,
    // so the distinct is the only pair-keyed shuffle and it carries
    // only gated rows. Degenerate buckets stay AQE-skew-splittable
    // (plain equi-join, no collect_list arrays).
    "d4b_simhash_pairs" -> ((s, d) => {
      val toks = distinctToks(s, d).withColumn("h", expr(H))
      val votes = (0 until 32).map(j =>
        sum(expr(s"2 * ((h div ${1L << j}) % 2) - 1")).as(s"s$j"))
      val sh = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .withColumn("simhash", (0 until 32).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _))
        .select("doc_id", "simhash")
      simhashPairs(sh)
        .withColumn("n_shared_bands", (0 until 4).map(b =>
          when(expr(s"(x32 div ${1L << (8 * b)}) % 256") === 0, 1L)
            .otherwise(0L)).reduce(_ + _))
        .select(col("a_id"), col("b_id"), col("hamming"), col("n_shared_bands"))
        .orderBy("a_id", "b_id")
    }),

    // D5 — language-ID heuristic: stopword-list overlap, argmax score
    // with deterministic tie-break.
    "d5_langid" -> ((s, d) => {
      val stops = s.createDataFrame(Seq(
        ("w1", "the"), ("w1", "a"), ("w1", "fast"), ("w1", "slow"),
        ("w2", "spark"), ("w2", "query"), ("w2", "join"), ("w2", "table"),
        ("w3", "data"), ("w3", "row"), ("w3", "column"), ("w3", "batch")))
        .toDF("cand", "w")
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val scores = toks.join(broadcast(stops), col("tok") === col("w"))
        .groupBy("doc_id", "cand").agg(count(lit(1)).as("score"))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("cand"))
      scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("cand").as("pred"), col("score"))
        .orderBy("doc_id")
    }),

    // D6 — quality scoring: token count, distinct ratio, stopword
    // ratio, mean token length — all exact integer ratios.
    "d6_quality" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val agg = toks.groupBy("doc_id").agg(
        count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("n_uniq"),
        count(when(col("tok").isin("the", "a", "of", "and"), 1)).as("n_stop"))
      documents(s, d).join(agg, "doc_id")
        .withColumn("uniq_ratio", col("n_uniq").cast("double") / col("n_tok"))
        .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tok"))
        .withColumn("mean_tok_len",
          (col("n_chars") - (col("n_tok") - 1)).cast("double") / col("n_tok"))
        .select("doc_id", "n_tok", "n_uniq", "n_stop", "uniq_ratio",
          "stop_ratio", "mean_tok_len")
        .orderBy("doc_id")
    }),

    // D7 — token counting: whitespace tokens + a BPE-ish consonant-run
    // piece count, corpus totals per source.
    "d7_token_count" -> ((s, d) => {
      documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")))
        .withColumn("n_piece", size(split(col("text"), "[aeiou]+")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("tot_tok"),
          sum(col("n_piece")).cast("long").as("tot_piece"))
        .orderBy("source")
    }),

    // D8 — document fingerprint: md5 over the sorted token multiset →
    // order-insensitive near-exact dedup key.
    "d8_fingerprint" -> ((s, d) => {
      documents(s, d)
        .withColumn("fp", md5(concat_ws(" ", array_sort(split(col("text"), " ")))))
        .groupBy("fp").agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
        .filter(col("n") >= 1)
        .orderBy("fp")
    }),

    // E1 — brute-force cosine top-k, integerized at 1e12, exact top-10
    // per query (5 query vectors). Dot products and norms are the
    // codegen'd DotI12 kernel (bit-identical to the SQL
    // aggregate/zip_with form, minus the lambda interpreter); the tiny
    // query set is broadcast — the only wide stage is the per-query
    // top-k window.
    "e1_knn_cosine" -> ((s, d) => {
      val withNorm = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      val q = withNorm.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val sim = withNorm.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dot", dot_i12(col("qe"), col("embedding")))
        .withColumn("sim", (col("dot") / 1e12) /
          nullif(sqrt(col("qn") / 1e12) * sqrt(col("nrm") / 1e12), lit(0.0)))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
      sim.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
        .select(col("q_id"), col("rank"), col("vec_id"), round6(col("sim")).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // E2 — sign-LSH ANN: bucket = sign bits of the first 8 dims
    // (axis-aligned hyperplanes); exact cosine only within the query's
    // bucket — the 100 TB path where buckets are the shuffle key.
    "e2_lsh_ann" -> ((s, d) => {
      val emb = embeddings(s, d)
      val bucketExpr = (1 to 8).map(j =>
        when(element_at(col("embedding"), j) > 0.0f, math.pow(2, j - 1).toLong)
          .otherwise(0L)).reduce(_ + _)
      val withNorm = emb.withColumn("bucket", bucketExpr)
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      val q = withNorm.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("bucket").as("q_bucket"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val sim = withNorm
        .join(broadcast(q), col("q_bucket") === col("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dot", dot_i12(col("qe"), col("embedding")))
        .withColumn("sim", (col("dot") / 1e12) /
          nullif(sqrt(col("qn") / 1e12) * sqrt(col("nrm") / 1e12), lit(0.0)))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
      sim.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("q_id"), col("q_bucket").as("bucket"), col("rank"),
          col("vec_id"), round6(col("sim")).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // E12 — index-quality evaluation IN-PLAN: recall@5 of the sign-LSH
    // ANN (e2) against exact brute-force kNN (e1), per query — the
    // measurement loop every vector-index deployment runs before
    // trusting an approximate index (the test suite's recall specs
    // promoted to a first-class declared surface). Scale shape: both
    // arms are the audited e1/e2 plans (broadcast query set; the
    // exact arm is the deliberate brute-force baseline, the LSH arm
    // bucket-keyed); the evaluation itself is a |queries·k|-row left
    // join + keyed rollup — negligible at any corpus size. recall_ppm
    // is an exact integer ratio.
    "e12_recall_eval" -> ((s, d) => {
      val withNorm = embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      val q = withNorm.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          col("nrm").as("qn"))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
      val exact = withNorm.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dot", dot_i12(col("qe"), col("embedding")))
        .withColumn("sim", (col("dot") / 1e12) /
          nullif(sqrt(col("qn") / 1e12) * sqrt(col("nrm") / 1e12), lit(0.0)))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"))
      val bucketExpr = (1 to 8).map(j =>
        when(element_at(col("embedding"), j) > 0.0f, math.pow(2, j - 1).toLong)
          .otherwise(0L)).reduce(_ + _)
      val withB = withNorm.withColumn("bucket", bucketExpr)
      val qb = withB.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("bucket").as("q_bucket"),
          col("embedding").as("qe"), col("nrm").as("qn"))
      val ann = withB
        .join(broadcast(qb), col("q_bucket") === col("bucket"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dot", dot_i12(col("qe"), col("embedding")))
        .withColumn("sim", (col("dot") / 1e12) /
          nullif(sqrt(col("qn") / 1e12) * sqrt(col("nrm") / 1e12), lit(0.0)))
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      exact.join(ann, Seq("q_id", "vec_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).cast("long").as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).cast("long").as("hits"))
        .withColumn("recall_ppm", expr("(hits * 1000000) div n_exact"))
        .orderBy("q_id")
    }),

    // E13 — cluster-majority pseudo-labeling (semi-supervised label
    // spread, the cheap first stage of dataset auto-labeling): every
    // vector is assigned to e4's fixed codebook cell (same exact
    // integer argmin), the ~14% whose vec_id % 7 == 0 act as the
    // trusted SEED set, each cell takes its seed-majority label
    // (deterministic tie-break: smallest label), and the cell's
    // remaining vectors inherit it; the query reports per-cell seed
    // counts and pseudo-label accuracy against the held-out true
    // labels as an exact ppm. Scale shape: a row-local literal-codebook
    // argmin projection (e4's audited shape), a 16-row majority
    // table, and one keyed rollup — the corpus shuffles once on cid.
    "e13_pseudo_label" -> ((s, d) => {
      // fixedCid: row-local argmin (r16) — the assignment is a pure
      // projection; the only shuffles left are the two tiny
      // cell-keyed rollups below.
      val assigned = embeddings(s, d)
        .select(col("vec_id"), col("embedding"), col("label"))
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
        .withColumn("cid", fixedCid)
        .select(col("vec_id"), col("cid"), col("label"))
      val wm = Window.partitionBy("cid")
        .orderBy(desc("n_seed_lab"), asc("label"))
      val cellLab = assigned.filter(col("vec_id") % 7 === 0)
        .groupBy("cid", "label").agg(count(lit(1)).as("n_seed_lab"))
        .withColumn("rn", row_number().over(wm)).filter(col("rn") === 1)
        .select(col("cid"), col("label").as("pseudo"))
      assigned.join(broadcast(cellLab), "cid")
        .groupBy("cid", "pseudo").agg(
          sum(when(col("vec_id") % 7 === 0, 1L).otherwise(0L))
            .cast("long").as("n_seed"),
          sum(when(col("vec_id") % 7 =!= 0, 1L).otherwise(0L))
            .cast("long").as("n_rest"),
          sum(when(col("vec_id") % 7 =!= 0 && col("label") === col("pseudo"),
            1L).otherwise(0L)).cast("long").as("n_correct"))
        .withColumn("acc_ppm",
          expr("CASE WHEN n_rest > 0 THEN (n_correct * 1000000) div n_rest" +
            " ELSE 0 END"))
        .orderBy("cid")
    }),

    // E8 — FILTERED vector search (the filtered-ANN problem every
    // vector store exposes: top-k restricted by a metadata
    // predicate). This is the PRE-filter strategy: the label/id
    // predicate applies at the SCAN (parquet pushes both — ~15% of
    // rows survive), so distances are only ever computed on the
    // admissible subset; post-filtering a top-k would instead
    // under-fill k whenever the unfiltered neighborhood is mostly
    // inadmissible. Same integerized-cosine contract as e1/e2; the
    // 5-query set broadcasts, top-5 per query via the per-group
    // rank window.
    "e8_filtered_ann" -> ((s, d) => {
      val emb = embeddings(s, d)
      val cand = emb.filter(col("label").isin(1, 2) && col("vec_id") % 5 =!= 0)
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      val q = emb.filter(col("vec_id") < 5)
        .withColumn("qn", dot_i12(col("embedding"), col("embedding")))
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("qn"))
      val sim = cand.crossJoin(broadcast(q))
        .withColumn("dot", dot_i12(col("qe"), col("embedding")))
        .withColumn("sim", (col("dot") / 1e12) /
          nullif(sqrt(col("qn") / 1e12) * sqrt(col("nrm") / 1e12), lit(0.0)))
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
      sim.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
          round6(col("sim")).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // E9 — power-iteration principal-component kernel: the
    // PCA/whitening stage ahead of semantic dedup and clustering
    // (SemDeDup-style pipelines run it before e6). Three MATRIX-FREE
    // rounds v <- sum_r x*(x'v), each ONE scalar aggregation over the
    // corpus (64 map-side-combined integer sums, no shuffle key) with
    // the driver holding only the 64-long state vector — plan shape,
    // arithmetic contract, and 100 TB headroom notes in ann.PowerIter.
    // On this deliberately isotropic fixture (no eigengap) 3 rounds is
    // an exact PARTIAL iterate — the oracle replays the identical
    // recurrence, so the cross-engine contract holds at any round
    // count; convergence-to-the-dominant-direction is the
    // planted-spike property test in SketchPcaSpec, where a spectral
    // gap exists by construction.
    "e9_power_iter" -> ((s, d) => {
      val (w, vq) = graft.ann.PowerIter.iterate(
        embeddings(s, d).select("embedding"), "embedding", dims = 64, rounds = 3)
      import s.implicits._
      w.indices.map(j => (j.toLong, w(j), vq(j)))
        .toDF("pos", "w_raw", "loading_q6").orderBy("pos")
    }),

    // E10 — scalar-quantization (SQ8) ANN: the FAISS SQ index family,
    // completing the ANN ladder (e1 brute, e2 LSH, e3/e4 IVF, e5 PQ,
    // e6 SemDeDup, e7 RP, e8 filtered, e9 PCA). Each dimension
    // quantizes to 8 bits against per-dim corpus min/max — at 100 TB
    // the quantized table is materialized at ingest at 8× compression
    // and ADC scans IT, not the floats; here both stages live in one
    // plan. Asymmetric distance (exact query vs quantized corpus,
    // midpoint reconstruction) ranks a 20-deep candidate pool, then
    // exact L2 reranks to top-5 (the e5 rerank discipline). Every step
    // is exact int64 (values at 1e6, per-dim step = range div 255 + 1
    // so codes stay in [0,255]) — the oracle replays it bit-for-bit;
    // recall vs exact L2 is pinned in PqRecallSpec's sibling test.
    "e10_sq8_ann" -> ((s, d) => {
      val dims = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        // CAST to DOUBLE before the multiply (the d9 convention):
        // float×int promotion differs between engines
        .withColumn("x6", scaled(col("x").cast("double"), 1000000L))
        .select("vec_id", "pos", "x6")
      val stats = dims.groupBy("pos").agg(min(col("x6")).as("mn"), max(col("x6")).as("mx"))
        .withColumn("step", expr("(mx - mn) div 255 + 1"))
      val quant = dims.join(broadcast(stats), "pos")
        .withColumn("q", expr("(x6 - mn) div step"))
        .withColumn("recon", expr("mn + q * step + step div 2"))
        .select("vec_id", "pos", "recon")
      val qs = dims.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("pos"), col("x6").as("y6"))
      val approx = quant.join(broadcast(qs), "pos")
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(sum(expr("(recon - y6) * (recon - y6)")).as("ad2"))
      val w20 = Window.partitionBy("q_id").orderBy(col("ad2"), col("vec_id"))
      val pool = approx.withColumn("rn", row_number().over(w20)).filter(col("rn") <= 20)
        .select("q_id", "vec_id")
      val exact = pool.join(dims, "vec_id").join(broadcast(qs), Seq("q_id", "pos"))
        .groupBy("q_id", "vec_id")
        .agg(sum(expr("(x6 - y6) * (x6 - y6)")).as("d2"))
      val w5 = Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))
      exact.withColumn("rank", row_number().over(w5).cast("long")).filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id"), col("d2"),
          round6(sqrt(col("d2") / 1e12)).as("dist"))
        .orderBy("q_id", "rank")
    }),

    // E11 — MMR diversified selection (Carbonell & Goldstein 1998):
    // greedy top-5 where round r picks argmax of
    // λ·rel(x) − (1−λ)·max_{s∈selected} sim(s, x), λ = 0.7 — THE
    // redundancy-aware selection step of retrieval and data-curation
    // pipelines (pick relevant-but-mutually-diverse examples). Scale
    // shape is the t6b/d26 driver-loop division: the corpus-scale
    // work per round is ONE broadcast join against the ≤4-row
    // selected set plus a TakeOrderedAndProject argmax (per-partition
    // 1-row heaps — no global sort, no corpus collect); only the
    // single winner row lands on the driver each round, and the
    // relevance frame is computed once, persisted, and released.
    // Everything compares as exact int64 (λ as the rational 7/10 ×
    // 10: score = 7·rel − 3·pen over dot_i12 products), so the
    // 5-round greedy walk is bit-replayable in SQL — the oracle
    // reconstructs it with per-round argmax CTEs.
    "e11_mmr_select" -> ((s, d) => {
      val base = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val qv = base.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
      val rel = base.filter(col("vec_id") > 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), col("embedding"),
          dot_i12(col("qe"), col("embedding")).as("rel"))
        .persist() // consumed once per greedy round; released after the loop
      val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      (1 to 5).foreach { _ =>
        val chosen = picks.map(_._1)
        val remaining =
          if (chosen.isEmpty) rel else rel.filter(!col("vec_id").isInCollection(chosen))
        val scored =
          if (chosen.isEmpty)
            remaining.select(col("vec_id"), col("rel"), lit(0L).as("pen"))
          else {
            val sel = base.filter(col("vec_id").isInCollection(chosen))
              .select(col("embedding").as("se"))
            remaining.crossJoin(broadcast(sel))
              .withColumn("dp", dot_i12(col("se"), col("embedding")))
              .groupBy("vec_id", "rel").agg(max(col("dp")).as("pen"))
          }
        val win = scored
          .withColumn("score", lit(7L) * col("rel") - lit(3L) * col("pen"))
          .orderBy(desc("score"), asc("vec_id")).limit(1)
          .select("vec_id", "rel", "pen", "score").collect().head
        picks += ((win.getLong(0), win.getLong(1), win.getLong(2), win.getLong(3)))
      }
      rel.unpersist()
      import s.implicits._
      picks.toSeq.zipWithIndex
        .map { case ((id, r, p, sc), i) => (i + 1L, id, r, p, sc) }
        .toDF("round", "vec_id", "rel", "pen", "score")
    }),

    // D9 — embedding-cosine near-dup: candidate pairs from the sign-LSH
    // bucket (shuffle key at scale), exact integerized cosine inside the
    // bucket, pairs above threshold. Same arithmetic contract as e1/e2.
    // The bucket width SCALES with the corpus — nbits =
    // clamp(ceil(log2(N/4)), 8, 16) — so within-bucket pair counts stay
    // ~(N/2^nbits)² bounded instead of growing quadratically past a
    // fixed 256 buckets. N enters the plan as a broadcast 1-row cross
    // join (no eager driver job), and the identical formula lives in
    // the DuckDB oracle. Regime caveat (measured via d31): on a
    // heavily CLUSTERED corpus the distinct sign-pattern count stops
    // growing with nbits, so bucket population — and the candidate
    // pair volume — grows with N. For a PAIR-LISTING query that
    // regime's true answer is itself quadratic in cluster size, so
    // there is no subquadratic exact form; the scalable treatments
    // are d31's ≤128-vector sub-cell salting (approximate kNN graph)
    // or e6's representative-based SemDeDup.
    "d9_embed_neardup" -> ((s, d) => {
      val nv = embeddings(s, d).agg(count(lit(1)).as("n_vec"))
      val withNorm = embeddings(s, d)
        .crossJoin(broadcast(nv))
        .withColumn("nbits", least(lit(16), greatest(lit(8),
          ceil(log2(col("n_vec").cast("double") / 4.0)).cast("int"))))
        .withColumn("bucket", sign_bucket(col("embedding"), col("nbits")))
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
        .select("vec_id", "bucket", "embedding", "nrm")
      withNorm.as("a").join(withNorm.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("dot", dot_i12(col("a.embedding"), col("b.embedding")))
        .withColumn("sim", (col("dot") / 1e12) /
          nullif(sqrt(col("a.nrm") / 1e12) * sqrt(col("b.nrm") / 1e12), lit(0.0)))
        .filter(col("sim") > 0.4)
        .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
          round6(col("sim")).as("sim"))
        .orderBy("a_id", "b_id")
    }),

    // E4 — IVF SEARCH with a FIXED codebook, oracle-checked: the
    // coarse quantizer is a deterministic integer-formula codebook
    // (cInt = ((cid·64+j)·2654435761 mod 2^31) mod 1025 − 512, c =
    // cInt/1024 — dyadic, so float and double agree exactly), which
    // makes the whole search path SQL-expressible: integerized L2
    // assignment distI = |x|² − 2x·c + |c|² at 1e12 (exact longs),
    // nProbe=4 nearest lists per query, exact integerized cosine
    // top-5 inside the probed lists. Complements e3 (whose k-means
    // TRAINING chain is itself oracle-exact since r3) with a
    // fixed-codebook check of the search half alone.
    // Assignment is a row-local argmin against the 16 literal
    // codebook rows — the 100 TB shape (posting-list id is the
    // shuffle key; the payload never shuffles for the argmin).
    "e4_ivf_fixed" -> ((s, d) => {
      val codeDf = s.createDataFrame(fixedCode).toDF("cid", "cvec", "nrmc")
      val withNorm = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      // fixedCid: row-local argmin (r16) — no 16× crossJoin, no
      // per-vector aggregation exchange; codeDf remains only for the
      // tiny query-side probe ranking below.
      val assigned = withNorm.withColumn("cid", fixedCid)
        .select(col("vec_id"), col("cid"), col("embedding"), col("nrm"))
      val q = assigned.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      val wp = Window.partitionBy("q_id").orderBy(asc("qdist"), asc("cid"))
      val probes = q.crossJoin(broadcast(codeDf))
        .withColumn("qdist",
          col("qn") - lit(2) * dot_i12(col("qe"), col("cvec")) + col("nrmc"))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= 4)
        .select("q_id", "cid")
      val w = Window.partitionBy("q_id").orderBy(desc("sim"), asc("vec_id"))
      probes.join(assigned, "cid")
        .join(broadcast(q.select(col("q_id").as("q_id2"), col("qe"), col("qn"))),
          col("q_id") === col("q_id2"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("dot", dot_i12(col("qe"), col("embedding")))
        .withColumn("sim", (col("dot") / 1e12) /
          nullif(sqrt(col("qn") / 1e12) * sqrt(col("nrm") / 1e12), lit(0.0)))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("cid"), col("rank"), col("vec_id"),
          round6(col("sim")).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // E5 — product-quantization ADC search with exact rerank (Jégou
    // et al. 2011): the embedding-COMPRESSION path for ANN at 100 TB.
    // Vectors are encoded once into M=8 sub-space codes (nearest of
    // K=16 centroids per 8-dim sub-vector — 8 bytes/vector instead of
    // 256), each query scans CODES ONLY via an Asymmetric Distance
    // Computation lookup table (approx L2² = Σ_m lut[m][code_m], the
    // 128-entry LUT being the query's exact integer distance to every
    // sub-centroid), and the ADC top-50 shortlist is re-ranked by
    // exact distance — the standard scan-compressed/rerank-exact
    // architecture. The codebook is PQ-trained per sub-space: a
    // deterministic sampled init (centroid c of subspace m =
    // sub-vector m of vec_id c) refined by one Lloyd round whose
    // centroid update is 8 order-free integer sums (Σ round(x·1e6) as
    // LONG, the e3 k-means contract) quantized back to FLOAT — so the
    // whole operator including training stays SQL-expressible and
    // bit-exact (PqRecallSpec pins recall@5 ≥ 0.8, vs 0.6 for the
    // unrefined sampled codebook). All distances are exact integers
    // through the DotI12 kernel (nrm − 2·dot + nrmc at 1e12), so
    // init-assign, update, encode argmin, LUT, shortlist, and rerank
    // all hash-match the oracle. Scale shape: codes shuffle by
    // (m, c) — 64 keys — then one pair-keyed rollup; full vectors are
    // touched again only for the 50 shortlisted candidates per query.
    // (At 100 TB the Lloyd pass would train on a sampled slice — the
    // fixture trains on the full corpus because it IS the sample.)
    "e5_pq_adc" -> ((s, d) => {
      val M = 8
      val withNorm = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      // localCheckpoint: the exploded sub-vector stream feeds FOUR
      // consumers (both assignment passes, the Lloyd sums join, the
      // query LUT) — one materialization replaces four scan+explode+
      // slice+dot re-parses of the corpus (the d2 bigram-stream
      // lesson, applied to the ADC path)
      val subs = withNorm
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(M - 1))).as("m"), col("embedding"))
        .withColumn("sub", expr("slice(embedding, m * 8 + 1, 8)"))
        .withColumn("nrm_s", dot_i12(col("sub"), col("sub")))
        .drop("embedding")
        .localCheckpoint()
      // nearest-centroid assignment per (vector, sub-space) as a
      // ROW-LOCAL codegen argmin (r16, guide §2.3/§2.4): the codebook
      // is driver-held model state (≤ 128 × 8 floats), collected once
      // per pass — the retired join(broadcast) + per-(vec, m)
      // min-aggregation paid a 16× row blowup plus a corpus-scale
      // exchange per assignment pass, and the Lloyd-sums join-back
      // additionally shuffled the sub-vector payload. Same exact
      // integer distances, same lowest-code tie-break (PqEquivSpec
      // replays the retired form; strict oracle PASS).
      def collectCb(cb: org.apache.spark.sql.DataFrame): Seq[(Int, Int, Seq[Float], Long)] =
        cb.select("m", "c", "cvec", "nrmc").collect().toSeq.map(r =>
          (r.getInt(0), r.getInt(1), r.getSeq[Float](2), r.getLong(3)))
      def assignCol(cb: Seq[(Int, Int, Seq[Float], Long)]) =
        graft.expr.PqAssign.pq_assign(col("sub"), col("m"), col("nrm_s"),
          cb, nSub = M, k = 16, dim = 8)
      val cb0 = collectCb(subs.filter(col("vec_id") < 16)
        .select(col("m"), col("vec_id").cast("int").as("c"),
          col("sub").as("cvec"), col("nrm_s").as("nrmc")))
      // One Lloyd round: per-(m, c) integer component sums → mean →
      // FLOAT quantization (both engines round-to-nearest-even), so
      // the refined codebook is reproducible bit-for-bit. Empty
      // clusters simply drop out (effective K ≤ 16). The 64-row
      // codebook is collected once: encode assigns with those rows and
      // the LUT join broadcasts the same rows as a local frame, so the
      // assignment pass runs once.
      val sums = (0 until 8).map(j =>
        sum(roundAway(element_at(col("sub"), j + 1).cast("double") * 1e6)
          .cast("long")).as(s"s$j"))
      val cb = collectCb(subs.withColumn("c", assignCol(cb0))
        .groupBy("m", "c")
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("m"), col("c"),
          array((0 until 8).map(j =>
            (col(s"s$j") / 1e6 / col("n")).cast("float")): _*).as("cvec"))
        .withColumn("nrmc", dot_i12(col("cvec"), col("cvec"))))
      val codes = subs
        .select(col("vec_id"), col("m"), assignCol(cb).as("c"))
      val lut = subs.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("m"),
          col("sub").as("qsub"), col("nrm_s").as("qn"))
        .join(broadcast(s.createDataFrame(cb).toDF("m", "c", "cvec", "nrmc")), "m")
        .withColumn("qdist",
          col("qn") - lit(2) * dot_i12(col("qsub"), col("cvec")) + col("nrmc"))
        .select("q_id", "m", "c", "qdist")
      val wa = Window.partitionBy("q_id").orderBy(asc("adist"), asc("vec_id"))
      val shortlist = codes.join(broadcast(lut), Seq("m", "c"))
        .groupBy("q_id", "vec_id")
        .agg(sum(col("qdist")).cast("long").as("adist"))
        .filter(col("vec_id") =!= col("q_id"))
        // Shortlist width is the PQ recall knob, and on this corpus it
        // is the ONLY effective one: the embeddings are near-isotropic,
        // so ADC distortion saturates regardless of codebook quality
        // (measured recall@5 over K∈{16,32,64} × 1–3 Lloyd rounds stays
        // 0.48–0.64 at width 20; width 40 → 0.80, 50 → ≥0.8 with
        // margin). 50 exact reranks per query is still O(topK) work.
        .withColumn("arank", row_number().over(wa))
        .filter(col("arank") <= 50)
      val qFull = withNorm.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id2"), col("embedding").as("qe"),
          col("nrm").as("qn2"))
      val we = Window.partitionBy("q_id").orderBy(asc("edist"), asc("vec_id"))
      shortlist
        .join(withNorm, "vec_id")
        .join(broadcast(qFull), col("q_id") === col("q_id2"))
        .withColumn("edist",
          col("qn2") - lit(2) * dot_i12(col("qe"), col("embedding")) + col("nrm"))
        .withColumn("rank", row_number().over(we))
        .filter(col("rank") <= 5)
        .select(col("q_id"), col("rank"), col("vec_id"), col("adist"), col("edist"))
        .orderBy("q_id", "rank")
    }),

    // E3 — IVF ANN with REAL k-means training (2 Lloyd rounds,
    // deterministic lowest-id init): coarse centroids + posting lists,
    // probe-limited exact search. Oracle-checked end to end — the
    // training chain is reproducible because centroid updates are
    // order-free integer sums and the assignment distance (L2SqFD)
    // fixes its summation order, which the oracle spells out as an
    // explicit left-associative addition chain.
    "e3_ivf_ann" -> ((s, d) => {
      val emb = embeddings(s, d)
      val centroids = graft.ann.Ivf.train(emb, k = 16, iters = 2)
      graft.ann.Ivf.search(emb, centroids, Seq(0L, 1L, 2L, 3L, 4L),
          nProbe = 4, topK = 5)
        .withColumn("sim", round6(col("sim")))
        .orderBy("q_id", "rank")
    }),

    // D10 — the full training-data corpus pipeline as ONE declarative
    // plan (the composition a 100 TB ingest actually runs): token
    // stats → quality gate (length + uniqueness) → language-ID gate →
    // order-insensitive fingerprint dedup (keep lowest doc_id) →
    // per-(source, language) corpus stats. Catalyst fuses the stages;
    // the only shuffles are the token aggregation, the fingerprint
    // dedup, and the final stats — no stage materializes between.
    "d10_corpus_pipeline" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val stats = toks.groupBy("doc_id").agg(
        count(lit(1)).as("n_tok"),
        countDistinct(col("tok")).as("n_uniq"),
        count(when(col("tok").isin("the", "a", "fast", "slow"), 1)).as("s1"),
        count(when(col("tok").isin("spark", "query", "join", "table"), 1)).as("s2"),
        count(when(col("tok").isin("data", "row", "column", "batch"), 1)).as("s3"))
      val gated = documents(s, d).join(stats, "doc_id")
        .filter(col("n_tok") >= 8 &&
          col("n_uniq").cast("double") / col("n_tok") > 0.3)
        .withColumn("lang",
          when(col("s1") >= col("s2") && col("s1") >= col("s3"), "w1")
            .when(col("s2") >= col("s3"), "w2").otherwise("w3"))
        .filter(col("s1") + col("s2") + col("s3") >= 1)
      val deduped = gated
        .withColumn("fp", md5(concat_ws(" ", array_sort(split(col("text"), " ")))))
        .withColumn("rn", row_number().over(
          Window.partitionBy("fp").orderBy("doc_id")))
      deduped.groupBy("source", "lang").agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_tok")).cast("long").as("tot_tok"))
        .orderBy("source", "lang")
    }),

    // D11 — TF-IDF term weighting (sklearn-style smooth idf =
    // ln((1+N)/(1+df)) + 1), top-3 terms per doc ranked by the
    // INTEGERIZED weight (round at 1e6 — the rank key must be
    // engine-stable; raw doubles through ln() carry ~1-ulp libm skew).
    // N arrives as a one-row frame (no probe job); the vocabulary-
    // sized df aggregate joins without a forced broadcast — AQE
    // broadcasts it while it fits, shuffle-joins at web-scale vocab.
    "d11_tfidf" -> ((s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok")).filter(col("tok") =!= "")
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("n_td"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val nd = documents(s, d).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(col("si").desc, col("tok").asc)
      tf.join(dfq, "tok").crossJoin(broadcast(nd))
        .withColumn("si", graft.core.Tables.roundAway(col("n_td") *
          (log((lit(1) + col("n_docs")) / (lit(1) + col("df"))) + 1) * 1e6).cast("long"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
          col("tok"), col("si"))
        .orderBy("doc_id", "rnk")
    }),

    // D12 — BM25 retrieval scoring (k1=1.2, b=0.75, robertson idf =
    // ln((N − df + 0.5)/(df + 0.5) + 1)) of a fixed 3-term query over
    // the corpus, top-20 docs by integerized score. Same shuffle shape
    // as d11 plus a per-doc length aggregate; the query-term filter
    // prunes the tf table to 3 terms before any join.
    "d12_bm25" -> ((s, d) => {
      val qterms = Seq("join", "hash", "scan")
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok")).filter(col("tok") =!= "")
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("n_td"))
      val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val stats = documents(s, d).agg(count(lit(1)).as("n_docs"))
        .crossJoin(dl.agg((sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")))
      tf.filter(col("tok").isin(qterms: _*))
        .join(dfq, "tok").join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("idf",
          log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
        .withColumn("contrib", col("idf") * col("n_td") * 2.2 /
          (col("n_td") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
        // integerize per-term BEFORE summing: a 3-double sum is
        // order-dependent, and Spark's partial aggregation order is not
        .withColumn("ci", roundAway(col("contrib") * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("ci")).cast("long").as("si"),
          count(lit(1)).as("n_terms"))
        // top-k via orderBy+limit → TakeOrderedAndProject: per-partition
        // heaps of 20, no Exchange SinglePartition, no global sort of the
        // scored corpus. The rank window below only ever sees 20 rows.
        .orderBy(col("si").desc, col("doc_id").asc)
        .limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("si").desc, col("doc_id").asc)))
        .select(col("rnk").cast("long").as("rnk"), col("doc_id"),
          col("n_terms"), col("si"))
        .orderBy("rnk")
    }),

    // D13 — sliding-window document chunking: 50-token chunks at
    // stride 40 (10-token overlap), the training-data shard primitive.
    // Row-local (split + sequence explode + slice) — zero shuffles
    // before the output sort; chunk text reported by content hash.
    "d13_chunking" -> ((s, d) => {
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .withColumn("n", size(col("tk")))
        .withColumn("c", explode(sequence(lit(0L), expr("(n - 1) div 40"))))
        .withColumn("chunk", expr("slice(tk, c * 40 + 1, 50)"))
        .select(col("doc_id"), col("c"), size(col("chunk")).cast("long").as("n_tok"),
          md5(array_join(col("chunk"), " ")).as("chunk_md5"))
        .orderBy("doc_id", "c")
    }),

    // D14 — unigram-LM log-probability (perplexity-proxy quality
    // score): mean per-token ln p(tok) under the corpus unigram
    // distribution — the classic cheap LM filter for training-data
    // curation. Per-token logprobs integerized at 1e6 before the
    // per-doc sum (order-independent); the final mean is a ratio of
    // exact integers, bit-identical unrounded.
    "d14_unigram_lm" -> ((s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok")).filter(col("tok") =!= "")
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("n_td"))
      val ctf = tf.groupBy("tok").agg(sum(col("n_td")).cast("long").as("ctf"))
      val tot = toks.agg(count(lit(1)).as("tot"))
      tf.join(ctf, "tok").crossJoin(broadcast(tot))
        .withColumn("li",
          roundAway(log(col("ctf").cast("double") / col("tot")) * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("n_td") * col("li")).cast("long").as("lp_sum6"),
          sum(col("n_td")).cast("long").as("n_tok"))
        .withColumn("mean_lp", col("lp_sum6").cast("double") / col("n_tok") / 1e6)
        .select("doc_id", "n_tok", "lp_sum6", "mean_lp")
        .orderBy("doc_id")
    }),

    // D28 — bigram-LM surprisal scoring: the CCNet-style perplexity
    // quality filter (Wenzek et al. 2020 score against a KenLM
    // n-gram model; the corpus-trained add-one bigram LM here is the
    // same pipeline shape with the model itself learned in-plan).
    // p(b|a) = (c(a,b)+1)/(c(a,·)+V); each doc's mean ln p over its
    // adjacent pairs is the score curation thresholds on. Cost: the
    // doc×bigram count is the one corpus-scale shuffle; the corpus
    // bigram table counts straight off the row-local pair stream
    // (map-side combine, vocab²-bounded output), the left-context
    // table re-aggregates from its checkpoint, and the score join
    // keys on the bigram — AQE broadcasts the model tables while
    // they fit and falls back to a shuffle join at web-corpus
    // vocabularies.
    // Per-pair logprobs integerized at 1e6 (the d14 technique), so
    // the per-doc sum is order-free and the mean a ratio of exact
    // integers.
    "d28_bigram_lm" -> ((s, d) => {
      val toks = documents(s, d).select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok")).filter(col("tok") =!= "")
      val vt = toks.agg(countDistinct(col("tok")).as("v"))
      val pairsRaw = documents(s, d)
        .select(col("doc_id"), explode(expr(
          """zip_with(
            |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
            |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
            |  (x, y) -> named_struct('a', x, 'b', y))""".stripMargin)).as("p"))
        .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      val dbf = pairsRaw.groupBy("doc_id", "a", "b").agg(count(lit(1)).as("n_db"))
      // Model tables (r16, verdict #2 — the ×1000 502 s honest floor):
      // cbf counts straight off the row-local pair stream, NOT via a
      // re-aggregation of dbf — re-using dbf re-ran its corpus-scale
      // (doc_id, a, b) exchange once per model table, while the direct
      // count's map-side combine bounds the shuffle at vocab² rows per
      // partition. cbf is then the ONLY vocab²-bounded frame:
      // localCheckpoint it (tiny, unlike dbf's ~30 M rows whose
      // checkpoint an ×100 A/B rejected — materializing it squeezed
      // the model-join's execution memory by as much as the saved
      // parse gained) and derive cuf by re-aggregating the 64-ish-row
      // checkpoint — zero extra corpus passes, exact integer sums so
      // the model is bit-identical to the per-doc re-aggregation form.
      val cbf = pairsRaw.groupBy("a", "b")
        .agg(count(lit(1)).cast("long").as("c_ab")).localCheckpoint()
      val cuf = cbf.groupBy("a").agg(sum(col("c_ab")).cast("long").as("c_a"))
      dbf.join(cbf, Seq("a", "b")).join(cuf, Seq("a")).crossJoin(broadcast(vt))
        .withColumn("li", graft.core.Tables.roundAway(log((col("c_ab") + 1).cast("double") /
          (col("c_a") + col("v"))) * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("n_db")).cast("long").as("n_bg"),
          sum(col("n_db") * col("li")).cast("long").as("lp_sum6"))
        .withColumn("mean_lp", col("lp_sum6").cast("double") / col("n_bg") / 1e6)
        .select("doc_id", "n_bg", "lp_sum6", "mean_lp")
        .orderBy("doc_id")
    }),

    // D16 — repetition signals (Gopher-rule family, Rae et al. 2021):
    // fraction of tokens in the most-common token, duplicate-bigram
    // fraction, and most-common-bigram fraction — the standard cheap
    // filters for boilerplate/spam in web-corpus curation. Everything
    // is two keyed aggregations (token counts, bigram counts) rolled
    // up per doc — one shuffle each, no joins beyond the per-doc
    // merge; fractions are exact integer ratios so they hash-match
    // bit-exact. Bigrams are built row-locally (adjacent-slice
    // zip_with, the d2 kernel without the distinct).
    "d16_repetition" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
      val ta = tf.groupBy("doc_id").agg(
        sum(col("n")).cast("long").as("n_tok"),
        max(col("n")).cast("long").as("top_tok"))
      val bf = documents(s, d)
        .select(col("doc_id"), explode(expr(
          """zip_with(
            |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
            |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
            |  (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      val ba = bf.groupBy("doc_id").agg(
        sum(col("n")).cast("long").as("n_bg"),
        count(lit(1)).cast("long").as("n_bg_uniq"),
        max(col("n")).cast("long").as("top_bg"))
      ta.join(ba, "doc_id")
        .withColumn("top_tok_frac",
          col("top_tok").cast("double") / nullif(col("n_tok"), lit(0L)))
        .withColumn("dup_bg_frac",
          (col("n_bg") - col("n_bg_uniq")).cast("double") / nullif(col("n_bg"), lit(0L)))
        .withColumn("top_bg_frac",
          col("top_bg").cast("double") / nullif(col("n_bg"), lit(0L)))
        .withColumn("is_repetitive",
          col("top_tok_frac") > 0.12 || col("dup_bg_frac") > 0.35 ||
          col("top_bg_frac") > 0.05)
        .select("doc_id", "n_tok", "top_tok", "n_bg", "n_bg_uniq", "top_bg",
          "top_tok_frac", "dup_bg_frac", "top_bg_frac", "is_repetitive")
        .orderBy("doc_id")
    }),

    // D17 — per-document token-distribution Shannon entropy (plus its
    // ln(n_uniq)-normalized form): low-entropy documents are template
    // or keyword-stuffed text. Per-term surprisal integerized at 1e6
    // BEFORE the per-doc sum (order-independent exact integers, the
    // d14 discipline); the normalizer ln(n_uniq) is integerized the
    // same way so every emitted double is a ratio of exact BIGINTs.
    // One token-count shuffle and one per-doc rollup — nothing wide.
    "d17_token_entropy" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("n_td"))
      val withTot = tf.withColumn("n_tok",
        sum(col("n_td")).over(Window.partitionBy("doc_id")))
      withTot
        .withColumn("li",
          roundAway(log(col("n_td").cast("double") / col("n_tok")) * 1e6).cast("long"))
        .groupBy("doc_id")
        .agg(sum(col("n_td") * col("li")).cast("long").as("neg_ent6"),
          max(col("n_tok")).cast("long").as("n_tok"),
          count(lit(1)).cast("long").as("n_uniq"))
        .withColumn("entropy", -col("neg_ent6").cast("double") / col("n_tok") / 1e6)
        .withColumn("lmax6", roundAway(log(col("n_uniq").cast("double")) * 1e6).cast("long"))
        .withColumn("norm_entropy",
          -col("neg_ent6").cast("double") / col("n_tok") /
            nullif(col("lmax6"), lit(0L)))
        .select("doc_id", "n_tok", "n_uniq", "neg_ent6", "entropy", "norm_entropy")
        .orderBy("doc_id")
    }),

    // D15 — connected-component dedup clustering: the step that turns
    // near-dup PAIRS into dedup GROUPS (keep one doc per component).
    // Edges are STAR edges within single-band minhash buckets (bands
    // 0 and 1): doc ↔ bucket-min doc — sufficient for connectivity
    // and O(corpus) edges, never O(pairs²). Components by the
    // ALTERNATING LARGE-STAR / SMALL-STAR algorithm (the public
    // two-phase MapReduce connected-components formulation, Kiveris
    // et al., SoCC'14):
    //   large-star: each node re-attaches its LARGER neighbors to the
    //     min of its closed neighborhood;
    //   small-star: each larger endpoint re-attaches its smaller
    //     neighbors (and itself) to the min of the smaller ones.
    // Each phase is one keyed aggregation + one join over the edge
    // set; edge count never grows; connectivity is invariant; the
    // fixpoint is per-component STARS rooted at the component min —
    // the same fixpoint the oracle's reachability-min CTE computes,
    // so the oracle is unchanged. HISTORY: r11 shipped min-label
    // propagation with a label-of-label pointer jump; measured at the
    // ×1000 corpus (5 M docs) that DEGRADES to ~one local-min hop per
    // round — once label trees collapse into stars around LOCAL
    // minima, label(label(v)) = label(v) and the jump gains nothing
    // (77 rounds, sum still falling by ~1e-7 of total per round).
    // Star-alternation is the provably-logarithmic fix; the driver
    // corpus converges in ~3 rounds.
    "d15_components" -> ((s, d) => {
      // shared with d23: build-once symmetrized band-star edges + the
      // signature node list, eagerly checkpointed (see simGraph)
      val (sym, sigNodes) = simGraph(s, d)
      // canonical undirected edges (a > b), deduped.
      // checkpointReset per round, not bare localCheckpoint: the
      // per-round checkpoint must reset STATS along with lineage or
      // the size-only join estimate compounds into BigInteger
      // overflow at the ×1000 corpus (see checkpointReset's doc).
      var edges = checkpointReset(sym.filter(col("src") > col("dst"))
        .select(col("src").as("a"), col("dst").as("b")).distinct())
      val nNodes = sigNodes.count()
      // backstop only — two-phase is O(log n) rounds in practice
      // (O(log² n) worst case); hitting the cap is a bug, not an
      // accepted outcome
      val maxIter = 16 + 4 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nNodes)))
      // fixpoint ⇔ the edges form a star forest (see ccConverged),
      // tested before the first round and after each round
      var iter = 0
      while (!ccConverged(edges)) {
        if (iter >= maxIter) throw new IllegalStateException(
          s"d15_components: star alternation did not converge in $iter rounds ($nNodes nodes)")
        val mid = checkpointReset(ccLargeStar(edges))
        val next = checkpointReset(ccSmallStar(mid))
        // next is materialized (localCheckpoint(true) is eager): the
        // intermediate large-star frame and the previous round's edge
        // set are consumed — free their blocks now rather than pinning
        // ~2 checkpoints/round for the session lifetime (r12 advice;
        // ~9 rounds × 2 at the ×1000 corpus). The FINAL frame stays
        // persisted: the returned plan reads it lazily after this
        // function returns.
        unpersistCheckpointed(mid)
        unpersistCheckpointed(edges)
        edges = next; iter += 1
      }
      // at the star fixpoint every non-center node carries exactly its
      // (node, center) edge; centers/singletons label themselves
      val centers = edges.groupBy(col("a").as("node")).agg(min(col("b")).as("comp0"))
      val labels = sigNodes.select(col("doc_id").as("node"))
        .join(centers, Seq("node"), "left")
        .select(col("node"), coalesce(col("comp0"), col("node")).as("label"))
      val sz = labels.groupBy("label").agg(count(lit(1)).as("comp_size"))
      labels.join(sz, "label")
        .select(col("node").as("doc_id"), col("label").as("comp"), col("comp_size"))
        .orderBy("doc_id")
    }),

    // D18 — PII / denylist scrub: redact denylisted terms and numeric
    // runs, report hit counts and the scrubbed-content hash. Pure
    // map-side regex (codegen'd string kernels) — zero shuffle, the
    // shape a 100 TB redaction pass must have. Word-boundary regex
    // semantics are identical between java.util.regex and RE2 for
    // ASCII classes, so the oracle matches byte-for-byte.
    "d18_pii_scrub" -> ((s, d) => {
      val pat = "\\b(the|data|spark|query)\\b"
      documents(s, d).select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0))).as("n_hits"),
          size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0))).as("n_num"),
          md5(regexp_replace(col("text"), pat, "[REDACTED]")).as("scrub_md5"),
          length(regexp_replace(col("text"), pat, "[REDACTED]")).as("len_after"))
        .orderBy("doc_id")
    }),

    // D19 — benchmark decontamination (GPT-3 appx C style): flag
    // training docs sharing token 3-grams with a held-out benchmark
    // set (here: doc_id % 50 == 0). Trigram sets are built row-locally
    // (transform over index sequence + array_distinct — no shuffle
    // spent on per-doc dedup); the benchmark side is tiny by
    // construction, so the contamination probe is a broadcast join
    // against the corpus-sized trigram stream — the 100 TB shape
    // (benchmarks are KBs; corpora are TBs).
    "d19_decontaminate" -> ((s, d) => {
      val tg = documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))")))
          .as("tg"))
      val bench = tg.filter(col("doc_id") % 50 === 0).select("tg").distinct()
      val train = tg.filter(col("doc_id") % 50 =!= 0)
      val cnt = train.groupBy("doc_id").agg(count(lit(1)).as("n_tg"))
      val ov = train.join(broadcast(bench), "tg")
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      cnt.join(ov, "doc_id")
        .withColumn("ratio", round6(col("n_overlap").cast("double") / col("n_tg")))
        .withColumn("contaminated", col("n_overlap") * 10 >= col("n_tg") * 8)
        .select("doc_id", "n_tg", "n_overlap", "ratio", "contaminated")
        .orderBy("doc_id")
    }),

    // D20 — stratified mixing sample: per-language rates (the data-mix
    // weights of a pretraining recipe) applied as a deterministic
    // multiplicative-hash gate — a PURE FILTER, no shuffle, so the
    // rate stage costs one scan at any corpus size — then an exact
    // per-stratum cap (row_number over md5 order) for the survivors
    // only. At 100 TB the cap window shuffles just the rate-gated
    // subset, and only when an exact cap is actually required.
    "d20_stratified_sample" -> ((s, d) => {
      val w = s.createDataFrame(Seq(
        ("en", 9), ("de", 6), ("es", 4), ("fr", 3), ("zh", 2)))
        .toDF("lang", "rate")
      val gated = documents(s, d).join(broadcast(w), "lang")
        .withColumn("h", (col("doc_id") * lit(2654435761L)) % lit(2147483648L) % 10)
        .filter(col("h") < col("rate"))
      val win = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      gated.withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 40)
        .select("doc_id", "lang", "source", "h", "rn")
        .orderBy("doc_id")
    }),

    // E6 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // dedup by clustering embeddings (deterministic e4 codebook) and
    // comparing pairs WITHIN clusters only — the property that makes
    // embedding dedup feasible at 100 TB: the pairwise stage is local
    // to the cid shuffle key and cluster sizes stay bounded as k
    // scales with the corpus (if a data cluster still outgrows its
    // cell, d31's population-salted sub-cells apply verbatim on the
    // cid key). A vector is a duplicate if a
    // same-cluster neighbor with smaller vec_id has cosine ≥ 0.45;
    // the representative kept is the smallest such neighbor. All
    // similarities are exact integers through the DotI12 kernel.
    "e6_semdedup" -> ((s, d) => {
      val withNorm = embeddings(s, d).select(col("vec_id"), col("embedding"))
        .withColumn("nrm", dot_i12(col("embedding"), col("embedding")))
      // fixedCid: row-local argmin (r16) — the corpus now shuffles
      // ONLY on cid (the within-cluster pair stage), not first on
      // vec_id for the assignment aggregation.
      val assigned = withNorm.withColumn("cid", fixedCid)
        .select(col("vec_id"), col("cid"), col("embedding"), col("nrm"))
      val csize = Window.partitionBy("cid")
      val a = assigned.withColumn("csize", count(lit(1)).over(csize))
      val b = assigned.select(col("cid").as("b_cid"), col("vec_id").as("vb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
      val dups = a.join(b, col("cid") === col("b_cid") && col("vec_id") < col("vb"))
        .withColumn("sim", (dot_i12(col("embedding"), col("eb")) / 1e12) /
          nullif(sqrt(col("nrm") / 1e12) * sqrt(col("nb") / 1e12), lit(0.0)))
        .filter(col("sim") >= 0.45)
        .groupBy(col("vb").as("vec_id2")).agg(min(col("vec_id")).as("rep"))
      a.join(dups, col("vec_id") === col("vec_id2"), "left")
        .withColumn("is_dup", col("rep").isNotNull)
        .withColumn("keep_id", coalesce(col("rep"), col("vec_id")))
        .select("vec_id", "cid", "csize", "is_dup", "keep_id")
        .orderBy("vec_id")
    }),

    // D21 — training-sequence packing: assemble docs into fixed-budget
    // (256-token) shards per source in deterministic doc_id order — the
    // shard-assembly stage that turns a filtered corpus into training
    // sequences. A prefix-sum window keyed by source assigns each doc
    // its start offset; the bin is pure arithmetic on that offset. One
    // shuffle on the pack key; at 100 TB the pack key is (source,
    // date-bucket) so each window partition stays machine-sized.
    "d21_seq_packing" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      documents(s, d)
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .withColumn("off", sum(col("n_tok")).over(w) - col("n_tok"))
        .groupBy(col("source"), (col("off") / 256).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tot_tok"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("source", "bin")
    }),

    // D22 — winnowing fingerprints (Schleimer et al. 2003, the MOSS
    // scheme): hash every token 3-gram, slide a w=4 window over the
    // gram sequence, keep each window's minimum — the fingerprint set
    // that makes robust substring-level dedup O(doc length) instead of
    // all-substrings. Grams and hashes are row-local; the only wide
    // stages are the per-doc window (keyed by doc_id) and the final
    // per-doc rollup — both shuffle the gram stream once.
    "d22_winnowing" -> ((s, d) => {
      val toks = documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .filter(size(col("l")) >= 3)
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(1, size(l) - 2), i -> concat_ws(' ', slice(l, i, 3)))"))
          .as(Seq("i0", "gram")))
        .withColumn("i", col("i0") + 1).drop("i0")
      val wN = Window.partitionBy("doc_id")
      val wm = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 3)
      toks
        .withColumn("gh", expr(graft.text.TextOps.md5Hash32Fast("gram")))
        .withColumn("n_grams", count(lit(1)).over(wN).cast("int"))
        .withColumn("fp", min(col("gh")).over(wm))
        .filter(col("i") <= col("n_grams") - 3)
        .groupBy("doc_id", "n_grams")
        .agg(countDistinct(col("fp")).as("n_fp"),
          min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
        .orderBy("doc_id")
    }),

    // E7 — sparse random projection (Achlioptas 2003): 64→16 dims with
    // a deterministic {−1, 0, +1} matrix (2/3 sparse), the
    // dimensionality-reduction front of an ANN stack at 100 TB — a
    // map-only pass (16 codegen DotI12 kernels against broadcast-
    // literal rows), zero shuffle before the output sort. Exact:
    // x·s at ±1/0 keeps DotI12's per-element 1e12 rounding identical
    // to the oracle's sum of rounded products.
    "e7_random_projection" -> ((s, d) => {
      val proj = (0 until 16).map { r =>
        val arr = Array.tabulate(64) { j =>
          (((r * 64 + j).toLong * 2654435761L) % 2147483648L % 6) match {
            case 0 => 1.0f
            case 1 => -1.0f
            case _ => 0.0f
          }
        }
        (r, arr.toSeq)
      }
      val projDf = s.createDataFrame(proj).toDF("r", "pvec")
      embeddings(s, d).select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(projDf))
        .select(col("vec_id"), col("r"),
          dot_i12(col("embedding"), col("pvec")).as("y_i12"))
        .withColumn("y", col("y_i12") / 1e12)
        .orderBy("vec_id", "r")
    }),

    // D23 — PageRank over the corpus similarity graph (the link-graph
    // quality signal of web-scale corpus curation): same minhash-band
    // star edges as d15, then THREE unrolled power-iteration rounds —
    // a static plan, one shuffle per round on the edge key. The rank
    // is integer-scaled (1e9) with floor-div edge contributions and a
    // single rounded double op per round, so every iteration is
    // bit-reproducible across engines — the same integerization
    // discipline that makes the MC/percentile operators exact. At
    // 100 TB each round is one join+aggregate keyed by dst; the
    // damping constant folds into codegen.
    "d23_pagerank" -> ((s, d) => {
      // shared with d15: the same symmetrized band-star edge frame,
      // built and checkpointed once per (session, dir) — in bench
      // order d15 pays the build, d23's 3 unrolled power-iteration
      // rounds then plan constant-size trees over the materialized
      // blocks (see simGraph)
      val (edges, _) = simGraph(s, d)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val nodes = documents(s, d).select("doc_id")
      def round1(pr: DataFrame): DataFrame = {
        val c = edges.join(deg, "src")
          .join(pr.select(col("doc_id").as("src"), col("pr")), "src")
          .select(col("dst").as("doc_id"), expr("pr div deg").as("contrib"))
          .groupBy("doc_id").agg(sum(col("contrib")).as("c"))
        nodes.join(c, Seq("doc_id"), "left")
          .select(col("doc_id"),
            roundAway(lit(150000000.0) + lit(0.85) * coalesce(col("c"), lit(0L)))
              .cast("long").as("pr"))
      }
      val p0 = nodes.withColumn("pr", lit(1000000000L))
      val p3 = round1(round1(round1(p0)))
      p3.select(col("doc_id"), col("pr").as("pr_i9"),
          (col("pr") / 1e9).as("pr"))
        .orderBy("doc_id")
    }),

    // D24 — linear quality-classifier INFERENCE (the fasttext/CCNet
    // corpus-scoring pass): hashed bigram counts (hashing trick, 64
    // buckets via the portable md5 hash) dotted against a BROADCAST
    // integer weight vector. Map-only until the per-doc rollup — the
    // corpus text never shuffles, which is the shape a 100 TB scoring
    // pass must have (model inference = broadcast weights + one keyed
    // aggregation). Integer weights/logits ⇒ no transcendental: the
    // decision threshold compares the raw logit, so the oracle is
    // exact without a sigmoid (monotone — same kept set).
    "d24_quality_lr" -> ((s, d) => {
      val bg = documents(s, d)
        .select(col("doc_id"), explode(expr(
          """zip_with(
            |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
            |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
            |  (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"))
      // deterministic "trained" weights: bucket b -> ((b·2654435761)
      // mod 2001) − 1000 ∈ [−1000, 1000]; stands in for a loaded model
      val wDf = s.createDataFrame(
        (0 until 64).map(b => (b.toLong, (b * 2654435761L) % 2001L - 1000L)))
        .toDF("bucket", "w")
      val scored = bg
        .withColumn("bucket", expr(s"pmod(${TextOps.md5Hash32Fast("bg")}, 64)"))
        .join(broadcast(wDf), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_features"), sum(col("w")).as("logit"))
      documents(s, d).select(col("doc_id"))
        .join(scored, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_features"), lit(0L)).as("n_features"),
          coalesce(col("logit"), lit(0L)).as("logit"),
          (coalesce(col("logit"), lit(0L)) > 0).as("keep"))
        .orderBy("doc_id")
    }),

    // D25 — exact-substring span dedup (the ExactSubstr pass of
    // Lee et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better"): every K=10-token window is content-hashed, a
    // window is MARKED when its hash occurs in MORE THAN ONE document,
    // and per doc the marked overlapping windows merge into maximal
    // duplicated spans (gaps-and-islands interval merge) — the spans
    // a curation pipeline cuts out of the training text. Differs from
    // d22 (winnowing picks a per-doc fingerprint SAMPLE) and d19
    // (overlap vs a small benchmark side): this finds corpus-internal
    // repeats at full resolution. Scale: the gram groupBy is the ONE
    // big shuffle and its key is a content hash — uniform by
    // construction, no skew; the island merge is doc-local window
    // work after a shuffle on doc_id. At 100 TB the gram string would
    // not be materialized — a Karp-Rabin rolling hash yields the same
    // key in O(1) per position (md5-of-text here keeps the oracle
    // cross-engine exact); the paper's suffix array finds arbitrary-
    // length repeats, fixed-K windowing is the shuffle-friendly
    // equivalent for spans >= K.
    "d25_substring_spans" -> ((s, d) => {
      val K = 10
      val grams = documents(s, d)
        .withColumn("l", split(col("text"), " "))
        .filter(size(col("l")) >= K)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(1, size(l) - ${K - 1}), " +
            s"i -> concat_ws(' ', slice(l, i, $K)))"))
          .as(Seq("i0", "gram")))
        .select(col("doc_id"), (col("i0") + 1).as("i"),
          md5(col("gram")).as("g"))
      // "appears in >1 distinct doc" == min/max doc over the gram
      // partition differ: one shuffle on g, no join, grams scanned once
      val wG = Window.partitionBy("g")
      val marked = grams
        .withColumn("mn", min(col("doc_id")).over(wG))
        .withColumn("mx", max(col("doc_id")).over(wG))
        .filter(col("mn") =!= col("mx"))
        .select("doc_id", "i")
      val wPrev = Window.partitionBy("doc_id").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
      marked
        .withColumn("pmax", max(col("i") + (K - 1)).over(wPrev))
        .withColumn("brk",
          when(col("pmax").isNull || col("i") > col("pmax"), 1).otherwise(0))
        .withColumn("island", sum(col("brk")).over(wRun))
        .groupBy("doc_id", "island")
        .agg(min(col("i")).as("span_start"),
          (max(col("i")) + (K - 1)).as("span_end"))
        .select(col("doc_id"), col("span_start"), col("span_end"),
          (col("span_end") - col("span_start") + 1).as("n_tokens"))
        .orderBy("doc_id", "span_start")
    }),

    // D26 — BPE tokenizer TRAINING (3 merge rounds): the vocabulary-
    // learning step of an LLM data pipeline (Sennrich et al. 2016).
    // Exactly like production BPE trainers (HF tokenizers, SentencePiece
    // in BPE mode), the corpus is touched ONCE — a word-frequency
    // aggregation (the single corpus-scale shuffle) — and the merge
    // loop runs on the distinct-word table, which is vocabulary-sized
    // (Heaps' law: ~millions of rows at 100 TB, distributing fine as
    // keyed aggregations; only the 1-row argmax lands on the driver,
    // the t6b/t13 division of labor). Greedy left-to-right merge
    // application is an `aggregate` HOF fold whose accumulator IS the
    // re-segmented symbol list — "aaa" under (a,a) correctly yields
    // [aa, a] because the fold compares the MERGED last symbol, not
    // the original. All counts are exact integers; ties break on
    // (count DESC, pair ASC), so the DuckDB replay (recursive-CTE
    // walk per word per round) must pick identical merges.
    "d26_bpe_train" -> ((s, d) => {
      val wf = documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .withColumn("syms",
          expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .persist() // consumed by 3 pair-count + 3 tot jobs, released below
      var seg: DataFrame = wf
      val merges = (1 to 3).map { r =>
        val pairs = seg.filter(size(col("syms")) > 1)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(syms) - 1), i -> named_struct(" +
              "'a', element_at(syms, i), 'b', element_at(syms, i + 1)))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("n"))
        val best = pairs.orderBy(col("n").desc, col("a"), col("b")).limit(1)
          .collect()(0)
        val (a, b, n) = (best.getString(0), best.getString(1), best.getLong(2))
        // guard exists to keep the '$a'/'$b' SQL-literal interpolation
        // below injection-safe, NOT to pin the corpus alphabet —
        // r8 widened from [a-z]+ (a fixture-coupled assert: the scale
        // corpus's tokens carry digits, which the merge fold handles
        // like any other symbol)
        require((a + b).matches("[a-z0-9]+"), s"unexpected symbol: '$a'+'$b'")
        seg = seg.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>), (acc, x) -> CASE
             |  WHEN size(acc) = 0 THEN array(x)
             |  WHEN element_at(acc, size(acc)) = '$a' AND x = '$b'
             |  THEN concat(slice(acc, 1, size(acc) - 1), array('${a + b}'))
             |  ELSE concat(acc, array(x)) END)""".stripMargin))
        val tot = seg.agg(sum(col("freq") * size(col("syms"))).as("t"))
          .collect()(0).getLong(0)
        (r, a, b, n, tot)
      }
      wf.unpersist()
      import s.implicits._
      merges.toDF("round", "lhs", "rhs", "n_pair", "tot_pieces")
        .orderBy("round")
    }),

    // D27 — BPE tokenizer APPLY (the encode stage that pairs d26's
    // trainer): a FIXED merge ranking — the shipped merges.txt of a
    // production tokenizer — is applied to the corpus and every doc
    // gets its BPE piece count, the number LLM data pipelines bill
    // by. Sennrich apply semantics: merges in rank order, each
    // applied greedily left-to-right over the whole word (the d26
    // fold), so rank-2 'th'+'e' correctly consumes rank-1's merged
    // 'th'. The corpus is touched by ONE shuffle (doc×word counts);
    // the 6-deep merge fold runs once per DISTINCT word on the
    // vocabulary-sized table and joins back — the word-level cache
    // every real tokenizer uses (broadcast here; at 100 TB a
    // millions-row vocab would shuffle-join on w instead). All
    // outputs are exact integers; pieces-per-100-words uses integer
    // div on both engines.
    "d27_bpe_encode" -> ((s, d) => {
      val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"),
        ("o", "r"), ("a", "t"), ("s", "t"))
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy("doc_id", "w").agg(count(lit(1)).as("n_w"))
      val segExpr = merges.zipWithIndex.foldLeft(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))") {
        case (inner, ((a, b), r)) =>
          s"""aggregate($inner, cast(array() as array<string>), (a$r, x$r) -> CASE
             |  WHEN size(a$r) = 0 THEN array(x$r)
             |  WHEN element_at(a$r, size(a$r)) = '$a' AND x$r = '$b'
             |  THEN concat(slice(a$r, 1, size(a$r) - 1), array('${a + b}'))
             |  ELSE concat(a$r, array(x$r)) END)""".stripMargin
      }
      val vocab = tf.select("w").distinct().withColumn("np", size(expr(segExpr)))
      tf.join(broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(sum(col("n_w")).as("n_words"),
          sum(col("n_w") * col("np")).as("n_pieces"))
        .withColumn("per100", expr("(100 * n_pieces) div n_words"))
        .orderBy("doc_id")
    }),

    // D29 — CountMin-sketch heavy hitters (Cormode–Muthukrishnan): the
    // bounded-memory frequency-estimation structure for token streams.
    // The sketch is a DEPTH×WIDTH (4×64) integer grid — each token
    // occurrence increments one cell per row via an independent affine
    // hash (the minhash family) of the md5 token hash — built by ONE
    // aggregation whose map-side combine reduces every partition to
    // ≤256 cells before the shuffle, regardless of stream length:
    // the mergeability that makes CMS the shard-fanin/streaming
    // frequency structure at 100 TB (the exact groupBy here exists
    // only to ground the estimates; a real deployment keeps ONLY the
    // 256-cell grid). Estimates (min over the 4 rows) are reported
    // against the true counts of the exact top-20: CMS guarantees
    // est ≥ true, and the 64-wide grid vs the fixture's ~60-word
    // vocabulary forces real collisions, so the min-of-rows logic is
    // exercised rather than vacuously est = true.
    "d29_cms_heavy" -> ((s, d) => {
      val depth = 4; val width = 64
      val toks = documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("h", expr(H))
      def rowBuckets = explode(array((0 until depth).map(i =>
        struct(lit(i.toLong).as("rw"),
          (expr(TextOps.minhashExpr("h", i)) % width).as("bucket"))): _*)).as("c")
      val cells = toks.select(rowBuckets)
        .groupBy(col("c.rw").as("rw"), col("c.bucket").as("bucket"))
        .agg(count(lit(1)).as("cell"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(20)
        .withColumn("h", expr(TextOps.md5Hash32("tok")))
      top.select(col("tok"), col("cnt"), rowBuckets)
        .select(col("tok"), col("cnt"), col("c.rw").as("rw"), col("c.bucket").as("bucket"))
        .join(broadcast(cells), Seq("rw", "bucket"))
        .groupBy("tok", "cnt").agg(min(col("cell")).as("est"))
        .orderBy(col("cnt").desc, col("tok"))
    }),

    // D30 — HyperLogLog cardinality sketch (Flajolet et al. 2007,
    // p = 6 → 64 registers): the mergeable distinct-count structure —
    // the CMS (d29) counterpart for COUNT DISTINCT. The register table
    // builds in ONE keyed aggregation whose map-side combine bounds
    // every partition's contribution at |groups|×64 cells regardless of
    // stream length, and registers merge by MAX — the shard-fanin /
    // streaming-state property that makes HLL the 100 TB cardinality
    // structure (Spark's own approx_count_distinct is this sketch; we
    // build it from first principles so the estimate is cross-engine
    // bit-exact). Two item streams exercise BOTH estimator branches:
    // per-source distinct unigrams sit in the small-range
    // linear-counting regime (V zero registers → round(m·ln(m/V)),
    // constants precomputed in TextOps so no libm crosses engines),
    // per-source distinct bigrams in the raw-estimate regime
    // (floor(α·m²·2^27 / Z), one exact int64 floor-division). The
    // exact distinct count rides along to ground the estimates, as in
    // d29 — a real deployment keeps only the 64 registers.
    "d30_hll_cardinality" -> ((s, d) => {
      // r16 (verdict #2 — the ×1000 628 s spill was all in the item
      // stream): ONE row-local Generate emits both item classes
      // (tokens via transform, bigrams via the adjacent-slice zip_with
      // — the d2/d16 kernel — replacing the lead() WINDOW that
      // shuffle-sorted the full 600 M-token stream by doc_id), then
      // ONE map-side-combined DISTINCT shuffle carries the only
      // corpus-scale exchange. Registers hash the DISTINCT items (max
      // rho over a multiset == max over its set), the (kind, source)
      // grid derives from the register frame (a group exists iff it
      // has ≥1 item ⟺ ≥1 register row), and the exact grounding rides
      // the SAME register frame as Σ per-register distinct counts —
      // the old plan's three separate full passes (registers, grid,
      // countDistinct) collapse into one.
      val itemsArr = documents(s, d)
        .select(col("source"),
          filter(split(col("text"), " "), t => t =!= "").as("arr"))
        .select(col("source"), explode(concat(
          transform(col("arr"),
            t => struct(lit("tok").as("kind"), t.as("item"))),
          zip_with(col("arr"),
            slice(col("arr"), lit(2), greatest(size(col("arr")) - 1, lit(0))),
            (a, b) => struct(lit("bigram").as("kind"),
              concat(a, lit("_"), b).as("item"))))).as("e"))
        // the zip_with tail pads with null (last token has no successor)
        // → null item; tok items are non-empty strings, never null
        .filter(col("e.item").isNotNull)
        .select(col("e.kind").as("kind"), col("source"), col("e.item").as("item"))
      val dist = itemsArr.distinct()
      val hashed = dist.withColumn("h", expr(TextOps.md5Hash32Fast("item")))
        .withColumn("reg", col("h") % 64)
        .withColumn("rho", expr(TextOps.hllRho(TextOps.hllW("h"))))
      val regs = hashed.groupBy("kind", "source", "reg")
        .agg(max(col("rho")).as("m"), count(lit(1)).as("nd"))
      // empty registers count as rank 0 in Z and in the zero-register
      // tally V — materialize the full |groups|×64 grid (groups is a
      // handful of rows; the explode is driver-free)
      val grid = regs.select("kind", "source").distinct()
        .select(col("kind"), col("source"), explode(sequence(lit(0L), lit(63L))).as("reg"))
      val full = grid.join(regs, Seq("kind", "source", "reg"), "left")
        .withColumn("m", coalesce(col("m"), lit(0L)))
        .withColumn("nd", coalesce(col("nd"), lit(0L)))
      full.groupBy("kind", "source").agg(
          sum(expr(TextOps.pow2("27 - m"))).as("z"),
          sum(when(col("m") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum(col("nd")).cast("long").as("exact"))
        .withColumn("raw", expr(TextOps.hllRaw("z")))
        .withColumn("est_hll", expr(
          s"CASE WHEN raw <= 160 AND n_zero > 0 THEN ${TextOps.hllLinearCount("n_zero")} ELSE raw END"))
        .select("kind", "source", "n_zero", "z", "est_hll", "exact")
        .orderBy("kind", "source")
    }),

    // D31 — triangle counting / clustering coefficient on the MUTUAL
    // top-3-NN semantic graph: the third graph operator (d15 connected
    // components, d23 PageRank, d31 triangles). The graph itself is the
    // standard semantic-dedup structure signal — a vector's local
    // clustering coefficient separates "member of a tight duplicate
    // cluster" (cc → 1) from "hub between unrelated neighborhoods"
    // (cc → 0). Scale shape: candidates come from the d9 sign-LSH
    // bucket join (never all-pairs) — BUT sign-LSH alone collapses on
    // heavily CLUSTERED corpora (a 10-center fixture yields only
    // 20–40 distinct sign patterns at ANY corpus size, so bucket
    // population grows with n and the pair join goes quadratic:
    // measured 1.5e9 candidate pairs / 367 s at a 200 k-vector 100×
    // corpus). The fix is the IVF move: salt each bucket into
    // content-hashed sub-cells of ≤~128 vectors, so candidate volume
    // is ≤ n·128 — linear — at any scale and any clusteredness, at
    // the cost of kNN approximation WITHIN a dense cluster (where all
    // members are near-neighbors anyway; the cc signal is preserved).
    // The kNN cap bounds out-degree at 3 and mutuality bounds
    // undirected degree likewise, so the wedge join is O(nodes · 3²).
    // All arithmetic (sub-cell salt included) is the exact-integer
    // d9 contract, ranked with explicit NULLS LAST on both sides.
    "d31_knn_triangles" -> ((s, d) => {
      val dir = knnDirected(embeddings(s, d))
      val mutual = dir.as("e1").join(dir.as("e2"),
          col("e1.u") === col("e2.v") && col("e1.v") === col("e2.u") &&
            col("e1.u") < col("e1.v"))
        .select(col("e1.u").as("u"), col("e1.v").as("v"))
      val deg = mutual.select(col("u").as("vec_id"))
        .unionAll(mutual.select(col("v").as("vec_id")))
        .groupBy("vec_id").agg(count(lit(1)).as("deg"))
      val tri = mutual.as("m1").join(mutual.as("m2"),
          col("m1.u") === col("m2.u") && col("m1.v") < col("m2.v"))
        .select(col("m1.v").as("y"), col("m2.v").as("z"), col("m1.u").as("x"))
        .join(mutual.as("m3"),
          col("y") === col("m3.u") && col("z") === col("m3.v"), "left_semi")
      val ntri = tri.select(explode(array(col("x"), col("y"), col("z"))).as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_tri"))
      deg.join(ntri, Seq("vec_id"), "left")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .withColumn("cc_q6", when(col("deg") >= 2,
          expr("n_tri * 1000000 div ((deg * (deg - 1)) div 2)")).otherwise(lit(0L)))
        .select("vec_id", "deg", "n_tri", "cc_q6")
        .orderBy("vec_id")
    }),

    // D32 — INCREMENTAL dedup (the production ingest shape): a delta
    // batch deduped against the historical store WITHOUT reprocessing
    // the store. Keys are the d4 simhash (near-dup identity — the
    // fixture has no byte-exact dups, and at 100 TB the store keys are
    // a pre-materialized narrow table anyway). The Bloom filter over
    // store keys (b2's BloomFilterAggregate-as-scalar-subquery) routes
    // delta rows: bloom-NEGATIVE rows are definitively new and never
    // touch the store join — at scale that's most of the batch, so the
    // expensive exact join shuffles only the bloom-positive sliver,
    // and false positives are resolved exactly by that join (the
    // oracle is therefore bloom-free and exact). Within-delta dups are
    // settled by a first-occurrence window on the same key.
    // D34 — positional phrase search ("hash join" as an exact
    // two-term phrase): the inverted-index-with-positions query every
    // search stack runs. Postings (doc_id, pos) are built for JUST
    // the phrase terms — the isin filter sits above the token explode
    // so non-phrase tokens never materialize rows — and adjacency is
    // ONE equi-join on (doc_id, pos+1): Catalyst folds the pos
    // arithmetic into the join key, so this is a hash join keyed by
    // (doc, position), not a theta join. At 100 TB the postings are
    // the pre-materialized index and this plan starts at the filter.
    "d34_phrase_search" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .filter(col("tok").isin("hash", "join"))
      val a = toks.filter(col("tok") === "hash")
        .select(col("doc_id"), col("pos").as("pa"))
      val b = toks.filter(col("tok") === "join")
        .select(col("doc_id").as("db"), col("pos").as("pb"))
      a.join(b, col("doc_id") === col("db") && col("pb") === col("pa") + 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hits"), min(col("pa")).as("first_pos"))
        .orderBy("doc_id")
    }),

    // D35 — PMI collocation mining (Church & Hanks 1990): rank
    // adjacent bigrams by pointwise mutual information — the standard
    // multi-word-expression detector of corpus curation. PMI's log is
    // monotone, so ranking needs only the RATIO c12·N / (c1·c2),
    // kept as an exact integer ratio_ppm (floor at 1e6 parts) — no
    // libm crosses the engines. One corpus-scale shuffle (the per-doc
    // lead window); the three count tables re-aggregate from it with
    // map-side combine, unigram counts join back on the vocabulary-
    // sized frames, and the top-20 is TakeOrderedAndProject. The
    // c12 ≥ 20 support floor is the classic PMI rare-pair guard. (At
    // extreme N, c12·N·1e6 would need the div-before-multiply order;
    // int64 holds to ~10^12 tokens here.)
    "d35_pmi_collocations" -> ((s, d) => {
      val toks = documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .filter(col("tok") =!= "")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val big = toks.withColumn("nxt", lead(col("tok"), 1).over(w))
        .filter(col("nxt").isNotNull)
      val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
      val ntok = toks.agg(count(lit(1)).as("n_tok"))
      big.groupBy("tok", "nxt").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= 20)
        .join(uni, "tok")
        .join(uni.select(col("tok").as("nxt"), col("c1").as("c2")), "nxt")
        .crossJoin(broadcast(ntok))
        .withColumn("ratio_ppm", expr("(c12 * n_tok * 1000000) div (c1 * c2)"))
        .select("tok", "nxt", "c12", "c1", "c2", "ratio_ppm")
        .orderBy(desc("ratio_ppm"), asc("tok"), asc("nxt")).limit(20)
    }),

    // D36 — data selection via importance resampling (DSIR, Xie et
    // al. 2023, arXiv:2302.03169): score every raw document by how
    // target-like it is under hashed-unigram bag-of-words LMs —
    // weight(doc) = Σ_b n_b(doc) · ln(p_target(b)/p_raw(b)) over 1024
    // hash buckets, add-one smoothed — and keep the top-100. The
    // target domain here is the corpus's English slice (the same
    // role the Wikipedia/books target plays in the paper); the raw
    // LM is the whole corpus. Scale shape: ONE corpus-scale shuffle
    // (doc×bucket counts, ≤1024 distinct buckets per doc); both LMs
    // re-aggregate FROM it map-side-combined into 1024-row tables
    // that broadcast back; the selection is TakeOrderedAndProject
    // (per-partition heaps — no global sort, driver sees 100 rows).
    // Cross-engine exactness: bucket = md5-hash mod 1024, the log
    // ratio's operand is ONE IEEE division of two exact int64
    // products (<2^53), ln of identical doubles rounds identically,
    // quantized at 1e6 (the d28 technique) so per-doc sums are
    // order-free exact integers.
    "d36_dsir" -> ((s, d) => {
      // the doc×bucket count frame feeds both the LM build and the
      // score join; ONE eager localCheckpoint job at construction (a
      // checkpoint, not a persist: no cache leak) pays the md5-explode
      // — the dominant cost — once instead of once per consumer
      // (measured at sf0.1: 0.55 → 0.71 s without it). Both LMs
      // come from a SINGLE bucket aggregation and the corpus totals
      // from the 1024-row LM table, so the corpus is scanned exactly
      // once end to end.
      val dbf = documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .withColumn("b", expr(TextOps.md5Hash32Fast("tok")) % 1024L)
        .groupBy("doc_id", "lang", "b")
        .agg(count(lit(1)).as("n_db"))
        .localCheckpoint()
      val lm = dbf.groupBy("b").agg(
        sum(col("n_db")).cast("long").as("cr"),
        sum(when(col("lang") === "en", col("n_db")).otherwise(lit(0L)))
          .cast("long").as("ct"))
      val ns = lm.agg(sum(col("cr")).cast("long").as("nr"),
        sum(col("ct")).cast("long").as("nt"))
      // guardedRoundQ: in-plan boundary-margin proof that the 1e6
      // quantization of ln() is ≥1e-6 quanta from a .5 boundary, so
      // Java-vs-C libm 1-ulp skew (≤ ~1.4e-8 quanta at |li| ≤ 14e6)
      // cannot flip the rounded integer on any platform
      val li = lm.crossJoin(broadcast(ns))
        .withColumn("li", expr(guardedRoundQ(
          "ln(CAST((ct + 1) * (nr + 1024) AS DOUBLE) / " +
            "((cr + 1) * (nt + 1024))) * 1e6", 1e-6)))
        .select("b", "li")
      dbf.join(broadcast(li), "b")
        .groupBy("doc_id", "lang")
        .agg(sum(col("n_db")).cast("long").as("n_tok"),
          sum(col("n_db") * col("li")).cast("long").as("w6"))
        .withColumn("mean_lr", col("w6").cast("double") / col("n_tok") / 1e6)
        .select("doc_id", "lang", "n_tok", "w6", "mean_lr")
        .orderBy(desc("w6"), asc("doc_id")).limit(100)
    }),

    // D37 — deterministic train/val/test split (the 98/1/1 assignment
    // every training corpus needs): split membership is a PURE
    // FUNCTION of the stable doc key (md5 gate in 2^20ths — the
    // d20/d33 hash-gate family), so re-running the pipeline, adding
    // machines, or re-partitioning can never move a document across
    // the boundary (the leakage failure mode of random()-based
    // splits). Map-side gate + one (lang, split) rollup; the share
    // check is a |cells|-row window. Thresholds floor(0.98·2^20) /
    // floor(0.99·2^20) are integer literals in both engines.
    "d37_train_split" -> ((s, d) => {
      documents(s, d)
        .withColumn("h",
          expr(TextOps.md5Hash32Fast("CAST(doc_id AS STRING)")) % 1048576L)
        .withColumn("split",
          when(col("h") < 1027604L, lit("train"))
            .when(col("h") < 1038090L, lit("val"))
            .otherwise(lit("test")))
        .groupBy("lang", "split")
        .agg(count(lit(1)).cast("long").as("n"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .withColumn("lang_share_ppm", expr(
          "(n * 1000000) div (sum(n) OVER (PARTITION BY lang))"))
        .orderBy("lang", "split")
    }),

    // D38 — exact ROC-AUC of the d24 quality classifier (the metrics
    // family beside e12's recall: every curation classifier ships
    // with an AUC number). Tie-aware Mann–Whitney formulation kept
    // ENTIRELY in integers: group docs by score, then
    // numer2 = Σ_s np_s·(2·cnn_s + nn_s) — each positive counts 2 per
    // out-scored negative and 1 per tied negative — and
    // AUC = numer2 / (2·np·nn). The cumulative negative count uses
    // the o9 two-level trick (fixed 4096-wide score buckets: in-bucket
    // window partitioned by bucket + a ≤#buckets-row offset table), so
    // NO single-partition window ever sees the score distribution —
    // the classic scalability failure of naive AUC. Positive class =
    // lang 'en' (a deterministic ground truth for the metric; the toy
    // hash-LR scores near chance on it, which the spec asserts via
    // the exact identity, not model quality).
    "d38_classifier_auc" -> ((s, d) => {
      val bgf = documents(s, d)
        .select(col("doc_id"), explode(expr(
          """zip_with(
            |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
            |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
            |  (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"))
      val wDf = s.createDataFrame(
        (0 until 64).map(b => (b.toLong, (b * 2654435761L) % 2001L - 1000L)))
        .toDF("bucket", "w")
      val scored = bgf
        .withColumn("bucket", expr(s"pmod(${TextOps.md5Hash32Fast("bg")}, 64)"))
        .join(broadcast(wDf), "bucket")
        .groupBy("doc_id").agg(sum(col("w")).as("logit"))
      val lab = documents(s, d)
        .select(col("doc_id"), (col("lang") === "en").as("pos"))
        .join(scored, Seq("doc_id"), "left")
        .withColumn("sL", coalesce(col("logit"), lit(0L)))
      val g = lab.groupBy("sL").agg(
          sum(when(col("pos"), 1L).otherwise(0L)).cast("long").as("np_s"),
          sum(when(!col("pos"), 1L).otherwise(0L)).cast("long").as("nn_s"))
        .withColumn("bkt", expr("(sL - ((sL % 4096 + 4096) % 4096)) div 4096"))
      val inb = g.withColumn("cnn_in",
        coalesce(sum(col("nn_s")).over(Window.partitionBy("bkt").orderBy("sL")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val offs = g.groupBy("bkt").agg(sum(col("nn_s")).cast("long").as("nnb"))
        .withColumn("off", coalesce(sum(col("nnb")).over(
          Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select("bkt", "off")
      inb.join(broadcast(offs), "bkt")
        .withColumn("cnn", col("off") + col("cnn_in"))
        .agg(sum(col("np_s")).cast("long").as("np"),
          sum(col("nn_s")).cast("long").as("nn"),
          sum(col("np_s") * (lit(2) * col("cnn") + col("nn_s")))
            .cast("long").as("numer2"))
        .withColumn("auc",
          col("numer2").cast("double") / (lit(2.0) * col("np") * col("nn")))
    }),

    // D39 — composite quality gate with REASONS (the production form
    // of the Gopher-rule stage: a filter that only says keep/drop is
    // undebuggable — curation pipelines emit WHY as a bitmask so rule
    // firing rates can be audited per source). Five rules over the
    // d6/d16 signal family, every comparison an integer
    // cross-multiply: bit0 n_tok<10, bit1 n_tok>400, bit2 mean token
    // length outside [3,10] (via text length minus separators), bit3
    // top-token fraction >12%, bit4 duplicate-bigram fraction >35%.
    // Scale shape: two keyed count aggregations (token, bigram) rolled
    // to per-doc scalars + one map-side bitmask projection — d16's
    // cost, one pass more than d6.
    "d39_filter_reasons" -> ((s, d) => {
      val tf = documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val ta = tf.groupBy("doc_id").agg(
        sum(col("c")).cast("long").as("n_tok"),
        max(col("c")).cast("long").as("top_tok"))
      val bf = documents(s, d)
        .select(col("doc_id"), explode(expr(
          """zip_with(
            |  slice(split(text, ' '), 1, size(split(text, ' ')) - 1),
            |  slice(split(text, ' '), 2, size(split(text, ' ')) - 1),
            |  (x, y) -> concat(x, ' ', y))""".stripMargin)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(col("c")).cast("long").as("n_bg"),
          count(lit(1)).cast("long").as("n_bg_uniq"))
      documents(s, d).select(col("doc_id"),
          length(col("text")).cast("long").as("tlen"))
        .join(ta, Seq("doc_id"), "left")
        .join(bf, Seq("doc_id"), "left")
        .withColumn("n_tok", coalesce(col("n_tok"), lit(0L)))
        .withColumn("top_tok", coalesce(col("top_tok"), lit(0L)))
        .withColumn("n_bg", coalesce(col("n_bg"), lit(0L)))
        .withColumn("n_bg_uniq", coalesce(col("n_bg_uniq"), lit(0L)))
        .withColumn("sum_len", col("tlen") - (col("n_tok") - 1))
        .withColumn("reasons",
          when(col("n_tok") < 10, 1L).otherwise(0L) +
          when(col("n_tok") > 400, 2L).otherwise(0L) +
          when(col("n_tok") > 0 &&
            (col("sum_len") < lit(3L) * col("n_tok") ||
             col("sum_len") > lit(10L) * col("n_tok")), 4L).otherwise(0L) +
          when(col("top_tok") * 100 > col("n_tok") * 12, 8L).otherwise(0L) +
          when((col("n_bg") - col("n_bg_uniq")) * 100 > col("n_bg") * 35,
            16L).otherwise(0L))
        .withColumn("keep", col("reasons") === 0L)
        .select("doc_id", "n_tok", "reasons", "keep")
        .orderBy("doc_id")
    }),

    // D33 — temperature-reweighted source mixture (the data-mix
    // rebalancing step of corpus assembly, cf. the Pile / CCNet
    // mixture weights): sampling rates are DERIVED IN-PLAN from
    // corpus statistics at temperature α = 0.5 — weight w_s =
    // isqrt(cnt_s) ∝ share^α, so rare sources are upweighted
    // relative to their share — then applied as a pure hash gate.
    // d20 is the fixed-rate form (rates arrive as a config table);
    // d33 closes the loop where the rates come from the data itself.
    // Scale shape: two fact-stream passes, both map-side-combined
    // aggregations (stats, then gated counts); the rate table is a
    // |sources|-row broadcast; the gate is a map-side filter — no
    // window, no shuffle of the corpus. isqrt is floor(sqrt(double))
    // with a ±1 integer correction, so every derived rate is exact
    // int64 in both engines (IEEE sqrt is correctly rounded; the
    // correction absorbs the one boundary case).
    "d33_temp_mixture" -> ((s, d) => {
      val stats = documents(s, d).groupBy("source").agg(count(lit(1)).as("cnt"))
        .withColumn("s0", expr("CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT)"))
        .withColumn("w", expr(
          "CASE WHEN (s0+1)*(s0+1) <= cnt THEN s0+1 " +
          "WHEN s0*s0 > cnt THEN s0-1 ELSE s0 END"))
        .select("source", "cnt", "w")
      val tot = stats.agg(sum(col("cnt")).as("tot"), sum(col("w")).as("sw"))
      // budget = 20% of the corpus, split ∝ w_s; gate threshold in
      // 2^20ths so the per-row filter is one integer compare
      val rates = stats.crossJoin(broadcast(tot))
        .withColumn("n_target", expr("((tot div 5) * w) div sw"))
        .withColumn("thr", expr("(n_target * 1048576) div cnt"))
        .select("source", "cnt", "w", "n_target", "thr")
      val kept = documents(s, d).join(broadcast(rates), "source")
        .withColumn("h",
          expr(TextOps.md5Hash32Fast("CAST(doc_id AS STRING)")) % 1048576L)
        .filter(col("h") < col("thr"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .orderBy("source")
    }),

    "d32_incremental_dedup" -> ((s, d) => {
      import org.apache.spark.sql.graftshim.{toCol, toExpr}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
      val toks = distinctToks(s, d).withColumn("h", expr(H))
      val votes = (0 until 16).map(j =>
        sum(expr(s"2 * ((h div ${1L << j}) % 2) - 1")).as(s"s$j"))
      // keys computed once (at 100 TB they'd be materialized at
      // ingest); a localCheckpoint, not a persist, so no cache leaks
      // (measured at sf0.1: 0.33 → 0.55 s without it)
      val keyed = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
        .withColumn("k", (0 until 16).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _))
        .select("doc_id", "k").localCheckpoint()
      val skeys = keyed.filter(col("doc_id") % 5 =!= 4)
        .groupBy("k").agg(min(col("doc_id")).as("store_id"))
      val delta = keyed.filter(col("doc_id") % 5 === 4)
      val bloomDf = skeys.select(toCol(new BloomFilterAggregate(
        toExpr(xxhash64(col("k"))), 65536L).toAggregateExpression()).as("bf"))
      def probe = toCol(BloomFilterMightContain(
        ScalarSubquery(bloomDf.queryExecution.analyzed),
        toExpr(xxhash64(col("k")))))
      val pos = delta.filter(probe).join(skeys, Seq("k"), "left")
      val neg = delta.filter(not(probe))
        .withColumn("store_id", lit(null).cast("long"))
      pos.select("doc_id", "k", "store_id")
        .unionAll(neg.select("doc_id", "k", "store_id"))
        .withColumn("first_delta", min(col("doc_id")).over(Window.partitionBy("k")))
        .withColumn("status",
          when(col("store_id").isNotNull, "dup_of_store")
            .when(col("first_delta") < col("doc_id"), "dup_in_delta")
            .otherwise("new"))
        .select(col("doc_id"), col("status"),
          coalesce(col("store_id"), col("first_delta")).as("keep_id"))
        .orderBy("doc_id")
    }),

    // M1 — multimodal scaffold: opaque binary payload + typed metadata
    // (byte length, content-hash head); the decode stage lives in
    // graft.multimodal (REAL JDK PNG/WAV decode since r5 — see m2).
    "m1_binary_meta" -> ((s, d) => {
      documents(s, d)
        .withColumn("n_bytes", expr("octet_length(text)"))
        .withColumn("head", substring(md5(col("text")), 1, 8))
        .select("doc_id", "n_bytes", "head")
        .orderBy("doc_id")
    })
  )

  val oracle: Map[String, String] = Map(
    // Independent BPE replay: per round, pair counts + the engine's
    // (count DESC, pair ASC) argmax, then a recursive walk re-segments
    // every word left-to-right. The winning pair rides along as walk
    // COLUMNS (ba/bsym via a cross join in the seed) — a correlated
    // scalar subquery in the recursive term re-plans the argmax per
    // row-step and is ~400× slower (measured 79.5 s vs 0.21 s).
    "d26_bpe_train" -> {
      def round(r: Int): String = {
        val in = s"seg${r - 1}"
        s"""p$r AS (SELECT s.syms[i] AS a, s.syms[i + 1] AS b, sum(s.freq) AS n
           |  FROM (SELECT freq, syms,
           |      unnest(generate_series(1, len(syms) - 1)) AS i
           |    FROM $in WHERE len(syms) > 1) s
           |  GROUP BY 1, 2),
           |b$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
           |walk$r AS (
           |  SELECT w, freq, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc,
           |    bb.a AS ba, bb.b AS bsym FROM $in CROSS JOIN b$r bb
           |  UNION ALL
           |  SELECT w, freq, syms, i + 1,
           |    CASE WHEN len(acc) = 0 THEN [syms[i]]
           |      WHEN acc[len(acc)] = ba AND syms[i] = bsym
           |      THEN acc[1:len(acc) - 1] || [ba || bsym]
           |      ELSE acc || [syms[i]] END, ba, bsym
           |  FROM walk$r WHERE i <= len(syms)),
           |seg$r AS (SELECT w, freq, acc AS syms FROM walk$r
           |  WHERE i = len(syms) + 1),
           |t$r AS (SELECT sum(freq * len(syms)) AS tot FROM seg$r)""".stripMargin
      }
      def row(r: Int): String =
        s"""SELECT $r AS round, (SELECT a FROM b$r) AS lhs,
           |  (SELECT b FROM b$r) AS rhs,
           |  CAST((SELECT n FROM b$r) AS BIGINT) AS n_pair,
           |  CAST((SELECT tot FROM t$r) AS BIGINT) AS tot_pieces""".stripMargin
      s"""WITH RECURSIVE wf AS (
         |  SELECT w, count(*) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  GROUP BY w),
         |seg0 AS (SELECT w, freq,
         |    list_transform(generate_series(1, length(w)),
         |      i -> substr(w, i, 1)) AS syms
         |  FROM wf),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT * FROM (${row(1)} UNION ALL ${row(2)} UNION ALL ${row(3)}) AS u
         |ORDER BY round""".stripMargin
    },

    // Independent replay of the fixed-rank merge application: per
    // rank a recursive walk re-segments every DISTINCT word
    // left-to-right against the constant pair (the d26 walk with the
    // argmax replaced by the shipped ranking), then doc×word counts
    // join the piece table back. Integer div (`//`) matches Spark's
    // `div` on the nonnegative operands.
    "d27_bpe_encode" -> {
      val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"),
        ("o", "r"), ("a", "t"), ("s", "t"))
      val walks = merges.zipWithIndex.map { case ((a, b), i) =>
        val r = i + 1
        s"""walk$r AS (
           |  SELECT w, 1 AS i, syms, CAST([] AS VARCHAR[]) AS acc
           |  FROM seg${r - 1}
           |  UNION ALL
           |  SELECT w, i + 1, syms,
           |    CASE WHEN len(acc) = 0 THEN [syms[i]]
           |      WHEN acc[len(acc)] = '$a' AND syms[i] = '$b'
           |      THEN acc[1:len(acc) - 1] || ['${a + b}']
           |      ELSE acc || [syms[i]] END
           |  FROM walk$r WHERE i <= len(syms)),
           |seg$r AS (SELECT w, acc AS syms FROM walk$r
           |  WHERE i = len(syms) + 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH RECURSIVE toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |vocab AS (SELECT DISTINCT w FROM toks WHERE w <> ''),
         |seg0 AS (SELECT w, list_transform(generate_series(1, length(w)),
         |    i -> substr(w, i, 1)) AS syms FROM vocab),
         |$walks,
         |np AS (SELECT w, len(syms) AS np FROM seg${merges.size}),
         |tf AS (SELECT doc_id, w, count(*) AS n_w FROM toks
         |       WHERE w <> '' GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(n_w) AS BIGINT) AS n_words,
         |  CAST(sum(n_w * np) AS BIGINT) AS n_pieces,
         |  CAST((100 * sum(n_w * np)) // sum(n_w) AS BIGINT) AS per100
         |FROM tf JOIN np USING (w) GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin
    },

    // Interval merge: pmax = running max span-end over STRICTLY
    // preceding marked windows; a window starts a new island iff it
    // begins past that (strict overlap merge — adjacent-but-disjoint
    // spans stay separate, the crossing k-gram was NOT duplicated).
    "d25_substring_spans" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
        |              FROM documents WHERE len(string_split(text, ' ')) >= 10),
        |pos AS (SELECT doc_id, l, unnest(generate_series(1, len(l) - 9)) AS i
        |        FROM toks),
        |grams AS (SELECT doc_id, i, md5(array_to_string(l[i:i+9], ' ')) AS g
        |          FROM pos),
        |dup AS (SELECT g FROM grams GROUP BY g
        |        HAVING count(DISTINCT doc_id) > 1),
        |marked AS (SELECT doc_id, i FROM grams JOIN dup USING (g)),
        |mx AS (SELECT doc_id, i,
        |    max(i + 9) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM marked),
        |isl AS (SELECT doc_id, i,
        |    sum(CASE WHEN pmax IS NULL OR i > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM mx)
        |SELECT doc_id, CAST(min(i) AS INTEGER) AS span_start,
        |  CAST(max(i) + 9 AS INTEGER) AS span_end,
        |  CAST(max(i) + 9 - min(i) + 1 AS INTEGER) AS n_tokens
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    "d11_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS n_td FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, tok,
        |    CAST(round(n_td * (ln((1 + n_docs) / (1 + df)) + 1) * 1e6)
        |      AS BIGINT) AS si
        |  FROM tf JOIN df USING (tok), nd),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY si DESC, tok ASC) AS rnk FROM sc)
        |SELECT doc_id, rnk, tok, si FROM rk WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "d12_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS n_td FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks WHERE tok <> '' GROUP BY 1),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |sc AS (SELECT doc_id, count(*) AS n_terms,
        |    CAST(sum(CAST(round(
        |      ln((n_docs - df + 0.5) / (df + 0.5) + 1) * n_td * 2.2 /
        |      (n_td + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6) AS BIGINT))
        |      AS BIGINT) AS si
        |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), nd, ad
        |  WHERE tok IN ('join', 'hash', 'scan') GROUP BY doc_id),
        |rk AS (SELECT *, row_number() OVER (ORDER BY si DESC, doc_id ASC) AS rnk
        |       FROM sc)
        |SELECT rnk, doc_id, n_terms, si FROM rk WHERE rnk <= 20
        |ORDER BY rnk""".stripMargin,

    "d13_chunking" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |e AS (SELECT doc_id, tk,
        |    unnest(generate_series(0, (len(tk) - 1) // 40)) AS c
        |  FROM t)
        |SELECT doc_id, c, len(list_slice(tk, c * 40 + 1, c * 40 + 50)) AS n_tok,
        |  md5(array_to_string(list_slice(tk, c * 40 + 1, c * 40 + 50), ' '))
        |    AS chunk_md5
        |FROM e ORDER BY doc_id, c""".stripMargin,

    "d15_components" -> {
      val h = TextOps.md5Hash32("tok")
      s"""WITH RECURSIVE toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, $h AS h FROM toks),
         |sg0 AS (SELECT doc_id,
         |    min(${TextOps.minhashExpr("h", 0)}) AS h0,
         |    min(${TextOps.minhashExpr("h", 1)}) AS h1,
         |    min(${TextOps.minhashExpr("h", 2)}) AS h2,
         |    min(${TextOps.minhashExpr("h", 3)}) AS h3
         |  FROM th GROUP BY 1),
         |sig AS (SELECT doc_id, h0 * 2147483648 + h1 AS m0,
         |    h2 * 2147483648 + h3 AS m1 FROM sg0),
         |e0 AS (SELECT doc_id AS src, min(doc_id) OVER (PARTITION BY m0) AS dst
         |       FROM sig),
         |e1 AS (SELECT doc_id AS src, min(doc_id) OVER (PARTITION BY m1) AS dst
         |       FROM sig),
         |edges AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 WHERE src <> dst
         |  UNION ALL SELECT src, dst FROM e1 WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e1 WHERE src <> dst)),
         |lab AS (
         |  SELECT doc_id AS node, doc_id AS label FROM sig
         |  UNION
         |  SELECT e.dst AS node, l.label FROM lab l JOIN edges e ON e.src = l.node),
         |fin AS (SELECT node, min(label) AS comp FROM lab GROUP BY 1),
         |sz AS (SELECT comp, count(*) AS comp_size FROM fin GROUP BY 1)
         |SELECT node AS doc_id, comp, comp_size
         |FROM fin JOIN sz USING (comp) ORDER BY doc_id""".stripMargin
    },

    // d24: same positional-unnest bigram build as d2's oracle; the
    // bucket hash is the portable md5 CASE tree; weights computed
    // inline from the same integer formula as the broadcast frame.
    // (bucket % then ×: left-assoc in both engines; max intermediate
    // 63·2654435761 ≈ 1.7e11 — no overflow.)
    "d24_quality_lr" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |         unnest(generate_series(1, len(string_split(text, ' ')))) AS ord
         |  FROM documents),
         |bg AS (SELECT x.doc_id, x.tok || ' ' || y.tok AS bg
         |       FROM toks x JOIN toks y
         |         ON x.doc_id = y.doc_id AND y.ord = x.ord + 1),
         |sc AS (SELECT doc_id, count(*) AS n_features,
         |    CAST(sum(${TextOps.md5Hash32("bg")} % 64 * 2654435761 % 2001 - 1000)
         |      AS BIGINT) AS logit
         |  FROM bg GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_features, 0) AS n_features,
         |  coalesce(logit, 0) AS logit, coalesce(logit, 0) > 0 AS keep
         |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // Same 4×64 grid, same md5-based affine hash family
    // (((2i+3)·h + i²+1) mod 2147483647 mod 64 — minhashExpr's constants
    // written generically over the row index), same min-of-rows
    // estimate. CMS soundness (est ≥ cnt) is implied by the match.
    "d29_cms_heavy" ->
      s"""WITH toks AS (
         |  SELECT tok FROM (
         |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  WHERE tok <> ''),
         |th AS (SELECT tok, ${TextOps.md5Hash32("tok")} AS h FROM toks),
         |rws AS (SELECT unnest(generate_series(0, 3)) AS rw),
         |cells AS (
         |  SELECT rw, (((2*rw+3)*h + rw*rw + 1) % 2147483647) % 64 AS bucket,
         |    count(*) AS cell
         |  FROM th, rws GROUP BY 1, 2),
         |top AS (
         |  SELECT tok, count(*) AS cnt FROM toks GROUP BY 1
         |  ORDER BY cnt DESC, tok LIMIT 20),
         |probes AS (
         |  SELECT tok, cnt, rw,
         |    (((2*rw+3)*h + rw*rw + 1) % 2147483647) % 64 AS bucket
         |  FROM (SELECT tok, cnt, ${TextOps.md5Hash32("tok")} AS h FROM top), rws)
         |SELECT tok, cnt, min(cell) AS est
         |FROM probes JOIN cells ON probes.rw = cells.rw
         |  AND probes.bucket = cells.bucket
         |GROUP BY tok, cnt
         |ORDER BY cnt DESC, tok""".stripMargin,

    // Independent HLL replay: same register/rank split of the md5 hash
    // (low 6 bits → register, ρ = CASE ladder over the upper 26), same
    // max-merge, same two-branch estimator with identical precomputed
    // linear-counting constants (TextOps bakes one string for both
    // engines). The only division is hllRaw's exact int64 floor.
    "d30_hll_cardinality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, tok, pos FROM (
         |    SELECT doc_id, source,
         |      unnest(string_split(text, ' ')) AS tok,
         |      unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
         |    FROM documents)
         |  WHERE tok <> ''),
         |uni AS (SELECT 'tok' AS kind, source, tok AS item FROM toks),
         |big AS (
         |  SELECT 'bigram' AS kind, source, tok || '_' || nxt AS item FROM (
         |    SELECT source, tok,
         |      lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
         |    FROM toks)
         |  WHERE nxt IS NOT NULL),
         |items AS (SELECT * FROM uni UNION ALL SELECT * FROM big),
         |hashed AS (
         |  SELECT kind, source, (h % 64) AS reg,
         |    ${TextOps.hllRho(TextOps.hllW("h"))} AS rho
         |  FROM (SELECT kind, source, ${TextOps.md5Hash32("item")} AS h FROM items)),
         |regs AS (SELECT kind, source, reg, max(rho) AS m
         |  FROM hashed GROUP BY 1, 2, 3),
         |grid AS (
         |  SELECT kind, source, unnest(generate_series(0, 63)) AS reg
         |  FROM (SELECT DISTINCT kind, source FROM items)),
         |fullgrid AS (
         |  SELECT g.kind, g.source, coalesce(r.m, 0) AS m
         |  FROM grid g LEFT JOIN regs r
         |    ON r.kind = g.kind AND r.source = g.source AND r.reg = g.reg),
         |est AS (
         |  SELECT kind, source,
         |    CAST(sum(${TextOps.pow2("27 - m")}) AS BIGINT) AS z,
         |    CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
         |  FROM fullgrid GROUP BY 1, 2),
         |est2 AS (
         |  SELECT kind, source, n_zero, z,
         |    CASE WHEN raw <= 160 AND n_zero > 0
         |      THEN ${TextOps.hllLinearCount("n_zero")} ELSE raw END AS est_hll
         |  FROM (SELECT *, ${TextOps.hllRaw("z")} AS raw FROM est)),
         |exact AS (SELECT kind, source, count(DISTINCT item) AS exact
         |  FROM items GROUP BY 1, 2)
         |SELECT e.kind, e.source, e.n_zero, e.z, e.est_hll, x.exact
         |FROM est2 e JOIN exact x ON x.kind = e.kind AND x.source = e.source
         |ORDER BY e.kind, e.source""".stripMargin,

    "d23_pagerank" -> {
      val h = TextOps.md5Hash32("tok")
      def prRound(prev: String, out: String): String =
        s"""$out AS (SELECT n.doc_id,
           |    CAST(round(150000000 + 0.85 * coalesce(s.c, 0)) AS BIGINT) AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS doc_id, CAST(sum(p.pr // d.deg) AS BIGINT) AS c
           |    FROM edges e JOIN $prev p ON p.doc_id = e.src
           |    JOIN deg d ON d.src = e.src GROUP BY 1) s
           |  ON s.doc_id = n.doc_id)""".stripMargin
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, $h AS h FROM toks),
         |sg0 AS (SELECT doc_id,
         |    min(${TextOps.minhashExpr("h", 0)}) AS h0,
         |    min(${TextOps.minhashExpr("h", 1)}) AS h1,
         |    min(${TextOps.minhashExpr("h", 2)}) AS h2,
         |    min(${TextOps.minhashExpr("h", 3)}) AS h3
         |  FROM th GROUP BY 1),
         |sig AS (SELECT doc_id, h0 * 2147483648 + h1 AS m0,
         |    h2 * 2147483648 + h3 AS m1 FROM sg0),
         |e0 AS (SELECT doc_id AS src, min(doc_id) OVER (PARTITION BY m0) AS dst
         |       FROM sig),
         |e1 AS (SELECT doc_id AS src, min(doc_id) OVER (PARTITION BY m1) AS dst
         |       FROM sig),
         |edges AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e0 WHERE src <> dst
         |  UNION ALL SELECT src, dst FROM e1 WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e0 WHERE src <> dst
         |  UNION ALL SELECT dst, src FROM e1 WHERE src <> dst)),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |nodes AS (SELECT doc_id FROM documents),
         |p0 AS (SELECT doc_id, CAST(1000000000 AS BIGINT) AS pr FROM nodes),
         |${prRound("p0", "p1")},
         |${prRound("p1", "p2")},
         |${prRound("p2", "p3")}
         |SELECT doc_id, pr AS pr_i9, pr / 1e9 AS pr FROM p3
         |ORDER BY doc_id""".stripMargin
    },

    "d14_unigram_lm" ->
      """WITH toks AS (SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE tok <> ''),
        |tf AS (SELECT doc_id, tok, count(*) AS n_td FROM toks GROUP BY 1, 2),
        |ctf AS (SELECT tok, CAST(sum(n_td) AS BIGINT) AS ctf FROM tf GROUP BY 1),
        |tot AS (SELECT count(*) AS tot FROM toks),
        |li AS (SELECT doc_id, n_td,
        |    CAST(round(ln(CAST(ctf AS DOUBLE) / tot) * 1e6) AS BIGINT) AS li
        |  FROM tf JOIN ctf USING (tok), tot),
        |ag AS (SELECT doc_id, CAST(sum(n_td * li) AS BIGINT) AS lp_sum6,
        |    CAST(sum(n_td) AS BIGINT) AS n_tok
        |  FROM li GROUP BY 1)
        |SELECT doc_id, n_tok, lp_sum6,
        |  CAST(lp_sum6 AS DOUBLE) / n_tok / 1e6 AS mean_lp
        |FROM ag ORDER BY doc_id""".stripMargin,

    // Same smoothed-conditional arithmetic, independently derived:
    // bigrams via generate_series indexing (not the engine's
    // zip_with), the model tables re-aggregated from the doc-level
    // counts, ln quantized at 1e6 exactly like the engine's round().
    "d28_bigram_lm" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |toks AS (SELECT doc_id, unnest(tk) AS tok FROM t),
        |v AS (SELECT count(DISTINCT tok) AS v FROM toks WHERE tok <> ''),
        |bgi AS (SELECT doc_id, tk,
        |        unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
        |bg0 AS (SELECT doc_id, tk[i] AS a, tk[i + 1] AS b FROM bgi),
        |dbf AS (SELECT doc_id, a, b, count(*) AS n_db FROM bg0 GROUP BY 1, 2, 3),
        |cbf AS (SELECT a, b, CAST(sum(n_db) AS BIGINT) AS c_ab
        |        FROM dbf GROUP BY 1, 2),
        |cuf AS (SELECT a, CAST(sum(n_db) AS BIGINT) AS c_a FROM dbf GROUP BY 1),
        |li AS (SELECT doc_id, n_db,
        |    CAST(round(ln(CAST(c_ab + 1 AS DOUBLE) / (c_a + v)) * 1e6)
        |      AS BIGINT) AS li
        |  FROM dbf JOIN cbf USING (a, b) JOIN cuf USING (a), v),
        |ag AS (SELECT doc_id, CAST(sum(n_db) AS BIGINT) AS n_bg,
        |    CAST(sum(n_db * li) AS BIGINT) AS lp_sum6 FROM li GROUP BY 1)
        |SELECT doc_id, n_bg, lp_sum6,
        |  CAST(lp_sum6 AS DOUBLE) / n_bg / 1e6 AS mean_lp
        |FROM ag ORDER BY doc_id""".stripMargin,

    "d16_repetition" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS n FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        |ta AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tok,
        |       CAST(max(n) AS BIGINT) AS top_tok FROM tf GROUP BY 1),
        |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bgi AS (SELECT doc_id, tk,
        |        unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
        |bg0 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg FROM bgi),
        |bf AS (SELECT doc_id, bg, count(*) AS n FROM bg0 GROUP BY 1, 2),
        |ba AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bg,
        |       CAST(count(*) AS BIGINT) AS n_bg_uniq,
        |       CAST(max(n) AS BIGINT) AS top_bg FROM bf GROUP BY 1)
        |SELECT doc_id, n_tok, top_tok, n_bg, n_bg_uniq, top_bg,
        |  CAST(top_tok AS DOUBLE) / nullif(n_tok, 0) AS top_tok_frac,
        |  CAST(n_bg - n_bg_uniq AS DOUBLE) / nullif(n_bg, 0) AS dup_bg_frac,
        |  CAST(top_bg AS DOUBLE) / nullif(n_bg, 0) AS top_bg_frac,
        |  (CAST(top_tok AS DOUBLE) / nullif(n_tok, 0) > 0.12
        |   OR CAST(n_bg - n_bg_uniq AS DOUBLE) / nullif(n_bg, 0) > 0.35
        |   OR CAST(top_bg AS DOUBLE) / nullif(n_bg, 0) > 0.05) AS is_repetitive
        |FROM ta JOIN ba USING (doc_id) ORDER BY doc_id""".stripMargin,

    "d17_token_entropy" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS n_td FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        |wt AS (SELECT doc_id, n_td,
        |       sum(n_td) OVER (PARTITION BY doc_id) AS n_tok FROM tf),
        |li AS (SELECT doc_id, n_td, n_tok,
        |    CAST(round(ln(CAST(n_td AS DOUBLE) / n_tok) * 1e6) AS BIGINT) AS li
        |  FROM wt),
        |ag AS (SELECT doc_id, CAST(sum(n_td * li) AS BIGINT) AS neg_ent6,
        |    CAST(max(n_tok) AS BIGINT) AS n_tok,
        |    CAST(count(*) AS BIGINT) AS n_uniq
        |  FROM li GROUP BY 1)
        |SELECT doc_id, n_tok, n_uniq, neg_ent6,
        |  -CAST(neg_ent6 AS DOUBLE) / n_tok / 1e6 AS entropy,
        |  -CAST(neg_ent6 AS DOUBLE) / n_tok /
        |    nullif(CAST(round(ln(CAST(n_uniq AS DOUBLE)) * 1e6) AS BIGINT), 0)
        |    AS norm_entropy
        |FROM ag ORDER BY doc_id""".stripMargin,

    "d1_exact_dedup" ->
      """SELECT md5(text) AS content_key, count(*) AS n_dups,
        |  min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 ORDER BY content_key""".stripMargin,

    "d2_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         unnest(generate_series(1, len(string_split(text, ' ')))) AS ord
        |  FROM documents),
        |bg AS (SELECT DISTINCT x.doc_id, x.tok || ' ' || y.tok AS bg
        |       FROM toks x JOIN toks y
        |         ON x.doc_id = y.doc_id AND y.ord = x.ord + 1),
        |sz AS (SELECT doc_id, count(*) AS nb FROM bg GROUP BY 1),
        |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |          FROM bg a JOIN bg b ON a.bg = b.bg AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT a_id, b_id, inter,
        |  round(CAST(inter AS DOUBLE) / (sa.nb + sb.nb - inter), 6) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |WHERE CAST(inter AS DOUBLE) / (sa.nb + sb.nb - inter) > 0.4
        |ORDER BY a_id, b_id""".stripMargin,

    "d3_minhash_lsh" -> {
      val mh = (0 until 8).map(k =>
        s"min(${TextOps.minhashExpr("h", k)}) AS m$k").mkString(", ")
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, ${TextOps.md5Hash32("tok")} AS h FROM toks),
         |sig AS (SELECT doc_id, $mh FROM th GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, band,
         |    CASE band WHEN 0 THEN m0 * 2147483648 + m1
         |              WHEN 1 THEN m2 * 2147483648 + m3
         |              WHEN 2 THEN m4 * 2147483648 + m5
         |              ELSE m6 * 2147483648 + m7 END AS bh
         |  FROM sig, (VALUES (0), (1), (2), (3)) bands_t(band))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS n_bands
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 ORDER BY a_id, b_id""".stripMargin
    },

    "d4_simhash" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, ${TextOps.md5Hash32("tok")} AS h FROM toks),
         |bits AS (SELECT doc_id, j, min(pw) AS pw, sum(c) AS sj FROM (
         |    SELECT doc_id, j, CAST(pow(2.0, j) AS BIGINT) AS pw,
         |      2 * ((h // CAST(pow(2.0, j) AS BIGINT)) % 2) - 1 AS c
         |    FROM th, (SELECT unnest(generate_series(0, 15)) AS j))
         |  GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN sj > 0 THEN pw ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // SQ8 replay: identical integerization, per-dim step/code/midpoint
    // reconstruction, 20-deep ADC pool, exact-L2 rerank.
    // Independent replay of the greedy walk: per-round argmax CTEs.
    // dk = exact int64 dots of every candidate against round-k's
    // winner; round r's penalty is greatest() over d1..d(r-1). Same
    // 7/3 rational λ, same (score DESC, vec_id) tiebreak — every
    // comparison is integer, so the 5 picks match bit-for-bit.
    "e11_mmr_select" ->
      """WITH dims AS (
        |  SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |q AS (SELECT pos, x AS qx FROM dims WHERE vec_id = 0),
        |rel AS (SELECT d.vec_id,
        |    CAST(sum(CAST(round(qx * x * 1e12) AS BIGINT)) AS BIGINT) AS rel
        |  FROM dims d JOIN q USING (pos) WHERE d.vec_id > 0 GROUP BY 1),
        |s1 AS (SELECT vec_id, rel, CAST(0 AS BIGINT) AS pen, 7 * rel AS score
        |  FROM rel ORDER BY 7 * rel DESC, vec_id LIMIT 1),
        |d1 AS (SELECT c.vec_id, CAST(sum(CAST(round(s.x * c.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
        |  FROM dims c JOIN dims s ON s.pos = c.pos
        |    AND s.vec_id = (SELECT vec_id FROM s1)
        |  WHERE c.vec_id > 0 GROUP BY 1),
        |s2 AS (SELECT r.vec_id, r.rel, d1.dot AS pen,
        |    7 * r.rel - 3 * d1.dot AS score
        |  FROM rel r JOIN d1 ON d1.vec_id = r.vec_id
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1)
        |  ORDER BY score DESC, r.vec_id LIMIT 1),
        |d2 AS (SELECT c.vec_id, CAST(sum(CAST(round(s.x * c.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
        |  FROM dims c JOIN dims s ON s.pos = c.pos
        |    AND s.vec_id = (SELECT vec_id FROM s2)
        |  WHERE c.vec_id > 0 GROUP BY 1),
        |s3 AS (SELECT r.vec_id, r.rel, greatest(d1.dot, d2.dot) AS pen,
        |    7 * r.rel - 3 * greatest(d1.dot, d2.dot) AS score
        |  FROM rel r JOIN d1 ON d1.vec_id = r.vec_id
        |    JOIN d2 ON d2.vec_id = r.vec_id
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1
        |    UNION ALL SELECT vec_id FROM s2)
        |  ORDER BY score DESC, r.vec_id LIMIT 1),
        |d3 AS (SELECT c.vec_id, CAST(sum(CAST(round(s.x * c.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
        |  FROM dims c JOIN dims s ON s.pos = c.pos
        |    AND s.vec_id = (SELECT vec_id FROM s3)
        |  WHERE c.vec_id > 0 GROUP BY 1),
        |s4 AS (SELECT r.vec_id, r.rel, greatest(d1.dot, d2.dot, d3.dot) AS pen,
        |    7 * r.rel - 3 * greatest(d1.dot, d2.dot, d3.dot) AS score
        |  FROM rel r JOIN d1 ON d1.vec_id = r.vec_id
        |    JOIN d2 ON d2.vec_id = r.vec_id JOIN d3 ON d3.vec_id = r.vec_id
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1
        |    UNION ALL SELECT vec_id FROM s2 UNION ALL SELECT vec_id FROM s3)
        |  ORDER BY score DESC, r.vec_id LIMIT 1),
        |d4 AS (SELECT c.vec_id, CAST(sum(CAST(round(s.x * c.x * 1e12) AS BIGINT)) AS BIGINT) AS dot
        |  FROM dims c JOIN dims s ON s.pos = c.pos
        |    AND s.vec_id = (SELECT vec_id FROM s4)
        |  WHERE c.vec_id > 0 GROUP BY 1),
        |s5 AS (SELECT r.vec_id, r.rel,
        |    greatest(d1.dot, d2.dot, d3.dot, d4.dot) AS pen,
        |    7 * r.rel - 3 * greatest(d1.dot, d2.dot, d3.dot, d4.dot) AS score
        |  FROM rel r JOIN d1 ON d1.vec_id = r.vec_id
        |    JOIN d2 ON d2.vec_id = r.vec_id JOIN d3 ON d3.vec_id = r.vec_id
        |    JOIN d4 ON d4.vec_id = r.vec_id
        |  WHERE r.vec_id NOT IN (SELECT vec_id FROM s1
        |    UNION ALL SELECT vec_id FROM s2 UNION ALL SELECT vec_id FROM s3
        |    UNION ALL SELECT vec_id FROM s4)
        |  ORDER BY score DESC, r.vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS round, * FROM s1
        |UNION ALL SELECT 2, * FROM s2
        |UNION ALL SELECT 3, * FROM s3
        |UNION ALL SELECT 4, * FROM s4
        |UNION ALL SELECT 5, * FROM s5
        |ORDER BY round""".stripMargin,

    "e10_sq8_ann" ->
      """WITH dims AS (
        |  SELECT vec_id, pos,
        |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS x6 FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |stats AS (
        |  SELECT pos, mn, mx, (mx - mn) // 255 + 1 AS step FROM (
        |    SELECT pos, min(x6) AS mn, max(x6) AS mx FROM dims GROUP BY 1)),
        |quant AS (
        |  SELECT vec_id, d.pos,
        |    mn + ((x6 - mn) // step) * step + step // 2 AS recon
        |  FROM dims d JOIN stats s ON s.pos = d.pos),
        |qs AS (SELECT vec_id AS q_id, pos, x6 AS y6 FROM dims WHERE vec_id < 5),
        |approx AS (
        |  SELECT q_id, vec_id,
        |    CAST(sum((recon - y6) * (recon - y6)) AS BIGINT) AS ad2
        |  FROM quant q JOIN qs ON qs.pos = q.pos
        |  WHERE vec_id <> q_id GROUP BY 1, 2),
        |pool AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ad2, vec_id) AS rn
        |    FROM approx)
        |  WHERE rn <= 20),
        |exact AS (
        |  SELECT p.q_id, p.vec_id,
        |    CAST(sum((x6 - y6) * (x6 - y6)) AS BIGINT) AS d2
        |  FROM pool p
        |  JOIN dims d ON d.vec_id = p.vec_id
        |  JOIN qs ON qs.q_id = p.q_id AND qs.pos = d.pos
        |  GROUP BY 1, 2)
        |SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, d2,
        |  round(sqrt(d2 / 1e12), 6) AS dist
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY d2, vec_id) AS rank FROM exact)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // Phrase replay: same per-term postings, same (doc, pos+1)
    // adjacency join.
    "d34_phrase_search" ->
      """WITH toks AS (
        |  SELECT doc_id, pos, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |      unnest(generate_series(0,
        |        len(string_split(text, ' ')) - 1)) AS pos
        |    FROM documents)),
        |a AS (SELECT doc_id, pos FROM toks WHERE tok = 'hash'),
        |b AS (SELECT doc_id, pos FROM toks WHERE tok = 'join')
        |SELECT a.doc_id, count(*) AS n_hits,
        |  CAST(min(a.pos) AS INTEGER) AS first_pos
        |FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // PMI replay: identical lead() bigrams, count tables, support
    // floor, and exact integer ratio (count(*) is BIGINT in both —
    // no HUGEINT wrap needed).
    "d35_pmi_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, pos, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |      unnest(generate_series(0,
        |        len(string_split(text, ' ')) - 1)) AS pos
        |    FROM documents)
        |  WHERE tok <> ''),
        |w AS (SELECT doc_id, pos, tok,
        |    lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        |  FROM toks),
        |bc AS (SELECT tok, nxt, count(*) AS c12 FROM w
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n_tok FROM toks)
        |SELECT b.tok, b.nxt, b.c12, u1.c1, u2.c1 AS c2,
        |  (b.c12 * n_tok * 1000000) // (u1.c1 * u2.c1) AS ratio_ppm
        |FROM bc b JOIN uni u1 ON u1.tok = b.tok
        |  JOIN uni u2 ON u2.tok = b.nxt, n
        |WHERE b.c12 >= 20
        |ORDER BY ratio_ppm DESC, b.tok, b.nxt LIMIT 20""".stripMargin,

    // Same hashed-unigram importance arithmetic, independently
    // derived: positional md5 bucket hash (the CASE-tree form), both
    // LMs re-aggregated from the doc×bucket counts, the log ratio's
    // single division over the same exact integer products.
    // d24's scoring replay + a single-level exclusive cumulative (the
    // oracle need not be scalable) over the same integer identity.
    "d38_classifier_auc" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         |         unnest(generate_series(1, len(string_split(text, ' ')))) AS ord
         |  FROM documents),
         |bg AS (SELECT x.doc_id, x.tok || ' ' || y.tok AS bg
         |       FROM toks x JOIN toks y
         |         ON x.doc_id = y.doc_id AND y.ord = x.ord + 1),
         |sc AS (SELECT doc_id,
         |    CAST(sum(${TextOps.md5Hash32("bg")} % 64 * 2654435761 % 2001 - 1000)
         |      AS BIGINT) AS logit
         |  FROM bg GROUP BY 1),
         |lab AS (SELECT d.doc_id, d.lang = 'en' AS pos,
         |    coalesce(sc.logit, 0) AS s
         |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id),
         |g AS (SELECT s,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np_s,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn_s
         |  FROM lab GROUP BY 1),
         |c AS (SELECT np_s, nn_s,
         |    CAST(coalesce(sum(nn_s) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cnn
         |  FROM g),
         |a AS (SELECT CAST(sum(np_s) AS BIGINT) AS np,
         |    CAST(sum(nn_s) AS BIGINT) AS nn,
         |    CAST(sum(np_s * (2 * cnn + nn_s)) AS BIGINT) AS numer2
         |  FROM c)
         |SELECT np, nn, numer2,
         |  CAST(numer2 AS DOUBLE) / (2.0 * np * nn) AS auc
         |FROM a""".stripMargin,

    "d39_filter_reasons" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks
        |       WHERE tok <> '' GROUP BY 1, 2),
        |ta AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |       CAST(max(c) AS BIGINT) AS top_tok FROM tf GROUP BY 1),
        |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bgi AS (SELECT doc_id, tk,
        |        unnest(generate_series(1, len(tk) - 1)) AS i FROM t),
        |bf0 AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg, count(*) AS c
        |  FROM bgi GROUP BY 1, 2),
        |bf AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bg,
        |       CAST(count(*) AS BIGINT) AS n_bg_uniq FROM bf0 GROUP BY 1),
        |j AS (SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS tlen,
        |    coalesce(ta.n_tok, 0) AS n_tok,
        |    coalesce(ta.top_tok, 0) AS top_tok,
        |    coalesce(bf.n_bg, 0) AS n_bg,
        |    coalesce(bf.n_bg_uniq, 0) AS n_bg_uniq
        |  FROM documents d
        |  LEFT JOIN ta ON ta.doc_id = d.doc_id
        |  LEFT JOIN bf ON bf.doc_id = d.doc_id),
        |r AS (SELECT doc_id, n_tok,
        |    CAST((CASE WHEN n_tok < 10 THEN 1 ELSE 0 END)
        |      + (CASE WHEN n_tok > 400 THEN 2 ELSE 0 END)
        |      + (CASE WHEN n_tok > 0 AND
        |          (tlen - (n_tok - 1) < 3 * n_tok
        |           OR tlen - (n_tok - 1) > 10 * n_tok) THEN 4 ELSE 0 END)
        |      + (CASE WHEN top_tok * 100 > n_tok * 12 THEN 8 ELSE 0 END)
        |      + (CASE WHEN (n_bg - n_bg_uniq) * 100 > n_bg * 35
        |          THEN 16 ELSE 0 END) AS BIGINT) AS reasons
        |  FROM j)
        |SELECT doc_id, n_tok, reasons, reasons = 0 AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "d37_train_split" ->
      s"""WITH g AS (SELECT doc_id, lang,
        |    (${TextOps.md5Hash32("CAST(doc_id AS VARCHAR)")}) % 1048576 AS h
        |  FROM documents),
        |a AS (SELECT doc_id, lang,
        |    CASE WHEN h < 1027604 THEN 'train'
        |         WHEN h < 1038090 THEN 'val' ELSE 'test' END AS split
        |  FROM g),
        |c AS (SELECT lang, split, CAST(count(*) AS BIGINT) AS n,
        |    min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |  FROM a GROUP BY 1, 2)
        |SELECT lang, split, n, min_doc, max_doc,
        |  (n * 1000000)
        |    // CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT)
        |    AS lang_share_ppm
        |FROM c ORDER BY lang, split""".stripMargin,

    "d36_dsir" ->
      s"""WITH toks AS (SELECT doc_id, lang,
        |    (${TextOps.md5Hash32("tok")}) % 1024 AS b
        |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |        FROM documents) WHERE tok <> ''),
        |dbf AS (SELECT doc_id, lang, b, count(*) AS n_db
        |  FROM toks GROUP BY 1, 2, 3),
        |cr AS (SELECT b, CAST(sum(n_db) AS BIGINT) AS cr FROM dbf GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(n_db) AS BIGINT) AS ct
        |  FROM dbf WHERE lang = 'en' GROUP BY 1),
        |ns AS (SELECT CAST(sum(n_db) AS BIGINT) AS nr,
        |    CAST(sum(CASE WHEN lang = 'en' THEN n_db ELSE 0 END) AS BIGINT) AS nt
        |  FROM dbf),
        |li AS (SELECT cr.b,
        |    CAST(round(ln(CAST((coalesce(ct.ct, 0) + 1) * (ns.nr + 1024) AS DOUBLE)
        |      / ((cr.cr + 1) * (ns.nt + 1024))) * 1e6) AS BIGINT) AS li
        |  FROM cr LEFT JOIN ct ON ct.b = cr.b, ns),
        |ag AS (SELECT doc_id, lang,
        |    CAST(sum(n_db) AS BIGINT) AS n_tok,
        |    CAST(sum(n_db * li) AS BIGINT) AS w6
        |  FROM dbf JOIN li USING (b) GROUP BY 1, 2)
        |SELECT doc_id, lang, n_tok, w6,
        |  CAST(w6 AS DOUBLE) / n_tok / 1e6 AS mean_lr
        |FROM ag ORDER BY w6 DESC, doc_id LIMIT 100""".stripMargin,

    // Mixture replay: identical corrected-isqrt weights, integer
    // divisions (// = Spark's div for these positive operands), md5
    // gate, and LEFT JOIN zero-fill. sum() wrapped in CAST — DuckDB
    // sums BIGINT into HUGEINT, which the driver's typed hash rejects.
    "d33_temp_mixture" ->
      s"""WITH stats AS (
         |  SELECT source, count(*) AS cnt FROM documents GROUP BY 1),
         |w AS (SELECT source, cnt,
         |    CASE WHEN (s0+1)*(s0+1) <= cnt THEN s0+1
         |         WHEN s0*s0 > cnt THEN s0-1 ELSE s0 END AS w
         |  FROM (SELECT source, cnt,
         |      CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS s0
         |    FROM stats)),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
         |    CAST(sum(w) AS BIGINT) AS sw FROM w),
         |rates AS (SELECT source, cnt, w,
         |    ((tot // 5) * w) // sw AS n_target,
         |    ((((tot // 5) * w) // sw) * 1048576) // cnt AS thr
         |  FROM w, tot),
         |kept AS (SELECT d.source, count(*) AS n_kept
         |  FROM documents d JOIN rates r ON r.source = d.source
         |  WHERE (${TextOps.md5Hash32("CAST(doc_id AS VARCHAR)")} % 1048576)
         |    < r.thr
         |  GROUP BY 1)
         |SELECT r.source, r.cnt, r.w, r.n_target, r.thr,
         |  coalesce(k.n_kept, 0) AS n_kept
         |FROM rates r LEFT JOIN kept k ON k.source = r.source
         |ORDER BY r.source""".stripMargin,

    // Incremental-dedup replay: the same d4 simhash key, then plain
    // exact store/delta logic — the engine's Bloom stage is routing
    // only (false positives resolved by the exact join), so the
    // oracle needs no sketch.
    "d32_incremental_dedup" ->
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, ${TextOps.md5Hash32("tok")} AS h FROM toks),
         |bits AS (SELECT doc_id, j, min(pw) AS pw, sum(c) AS sj FROM (
         |    SELECT doc_id, j, CAST(pow(2.0, j) AS BIGINT) AS pw,
         |      2 * ((h // CAST(pow(2.0, j) AS BIGINT)) % 2) - 1 AS c
         |    FROM th, (SELECT unnest(generate_series(0, 15)) AS j))
         |  GROUP BY 1, 2),
         |sim AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN sj > 0 THEN pw ELSE 0 END) AS BIGINT) AS k
         |  FROM bits GROUP BY 1),
         |skeys AS (SELECT k, min(doc_id) AS store_id FROM sim
         |  WHERE doc_id % 5 <> 4 GROUP BY 1),
         |delta AS (SELECT doc_id, k FROM sim WHERE doc_id % 5 = 4),
         |j AS (SELECT d.doc_id, d.k, s.store_id
         |  FROM delta d LEFT JOIN skeys s ON s.k = d.k),
         |f AS (SELECT *, min(doc_id) OVER (PARTITION BY k) AS first_delta
         |  FROM j)
         |SELECT doc_id,
         |  CASE WHEN store_id IS NOT NULL THEN 'dup_of_store'
         |       WHEN first_delta < doc_id THEN 'dup_in_delta'
         |       ELSE 'new' END AS status,
         |  coalesce(store_id, first_delta) AS keep_id
         |FROM f ORDER BY doc_id""".stripMargin,

    "d4b_simhash_pairs" -> {
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |th AS (SELECT doc_id, ${TextOps.md5Hash32("tok")} AS h FROM toks),
         |bits AS (SELECT doc_id, j, min(pw) AS pw, sum(c) AS sj FROM (
         |    SELECT doc_id, j, CAST(pow(2.0, j) AS BIGINT) AS pw,
         |      2 * ((h // CAST(pow(2.0, j) AS BIGINT)) % 2) - 1 AS c
         |    FROM th, (SELECT unnest(generate_series(0, 31)) AS j))
         |  GROUP BY 1, 2),
         |sh AS (SELECT doc_id,
         |    CAST(sum(CASE WHEN sj > 0 THEN pw ELSE 0 END) AS BIGINT) AS simhash
         |  FROM bits GROUP BY 1)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS BIGINT)
         |    AS hamming,
         |  CAST((CASE WHEN (a.simhash // 1) % 256 = (b.simhash // 1) % 256
         |             THEN 1 ELSE 0 END)
         |     + (CASE WHEN (a.simhash // 256) % 256 = (b.simhash // 256) % 256
         |             THEN 1 ELSE 0 END)
         |     + (CASE WHEN (a.simhash // 65536) % 256
         |              = (b.simhash // 65536) % 256 THEN 1 ELSE 0 END)
         |     + (CASE WHEN (a.simhash // 16777216) % 256
         |              = (b.simhash // 16777216) % 256 THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_shared_bands
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= 3
         |ORDER BY a_id, b_id""".stripMargin
    },

    "d5_langid" ->
      """WITH stops(cand, w) AS (VALUES
        |  ('w1','the'),('w1','a'),('w1','fast'),('w1','slow'),
        |  ('w2','spark'),('w2','query'),('w2','join'),('w2','table'),
        |  ('w3','data'),('w3','row'),('w3','column'),('w3','batch')),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |         FROM documents),
        |scores AS (SELECT doc_id, cand, count(*) AS score
        |           FROM toks JOIN stops ON tok = w GROUP BY 1, 2),
        |ranked AS (SELECT doc_id, cand AS pred, score,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY score DESC, cand ASC) AS rn
        |  FROM scores)
        |SELECT doc_id, pred, score FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    "d6_quality" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |agg AS (SELECT doc_id, count(*) AS n_tok,
        |    count(DISTINCT tok) AS n_uniq,
        |    count(CASE WHEN tok IN ('the','a','of','and') THEN 1 END) AS n_stop
        |  FROM toks GROUP BY 1)
        |SELECT d.doc_id, n_tok, n_uniq, n_stop,
        |  CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio,
        |  CAST(n_stop AS DOUBLE) / n_tok AS stop_ratio,
        |  CAST(n_chars - (n_tok - 1) AS DOUBLE) / n_tok AS mean_tok_len
        |FROM documents d JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "d7_token_count" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tot_tok,
        |  CAST(sum(len(string_split_regex(text, '[aeiou]+'))) AS BIGINT) AS tot_piece
        |FROM documents GROUP BY 1 ORDER BY source""".stripMargin,

    "d8_fingerprint" ->
      """SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp,
        |  count(*) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1 HAVING count(*) >= 1
        |ORDER BY fp""".stripMargin,

    "e1_knn_cosine" ->
      """WITH dims AS (
        |  SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |norms AS (SELECT vec_id,
        |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
        |  FROM dims GROUP BY 1),
        |q AS (SELECT vec_id AS q_id, pos, x AS qx FROM dims WHERE vec_id < 5),
        |dots AS (SELECT q_id, vec_id,
        |    sum(CAST(round(qx * x * 1e12) AS BIGINT)) AS dot
        |  FROM q JOIN dims USING (pos) WHERE vec_id <> q_id GROUP BY 1, 2),
        |sim AS (SELECT q_id, dots.vec_id AS vec_id,
        |    (dot / 1e12) / nullif(sqrt(qn.nrm / 1e12) * sqrt(cn.nrm / 1e12), 0.0) AS sim
        |  FROM dots
        |  JOIN norms qn ON qn.vec_id = dots.q_id
        |  JOIN norms cn ON cn.vec_id = dots.vec_id),
        |ranked AS (SELECT q_id, vec_id, sim,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY sim DESC, vec_id ASC) AS rank
        |  FROM sim)
        |SELECT q_id, rank, vec_id, round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    // Filtered brute force, independently: the predicate restricts
    // the candidate side only (queries are arbitrary vectors), and
    // the admissible top-5 is recomputed from scratch.
    "e8_filtered_ann" ->
      """WITH dims AS (
        |  SELECT vec_id, label, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, label, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |norms AS (SELECT vec_id,
        |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
        |  FROM dims GROUP BY 1),
        |q AS (SELECT vec_id AS q_id, pos, x AS qx FROM dims WHERE vec_id < 5),
        |cand AS (SELECT * FROM dims
        |  WHERE label IN (1, 2) AND vec_id % 5 <> 0),
        |dots AS (SELECT q_id, vec_id, label,
        |    sum(CAST(round(qx * x * 1e12) AS BIGINT)) AS dot
        |  FROM q JOIN cand USING (pos) GROUP BY 1, 2, 3),
        |sim AS (SELECT q_id, dots.vec_id AS vec_id, label,
        |    (dot / 1e12) / nullif(sqrt(qn.nrm / 1e12) * sqrt(cn.nrm / 1e12), 0.0) AS sim
        |  FROM dots
        |  JOIN norms qn ON qn.vec_id = dots.q_id
        |  JOIN norms cn ON cn.vec_id = dots.vec_id),
        |ranked AS (SELECT q_id, vec_id, label, sim,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY sim DESC, vec_id ASC) AS rank
        |  FROM sim)
        |SELECT q_id, rank, vec_id, label, round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // Independent replay of the three power-iteration rounds: the
    // same quantized projections (round(x·vq) per row), integer
    // column sums, and max|w| renormalization, unrolled as CTEs.
    // Every float op is DOUBLE in both engines (dims casts x; w/m is
    // BIGINT/BIGINT → DOUBLE division in both).
    "e9_power_iter" ->
      """WITH dims AS (
        |  SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |d1 AS (SELECT vec_id, sum(CAST(round(x * 1000000) AS BIGINT)) AS dd
        |       FROM dims GROUP BY 1),
        |w1 AS (SELECT pos, sum(CAST(round(x * dd) AS BIGINT)) AS w
        |       FROM dims JOIN d1 USING (vec_id) GROUP BY 1),
        |v1 AS (SELECT pos, CAST(round(w / (SELECT max(abs(w)) FROM w1)
        |         * 1000000) AS BIGINT) AS vq FROM w1),
        |d2 AS (SELECT vec_id, sum(CAST(round(x * vq) AS BIGINT)) AS dd
        |       FROM dims JOIN v1 USING (pos) GROUP BY 1),
        |w2 AS (SELECT pos, sum(CAST(round(x * dd) AS BIGINT)) AS w
        |       FROM dims JOIN d2 USING (vec_id) GROUP BY 1),
        |v2 AS (SELECT pos, CAST(round(w / (SELECT max(abs(w)) FROM w2)
        |         * 1000000) AS BIGINT) AS vq FROM w2),
        |d3 AS (SELECT vec_id, sum(CAST(round(x * vq) AS BIGINT)) AS dd
        |       FROM dims JOIN v2 USING (pos) GROUP BY 1),
        |w3 AS (SELECT pos, sum(CAST(round(x * dd) AS BIGINT)) AS w
        |       FROM dims JOIN d3 USING (vec_id) GROUP BY 1)
        |SELECT pos, CAST(w AS BIGINT) AS w_raw,
        |  CAST(round(w / (SELECT max(abs(w)) FROM w3) * 1000000) AS BIGINT)
        |    AS loading_q6
        |FROM w3 ORDER BY pos""".stripMargin,

    "e2_lsh_ann" -> {
      val bucketSql = (1 to 8).map(j =>
        s"(CASE WHEN embedding[$j] > 0.0 THEN ${math.pow(2, j - 1).toLong} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |dims AS (
         |  SELECT vec_id, bucket, pos, CAST(x AS DOUBLE) AS x FROM (
         |    SELECT vec_id, bucket, unnest(embedding) AS x,
         |      unnest(generate_series(0, len(embedding) - 1)) AS pos
         |    FROM b)),
         |norms AS (SELECT vec_id,
         |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
         |  FROM dims GROUP BY 1),
         |q AS (SELECT vec_id AS q_id, bucket AS q_bucket, pos, x AS qx
         |      FROM dims WHERE vec_id < 5),
         |dots AS (SELECT q_id, q_bucket, vec_id,
         |    sum(CAST(round(qx * x * 1e12) AS BIGINT)) AS dot
         |  FROM q JOIN dims ON q_bucket = bucket AND q.pos = dims.pos
         |  WHERE vec_id <> q_id GROUP BY 1, 2, 3),
         |sim AS (SELECT q_id, q_bucket AS bucket, dots.vec_id AS vec_id,
         |    (dot / 1e12) / nullif(sqrt(qn.nrm / 1e12) * sqrt(cn.nrm / 1e12), 0.0) AS sim
         |  FROM dots
         |  JOIN norms qn ON qn.vec_id = dots.q_id
         |  JOIN norms cn ON cn.vec_id = dots.vec_id),
         |ranked AS (SELECT q_id, bucket, vec_id, sim,
         |    row_number() OVER (PARTITION BY q_id
         |                       ORDER BY sim DESC, vec_id ASC) AS rank
         |  FROM sim)
         |SELECT q_id, bucket, rank, vec_id, round(sim, 6) AS sim
         |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },

    // e4's fixed-codebook assignment CTEs + seed majority + rollup;
    // same argmin tie-break (dist ASC, cid ASC).
    "e13_pseudo_label" ->
      """WITH cdims AS (
        |  SELECT cid, j,
        |    CAST((((cid*64 + j) * 2654435761) % 2147483648) % 1025 - 512
        |      AS DOUBLE) / 1024.0 AS c
        |  FROM (SELECT unnest(generate_series(0, 15)) AS cid),
        |       (SELECT unnest(generate_series(0, 63)) AS j)),
        |cnorm AS (SELECT cid, sum(CAST(round(c * c * 1e12) AS BIGINT)) AS nrmc
        |  FROM cdims GROUP BY 1),
        |dims AS (
        |  SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |norms AS (SELECT vec_id,
        |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
        |  FROM dims GROUP BY 1),
        |cdots AS (SELECT vec_id, cid,
        |    sum(CAST(round(x * c * 1e12) AS BIGINT)) AS dotc
        |  FROM dims JOIN cdims ON dims.pos = cdims.j GROUP BY 1, 2),
        |assigned AS (SELECT vec_id, cid FROM (
        |    SELECT d.vec_id, d.cid,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY n.nrm - 2*d.dotc + cn.nrmc ASC, d.cid ASC) AS rn
        |    FROM cdots d JOIN norms n ON n.vec_id = d.vec_id
        |    JOIN cnorm cn ON cn.cid = d.cid)
        |  WHERE rn = 1),
        |lab AS (SELECT a.vec_id, a.cid, e.label
        |  FROM assigned a JOIN embeddings e USING (vec_id)),
        |cell AS (SELECT cid, label AS pseudo FROM (
        |    SELECT cid, label,
        |      row_number() OVER (PARTITION BY cid
        |        ORDER BY count(*) DESC, label ASC) AS rn
        |    FROM lab WHERE vec_id % 7 = 0 GROUP BY cid, label)
        |  WHERE rn = 1),
        |agg AS (SELECT l.cid, c.pseudo,
        |    CAST(sum(CASE WHEN l.vec_id % 7 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_seed,
        |    CAST(sum(CASE WHEN l.vec_id % 7 <> 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_rest,
        |    CAST(sum(CASE WHEN l.vec_id % 7 <> 0 AND l.label = c.pseudo
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
        |  FROM lab l JOIN cell c USING (cid) GROUP BY 1, 2)
        |SELECT CAST(cid AS INTEGER) AS cid, pseudo, n_seed, n_rest,
        |  n_correct,
        |  CASE WHEN n_rest > 0 THEN (n_correct * 1000000) // n_rest
        |    ELSE 0 END AS acc_ppm
        |FROM agg ORDER BY cid""".stripMargin,

    // Both arms rebuilt from the e1/e2 oracle forms, intersected and
    // rolled up — same integerized cosine, same tie-break ranking.
    "e12_recall_eval" -> {
      val bucketSql = (1 to 8).map(j =>
        s"(CASE WHEN embedding[$j] > 0.0 THEN ${math.pow(2, j - 1).toLong} ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings),
         |dims AS (
         |  SELECT vec_id, bucket, pos, CAST(x AS DOUBLE) AS x FROM (
         |    SELECT vec_id, bucket, unnest(embedding) AS x,
         |      unnest(generate_series(0, len(embedding) - 1)) AS pos
         |    FROM b)),
         |norms AS (SELECT vec_id,
         |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
         |  FROM dims GROUP BY 1),
         |q AS (SELECT vec_id AS q_id, bucket AS q_bucket, pos, x AS qx
         |      FROM dims WHERE vec_id < 5),
         |edots AS (SELECT q_id, vec_id,
         |    sum(CAST(round(qx * x * 1e12) AS BIGINT)) AS dot
         |  FROM q JOIN dims ON q.pos = dims.pos
         |  WHERE vec_id <> q_id GROUP BY 1, 2),
         |esim AS (SELECT q_id, edots.vec_id AS vec_id,
         |    (dot / 1e12) / nullif(sqrt(qn.nrm / 1e12) * sqrt(cn.nrm / 1e12), 0.0) AS sim
         |  FROM edots
         |  JOIN norms qn ON qn.vec_id = edots.q_id
         |  JOIN norms cn ON cn.vec_id = edots.vec_id),
         |exact AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY sim DESC, vec_id ASC) AS rank
         |    FROM esim) WHERE rank <= 5),
         |adots AS (SELECT q_id, vec_id,
         |    sum(CAST(round(qx * x * 1e12) AS BIGINT)) AS dot
         |  FROM q JOIN dims ON q_bucket = bucket AND q.pos = dims.pos
         |  WHERE vec_id <> q_id GROUP BY 1, 2),
         |asim AS (SELECT q_id, adots.vec_id AS vec_id,
         |    (dot / 1e12) / nullif(sqrt(qn.nrm / 1e12) * sqrt(cn.nrm / 1e12), 0.0) AS sim
         |  FROM adots
         |  JOIN norms qn ON qn.vec_id = adots.q_id
         |  JOIN norms cn ON cn.vec_id = adots.vec_id),
         |ann AS (SELECT q_id, vec_id, 1 AS hit FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id
         |                         ORDER BY sim DESC, vec_id ASC) AS rank
         |    FROM asim) WHERE rank <= 5)
         |SELECT e.q_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(coalesce(a.hit, 0)) AS BIGINT) AS hits,
         |  (CAST(sum(coalesce(a.hit, 0)) AS BIGINT) * 1000000)
         |    // CAST(count(*) AS BIGINT) AS recall_ppm
         |FROM exact e LEFT JOIN ann a
         |  ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY 1 ORDER BY e.q_id""".stripMargin
    },

    "d9_embed_neardup" -> {
      // Same adaptive bucket width as the Spark side:
      // nbits = clamp(ceil(log2(N/4)), 8, 16), bucket = sign bits of
      // the first nbits dims (DuckDB list comprehension).
      s"""WITH nv AS (SELECT LEAST(16, GREATEST(8,
         |    CAST(ceil(log2(count(*) / 4.0)) AS INT))) AS nbits FROM embeddings),
         |b AS (SELECT vec_id, embedding,
         |    CAST(list_sum([CASE WHEN embedding[j] > 0.0
         |        THEN CAST(2**(j-1) AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |      FOR j IN range(1, nbits + 1)]) AS BIGINT) AS bucket
         |  FROM embeddings, nv),
         |dims AS (
         |  SELECT vec_id, bucket, pos, CAST(x AS DOUBLE) AS x FROM (
         |    SELECT vec_id, bucket, unnest(embedding) AS x,
         |      unnest(generate_series(0, len(embedding) - 1)) AS pos
         |    FROM b)),
         |norms AS (SELECT vec_id,
         |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
         |  FROM dims GROUP BY 1),
         |dots AS (SELECT da.vec_id AS a_id, db.vec_id AS b_id,
         |    sum(CAST(round(da.x * db.x * 1e12) AS BIGINT)) AS dot
         |  FROM dims da JOIN dims db
         |    ON da.bucket = db.bucket AND da.pos = db.pos
         |    AND da.vec_id < db.vec_id
         |  GROUP BY 1, 2),
         |sim AS (SELECT a_id, b_id,
         |    (dot / 1e12) / nullif(sqrt(na.nrm / 1e12) * sqrt(nb.nrm / 1e12), 0.0) AS sim
         |  FROM dots
         |  JOIN norms na ON na.vec_id = a_id
         |  JOIN norms nb ON nb.vec_id = b_id)
         |SELECT a_id, b_id, round(sim, 6) AS sim FROM sim
         |WHERE sim > 0.4 ORDER BY a_id, b_id""".stripMargin
    },

    // Independent triangle replay on the same candidate machinery as
    // the d9 oracle (adaptive sign-LSH bucket, integerized dots) plus
    // the engine's bucket-population sub-cell salt: mirror the a<b
    // dot pairs into both directions, rank top-3 with the identical
    // (sim DESC NULLS LAST, v) key, keep mutual edges, then
    // wedge-join + EXISTS for closure.
    "d31_knn_triangles" -> {
      s"""WITH nv AS (SELECT LEAST(16, GREATEST(8,
         |    CAST(ceil(log2(count(*) / 4.0)) AS INT))) AS nbits FROM embeddings),
         |b0 AS (SELECT vec_id, embedding,
         |    CAST(list_sum([CASE WHEN embedding[j] > 0.0
         |        THEN CAST(2**(j-1) AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |      FOR j IN range(1, nbits + 1)]) AS BIGINT) AS bucket
         |  FROM embeddings, nv),
         |bc AS (SELECT bucket, count(*) AS c FROM b0 GROUP BY 1),
         |b AS (SELECT vec_id, embedding, b0.bucket,
         |    (${TextOps.md5Hash32("CAST(vec_id AS VARCHAR)")})
         |      % ((c + 127) // 128) AS sub
         |  FROM b0 JOIN bc ON bc.bucket = b0.bucket),
         |dims AS (
         |  SELECT vec_id, bucket, sub, pos, CAST(x AS DOUBLE) AS x FROM (
         |    SELECT vec_id, bucket, sub, unnest(embedding) AS x,
         |      unnest(generate_series(0, len(embedding) - 1)) AS pos
         |    FROM b)),
         |norms AS (SELECT vec_id,
         |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
         |  FROM dims GROUP BY 1),
         |dots AS (SELECT da.vec_id AS a_id, db.vec_id AS b_id,
         |    sum(CAST(round(da.x * db.x * 1e12) AS BIGINT)) AS dot
         |  FROM dims da JOIN dims db
         |    ON da.bucket = db.bucket AND da.sub = db.sub AND da.pos = db.pos
         |    AND da.vec_id < db.vec_id
         |  GROUP BY 1, 2),
         |sims AS (SELECT a_id, b_id,
         |    (dot / 1e12) / nullif(sqrt(na.nrm / 1e12) * sqrt(nb.nrm / 1e12), 0.0) AS sim
         |  FROM dots
         |  JOIN norms na ON na.vec_id = a_id
         |  JOIN norms nb ON nb.vec_id = b_id),
         |dir AS (
         |  SELECT u, v FROM (
         |    SELECT u, v,
         |      row_number() OVER (PARTITION BY u
         |        ORDER BY sim DESC NULLS LAST, v) AS rn
         |    FROM (SELECT a_id AS u, b_id AS v, sim FROM sims
         |          UNION ALL SELECT b_id, a_id, sim FROM sims))
         |  WHERE rn <= 3),
         |mutual AS (
         |  SELECT e1.u AS u, e1.v AS v FROM dir e1
         |  JOIN dir e2 ON e1.u = e2.v AND e1.v = e2.u
         |  WHERE e1.u < e1.v),
         |deg AS (SELECT vec_id, count(*) AS deg FROM (
         |    SELECT u AS vec_id FROM mutual
         |    UNION ALL SELECT v FROM mutual) GROUP BY 1),
         |tri AS (
         |  SELECT m1.u AS x, m1.v AS y, m2.v AS z
         |  FROM mutual m1 JOIN mutual m2
         |    ON m1.u = m2.u AND m1.v < m2.v
         |  WHERE EXISTS (SELECT 1 FROM mutual m3
         |                WHERE m3.u = m1.v AND m3.v = m2.v)),
         |ntri AS (SELECT vec_id, count(*) AS n_tri FROM (
         |    SELECT x AS vec_id FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri) GROUP BY 1)
         |SELECT d.vec_id, d.deg,
         |  CAST(coalesce(n.n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(CASE WHEN d.deg >= 2
         |    THEN (coalesce(n.n_tri, 0) * 1000000) // ((d.deg * (d.deg - 1)) // 2)
         |    ELSE 0 END AS BIGINT) AS cc_q6
         |FROM deg d LEFT JOIN ntri n USING (vec_id)
         |ORDER BY d.vec_id""".stripMargin
    },

    "d10_corpus_pipeline" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |stats AS (SELECT doc_id, count(*) AS n_tok,
        |    count(DISTINCT tok) AS n_uniq,
        |    count(CASE WHEN tok IN ('the','a','fast','slow') THEN 1 END) AS s1,
        |    count(CASE WHEN tok IN ('spark','query','join','table') THEN 1 END) AS s2,
        |    count(CASE WHEN tok IN ('data','row','column','batch') THEN 1 END) AS s3
        |  FROM toks GROUP BY 1),
        |gated AS (SELECT d.doc_id, d.source, d.text, n_tok,
        |    CASE WHEN s1 >= s2 AND s1 >= s3 THEN 'w1'
        |         WHEN s2 >= s3 THEN 'w2' ELSE 'w3' END AS lang
        |  FROM documents d JOIN stats USING (doc_id)
        |  WHERE n_tok >= 8 AND CAST(n_uniq AS DOUBLE) / n_tok > 0.3
        |    AND s1 + s2 + s3 >= 1),
        |deduped AS (SELECT *,
        |    row_number() OVER (PARTITION BY
        |        md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
        |      ORDER BY doc_id) AS rn
        |  FROM gated)
        |SELECT source, lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(n_tok) AS BIGINT) AS tot_tok
        |FROM deduped GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,

    "e4_ivf_fixed" ->
      """WITH cdims AS (
        |  SELECT cid, j,
        |    CAST((((cid*64 + j) * 2654435761) % 2147483648) % 1025 - 512
        |      AS DOUBLE) / 1024.0 AS c
        |  FROM (SELECT unnest(generate_series(0, 15)) AS cid),
        |       (SELECT unnest(generate_series(0, 63)) AS j)),
        |cnorm AS (SELECT cid, sum(CAST(round(c * c * 1e12) AS BIGINT)) AS nrmc
        |  FROM cdims GROUP BY 1),
        |dims AS (
        |  SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |norms AS (SELECT vec_id,
        |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
        |  FROM dims GROUP BY 1),
        |cdots AS (SELECT vec_id, cid,
        |    sum(CAST(round(x * c * 1e12) AS BIGINT)) AS dotc
        |  FROM dims JOIN cdims ON dims.pos = cdims.j GROUP BY 1, 2),
        |assigned AS (SELECT vec_id, cid FROM (
        |    SELECT d.vec_id, d.cid,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY n.nrm - 2*d.dotc + cn.nrmc ASC, d.cid ASC) AS rn
        |    FROM cdots d JOIN norms n ON n.vec_id = d.vec_id
        |    JOIN cnorm cn ON cn.cid = d.cid)
        |  WHERE rn = 1),
        |probes AS (SELECT q_id, cid FROM (
        |    SELECT d.vec_id AS q_id, d.cid,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY n.nrm - 2*d.dotc + cn.nrmc ASC, d.cid ASC) AS rn
        |    FROM cdots d JOIN norms n ON n.vec_id = d.vec_id
        |    JOIN cnorm cn ON cn.cid = d.cid
        |    WHERE d.vec_id < 5)
        |  WHERE rn <= 4),
        |cands AS (SELECT p.q_id, a.vec_id, a.cid
        |  FROM probes p JOIN assigned a ON a.cid = p.cid
        |  WHERE a.vec_id <> p.q_id),
        |qdims AS (SELECT vec_id AS q_id, pos, x AS qx FROM dims WHERE vec_id < 5),
        |dots AS (SELECT c.q_id, c.vec_id, c.cid,
        |    sum(CAST(round(qx * x * 1e12) AS BIGINT)) AS dot
        |  FROM cands c
        |  JOIN qdims q ON q.q_id = c.q_id
        |  JOIN dims v ON v.vec_id = c.vec_id AND v.pos = q.pos
        |  GROUP BY 1, 2, 3),
        |sim AS (SELECT q_id, cid, dots.vec_id AS vec_id,
        |    (dot / 1e12) / nullif(sqrt(qn.nrm / 1e12) * sqrt(cn2.nrm / 1e12), 0.0) AS sim
        |  FROM dots
        |  JOIN norms qn ON qn.vec_id = dots.q_id
        |  JOIN norms cn2 ON cn2.vec_id = dots.vec_id),
        |ranked AS (SELECT q_id, cid, vec_id, sim,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY sim DESC, vec_id ASC) AS rank
        |  FROM sim)
        |SELECT q_id, CAST(cid AS INTEGER) AS cid, CAST(rank AS INTEGER) AS rank,
        |  vec_id, round(sim, 6) AS sim
        |FROM ranked WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    // e5's oracle carries the full PQ training chain: sampled init →
    // one Lloyd round (integer component sums, mean quantized through
    // REAL exactly like the Spark float cast) → encode/LUT/shortlist/
    // rerank — every stage bit-exact (the e3 k-means precedent).
    "e5_pq_adc" ->
      """WITH dims AS (SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |dd AS (SELECT vec_id, pos // 8 AS m, pos % 8 AS j, x FROM dims),
        |cd0 AS (SELECT vec_id AS c, m, j, x AS cv FROM dd WHERE vec_id < 16),
        |cn0 AS (SELECT m, c,
        |    CAST(sum(CAST(round(cv * cv * 1e12) AS BIGINT)) AS BIGINT) AS nrmc
        |  FROM cd0 GROUP BY 1, 2),
        |snorm AS (SELECT vec_id, m,
        |    CAST(sum(CAST(round(x * x * 1e12) AS BIGINT)) AS BIGINT) AS nrm_s
        |  FROM dd GROUP BY 1, 2),
        |fnorm AS (SELECT vec_id,
        |    CAST(sum(CAST(round(x * x * 1e12) AS BIGINT)) AS BIGINT) AS nrm
        |  FROM dims GROUP BY 1),
        |sdot0 AS (SELECT dd.vec_id, dd.m, cd0.c,
        |    CAST(sum(CAST(round(x * cv * 1e12) AS BIGINT)) AS BIGINT) AS dotc
        |  FROM dd JOIN cd0 ON cd0.m = dd.m AND cd0.j = dd.j
        |  GROUP BY 1, 2, 3),
        |a1 AS (SELECT vec_id, m, c FROM (
        |    SELECT d.vec_id, d.m, d.c,
        |      row_number() OVER (PARTITION BY d.vec_id, d.m
        |        ORDER BY n.nrm_s - 2*d.dotc + cn0.nrmc ASC, d.c ASC) AS rn
        |    FROM sdot0 d JOIN snorm n ON n.vec_id = d.vec_id AND n.m = d.m
        |    JOIN cn0 ON cn0.m = d.m AND cn0.c = d.c)
        |  WHERE rn = 1),
        |cd AS (SELECT a1.m, a1.c, dd.j,
        |    CAST(CAST(CAST(sum(CAST(round(x * 1e6) AS BIGINT)) AS DOUBLE) / 1e6
        |      / CAST(count(*) AS DOUBLE) AS REAL) AS DOUBLE) AS cv
        |  FROM dd JOIN a1 ON a1.vec_id = dd.vec_id AND a1.m = dd.m
        |  GROUP BY 1, 2, 3),
        |cn AS (SELECT m, c,
        |    CAST(sum(CAST(round(cv * cv * 1e12) AS BIGINT)) AS BIGINT) AS nrmc
        |  FROM cd GROUP BY 1, 2),
        |sdot AS (SELECT dd.vec_id, dd.m, cd.c,
        |    CAST(sum(CAST(round(x * cv * 1e12) AS BIGINT)) AS BIGINT) AS dotc
        |  FROM dd JOIN cd ON cd.m = dd.m AND cd.j = dd.j
        |  GROUP BY 1, 2, 3),
        |codes AS (SELECT vec_id, m, c FROM (
        |    SELECT d.vec_id, d.m, d.c,
        |      row_number() OVER (PARTITION BY d.vec_id, d.m
        |        ORDER BY n.nrm_s - 2*d.dotc + cn.nrmc ASC, d.c ASC) AS rn
        |    FROM sdot d JOIN snorm n ON n.vec_id = d.vec_id AND n.m = d.m
        |    JOIN cn ON cn.m = d.m AND cn.c = d.c)
        |  WHERE rn = 1),
        |lut AS (SELECT d.vec_id AS q_id, d.m, d.c,
        |    n.nrm_s - 2*d.dotc + cn.nrmc AS qdist
        |  FROM sdot d JOIN snorm n ON n.vec_id = d.vec_id AND n.m = d.m
        |  JOIN cn ON cn.m = d.m AND cn.c = d.c
        |  WHERE d.vec_id < 5),
        |sc AS (SELECT q_id, codes.vec_id AS vec_id,
        |    CAST(sum(qdist) AS BIGINT) AS adist
        |  FROM codes JOIN lut ON lut.m = codes.m AND lut.c = codes.c
        |  WHERE codes.vec_id <> lut.q_id
        |  GROUP BY 1, 2),
        |shortlist AS (SELECT q_id, vec_id, adist FROM (
        |    SELECT q_id, vec_id, adist,
        |      row_number() OVER (PARTITION BY q_id
        |                         ORDER BY adist ASC, vec_id ASC) AS arank
        |    FROM sc) WHERE arank <= 50),
        |qdot AS (SELECT a.vec_id AS q_id, b.vec_id,
        |    CAST(sum(CAST(round(a.x * b.x * 1e12) AS BIGINT)) AS BIGINT) AS dote
        |  FROM dims a JOIN dims b ON a.pos = b.pos
        |  WHERE a.vec_id < 5 GROUP BY 1, 2),
        |rr AS (SELECT s.q_id, s.vec_id, s.adist,
        |    qn.nrm - 2*qd.dote + vn.nrm AS edist
        |  FROM shortlist s
        |  JOIN qdot qd ON qd.q_id = s.q_id AND qd.vec_id = s.vec_id
        |  JOIN fnorm qn ON qn.vec_id = s.q_id
        |  JOIN fnorm vn ON vn.vec_id = s.vec_id),
        |rk AS (SELECT q_id, vec_id, adist, edist,
        |    row_number() OVER (PARTITION BY q_id
        |                       ORDER BY edist ASC, vec_id ASC) AS rank
        |  FROM rr)
        |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, adist, edist
        |FROM rk WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,

    "m1_binary_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        |  substr(md5(text), 1, 8) AS head
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d18_pii_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(the|data|spark|query)\b'))
        |    AS INTEGER) AS n_hits,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_num,
        |  md5(regexp_replace(text, '\b(the|data|spark|query)\b',
        |    '[REDACTED]', 'g')) AS scrub_md5,
        |  CAST(length(regexp_replace(text, '\b(the|data|spark|query)\b',
        |    '[REDACTED]', 'g')) AS INTEGER) AS len_after
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d19_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
        |pos AS (SELECT doc_id, l,
        |    unnest(generate_series(1, greatest(len(l) - 2, 0))) AS i FROM toks),
        |tg AS (SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS tg
        |       FROM pos),
        |bench AS (SELECT DISTINCT tg FROM tg WHERE doc_id % 50 = 0),
        |cnt AS (SELECT doc_id, count(*) AS n_tg FROM tg
        |        WHERE doc_id % 50 <> 0 GROUP BY 1),
        |ov AS (SELECT t.doc_id, count(*) AS n_overlap
        |  FROM tg t JOIN bench b USING (tg) WHERE t.doc_id % 50 <> 0 GROUP BY 1)
        |SELECT c.doc_id, c.n_tg, o.n_overlap,
        |  round(CAST(o.n_overlap AS DOUBLE) / c.n_tg, 6) AS ratio,
        |  (o.n_overlap * 10 >= c.n_tg * 8) AS contaminated
        |FROM cnt c JOIN ov o ON o.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    "d20_stratified_sample" ->
      """WITH w AS (SELECT * FROM (VALUES ('en', 9), ('de', 6), ('es', 4),
        |    ('fr', 3), ('zh', 2)) AS t(lang, rate)),
        |gated AS (SELECT d.doc_id, d.lang, d.source,
        |    ((d.doc_id * 2654435761) % 2147483648) % 10 AS h
        |  FROM documents d JOIN w ON w.lang = d.lang
        |  WHERE ((d.doc_id * 2654435761) % 2147483648) % 10 < w.rate),
        |capped AS (SELECT doc_id, lang, source, h,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM gated)
        |SELECT doc_id, lang, source, h, CAST(rn AS INTEGER) AS rn
        |FROM capped WHERE rn <= 40 ORDER BY doc_id""".stripMargin,

    // e3's FULL training chain in SQL: k-means init + two Lloyd rounds
    // + probe-limited search. The one subtle piece is the assignment
    // distance — L2SqFD sums (x−c)² left-to-right in doubles, so the
    // oracle spells the 64-term addition chain out explicitly (SQL +
    // is left-associative ⇒ identical IEEE rounding sequence), while
    // centroid updates are order-free integer sums (Σ round(x·1e6) as
    // BIGINT, then the same two divisions) — every intermediate is
    // bit-reproducible across engines.
    "e3_ivf_ann" -> {
      def chain(e: String, c: String): String =
        (1 to 64).map(j =>
          s"((CAST($e[$j] AS DOUBLE) - $c[$j]) * (CAST($e[$j] AS DOUBLE) - $c[$j]))")
          .mkString("(", " + ", ")")
      def assignSql(cents: String, filter: String = ""): String =
        s"""(SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${chain("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
           |    FROM embeddings e, $cents c$filter) WHERE rn = 1)""".stripMargin
      def updateSql(a: String): String =
        s"""(SELECT $a.cid, j.j AS j,
           |    sum(CAST(round(CAST(e.embedding[j.j] AS DOUBLE) * 1e6) AS BIGINT)) AS s,
           |    count(*) AS n
           |  FROM embeddings e JOIN $a ON $a.vec_id = e.vec_id,
           |    (SELECT unnest(generate_series(1, 64)) AS j) j
           |  GROUP BY 1, 2)""".stripMargin
      val centSql =
        "(SELECT cid, list(CAST(s AS DOUBLE) / 1e6 / CAST(n AS DOUBLE) ORDER BY j) AS cvec FROM %s GROUP BY 1)"
      s"""WITH c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
         |a1 AS ${assignSql("c0")},
         |u1 AS ${updateSql("a1")},
         |c1 AS ${centSql.format("u1")},
         |a2 AS ${assignSql("c1")},
         |u2 AS ${updateSql("a2")},
         |c2 AS ${centSql.format("u2")},
         |af AS ${assignSql("c2")},
         |dims AS (SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
         |    SELECT vec_id, unnest(embedding) AS x,
         |      unnest(generate_series(0, len(embedding) - 1)) AS pos FROM embeddings)),
         |norms AS (SELECT vec_id, sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
         |  FROM dims GROUP BY 1),
         |probes AS (SELECT q_id, cid FROM (
         |    SELECT e.vec_id AS q_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${chain("e.embedding", "c.cvec")} ASC, c.cid ASC) AS rn
         |    FROM embeddings e, c2 c WHERE e.vec_id < 5) WHERE rn <= 4),
         |cands AS (SELECT DISTINCT p.q_id, a.vec_id
         |  FROM probes p JOIN af a ON a.cid = p.cid WHERE a.vec_id <> p.q_id),
         |dots AS (SELECT c.q_id, c.vec_id,
         |    sum(CAST(round(qd.x * vd.x * 1e12) AS BIGINT)) AS dot
         |  FROM cands c JOIN dims qd ON qd.vec_id = c.q_id
         |  JOIN dims vd ON vd.vec_id = c.vec_id AND vd.pos = qd.pos
         |  GROUP BY 1, 2),
         |sims AS (SELECT q_id, dots.vec_id,
         |    (dot / 1e12) / nullif(sqrt(qn.nrm / 1e12) * sqrt(vn.nrm / 1e12), 0.0) AS sim
         |  FROM dots JOIN norms qn ON qn.vec_id = dots.q_id
         |  JOIN norms vn ON vn.vec_id = dots.vec_id),
         |rk AS (SELECT q_id, vec_id, sim, row_number() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, vec_id ASC) AS rank FROM sims)
         |SELECT q_id, CAST(rank AS INTEGER) AS rank, vec_id, round(sim, 6) AS sim
         |FROM rk WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
    },

    "d21_seq_packing" ->
      """WITH t AS (SELECT doc_id, source,
        |    len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tok AS off FROM t)
        |SELECT source, CAST(off // 256 AS BIGINT) AS bin, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS tot_tok,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,

    "d22_winnowing" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l
        |              FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |pos AS (SELECT doc_id, l,
        |    unnest(generate_series(1, greatest(len(l) - 2, 0))) AS i FROM toks),
        |g AS (SELECT doc_id, i,
        |    ${graft.text.TextOps.md5Hash32("array_to_string(l[i:i+2], ' ')")} AS gh,
        |    len(l) - 2 AS n_grams FROM pos),
        |m AS (SELECT doc_id, i, n_grams,
        |    min(gh) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |  FROM g),
        |fp AS (SELECT DISTINCT doc_id, n_grams, fp FROM m WHERE i <= n_grams - 3)
        |SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams, count(*) AS n_fp,
        |  min(fp) AS min_fp, max(fp) AS max_fp
        |FROM fp GROUP BY 1, 2 ORDER BY doc_id""".stripMargin,

    "e7_random_projection" ->
      """WITH dims AS (SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |proj AS (SELECT r, j,
        |    CASE ((r*64 + j) * 2654435761) % 2147483648 % 6
        |      WHEN 0 THEN 1 WHEN 1 THEN -1 ELSE 0 END AS sgn
        |  FROM (SELECT unnest(generate_series(0, 15)) AS r),
        |       (SELECT unnest(generate_series(0, 63)) AS j))
        |SELECT vec_id, CAST(r AS INTEGER) AS r,
        |  CAST(sum(CAST(round(x * sgn * 1e12) AS BIGINT)) AS BIGINT) AS y_i12,
        |  CAST(sum(CAST(round(x * sgn * 1e12) AS BIGINT)) AS BIGINT) / 1e12 AS y
        |FROM dims JOIN proj ON proj.j = dims.pos
        |GROUP BY 1, 2 ORDER BY vec_id, r""".stripMargin,

    "e6_semdedup" ->
      """WITH cdims AS (
        |  SELECT cid, j,
        |    CAST((((cid*64 + j) * 2654435761) % 2147483648) % 1025 - 512
        |      AS DOUBLE) / 1024.0 AS c
        |  FROM (SELECT unnest(generate_series(0, 15)) AS cid),
        |       (SELECT unnest(generate_series(0, 63)) AS j)),
        |cnorm AS (SELECT cid, sum(CAST(round(c * c * 1e12) AS BIGINT)) AS nrmc
        |  FROM cdims GROUP BY 1),
        |dims AS (
        |  SELECT vec_id, pos, CAST(x AS DOUBLE) AS x FROM (
        |    SELECT vec_id, unnest(embedding) AS x,
        |      unnest(generate_series(0, len(embedding) - 1)) AS pos
        |    FROM embeddings)),
        |norms AS (SELECT vec_id,
        |    sum(CAST(round(x * x * 1e12) AS BIGINT)) AS nrm
        |  FROM dims GROUP BY 1),
        |cdots AS (SELECT vec_id, cid,
        |    sum(CAST(round(x * c * 1e12) AS BIGINT)) AS dotc
        |  FROM dims JOIN cdims ON dims.pos = cdims.j GROUP BY 1, 2),
        |assigned AS (SELECT vec_id, cid FROM (
        |    SELECT d.vec_id, d.cid,
        |      row_number() OVER (PARTITION BY d.vec_id
        |        ORDER BY n.nrm - 2*d.dotc + cn.nrmc ASC, d.cid ASC) AS rn
        |    FROM cdots d JOIN norms n ON n.vec_id = d.vec_id
        |    JOIN cnorm cn ON cn.cid = d.cid)
        |  WHERE rn = 1),
        |csz AS (SELECT cid, count(*) AS csize FROM assigned GROUP BY 1),
        |pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.cid
        |  FROM assigned a JOIN assigned b
        |  ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |pd AS (SELECT p.va, p.vb,
        |    sum(CAST(round(da.x * db.x * 1e12) AS BIGINT)) AS dot
        |  FROM pairs p JOIN dims da ON da.vec_id = p.va
        |  JOIN dims db ON db.vec_id = p.vb AND db.pos = da.pos
        |  GROUP BY 1, 2),
        |dups AS (SELECT vb AS vec_id2, min(va) AS rep
        |  FROM pd JOIN norms na ON na.vec_id = pd.va
        |  JOIN norms nb ON nb.vec_id = pd.vb
        |  WHERE (dot / 1e12) /
        |    nullif(sqrt(na.nrm / 1e12) * sqrt(nb.nrm / 1e12), 0.0) >= 0.45
        |  GROUP BY 1)
        |SELECT a.vec_id, CAST(a.cid AS INTEGER) AS cid, s.csize,
        |  (d.rep IS NOT NULL) AS is_dup,
        |  coalesce(d.rep, a.vec_id) AS keep_id
        |FROM assigned a JOIN csz s ON s.cid = a.cid
        |LEFT JOIN dups d ON d.vec_id2 = a.vec_id
        |ORDER BY a.vec_id""".stripMargin
  )
}
