package graft

import scala.reflect.ClassTag
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, MergingSessionsExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, REPARTITION_BY_NUM, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.window.WindowExec
import graft.plans.AsOfJoin.AsOfJoinExec

/** The plan-shape contracts of the declared queries: per query, the
  * checks its AQE-final executed physical plan must pass at sf0.001.
  * A check sees every node `SparkSpec.collectAll` reaches (through
  * query stages, reused exchanges and subqueries; a reused subtree
  * counts once per use). QueriesSmokeSpec applies a query's row right
  * after executing it. Queries without a row either return a plan that
  * shows nothing of their work (driver loops, fits and streams run
  * their jobs while the frame is built) or have no checkable claim. */
object PlanShapes {

  /** One named predicate over the plan's nodes. */
  final case class Check(name: String, holds: Seq[SparkPlan] => Boolean)

  private def count[T <: SparkPlan](nodes: Seq[SparkPlan])(implicit t: ClassTag[T]): Int =
    nodes.count(t.runtimeClass.isInstance)
  private def nameOf[T](implicit t: ClassTag[T]): String = t.runtimeClass.getSimpleName

  def has[T <: SparkPlan: ClassTag]: Check = Check(s"has ${nameOf[T]}", count[T](_) > 0)
  def lacks[T <: SparkPlan: ClassTag]: Check = Check(s"lacks ${nameOf[T]}", count[T](_) == 0)
  def exactly[T <: SparkPlan: ClassTag](n: Int): Check =
    Check(s"exactly $n ${nameOf[T]}", count[T](_) == n)

  val noJoin: Check = lacks[BaseJoinExec]

  /** No Exchange before the output sort: every shuffle is a global
    * sort's range partitioning. */
  val sortExchangeOnly: Check = Check("every ShuffleExchangeExec is range partitioning",
    _.forall {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => true
    })

  private def isRange(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
    case _ => false
  }

  /** A one-partition hand-off in either form: an `Exchange
    * SinglePartition` gather, or the one-task coalesce that
    * [[graft.core.SmallExchange]] puts in its place when the input is
    * under AQE's one-partition target (as nearly every sf0.001 input
    * is). */
  def isGather(p: SparkPlan): Boolean = p match {
    case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
    case c: CoalesceExec => c.numPartitions == 1
    case _ => false
  }

  /** Whether the node a sort reads, looked for through codegen input,
    * shuffle reads and query stages, satisfies `pred`. */
  private def sortReads(p: SparkPlan)(pred: SparkPlan => Boolean): Boolean = p match {
    case i: InputAdapter => sortReads(i.child)(pred)
    case r: AQEShuffleReadExec => sortReads(r.child)(pred)
    case q: ShuffleQueryStageExec => sortReads(q.plan)(pred)
    case e => pred(e)
  }

  /** A sort input that is the output sort's range exchange or the
    * one-task coalesce in its place. */
  private def rangeOrCoalesce(p: SparkPlan): Boolean = sortReads(p) {
    case c: CoalesceExec => c.numPartitions == 1
    case e => isRange(e)
  }

  /** `n` shuffles before the output sort, and the output sort in
    * either form: a global sort over its range exchange, or over a
    * one-task coalesce. */
  def shufflesThenSort(n: Int): Check =
    Check(s"exactly $n ShuffleExchangeExec before a global sort over a range exchange or a one-task coalesce",
      nodes => nodes.count(p => p.isInstanceOf[ShuffleExchangeExec] && !isRange(p)) == n &&
        nodes.count(isRange) <= 1 && nodes.exists {
          case s: SortExec => s.global && rangeOrCoalesce(s.child)
          case _ => false
        })

  /** A per-key fan-out, then a gathered sort: the output sort reads an
    * `Exchange SinglePartition`, and the plan's only range exchange is
    * the `repartitionByRange(n)` fan-out (not a sort's). */
  val fanOutThenGatheredSort: Check = Check(
    "a global sort over a SinglePartition exchange; the only range exchange is the fan-out",
    nodes => nodes.exists {
      case s: SortExec => s.global && sortReads(s.child) {
        case e: ShuffleExchangeExec => e.outputPartitioning == SinglePartition
        case _ => false
      }
      case _ => false
    } && nodes.collect {
      case e: ShuffleExchangeExec if isRange(e) => e.shuffleOrigin
    } == Seq(REPARTITION_BY_NUM))

  /** The plan's only exchange is one gather, in either form. */
  val gatherOnly: Check = Check("the only exchange is one SinglePartition gather or one-task coalesce",
    nodes => nodes.count(isGather) == 1 &&
      nodes.forall(p => !p.isInstanceOf[ShuffleExchangeExec] || isGather(p)))

  /** Every hash shuffle partitions on exactly the columns `keys`. */
  def hashOn(keys: String*): Check =
    Check(s"every hash ShuffleExchangeExec keyed on ${keys.mkString("(", ", ", ")")}",
      _.forall {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)).toSet == keys.toSet
          case _ => true
        }
        case _ => true
      })

  /** Exactly `n` windows without a partition spec (each runs in one task). */
  def globalWindows(n: Int): Check = Check(s"exactly $n unpartitioned WindowExec",
    _.count {
      case w: WindowExec => w.partitionSpec.isEmpty
      case _ => false
    } == n)

  /** Map-side combine: some aggregate runs a partial_ stage. */
  val partialAgg: Check = Check("has a partial (map-side) aggregate", _.exists {
    case a: BaseAggregateExec => a.aggregateExpressions.exists(_.mode == Partial)
    case _ => false
  })

  private def scanMeta(key: String, text: String): Check =
    Check(s"a scan's $key contains $text", _.exists {
      case s: FileSourceScanExec => s.metadata.get(key).exists(_.contains(text))
      case _ => false
    })
  def pushed(filter: String): Check = scanMeta("PushedFilters", filter)
  def partitionFiltered(column: String): Check = scanMeta("PartitionFilters", column)

  private type BHJ = BroadcastHashJoinExec
  private type SMJ = SortMergeJoinExec
  private type SHJ = ShuffledHashJoinExec
  private type BNLJ = BroadcastNestedLoopJoinExec
  private type Exchange = ShuffleExchangeExec
  private type Cartesian = CartesianProductExec
  private type TopK = TakeOrderedAndProjectExec

  val rows: Map[String, Seq[Check]] = Map(
    // one Exchange serves the gap/island window chain and the rollup
    "a10_sessionize" -> Seq(hashOn("user_id"), globalWindows(0), noJoin, shufflesThenSort(1)),
    "a12_conditional_agg" -> Seq(exactly[FileSourceScanExec](1), exactly[HashAggregateExec](2), noJoin),
    "a13_rms_binwidth" -> Seq(has[BNLJ], partialAgg),
    "a14_mc_explode" -> Seq(has[GenerateExec], partialAgg, shufflesThenSort(1)),
    // per-stage filters sit in the scans; every keyed shuffle is on user_id
    "a15_funnel" -> Seq(hashOn("user_id"), pushed("EqualTo(event_type,view)"),
      pushed("EqualTo(event_type,click)"), pushed("EqualTo(event_type,purchase)")),
    "a16_cohort_retention" -> Seq(lacks[WindowExec], partialAgg, has[BHJ]),
    "a17_corr_matrix" -> Seq(has[BHJ], lacks[BNLJ], partialAgg),
    "a1_rebin_time" -> Seq(partialAgg, shufflesThenSort(1)),
    "a1b_rebin_edges" -> Seq(has[BNLJ], has[BHJ], partialAgg, shufflesThenSort(1)),
    "a2_median_norm" -> Seq(has[ObjectHashAggregateExec], partialAgg, has[BHJ], lacks[WindowExec]),
    "a3_percentiles" -> Seq(has[ObjectHashAggregateExec], partialAgg, hashOn("l_returnflag"),
      shufflesThenSort(1)),
    // frame-max multiplicity via an exploded-offset equi-join
    "a4_peakcut_std" -> Seq(has[GenerateExec], has[BHJ], lacks[BNLJ], lacks[Cartesian], globalWindows(0)),
    // trials broadcast-routed by level, no sample x trial expansion
    "a8_bls_snr" -> Seq(has[BHJ], lacks[BNLJ], lacks[Cartesian], partialAgg),
    // sort-merge join straight over the bucketed scans
    "b1_bucketed_join" -> Seq(has[SMJ], shufflesThenSort(1)),
    // the Bloom filter is a plan-internal subquery aggregate
    "b2_bloom_semi_join" -> Seq(has[ObjectHashAggregateExec], has[SubqueryExec]),
    "d10_corpus_pipeline" -> Seq(has[BHJ], partialAgg, lacks[SMJ]),
    "d11_tfidf" -> Seq(partialAgg, has[BHJ], has[BNLJ], lacks[SMJ]),
    // top-20 by per-partition heaps; only the 20 survivors see the rank window
    "d12_bm25" -> Seq(has[TopK], globalWindows(1), lacks[SMJ]),
    "d13_chunking" -> Seq(has[GenerateExec], sortExchangeOnly),
    "d14_unigram_lm" -> Seq(partialAgg, has[BNLJ], lacks[SMJ]),
    // per-round localCheckpoint truncation; the hinted joins never demote to SMJ
    "d15_components" -> Seq(has[RDDScanExec], lacks[SMJ]),
    "d16_repetition" -> Seq(partialAgg, has[GenerateExec], lacks[WindowExec]),
    "d17_token_entropy" -> Seq(partialAgg, globalWindows(0)),
    "d18_pii_scrub" -> Seq(sortExchangeOnly),
    "d19_decontaminate" -> Seq(has[BHJ], lacks[SMJ], lacks[SHJ]),
    "d1_exact_dedup" -> Seq(partialAgg, shufflesThenSort(1)),
    "d20_stratified_sample" -> Seq(has[FilterExec], globalWindows(0), hashOn("lang")),
    "d21_seq_packing" -> Seq(hashOn("source"), shufflesThenSort(1), globalWindows(0)),
    "d22_winnowing" -> Seq(hashOn("doc_id"), shufflesThenSort(1), globalWindows(0)),
    // the returned plan is the static rounds over checkpointed edges, not a driver loop's result
    "d23_pagerank" -> Seq(has[RDDScanExec], partialAgg, lacks[LocalTableScanExec]),
    "d24_quality_lr" -> Seq(has[BHJ], lacks[SMJ], hashOn("doc_id")),
    // duplicate marking is windows over the gram key, no join
    "d25_substring_spans" -> Seq(noJoin, globalWindows(0)),
    "d27_bpe_encode" -> Seq(has[BHJ], lacks[SMJ], partialAgg),
    "d28_bigram_lm" -> Seq(has[RDDScanExec], has[BHJ], lacks[SMJ]),
    "d29_cms_heavy" -> Seq(partialAgg, has[BHJ], lacks[SMJ]),
    // the dense arm alone: the bitmap nested-loop join, whose two sides
    // share one reused doc-bitmap exchange, so the bigram index's global
    // window and broadcast attach count once per side; no prefix explode
    "d2_ngram_jaccard" -> Seq(has[BNLJ], exactly[ReusedExchangeExec](1), globalWindows(2),
      exactly[BHJ](2), lacks[GenerateExec]),
    "d30_hll_cardinality" -> Seq(lacks[WindowExec], partialAgg),
    "d31_knn_triangles" -> Seq(has[RDDScanExec], lacks[BNLJ], lacks[Cartesian]),
    // delta keys probe a BloomFilterAggregate subquery; one window on the key
    "d32_incremental_dedup" -> Seq(has[ObjectHashAggregateExec], has[SubqueryExec],
      exactly[WindowExec](1), globalWindows(0)),
    "d33_temp_mixture" -> Seq(lacks[WindowExec], partialAgg, has[BNLJ], has[BHJ]),
    // adjacency is an equi-join, never a nested-loop theta join
    "d34_phrase_search" -> Seq(has[BHJ], lacks[BNLJ], lacks[Cartesian]),
    "d35_pmi_collocations" -> Seq(has[TopK], partialAgg, globalWindows(0), lacks[SMJ]),
    // the corpus scan ran once, into the checkpoint the plan reads
    "d36_dsir" -> Seq(has[RDDScanExec], has[TopK], lacks[FileSourceScanExec]),
    "d37_train_split" -> Seq(partialAgg, exactly[WindowExec](1), globalWindows(0)),
    // the one unpartitioned window runs over the bucket offsets, not the scores
    "d38_classifier_auc" -> Seq(globalWindows(1), has[BHJ]),
    "d39_filter_reasons" -> Seq(partialAgg, lacks[WindowExec]),
    // bucket-grouped pairs: no self-join, no corpus broadcast; both
    // signature consumers read one shuffle, nothing is checkpointed
    "d3_minhash_lsh" -> Seq(noJoin, lacks[BroadcastExchangeExec], has[GenerateExec],
      has[ReusedExchangeExec], lacks[RDDScanExec]),
    "d4_simhash" -> Seq(hashOn("doc_id"), noJoin),
    // plain equi-join candidates, no per-bucket arrays
    "d4b_simhash_pairs" -> Seq(lacks[BNLJ], lacks[Cartesian], lacks[ObjectHashAggregateExec]),
    "d5_langid" -> Seq(has[BHJ], globalWindows(0)),
    "d6_quality" -> Seq(partialAgg, has[BHJ]),
    "d7_token_count" -> Seq(partialAgg, shufflesThenSort(1)),
    "d8_fingerprint" -> Seq(lacks[WindowExec], partialAgg, shufflesThenSort(1)),
    "d9_embed_neardup" -> Seq(has[BHJ], lacks[SMJ], lacks[Cartesian]),
    "e10_sq8_ann" -> Seq(has[BHJ], lacks[SMJ], partialAgg, globalWindows(0)),
    "e12_recall_eval" -> Seq(exactly[WindowExec](2), globalWindows(0)),
    "e13_pseudo_label" -> Seq(has[BHJ], partialAgg, globalWindows(0)),
    "e1_knn_cosine" -> Seq(globalWindows(0), hashOn("q_id")),
    "e2_lsh_ann" -> Seq(has[BHJ], lacks[BNLJ], globalWindows(0), hashOn("q_id")),
    "e3_ivf_ann" -> Seq(globalWindows(0), hashOn("q_id"), lacks[Cartesian]),
    "e4_ivf_fixed" -> Seq(globalWindows(0), hashOn("q_id")),
    "e5_pq_adc" -> Seq(has[BHJ], lacks[BNLJ], lacks[SMJ], globalWindows(0)),
    // within-cluster pairs; assignment is a projection, not a crossJoin
    "e6_semdedup" -> Seq(has[BHJ], lacks[BNLJ], lacks[Cartesian]),
    "e7_random_projection" -> Seq(has[BroadcastExchangeExec], sortExchangeOnly),
    "e8_filtered_ann" -> Seq(pushed("In(label"), has[BroadcastExchangeExec], globalWindows(0),
      hashOn("q_id")),
    "en1_transmission" -> Seq(has[WindowExec], globalWindows(0), partialAgg),
    "f1_quality_filter" -> Seq(pushed("EqualTo(l_returnflag,R)"),
      pushed("GreaterThan(l_quantity,30.0)"), sortExchangeOnly),
    "f2_interval_mask" -> Seq(noJoin, sortExchangeOnly),
    "f7_string_filter" -> Seq(pushed("StringContains"), pushed("StringStartsWith"), sortExchangeOnly),
    // ROLLUP / CUBE / GROUPING SETS as one Expand into one keyed aggregation
    "g1_rollup" -> Seq(exactly[ExpandExec](1), lacks[UnionExec], has[BHJ], lacks[SMJ]),
    "g2_pivot" -> Seq(lacks[ExpandExec], partialAgg, exactly[FileSourceScanExec](1)),
    "g3_cube" -> Seq(exactly[ExpandExec](1), partialAgg, exactly[FileSourceScanExec](1)),
    "g4_unpivot" -> Seq(exactly[ExpandExec](1), sortExchangeOnly, noJoin),
    "g5_grouping_sets" -> Seq(exactly[ExpandExec](1), partialAgg, lacks[UnionExec]),
    // candidates from one equi-join on the deletion variant
    "j10_fuzzy_ed1" -> Seq(has[GenerateExec], exactly[SHJ](1), lacks[BNLJ], lacks[Cartesian]),
    "j11_zone_crossmatch" -> Seq(has[GenerateExec], lacks[BNLJ], lacks[Cartesian], globalWindows(0)),
    "j13_pit_join" -> Seq(has[BHJ], lacks[BNLJ], lacks[Cartesian]),
    // dimension joins broadcast
    "j1_equi_join_agg" -> Seq(has[BHJ], lacks[SMJ], lacks[SHJ]),
    "j2_nn_crossmatch" -> Seq(has[BroadcastExchangeExec], globalWindows(0), hashOn("c_custkey")),
    "j3_anti_join" -> Seq(has[BHJ], lacks[SMJ]),
    "j3_semi_join" -> Seq(has[BHJ], lacks[SMJ]),
    "j5_population" -> Seq(exactly[HashAggregateExec](2)),
    // both pair sides are bounded top-5 sets
    "j6_pair_diffs" -> Seq(exactly[TopK](2), lacks[Cartesian]),
    "j8_asof_interp" -> Seq(globalWindows(0), hashOn("event_type"), lacks[Cartesian]),
    "j8b_asof_nearest" -> Seq(has[AsOfJoinExec], lacks[WindowExec], lacks[Cartesian]),
    // the hot key is salted across a shuffled hash join
    "j9_salted_join" -> Seq(has[SHJ], lacks[SMJ]),
    "m1_binary_meta" -> Seq(sortExchangeOnly),
    // media decode kernels are partition-local: no Exchange before the output sort
    "m2_media_features" -> Seq(has[MapPartitionsExec], sortExchangeOnly),
    "m3_frame_pool" -> Seq(has[MapPartitionsExec], sortExchangeOnly),
    "m4_audio_win" -> Seq(has[MapPartitionsExec], sortExchangeOnly),
    "m5_image_pool" -> Seq(has[MapPartitionsExec], sortExchangeOnly),
    "m6_image_phash" -> Seq(lacks[BNLJ], lacks[Cartesian], globalWindows(0)),
    "m7_scene_cut" -> Seq(has[MapPartitionsExec], has[BHJ], lacks[BNLJ]),
    "o1_union_sort" -> Seq(has[UnionExec], sortExchangeOnly),
    "o3_topk" -> Seq(has[TopK], lacks[Exchange]),
    // only the bucket-boundary table sees a global window
    "o6_gap_report" -> Seq(globalWindows(1), hashOn("bkt")),
    "o7_subsample" -> Seq(has[FilterExec], sortExchangeOnly),
    "o8_zorder_layout" -> Seq(has[BNLJ], lacks[Cartesian], hashOn("file_id")),
    // data rank window per bucket; only the offsets frame is unpartitioned
    "o9_global_index" -> Seq(globalWindows(1), hashOn("bkt"), has[BHJ]),
    "p2_profile" -> Seq(exactly[FileSourceScanExec](1), exactly[ExpandExec](1)),
    // the one unpartitioned window is the 256-row cumulative walk
    "p3_exact_quantiles" -> Seq(globalWindows(1), partialAgg, has[BHJ]),
    "p4_grouped_quantiles" -> Seq(globalWindows(0), has[BHJ], partialAgg),
    "p5_skew_profile" -> Seq(partialAgg, exactly[WindowExec](1)),
    "p6_psi_drift" -> Seq(partialAgg, has[RangeExec]),
    "px2_multi_target" -> Seq(has[BHJ], globalWindows(0), lacks[SMJ]),
    "px_lightcurve_pipeline" -> Seq(has[MapPartitionsExec], has[BHJ], has[TopK], lacks[SMJ]),
    "s10_binary_scan" -> Seq(has[MapPartitionsExec], sortExchangeOnly),
    "s11_text_scan" -> Seq(hashOn("lang"), shufflesThenSort(1)),
    "s12_dedup_first" -> Seq(globalWindows(0), hashOn("user_id", "event_type")),
    "s13_dsv2_source" -> Seq(has[BatchScanExec]),
    "s14_fits_scan" -> Seq(has[MapPartitionsExec], has[BHJ], shufflesThenSort(1), hashOn("sector")),
    "s15_hdf5_scan" -> Seq(has[MapPartitionsExec], has[BHJ], hashOn("orbit")),
    "s3_mag2flux" -> Seq(has[BHJ], has[ObjectHashAggregateExec], lacks[WindowExec]),
    "s5_csv_scan" -> Seq(pushed("LessThan(flux"), sortExchangeOnly),
    "s6_schema_evolution" -> Seq(exactly[FileSourceScanExec](1), partialAgg),
    "s7_partition_pruning" -> Seq(partitionFiltered("event_type")),
    "s8_orc_roundtrip" -> Seq(pushed("EqualTo(o_orderstatus,F)")),
    "s9_json_scan" -> Seq(pushed("EqualTo(c_mktsegment,BUILDING)")),
    "sc_arrays" -> Seq(sortExchangeOnly, lacks[GenerateExec]),
    "sc_math" -> Seq(sortExchangeOnly),
    "sc_regex" -> Seq(sortExchangeOnly),
    "sc_strings" -> Seq(sortExchangeOnly),
    "st_session_window" -> Seq(has[MergingSessionsExec], hashOn("user_id")),
    "t10_transit_stats" -> Seq(noJoin, hashOn("k"), partialAgg),
    "t10b_ineg_secondary" -> Seq(hashOn("k"), partialAgg),
    // generated off a one-row bounds/anchor aggregate: its gather is the only exchange
    "t11_time_grid" -> Seq(has[GenerateExec], gatherOnly),
    "t12_model_eval" -> Seq(gatherOnly),
    "t12d_model_ld" -> Seq(gatherOnly),
    "t12e_model_ldx" -> Seq(gatherOnly, partialAgg),
    // one fit per key, gathered before the sort: no range sort re-runs the fit stage
    "t13b_mcmc_perener" -> Seq(lacks[RDDScanExec], lacks[MapGroupsExec], fanOutThenGatheredSort),
    "t13m_mcmc_ttv" -> Seq(lacks[RDDScanExec], lacks[MapGroupsExec], fanOutThenGatheredSort),
    "t14_injection" -> Seq(gatherOnly, partialAgg),
    "t15_visibility" -> Seq(has[GenerateExec], sortExchangeOnly),
    // lag correlation as an equi-join on (event_type, bin + lag)
    "t16_acf" -> Seq(globalWindows(0), has[BHJ], lacks[SMJ], lacks[Cartesian]),
    "t17_xcorr" -> Seq(globalWindows(1), has[BHJ], lacks[SMJ], lacks[Cartesian]),
    "t18_harmonic" -> Seq(has[BHJ], partialAgg, lacks[SMJ]),
    "t19_sliding_harmonic" -> Seq(has[BHJ], partialAgg, lacks[SMJ]),
    "t1_fold" -> Seq(sortExchangeOnly),
    "t20_oddeven" -> Seq(partialAgg, has[BNLJ], exactly[FileSourceScanExec](2)),
    "t21_ttv" -> Seq(has[BNLJ], partialAgg),
    "t2_phase_bin" -> Seq(hashOn("bin"), partialAgg, lacks[WindowExec]),
    "t3_detrend_median" -> Seq(globalWindows(0), hashOn("user_id"), shufflesThenSort(1)),
    "t3b_detrend_spline" -> Seq(has[MapGroupsExec]),
    "t3c_detrend_gp" -> Seq(has[MapGroupsExec]),
    "t4b_detrend_clip" -> Seq(hashOn("user_id"), globalWindows(0), lacks[SMJ], lacks[SHJ]),
    // trig sums inside one aggregate pass, no rows x nFreq expansion join
    "t5_lombscargle" -> Seq(noJoin, has[ObjectHashAggregateExec], gatherOnly),
    "t6_bls" -> Seq(has[BHJ], partialAgg, globalWindows(0)),
    "t7_outlperi" -> Seq(exactly[TopK](2), lacks[Cartesian]),
    "t8_matched_filter" -> Seq(hashOn("user_id"), globalWindows(0)),
    "t8b_matched_multi" -> Seq(globalWindows(0), hashOn("user_id")),
    // window partitioned by user_id, no single-partition WindowExec
    "t9_robust_z" -> Seq(has[WindowExec], globalWindows(0), hashOn("user_id")),
    // hash distinct after a plan-level union, no sort-based distinct
    "u1_union_distinct" -> Seq(has[UnionExec], has[HashAggregateExec], lacks[SortAggregateExec],
      hashOn("user_id", "event_type")),
    "u2_except" -> Seq(has[BHJ], lacks[SMJ], pushed("EqualTo(o_orderstatus,F)")),
    "u5_merge_upsert" -> Seq(pushed("LessThan(o_orderkey,10000)")),
    // lag, row_number and lead share one business-key Exchange, no self-join
    "u6_scd2" -> Seq(hashOn("user_id"), shufflesThenSort(1), noJoin),
    "u7_snapshot_diff" -> Seq(exactly[SMJ](1)),
    "w1_lag_diff" -> Seq(exactly[WindowExec](1), globalWindows(0), hashOn("user_id"), noJoin),
    "w2_gap_segment" -> Seq(hashOn("user_id"), shufflesThenSort(1), globalWindows(0)),
    "w2b_disc_segment" -> Seq(gatherOnly, globalWindows(0), noJoin),
    "w5_argmax" -> Seq(globalWindows(0), noJoin, hashOn("event_type")),
    "w6_sequence" -> Seq(has[GenerateExec], sortExchangeOnly),
    "w7_rank_surface" -> Seq(partialAgg, globalWindows(0)),
    "w8_ewma" -> Seq(exactly[WindowExec](1), globalWindows(0), noJoin))
}
