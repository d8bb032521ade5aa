package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
import graft.queries.TextQueries.simhashPairs

/** r17 (verdict #2): d4b's post-multiprobe floor is Σ bucket² on the
  * 16-bit half-value join key. The promised safety valve for a
  * DEGENERATE (hot) bucket is AQE skew-splitting — available precisely
  * because the candidate stage is a plain equi-join (no collect_list
  * arrays, the r13 design note). This spec demonstrates it end to end:
  * a deliberately skewed synthetic simhash corpus (one half value
  * shared by 25% of docs), run through the shipped d4b candidate join
  * (TextQueries.simhashPairs) at test-scale skew thresholds, must
  * (a) SPLIT the hot partition — the finalized plan carries an
  * AQEShuffleRead with PartialReducer (skew-split) partitions — and
  * (b) produce the identical pair set with skew-splitting disabled.
  *
  * The alternative next step, 3×11-bit bands + 2-bit flips, was
  * examined and NOT attempted: 3 bands under H ≤ 3 pigeonhole to
  * min ≤ 1 only (⌊3/3⌋), so 1-bit flips would suffice but the bucket
  * space shrinks 32× (2^11 vs 2^16 values) and Σ bucket² GROWS — the
  * trade is strictly worse than the landed 2×16 multiprobe unless the
  * flip set also shrinks, and a reduced flip set has no exactness
  * proof. Documented in the r17 optimization notes at commit eeea311.
  */
class D4bSkewSpec extends SparkSpec {

  test("hot simhash bucket: AQE splits the skewed candidate-join partition; results unchanged") {
    // 16k synthetic docs; the first 4k share the lower half 0x1234 (one
    // degenerate bucket = 25% of the corpus) with injectively-spread
    // upper halves (odd multiplier mod 2^16 is injective over 4k ids),
    // so candidate volume is bucket²/2 ≈ 8M rows but almost every pair
    // fails the popcount gate — the exact "one hot bucket" shape the
    // ×1000 floor note warns about. The rest draw pseudorandom 32-bit
    // hashes (birthday-level bucket sizes).
    val nDocs = 16000L; val nHot = 4000L
    val sh = spark.range(nDocs).toDF("doc_id").selectExpr(
      "doc_id",
      s"""CASE WHEN doc_id < $nHot
         |  THEN pmod(doc_id * 40503, 65536) * 65536 + 4660
         |  ELSE pmod(doc_id * 1103515245 + 12345, 4294967296)
         |END AS simhash""".stripMargin)
      .localCheckpoint() // freeze the input so both runs see identical rows

    // collect the pair set itself: executing THIS DataFrame (not a
    // derived .agg(), which builds its own QueryExecution) is what
    // finalizes the AQE plan the assertions inspect — the JoinScaleSpec
    // lesson
    def resultSet(df: DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    // test-scale skew thresholds: the hot build-side partition (~4k
    // rows) must exceed both the byte threshold and factor×median; the
    // broadcast path is disabled so the equi-join actually shuffles
    // (at corpus scale the neighborhood table exceeds the threshold on
    // its own — j10's argument).
    val common = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")

    val (setOn, skewReads, planStr) = withConf(
      common :+ ("spark.sql.adaptive.skewJoin.enabled" -> "true"): _*) {
      val df = simhashPairs(sh)
      val s = resultSet(df)
      val reads = collectAll(df.queryExecution.executedPlan) {
        case r: AQEShuffleReadExec if r.hasSkewedPartition => r
      }
      (s, reads, df.queryExecution.executedPlan.toString)
    }
    assert(skewReads.nonEmpty,
      "AQE did not skew-split the hot bucket — the d4b degenerate-bucket " +
      s"safety argument would be hollow. Plan:\n$planStr")

    val setOff = withConf(
      common :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"): _*) {
      resultSet(simhashPairs(sh))
    }
    assert(setOn === setOff,
      s"skew-split changed the pair set: on=${setOn.size} off=${setOff.size}, " +
      s"diff=${(setOn diff setOff).take(3)} / ${(setOff diff setOn).take(3)}")
    assert(setOn.nonEmpty, "experiment degenerated: no qualifying pairs at all")
    info(s"skew-split reads: ${skewReads.size}; pairs=${setOn.size}")
  }
}
