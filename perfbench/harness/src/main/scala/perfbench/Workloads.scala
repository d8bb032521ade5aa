package perfbench

/** The benchmark's workloads: which declared queries of
  * `graft.SparkEntry.queries` each one runs. A query belongs to a
  * family by its name prefix (`t6_bls` is family `t`). */
object Workloads {
  /** Batch families whose queries build a plan without running jobs
    * first: light curves, relational operators, readers and joins. */
  val batchFamilies: Set[String] =
    Set("t", "a", "w", "px", "en", "s", "j", "f", "g", "o", "u", "p", "b")

  /** Left out of the batch families: it writes its input to the fixed
    * path /tmp/graft_s5_input.csv, outside the benchmark's directory. */
  val excluded: Set[String] = Set("s5_csv_scan")

  /** Queries that run Spark jobs while they are being built: d2's
    * checkpointed candidate branches, and two micro-batch drains
    * through the state store (windowed aggregation, watermarked
    * deduplication). d15_components is left out: from one JVM to the
    * next its time alternates between about 3.5 s and 5.2 s, which
    * made `wall_s` spread 27 % over ten runs. */
  val construct: Seq[String] = Seq("d2_ngram_jaccard", "st2_stream_tumbling", "st6_stream_dedup")

  private val Family = "^([a-z]+)[0-9].*".r

  def family(query: String): String = query match {
    case Family(f) => f
    case _ => ""
  }

  /** The workload's queries in name order; the run permutes them. */
  def queries(workload: String, all: Iterable[String]): Seq[String] = workload match {
    // every 15th batch query in name order: a fixed systematic sample
    // that spans the families and fits several passes in a run
    case "analytics" =>
      all.filter(q => batchFamilies(family(q)) && !excluded(q)).toSeq.sorted
        .zipWithIndex.collect { case (q, i) if i % 15 == 0 => q }
    case "construct" => construct.filter(all.toSet).sorted
    case _ => throw new IllegalArgumentException(s"unknown workload $workload")
  }

  val names: Seq[String] = Seq("analytics", "construct")
}
