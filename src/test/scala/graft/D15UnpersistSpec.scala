package graft

/** r13 verdict #7 — the d15 unpersist lifecycle, promoted from a
  * comment-guarded contract to a spec. The star-alternation loop
  * frees each round's superseded localCheckpoint frames (`mid` and
  * the previous `edges`) as soon as the round's new edge set is
  * materialized (the star-forest test `ccConverged` reads only the
  * current edges); the invariants that make that safe are
  *
  *  1. the RETURNED plan is still fully readable after the loop (it
  *     reads only the FINAL checkpoint + the cached sim graph — a
  *     re-collect must not hit "block not found" from an unpersisted
  *     superseded frame), and
  *  2. the superseded frames' storage is actually GONE: the set of
  *     persisted RDDs after a run is O(1) (final frames + the cached
  *     sim-graph edges), NOT O(rounds) — at the ×1000 corpus each
  *     leaked round pins ~2 checkpoints of 5 M-edge blocks.
  *
  * If a future edit re-reads a superseded frame after its unpersist,
  * invariant 1 turns the runtime "block not found" into a test-time
  * failure here.
  */
class D15UnpersistSpec extends SparkSpec {

  test("d15 result is re-readable after the loop and superseded round frames are freed") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries("d15_components")(spark, sf)
    val first = df.collect()
    assert(first.nonEmpty, "d15 returned no rows")
    // invariant 1: a SECOND full read of the returned plan succeeds
    // and is identical — every block the plan needs survived the
    // per-round unpersists
    val second = df.collect()
    assert(first.sameElements(second),
      "d15 re-read differs from first read — a needed block was freed")
    // invariant 2: persisted-RDD growth is O(1), not O(rounds).
    // The run may legitimately add the sim-graph cache pair and the
    // final edges checkpoint (each a small constant of RDDs across
    // row-conversion wrappers); the loop itself ran multiple rounds
    // and each leaked round would add its own checkpoint RDD.
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 6,
      s"persisted RDDs grew by ${added.size} after one d15 run — " +
        "superseded round checkpoints are leaking")
  }
}
