package graft

import org.apache.spark.sql.DataFrame
import graft.queries.TextQueries.{ccConverged, ccLargeStar, ccSmallStar}

/** d15's stopping test: `ccConverged` holds exactly on star forests,
  * and alternating large-star and small-star rounds until it holds
  * labels every node with its component's minimum id — the same
  * labels a plain-Scala union-find gives. */
class CcConvergedSpec extends SparkSpec {
  import spark.implicits._

  /** Canonical edges as d15 feeds the loop: (a > b), no self-loops,
    * distinct. */
  private def canon(es: Seq[(Long, Long)]): Seq[(Long, Long)] =
    es.filter { case (x, y) => x != y }
      .map { case (x, y) => (math.max(x, y), math.min(x, y)) }.distinct

  private def frame(es: Seq[(Long, Long)]): DataFrame = es.toDF("a", "b")

  private def isStarForest(es: Seq[(Long, Long)]): Boolean = {
    val byA = es.groupBy(_._1)
    byA.values.forall(_.size == 1) && es.forall { case (_, b) => !byA.contains(b) }
  }

  /** Min-id root of every node, by a plain-Scala union-find: a merge
    * hangs the larger root under the smaller, so each root is its
    * set's minimum. */
  private def minRoots(nodes: Seq[Long], es: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = if (parent(x) == x) x else {
      val r = find(parent(x)); parent(x) = r; r
    }
    es.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  private val path = {
    val ids = new scala.util.Random(7).shuffle((1L to 64L).toList)
    ids.zip(ids.tail)
  }
  /** (name, nodes, edges, whether the edges are a star forest). */
  private val inputs: Seq[(String, Seq[Long], Seq[(Long, Long)], Boolean)] = Seq(
    ("64-node path in shuffled id order", (1L to 64L), path, false),
    // every a has one b, but each inner b is also an a
    ("4-node path in id order", (1L to 4L), Seq((1L, 2L), (2L, 3L), (3L, 4L)), false),
    // no b is an a, but 5 has two b's
    ("one node above two smaller ones", Seq(1L, 2L, 5L), Seq((5L, 1L), (5L, 2L)), false),
    ("star centred off its minimum", Seq(3L, 7L, 10L, 12L, 20L, 25L),
      Seq(3L, 7L, 12L, 20L, 25L).map(l => (10L, l)), false),
    ("two disjoint cycles", Seq(2L, 4L, 5L, 7L, 9L, 21L, 24L, 27L, 30L), {
      def cycle(ns: Seq[Long]) = ns.zip(ns.tail :+ ns.head)
      cycle(Seq(4L, 9L, 2L, 7L, 5L)) ++ cycle(Seq(30L, 21L, 27L, 24L))
    }, false),
    ("triangle with a pendant", Seq(2L, 5L, 6L, 8L), Seq((5L, 8L), (8L, 6L), (6L, 5L), (8L, 2L)), false),
    ("one edge", Seq(3L, 9L), Seq((9L, 3L)), true),
    ("no edges", Seq(1L, 2L), Seq.empty, true))

  test("ccConverged holds exactly on star forests") {
    inputs.foreach { case (name, _, es, star) =>
      val e = canon(es)
      assert(isStarForest(e) === star, s"$name: fixture flag")
      assert(ccConverged(frame(e)) === star, name)
    }
  }

  test("star alternation until ccConverged labels each node with its component minimum") {
    inputs.foreach { case (name, nodes, es, _) =>
      var e = canon(es)
      var rounds = 0
      while (!ccConverged(frame(e))) {
        assert(rounds < 32, s"$name: no star forest after $rounds rounds")
        e = ccSmallStar(ccLargeStar(frame(e))).as[(Long, Long)].collect().toSeq
        rounds += 1
      }
      assert(isStarForest(e), s"$name: converged edges $e are not a star forest")
      val centre = e.toMap
      val labels = nodes.map(n => n -> centre.getOrElse(n, n)).toMap
      assert(labels === minRoots(nodes, canon(es)), name)
    }
  }
}
