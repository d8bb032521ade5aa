package graft.streaming

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, SparkSpec}

/** A finished drain keeps nothing alive in the JVM beyond its
  * read-back frame: no `*_sink` view in its child session, no loaded
  * state-store provider and no checkpoint-checksum thread pool. Each
  * round drains st2 (complete mode, memory sink) and st6 (append mode,
  * memory sink by default, file sink under SPARK_GRAFT_STREAM_SINK=file)
  * from a fresh parent session. */
class DrainReleaseSpec extends SparkSpec {

  private def checksumThreads: Int = Thread.getAllStackTraces.keySet.asScala
    .count(t => t.isAlive && t.getName.startsWith("ChecksumCheckpointFileManager-Thread-"))

  /** `n` once it settles below `limit`, or its last reading after 10 s:
    * a closed pool's threads exit just after its termination. */
  private def settled(limit: Int)(n: => Int): Int = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var v = n
    while (v > limit && System.nanoTime() < deadline) { Thread.sleep(50); v = n }
    v
  }

  test("k drains of st2 and st6 leave no sink view, state store or checksum thread behind") {
    val k = 4
    val providers0 = StreamOps.loadedStateStores.size
    val threads0 = checksumThreads
    // each read-back frame still carries its rows; it is read before
    // the next drain of its name (the file sink keeps two generations)
    val children: Seq[SparkSession] = (1 to k).flatMap { _ =>
      Seq("st2_stream_tumbling", "st6_stream_dedup").map { q =>
        val out = SparkEntry.queries(q)(spark.newSession(), sf)
        assert(out.count() > 0, q)
        out.sparkSession
      }
    }
    assert(children.distinct.size === 2 * k, "one child session per drain")
    val views = children.flatMap(_.catalog.listTables().collect())
      .filter(t => t.isTemporary && t.name.endsWith("_sink")).map(_.name)
    assert(views.isEmpty, s"sink views left: ${views.mkString(", ")}")
    assert(StreamOps.loadedStateStores.size === providers0)
    val threads = settled(threads0)(checksumThreads)
    assert(threads <= threads0, s"checksum threads $threads0 before $k rounds of drains, $threads after")
  }
}
