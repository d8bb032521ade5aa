package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import graft.core.Fixtures

/** The derived-fixture store: keyed on its sources' content, built
  * once per JVM however many callers ask, published whole, and kept
  * under `java.io.tmpdir`. */
class FixturesSpec extends SparkSpec {

  private val tmpdir = new File(sys.props("java.io.tmpdir"))

  private def entries(prefix: String): Set[String] =
    Option(tmpdir.list()).toSeq.flatten.filter(_.startsWith(prefix)).toSet

  test("s9: a source rewritten in place is read again, not served from the old fixture") {
    val copy = Files.createTempDirectory("graft_fixtures_spec").toFile
    val before = entries("graft_json_")
    try {
      new File(sf).listFiles().foreach(f => Files.copy(f.toPath, new File(copy, f.getName).toPath))
      def s9 = SparkEntry.queries("s9_json_scan")(spark, copy.toString).collect()
        .map(r => r.getInt(0) -> r.getDouble(2)).toMap
      val r0 = s9

      // one BUILDING customer's balance goes up by 1000.00
      val cust = spark.read.parquet(s"$copy/customer.parquet")
      val first = cust.filter(col("c_mktsegment") === "BUILDING")
        .orderBy("c_custkey").select("c_custkey", "c_nationkey").head()
      val (key, nation) = (first.getLong(0), first.getInt(1))
      val next = new File(copy, "customer_next.parquet")
      cust.withColumn("c_acctbal",
          when(col("c_custkey") === key, col("c_acctbal") + 1000.0).otherwise(col("c_acctbal")))
        .coalesce(1).write.parquet(next.toString)
      Files.delete(new File(copy, "customer.parquet").toPath)
      Files.move(next.toPath, new File(copy, "customer.parquet").toPath)

      val r1 = s9
      assert(r1 !== r0)
      assert(r1.keySet === r0.keySet)
      assert(math.round((r1(nation) - r0(nation)) * 100) === 100000L)
      assert((r1 - nation) === (r0 - nation))
    } finally {
      FileUtils.deleteQuietly(copy)
      (entries("graft_json_") -- before).foreach(n => FileUtils.deleteQuietly(new File(tmpdir, n)))
    }
  }

  test("8 concurrent callers: one build, one complete directory, no staging left") {
    val name = "graft_fixtures_spec_race"
    val key = Seq(java.util.UUID.randomUUID().toString)
    val builds = new AtomicInteger()
    val barrier = new CyclicBarrier(8)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val dirs = (1 to 8).map(_ => pool.submit(new Callable[File] {
        def call(): File = {
          barrier.await()
          Fixtures.dir(name, key, Nil) { tmp =>
            builds.incrementAndGet()
            (0 until 4).foreach { i =>
              Thread.sleep(50)
              Files.write(new File(tmp, s"f$i").toPath, Array[Byte](i.toByte))
            }
          }
        }
      })).map(_.get())
      assert(builds.get() === 1)
      assert(dirs.toSet.size === 1)
      assert(dirs.head.list().sorted.toSeq === Seq("f0", "f1", "f2", "f3"))
      assert(entries(s".${name}_build").isEmpty)
      FileUtils.deleteQuietly(dirs.head)
    } finally pool.shutdown()
  }

  test("a publisher that loses the rename uses the winner's copy and drops its own") {
    val name = "graft_fixtures_spec_lost"
    val key = Seq(java.util.UUID.randomUUID().toString)
    val target = Fixtures.path(name, key, Nil)
    val dir = Fixtures.dir(name, key, Nil) { tmp =>
      // another process publishes while this build runs
      target.mkdirs()
      Files.write(new File(target, "winner").toPath, Array[Byte](1))
      Files.write(new File(tmp, "loser").toPath, Array[Byte](2))
    }
    assert(dir === target)
    assert(dir.list().toSeq === Seq("winner"))
    assert(entries(s".${name}_build").isEmpty)
    FileUtils.deleteQuietly(dir)
  }

  test("a fixture is published directly under java.io.tmpdir, named after its key and sources") {
    val name = "graft_fixtures_spec_loc"
    val key = Seq(java.util.UUID.randomUUID().toString)
    val src = Seq(new File(sf, "customer.parquet"))
    val dir = Fixtures.dir(name, key, src)(tmp => Files.write(new File(tmp, "f").toPath, Array[Byte](0)))
    try {
      assert(dir.getParentFile.getCanonicalPath === tmpdir.getCanonicalPath)
      assert(dir.getName.matches(s"${name}_[0-9a-f]{32}"))
      assert(Fixtures.path(name, key :+ "v2", src) !== dir)
    } finally FileUtils.deleteQuietly(dir)
  }

  test("a publish evicts same-name siblings idle for over a day, except those this JVM served") {
    val name = "graft_fixtures_spec_evict"
    val day = Fixtures.maxIdleMs
    val now = System.currentTimeMillis()
    def key = Seq(java.util.UUID.randomUUID().toString)
    def mark(f: File) = Files.write(new File(f, "f").toPath, Array[Byte](0))
    // a fixture another process published, last used `idleMs` ago
    def published(dir: File, idleMs: Long): File = {
      dir.mkdirs(); mark(dir); dir.setLastModified(now - idleMs)
      dir
    }
    val (hitKey, freshKey) = (key, key)
    // published first: a publish evicts the idle siblings below
    val held = Fixtures.dir(name, key, Nil)(mark)
    held.setLastModified(now - 2 * day)
    val stale = published(Fixtures.path(name, key, Nil), 2 * day)
    val recent = published(Fixtures.path(name, key, Nil), day / 2)
    val hit = published(Fixtures.path(name, hitKey, Nil), 2 * day)
    val otherName = published(Fixtures.path(name + "x", key, Nil), 2 * day)
    val fresh = Fixtures.path(name, freshKey, Nil)
    try {
      // a hit touches the use mark
      assert(Fixtures.dir(name, hitKey, Nil)(_ => fail("a hit must not rebuild")) === hit)
      assert(hit.lastModified() >= now - 1000)
      assert(Fixtures.dir(name, freshKey, Nil)(mark) === fresh)
      assert(!stale.exists(), "an idle sibling is evicted")
      assert(recent.exists(), "a sibling used within the day is kept")
      assert(held.exists(), "a sibling this JVM served is kept")
      assert(hit.exists() && fresh.exists())
      assert(otherName.exists(), "another name's fixture is not a sibling")
    } finally Seq(stale, recent, hit, otherName, held, fresh).foreach(f => FileUtils.deleteQuietly(f): Unit)
  }
}
