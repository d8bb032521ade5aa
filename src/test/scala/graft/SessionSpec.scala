package graft

/** Pins the one session factory's configuration as the suites see it:
  * tests, Bench, Verify and the benchmark harness
  * (`perfbench/.../Harness.session()`) run on the same engine settings. */
class SessionSpec extends SparkSpec {

  test("cores and shuffle partitions both follow SPARK_GRAFT_CPUS") {
    val cores = "local\\[(\\d+)\\]".r
      .findFirstMatchIn(spark.sparkContext.master).map(_.group(1).toInt)
    assert(cores === Some(graft.core.Session.cpus))
    assert(spark.sparkContext.defaultParallelism === graft.core.Session.cpus)
    // the suites run with SPARK_GRAFT_PARTS unset: partitions = cores
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cores.get.toString)
  }

  test("AQE on, nanosAsLong on, UTC session time zone") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  private def smallExchangeRules(s: org.apache.spark.sql.SparkSession): Int =
    s.sessionState.adaptiveRulesHolder.queryStagePrepRules.count(_ eq graft.core.SmallExchange)

  test("a newSession() child carries the SmallExchange rule") {
    assert(smallExchangeRules(spark) === 1)
    assert(smallExchangeRules(spark.newSession()) === 1)
    assert(smallExchangeRules(graft.streaming.StreamOps.streamSession(spark)) === 1)
  }

  test("a second Session.build() in the same JVM injects no second copy") {
    val again = graft.core.Session.build()
    // the forked test JVM's options name the provider too
    assert(again.sparkContext.getConf.get("spark.sql.extensions") === graft.core.Session.extensions)
    assert(smallExchangeRules(again) === 1)
    assert(smallExchangeRules(again.newSession()) === 1)
  }

  test("child sessions inherit nanosAsLong from the session build") {
    // Tables.events and the stream harness rely on it: neither sets it
    assert(spark.newSession().conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(graft.streaming.StreamOps.streamSession(spark)
      .conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }
}
