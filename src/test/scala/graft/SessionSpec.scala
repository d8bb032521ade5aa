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

  test("SPARK_GRAFT_STREAM_SINK accepts unset, memory or file and rejects anything else") {
    import graft.core.Session.parseStreamSink
    assert(parseStreamSink(None) === "memory")
    assert(parseStreamSink(Some("memory")) === "memory")
    assert(parseStreamSink(Some("file")) === "file")
    for (bad <- Seq("files", "FILE", "parquet", "")) {
      val e = intercept[IllegalArgumentException](parseStreamSink(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_SINK"), e.getMessage)
    }
  }

  test("AQE on, nanosAsLong on, UTC session time zone") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
  }

  private def smallExchangeRules(s: org.apache.spark.sql.SparkSession): Int =
    s.sessionState.adaptiveRulesHolder.queryStagePrepRules.count(_ eq graft.core.SmallExchange)

  /** Copies of the as-of strategy in `s`'s planner, counted after `s`
    * has planned one as-of join through it. */
  private def asOfStrategies(s: org.apache.spark.sql.SparkSession): Int = {
    val t = s.range(4).selectExpr("id % 2 AS p", "id AS t")
    val plan = graft.plans.AsOfJoin.asof(t, t.toDF("q", "u"), "p", "t", "q", "u")
      .queryExecution.executedPlan
    assert(collectAll(plan) { case j: graft.plans.AsOfJoin.AsOfJoinExec => j }.nonEmpty, plan.toString)
    s.sessionState.planner.strategies.count(_ eq graft.plans.AsOfJoin.AsOfJoinStrategy)
  }

  test("a newSession() child carries the SmallExchange rule") {
    assert(smallExchangeRules(spark) === 1)
    assert(smallExchangeRules(spark.newSession()) === 1)
    assert(smallExchangeRules(graft.streaming.StreamOps.streamSession(spark)) === 1)
  }

  test("every session plans an as-of join through exactly one strategy copy") {
    assert(asOfStrategies(spark) === 1)
    assert(asOfStrategies(spark.newSession()) === 1)
    assert(asOfStrategies(graft.streaming.StreamOps.streamSession(spark)) === 1)
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

  test("child sessions run with artifact isolation off") {
    // one class loader, so one generated-code cache, for every session
    val key = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.get(key) === "false")
    assert(spark.newSession().conf.get(key) === "false")
    assert(graft.streaming.StreamOps.streamSession(spark).conf.get(key) === "false")
  }
}
