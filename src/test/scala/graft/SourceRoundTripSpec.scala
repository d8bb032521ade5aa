package graft

import org.apache.spark.sql.functions._

/** Source-format round-trip invariants behind the s5/s8/s9 declared
  * queries: the text formats must hand back the same VALUES the
  * columnar original holds, or every downstream exact-integer
  * aggregate silently drifts.
  */
class SourceRoundTripSpec extends SparkSpec {

  test("s9: JSON-lines round-trip preserves every customer row value-exactly") {
    val cust = graft.core.Tables.customer(spark, sf)
    withTempDir("graft_json_rt") { tmp =>
      cust.write.mode("overwrite").json(tmp)
      val back = spark.read.schema(cust.schema).json(tmp)
      assert(back.count() === cust.count())
      // doubles survive the text round-trip exactly: the writer emits
      // the shortest round-trip decimal, the parser is exactly rounded
      val j = cust.select(col("c_custkey"), col("c_acctbal").as("a"),
          col("c_mktsegment").as("sa"))
        .join(back.select(col("c_custkey"), col("c_acctbal").as("b"),
          col("c_mktsegment").as("sb")), "c_custkey")
      assert(j.count() === cust.count(), "key set changed in round-trip")
      assert(j.filter(col("a") =!= col("b") || col("sa") =!= col("sb")).count() === 0)
    }
  }

  test("S5 csv reader path: schema round-trip preserves rows and values") {
    withTempDir("graft_csv_") { tmp =>
      val src = graft.core.Tables.events(spark, sf)
        .select(col("event_id"), unix_micros(col("ts")).as("t_us"), col("value"))
        .orderBy("event_id")
      src.write.mode("overwrite").option("header", "true").csv(tmp)
      val back = spark.read
        .schema("event_id LONG, t_us LONG, value DOUBLE")
        .option("header", "true").csv(tmp)
      assert(back.count() === src.count())
      val sHash = src.agg(sum(col("t_us")), sum(round(col("value") * 100).cast("long"))).head
      val bHash = back.agg(sum(col("t_us")), sum(round(col("value") * 100).cast("long"))).head
      assert(sHash === bHash)
    }
  }
}
