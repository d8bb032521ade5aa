package graft

import org.apache.spark.sql.functions._

/** Source-format round-trip invariants behind the s8/s9 declared
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
}
