package graft

import org.apache.spark.sql.functions._
import graft.agg.{RebinAggregator, TsPoint}

/** The typed rebin Aggregator must agree with the SQL-surface exact-
  * integer formulation (t2/a1) and with brute force. Also covers the
  * S5 CSV reader path: round-trip through csv with an explicit schema.
  */
class AggregatorSpec extends SparkSpec {
  import spark.implicits._

  test("typed rebin aggregator matches brute-force mean and reference error") {
    val rng = new scala.util.Random(53)
    val pts = (0 until 5000).map { i =>
      TsPoint((i % 10).toDouble, 100.0 + rng.nextGaussian(), 1.0)
    }
    val ds = pts.toDS()
    val got = ds.groupByKey(p => p.x.toLong)
      .agg(RebinAggregator.toColumn.name("rb"))
      .collect().toMap
    (0L until 10L).foreach { bin =>
      val members = pts.filter(_.x.toLong == bin).map(_.value)
      val n = members.length
      val mean = members.sum / n
      val varPop = members.map(v => (v - mean) * (v - mean)).sum / n
      val want = math.sqrt(1.0 / n + varPop)
      val rb = got(bin)
      assert(rb.n === n)
      assert(math.abs(rb.mean - mean) < 1e-9)
      assert(math.abs(rb.err - want) < 1e-9, s"bin $bin: ${rb.err} vs $want")
    }
  }

  test("aggregator merge is associative (partial aggregation safe)") {
    val a = RebinAggregator.reduce(RebinAggregator.zero, TsPoint(0, 2.0, 1.0))
    val b = RebinAggregator.reduce(RebinAggregator.zero, TsPoint(0, 4.0, 1.0))
    val c = RebinAggregator.reduce(RebinAggregator.zero, TsPoint(0, 9.0, 1.0))
    val left = RebinAggregator.merge(RebinAggregator.merge(a, b), c)
    val right = RebinAggregator.merge(a, RebinAggregator.merge(b, c))
    assert(RebinAggregator.finish(left) === RebinAggregator.finish(right))
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
