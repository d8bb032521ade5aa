package graft

import org.apache.spark.sql.functions._
import graft.ann.Ivf

/** IVF ANN must find a healthy fraction of the exact top-k while
  * searching only a few posting lists. */
class IvfSpec extends SparkSpec {

  test("IVF recall@10 vs brute force: >=0.8 at nProbe=4, exact at nProbe=8, monotone in probes") {
    val emb = graft.core.Tables.embeddings(spark, sf)
    val queries = Seq(0L, 1L, 2L)

    // exact top-10 per query (cosine)
    val d = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast("double"))
    val norms = d.groupBy("vec_id").agg(sum(col("x") * col("x")).as("nrm"))
    val qd = d.filter(col("vec_id").isin(queries: _*))
      .select(col("vec_id").as("q_id"), col("pos"), col("x").as("qx"))
    val exact = qd.join(d, "pos")
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("qx") * col("x")).as("dot"))
      .join(norms.select(col("vec_id").as("q_id"), col("nrm").as("qn")), "q_id")
      .join(norms, "vec_id")
      .withColumn("sim", col("dot") / sqrt(col("qn") * col("nrm")))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(desc("sim"), asc("vec_id"))))
      .filter(col("rank") <= 10)
      .select("q_id", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

    val centroids = Ivf.train(emb, k = 8, iters = 2)
    // probe-count sweep: recall must not decrease as more posting
    // lists are probed (more candidates is a superset), must clear
    // 0.8 at half the lists, and probing ALL lists IS brute force.
    val meanRecall = Seq(1, 2, 4, 8).map { nProbe =>
      val approx = Ivf.search(emb, centroids, queries, nProbe = nProbe, topK = 10)
        .select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val per = queries.map(q =>
        q -> (exact(q) intersect approx.getOrElse(q, Set.empty)).size / 10.0)
      nProbe -> (per.map(_._2).sum / per.size, per.toMap)
    }
    meanRecall.sliding(2).foreach { case Seq((p1, (m1, _)), (p2, (m2, _))) =>
      assert(m2 >= m1, s"mean recall fell from $m1 (nProbe=$p1) to $m2 (nProbe=$p2)")
    }
    val at4 = meanRecall.find(_._1 == 4).get._2._2
    queries.foreach { q =>
      assert(at4(q) >= 0.8, s"query $q recall ${at4(q)} < 0.8 at nProbe=4")
    }
    val at8 = meanRecall.find(_._1 == 8).get._2._2
    queries.foreach { q =>
      assert(at8(q) == 1.0, s"query $q recall ${at8(q)} != 1.0 probing all lists")
    }
  }

  test("r16: row-local centroid assignment — zero exchanges, identical to the retired aggregated argmin") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val emb = graft.core.Tables.embeddings(spark, sf)
    val cents = Ivf.train(emb, k = 8, iters = 1)
    val a = Ivf.assign(emb, cents)
    a.collect()
    assert(collectAll(a.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e }.isEmpty,
      "row-local assignment must not shuffle")
    // the retired shape: crossJoin(k×) + per-vector min(struct(dist, cid))
    // aggregation — the differential catches any tie-break or distance
    // drift at a k the oracle fixture does not exercise
    val cdf = spark.createDataFrame(
      cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }).toDF("cid", "cvec")
    val old = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cdf))
      .withColumn("dist",
        graft.expr.VecExprs.l2sq_fd(col("embedding"), col("cvec")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"))
    assert(a.except(old).isEmpty && old.except(a).isEmpty,
      "row-local assignment diverged from the aggregated argmin")
  }
}
