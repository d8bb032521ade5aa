package graft.search

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.{toCol, toExpr}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

/** T5 — Lomb–Scargle periodogram (ref exec_lspe main.py:4888–5028),
  * built from closed-form normal-equation sums: for each trial
  * frequency, the least-squares sine+cosine fit amplitude over the
  * mean-subtracted series, normalized by the population variance
  * (generalized LS with pre-subtracted exact mean).
  *
  * Execution shape (r16, guide §1.2 step 1): ONE aggregation pass —
  * [[LsSums]] loops the frequency grid per sample row inside a typed
  * aggregate, so the per-(row × frequency) products are accumulated
  * without ever materializing the expanded rows. The earlier
  * crossJoin(broadcast(grid)) + groupBy(k) form was algebraically the
  * same sums, but the 72 M-row (sf0.1) join materialization alone
  * cost ~2.4 s of the query's ~3.9 s — the probe showed trig was
  * nearly free and the row machinery dominated; at 100 TB the
  * expanded stream is rows × nFreq forever. State is 5·nFreq longs
  * per partition, merged associatively; the frequency grid and the
  * mean derive from a one-row stats collect (driver model state, like
  * e3's centroids).
  *
  * Determinism: cos/sin terms are integerized (round(c·1e6), the same
  * RoundKernels.roundAway scalar the codegen path uses) so all
  * aggregation is over exact integers; every floating value derives
  * from those sums with one fixed formula — bit-identical to the
  * retired in-plan form (same double expressions, same evaluation
  * order), proven by the strict oracle gate.
  */
object LombScargle {

  /** The per-frequency integer sums as ONE typed aggregate: for each
    * input row, loop the `omegas` grid accumulating
    * (ci², si², ci·si, rxc, rxs) per frequency into a flat
    * 5·nFreq-long buffer. Inputs must be non-null (the `tUs`/`vc`
    * integer contract); null rows are skipped like SQL sum(null).
    * Arithmetic mirrors the retired column expressions exactly:
    *   ts  = (t − t0) / 1e6          (double division)
    *   ci  = roundAway(cos(ω·ts)·1e6)  as long
    *   si  = roundAway(sin(ω·ts)·1e6)  as long
    *   dx  = vc/100.0 − mean
    *   rxc = roundAway(ci·dx), rxs = roundAway(si·dx)  as long
    *
    * INTEGER ENVELOPE (r17, advice #1): each per-row term is bounded
    * by 1e12 (|ci|,|si| ≤ 1e6 since |cos|,|sin| ≤ 1), so a
    * per-frequency sum overflows the signed long past
    * (2^63−1)/1e12 ≈ 9.22e6 input rows — the same envelope as the
    * retired sum-of-longs columns, NOT unconditional corpus-size
    * safety. [[periodogram]] guards the collected row count; past the
    * bound the sums must be chunked (disjoint row ranges merged in
    * wider arithmetic) before this aggregate is corpus-safe. */
  case class LsSums(tUs: Expression, vc: Expression,
                    omegas: Array[Double], t0: Long, mean: Double,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

    private val nf = omegas.length
    override def children: Seq[Expression] = Seq(tUs, vc)
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def createAggregationBuffer(): Array[Long] = new Array[Long](5 * nf)

    override def update(buf: Array[Long], row: InternalRow): Array[Long] = {
      val tv = tUs.eval(row); val vv = vc.eval(row)
      if (tv == null || vv == null) return buf
      val ts = (tv.asInstanceOf[Long] - t0).toDouble / 1000000.0
      val dx = vv.asInstanceOf[Long] / 100.0 - mean
      var k = 0
      while (k < nf) {
        val ph = omegas(k) * ts
        val ci = graft.expr.RoundKernels.roundAway(Math.cos(ph) * 1e6).toLong
        val si = graft.expr.RoundKernels.roundAway(Math.sin(ph) * 1e6).toLong
        val o = 5 * k
        buf(o) += ci * ci
        buf(o + 1) += si * si
        buf(o + 2) += ci * si
        buf(o + 3) += graft.expr.RoundKernels.roundAway(ci * dx).toLong
        buf(o + 4) += graft.expr.RoundKernels.roundAway(si * dx).toLong
        k += 1
      }
      buf
    }

    override def merge(b: Array[Long], o: Array[Long]): Array[Long] = {
      var i = 0
      while (i < b.length) { b(i) += o(i); i += 1 }
      b
    }

    override def eval(buf: Array[Long]): Any = ArrayData.toArrayData(buf)

    override def serialize(buf: Array[Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 * buf.length)
      bb.asLongBuffer().put(buf)
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): Array[Long] = {
      val out = new Array[Long](bytes.length / 8)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
      out
    }

    override def withNewMutableAggBufferOffset(n: Int): LsSums =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): LsSums =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildrenInternal(
        c: IndexedSeq[Expression]): Expression = copy(tUs = c(0), vc = c(1))
  }

  /** df must expose integer micros `tUs` and integer scaled value
    * `vc` (cents). Returns (k, power[, fap]) for k = 0..nFreq-1 with
    * f_k = (1 + k/subdiv)/baseline — subdiv=1 is the plain
    * 1/baseline-spaced grid; subdiv=6 reproduces the reference's
    * oversampled deltfreq = minmfreq/factosam/2 with factosam=3
    * (main.py:4956–4958). `fapProb`: when set, adds the constant
    * false-alarm power level at that probability (ref 5% line,
    * main.py:5011–5012) via the classic independent-frequencies
    * formula z = 1 − (1 − (1−p)^(1/M))^(2/(N−3)) for the
    * variance-normalized power. */
  def periodogram(df: DataFrame, tUs: String, vc: String, nFreq: Int,
                  subdiv: Int = 1, fapProb: Option[Double] = None): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(
      List(
        StructField("k", org.apache.spark.sql.types.IntegerType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("power", DoubleType, nullable = true)) ++
      (if (fapProb.isDefined)
         List(StructField("fap", DoubleType, nullable = true))
       else Nil))
    // one-row stats frame (driver model state — the grid and the mean
    // parameterize the aggregate, exactly like e3's centroid collect)
    val mm = df.agg(
      min(col(tUs)).as("t0"), max(col(tUs)).as("t1"),
      count(lit(1)).as("n"), sum(col(vc)).as("s"),
      sum(col(vc) * col(vc)).as("q")).collect()(0)
    if (mm.isNullAt(0))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], outSchema)
    val t0 = mm.getLong(0); val t1 = mm.getLong(1)
    val n = mm.getLong(2); val s = mm.getLong(3); val q = mm.getLong(4)
    // LsSums' int64 envelope (see its scaladoc): refuse loudly instead
    // of overflowing silently past ~9.22e6 rows per series.
    require(n <= 9000000L,
      s"LsSums int64 envelope: n=$n rows exceeds the 9e6-row bound " +
      "(per-row terms reach 1e12; chunk the series and merge in wider " +
      "arithmetic before running the periodogram at this volume)")
    // the exact double chain of the retired in-plan columns
    val bl = (t1 - t0).toDouble / 1000000.0
    val omegas = Array.tabulate(nFreq)(k =>
      2.0 * math.Pi * (k.toDouble / subdiv.toDouble + 1.0) / bl)
    val mean = s.toDouble / n / 100.0
    val varx = (q - s.toDouble * s / n) / n / 10000.0
    val sums = df.agg(toCol(LsSums(toExpr(col(tUs)), toExpr(col(vc)),
      omegas, t0, mean).toAggregateExpression()).as("arr"))
    val out = sums
      .withColumn("k", explode(sequence(lit(0), lit(nFreq - 1))))
      .select(col("k"),
        element_at(col("arr"), col("k") * 5 + 1).as("cc"),
        element_at(col("arr"), col("k") * 5 + 2).as("ss"),
        element_at(col("arr"), col("k") * 5 + 3).as("cs"),
        element_at(col("arr"), col("k") * 5 + 4).as("xc"),
        element_at(col("arr"), col("k") * 5 + 5).as("xs"))
      .withColumn("n", lit(n))
      .withColumn("varx", lit(varx))
      .withColumn("acc", col("cc").cast("double") / 1e12)
      .withColumn("ass", col("ss").cast("double") / 1e12)
      .withColumn("acs", col("cs").cast("double") / 1e12)
      .withColumn("axc", col("xc").cast("double") / 1e6)
      .withColumn("axs", col("xs").cast("double") / 1e6)
      .withColumn("power", graft.core.Tables.round6(
        (col("ass") * col("axc") * col("axc")
          - lit(2.0) * col("acs") * col("axc") * col("axs")
          + col("acc") * col("axs") * col("axs"))
          / nullif(col("acc") * col("ass") - col("acs") * col("acs"), lit(0.0))
          / nullif(lit(2.0) * col("varx") * col("n"), lit(0.0))))
    fapProb match {
      case Some(p) =>
        out.withColumn("fap", graft.core.Tables.round6(
          lit(1.0) - pow(lit(1.0) - pow(lit(1 - p), lit(1.0 / nFreq)),
            lit(2.0) / (col("n") - lit(3)))))
          .select("k", "n", "power", "fap")
      case None => out.select("k", "n", "power")
    }
  }
}
