package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Fixture-table loaders + numeric helpers shared by every query.
  *
  * Determinism discipline (drives the duckdb-oracle hash match):
  * float aggregation order differs between engines, so every
  * aggregate that feeds a verified result is computed over exact
  * integers (money in cents, timestamps in microseconds) and the
  * final floating value is derived from those exact sums with a
  * single, identical formula on both sides.
  *
  * Schema memo: Spark's Parquet schema inference runs one Spark job
  * per read, at DataFrame construction. [[schemaOf]] reads a file's
  * schema once per JVM and every loader reads with it. The memo key is
  * the canonical path, the [[Digest.fileToken]] of the file or
  * directory (`name:length:mtime` of every file under it, so a file
  * rewritten in place is read again) and the session's conf entries
  * whose key contains `parquet` (`nanosAsLong` and
  * `inferTimestampNTZ.enabled` change the inferred `ts` type).
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** `events.ts` arrives in fixture-generation-dependent layouts:
    * TIMESTAMP(NANOS) (pre-r6 fixtures; Spark 4 rejects it as a
    * timestamp, so read nanos as long — `nanosAsLong`, set on every
    * session by [[Session.build]] — and truncate to micros — the
    * same ns→us truncation duckdb applies) or TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (r6 fixtures; surfaces as TIMESTAMP_NTZ).
    * Both normalize to session-TZ TIMESTAMP — sessions here run UTC,
    * so the NTZ→LTZ cast is identity on the stored micros and both
    * engines see identical instants either way. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"))

  /** Normalize a raw events frame's `ts` to session-TZ TIMESTAMP
    * whichever physical layout the fixture generation produced (see
    * [[events]]). Works on batch and streaming frames alike. */
  def normalizeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case org.apache.spark.sql.types.TimestampNTZType =>
      raw.withColumn("ts", col("ts").cast("timestamp"))
    case _ => raw // already session-TZ TIMESTAMP
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Read a fixture table, normalizing any TIMESTAMP_NTZ column (r6
    * fixtures write isAdjustedToUTC=false micros) to session-TZ
    * TIMESTAMP — sessions run UTC, so the cast is identity on the
    * stored micros and matches what duckdb reads from the same file. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val raw = spark.read.schema(schemaOf(spark, path)).parquet(path)
    raw.schema.fields.filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
      .foldLeft(raw)((df, f) => df.withColumn(f.name, col(f.name).cast("timestamp")))
  }

  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Seq[(String, String)]), StructType]()

  /** The inferred schema of the parquet file or directory at `path`,
    * memoized per JVM (see the object scaladoc for the key). A missing
    * path is not memoized: Spark's own read raises its error. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val f = new java.io.File(path)
    if (!f.exists()) spark.read.parquet(path).schema
    else {
      val confs = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
      val key = (f.getCanonicalPath, Digest.fileToken(f), confs)
      Option(schemas.get(key)).getOrElse {
        val schema = spark.read.parquet(path).schema
        schemas.putIfAbsent(key, schema)
        schema
      }
    }
  }

  /** Half-away-from-zero integer rounding of a double, PRIMITIVE form
    * (r15, comparison form r16): Spark's `round(double)` routes
    * through BigDecimal.valueOf(x).setScale(0, HALF_UP) — ~1 µs/row,
    * measured 19→3.4 s on t5's 12 M-row trig stream and ~1 µs × 600 M
    * rows on a ×1000 lineitem scan. floor(|x|) plus a direct
    * `frac >= 0.5` comparison is bit-identical to it for ALL doubles
    * (r16, closing the r15 advice note on the +0.5-addition form):
    * |x| − floor(|x|) is exact (Sterbenz for |x| ≥ 1, trivially below),
    * half-integer boundaries are exactly representable up to 2^52 —
    * beyond which frac is identically 0 — so the binary comparison
    * equals BigDecimal's shortest-decimal comparison (shortest-repr
    * round-trips uniquely and preserves order vs representable
    * decimals); unlike +0.5-and-floor there is no double-rounding at
    * x = ±0.49999999999999994 and no tie-to-even drift at 2^52 odd
    * integers. The negate-if branch handles HALF_UP's away-from-zero
    * negatives AND pins the zero cell to +0.0 (BigDecimal never
    * returns −0.0); NaN/±Inf propagate identically. Bit-verified
    * against Spark round() in RoundHalfUpSpec and by the full
    * 196-query strict oracle gate. DuckDB's round() is
    * half-away-from-zero too, so the oracle contract is unchanged.
    * Scale-k rounds (round(x, 6) display columns) use the codegen
    * [[graft.expr.RoundHalfUpK]] — floor(x·10^k + 0.5)/10^k is NOT
    * equivalent (the product reintroduces binary rounding).
    * Packaging: a single codegen'd static call ([[graft.expr.RoundAwayD]])
    * rather than a Column when-chain — the formula form expanded to
    * ~25 generated lines per call site and pushed mega-expression
    * plans (e9's 64-dim power iteration) past janino's method limits,
    * silently dropping them to interpreted eval. */
  def roundAway(c: Column): Column = graft.expr.RoundAwayD.round_away(c)

  /** Drop-in for round(x, 6) on doubles — bit-identical codegen
    * [[graft.expr.RoundHalfUpK]], avoiding the per-row BigDecimal on
    * scale-k output rounds (r16, closing the r15 named tax). */
  def round6(c: Column): Column = graft.expr.RoundHalfUpK.rhu(c, 6)

  /** Exact integer money: round(x*100) as cents. The double product is
    * identical across engines (IEEE), so the rounded integer is too. */
  def cents(c: Column): Column = roundAway(c * lit(100)).cast("long")

  /** Scaled exact integer for arbitrary doubles (scale = 10^k). */
  def scaled(c: Column, scale: Long): Column = roundAway(c * lit(scale)).cast("long")

  /** Quantize a transcendental-derived double to BIGINT with a
    * runtime boundary-margin proof (the t13 `lnQ6` discipline, moved
    * IN-PLAN for values computed distributed): the generated SQL
    * asserts the scaled value sits ≥ `margin` quanta away from a .5
    * rounding boundary before rounding, so any libm within a few ulps
    * of the true value (Java's Math.log vs C libm differ by ≤1 ulp)
    * rounds to the SAME integer in both engines. This turns the
    * "ln of identical doubles rounds identically" assumption from
    * empirically-true-today into a guarantee verified on the actual
    * data every run: a violation raises with the offending value
    * (remedy: perturb the quantum or the fixture), never silently
    * hash-diverges. Inline the value SQL only on grid-sized frames
    * (it is repeated 4×). */
  def guardedRoundQ(valueSql: String, margin: Double): String =
    s"CASE WHEN abs(($valueSql) - round($valueSql)) < 0.5 - $margin " +
      s"THEN CAST(round($valueSql) AS BIGINT) " +
      "ELSE CAST(raise_error(concat('quantized value ', " +
      s"CAST(($valueSql) AS STRING), ' sits within $margin of a " +
      "rounding boundary - cross-engine exactness unprovable')) " +
      "AS BIGINT) END"

  /** The events frame every light-curve query starts from: `value` plus
    * exact integer time `t_us` (micros) and flux `vc` (cents). Mirrors
    * the oracle's [[baseSql]] CTE column for column. */
  def base(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("t_us"),
      cents(col("value")).as("vc"))

  /** DuckDB `base` CTE for the oracles of queries built on [[base]]. */
  val baseSql: String =
    """base AS (SELECT event_id, user_id, event_type, value,
      |  epoch_us(ts) AS t_us, CAST(round(value*100) AS BIGINT) AS vc
      |  FROM events)""".stripMargin

  /** Event time in microseconds since epoch (exact long). */
  def tUs(ts: Column): Column = unix_micros(ts)
}
