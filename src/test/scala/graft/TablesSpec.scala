package graft

import java.nio.file.Files
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import org.scalatest.BeforeAndAfterAll
import graft.core.Tables

/** `Tables.schemaOf`'s memo: a repeat read of an unchanged file runs no
  * schema-inference job, and a changed file or a changed Parquet conf
  * is read again. */
class TablesSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val dir = Files.createTempDirectory("tables-spec").toString

  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit

  test("a repeat load of an unchanged file starts no Spark job") {
    spark.range(10).selectExpr("id", "id * 2 AS v").write.mode("overwrite")
      .parquet(s"$dir/repeat.parquet")
    val first = jobsDuring(Tables.load(spark, dir, "repeat")).size
    assert(first > 0, "the first load infers the schema with a Spark job")
    val again = jobsDuring(Tables.load(spark, dir, "repeat")).size
    assert(again == 0, s"a repeat load started $again jobs")
    assert(Tables.load(spark, dir, "repeat").count() == 10)
  }

  test("a file rewritten in place with another schema is served the new schema") {
    spark.range(3).selectExpr("id AS a").write.mode("overwrite")
      .parquet(s"$dir/rewrite.parquet")
    assert(Tables.load(spark, dir, "rewrite").columns.toSeq == Seq("a"))
    spark.range(3).selectExpr("CAST(id AS STRING) AS b", "CAST(id AS INT) AS c")
      .write.mode("overwrite").parquet(s"$dir/rewrite.parquet")
    val df = Tables.load(spark, dir, "rewrite")
    assert(df.columns.toSeq == Seq("b", "c"))
    assert(df.orderBy("c").collect().map(_.getString(0)).toSeq == Seq("0", "1", "2"))
  }

  test("flipping inferTimestampNTZ does not serve the stale ts type") {
    // written by parquet-mr, not Spark: a Spark-written footer carries
    // its own schema, which inference prefers over the timestamp's
    // isAdjustedToUTC flag that the conf reads (the fixtures' layout)
    val path = s"$dir/ntz.parquet"
    val pq = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(MICROS,false)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
      org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
      .withType(pq).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(pq)
      .newGroup().append("ts", 1577836800000000L))
    finally w.close()
    val ss = spark.newSession()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    ss.conf.set(key, "true")
    assert(Tables.schemaOf(ss, path)("ts").dataType == TimestampNTZType)
    ss.conf.set(key, "false")
    assert(Tables.schemaOf(ss, path)("ts").dataType == TimestampType)
    ss.conf.set(key, "true")
    assert(Tables.schemaOf(ss, path)("ts").dataType == TimestampNTZType)
  }

  test("a missing path raises Spark's AnalysisException") {
    val e = intercept[AnalysisException](Tables.load(spark, dir, "missing"))
    assert(e.getMessage.contains("missing.parquet"))
  }
}
