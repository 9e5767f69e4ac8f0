package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Source-format breadth: the same relation must round-trip through
  * csv / json / parquet with declared schemas (schema-on-read contract,
  * SURVEY.md §1.3) and identical query results. */
class SourceFormatsSpec extends SparkSpec {

  test("events round-trips identically through csv, json, parquet, orc, and xml") {
    val dir = tempDir("formats").toString
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      // normalize ts to string for CSV-safe round-trip comparison domain
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
    events.write.option("header", "true").csv(s"$dir/csv")
    events.write.json(s"$dir/json")
    events.write.parquet(s"$dir/parquet")
    events.write.orc(s"$dir/orc")
    events.write.option("rowTag", "event").xml(s"$dir/xml")

    val schema = events.schema
    def result(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).as("total"))
        .orderBy("event_type").collect().toSeq

    val fromCsv = spark.read.schema(schema).option("header", "true").csv(s"$dir/csv")
    val fromJson = spark.read.schema(schema).json(s"$dir/json")
    val fromParquet = spark.read.schema(schema).parquet(s"$dir/parquet")
    val fromOrc = spark.read.schema(schema).orc(s"$dir/orc")
    val fromXml = spark.read.schema(schema).option("rowTag", "event").xml(s"$dir/xml")

    val expected = result(events)
    assert(result(fromCsv) == expected)
    assert(result(fromJson) == expected)
    assert(result(fromParquet) == expected)
    assert(result(fromOrc) == expected)
    assert(result(fromXml) == expected)
  }

  test("PERMISSIVE json read quarantines corrupt records (SRC2 semantics)") {
    val dir = tempDir("badjson").toString
    Files.writeString(java.nio.file.Paths.get(dir, "data.json"),
      """{"id": 1, "v": "ok"}
        |{"id": broken
        |{"id": 3, "v": "ok2"}""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    val df = spark.read.schema(schema).json(dir).cache()
    try {
      assert(df.where(col("_corrupt_record").isNotNull).count() == 1)
      assert(df.where(col("id").isNotNull).count() == 2)
    } finally df.unpersist()
  }
}
