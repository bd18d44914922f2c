package graft

import java.nio.file.Files
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TablesSpec extends SparkSpec {

  test("a source table reads with the inferred schema and launches no job") {
    // a Spark-written table (several part files, the schema in the footer)
    // next to the seven fixture tables (one file each, no Spark schema)
    val written = Files.createTempDirectory("grafttables").toString
    spark.range(0, 300, 1, 3).select(col("id"),
        col("id").cast("string").as("s"),
        timestamp_seconds(col("id")).as("ts"),
        array(col("id").cast("int")).as("xs"),
        struct(col("id").as("a"), lit("b").as("b")).as("st"))
      .write.parquet(s"$written/spark.parquet")
    val tables = Seq("events", "nation", "region", "customer", "supplier",
      "orders", "lineitem").map(sfDir -> _) :+ (written -> "spark")
    for ((dir, name) <- tables) {
      var df: DataFrame = null
      assert(jobsOf { df = Tables.t(spark, dir, name) } == 0, name)
      assert(df.schema == spark.read.parquet(s"$dir/$name.parquet").schema, name)
    }
  }
}
