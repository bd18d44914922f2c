package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet readers for the driver-generated test tables (TESTDATA.md).
  * In production these are Iceberg tables (`spark.read.table`); the sandbox
  * ships plain parquet, so the reader is a thin seam — everything downstream
  * sees a DataFrame either way. Filters/projections placed by operators reach
  * the scan via Catalyst pushdown (verified in plan tests).
  */
object Tables {
  /** The under-split scan rule: a table read from fewer files than the
    * session has cores is repartitioned across the cores, so a
    * single-row-group file does not run the whole front of a cold query in
    * one task (measured 19 s vs ~2 s spread at sf0.1). A table with ≥ cores
    * files keeps its layout and pays no Exchange. */
  def spread(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.sparkContext.defaultParallelism
    if (df.inputFiles.length < parts) df.repartition(parts) else df
  }

  /** Table `name` of `dir`, read with the schema of its parquet footer
    * (`Footers.schema`): building the frame launches no Spark job. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(graft.io.Footers.schema(spark, path)).parquet(path)
  }

  def events(s: SparkSession, d: String): DataFrame    = t(s, d, "events")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
}
