package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet readers for the driver-generated test tables (TESTDATA.md).
  * In production these are Iceberg tables (`spark.read.table`); the sandbox
  * ships plain parquet, so the reader is a thin seam — everything downstream
  * sees a DataFrame either way. Filters/projections placed by operators reach
  * the scan via Catalyst pushdown (verified in plan tests).
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def events(s: SparkSession, d: String): DataFrame    = t(s, d, "events")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
}
