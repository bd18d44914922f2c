package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the mains (`Run`, `Verify`, `Bench`)
  * and the test suite, so every caller plans with the same session
  * settings: `cores` shuffle partitions, UTC session time, adaptive
  * execution with skew-join splitting. The master is spark-submit's when
  * it injected one, else `master`. Callers add their own settings before
  * `getOrCreate()`. */
object SparkSessions {
  def builder(appName: String, master: String,
              cores: String): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    if (sys.props.contains("spark.master")) b else b.master(master)
  }
}
