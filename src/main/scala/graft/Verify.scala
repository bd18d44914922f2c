package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.stages query over one
  * stage graph of the input → parquet, plus oracle_sql.json, for the
  * driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd+ args: run only the named queries (dev-loop convenience;
    // the driver always calls with exactly two args → full run)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSessions.builder("graft-verify", s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // fail FAST on a misspelled query-name filter — silently running
    // nothing would let a dev loop report success with no output
    val unknown = only -- SparkEntry.stages.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    // every query runs over one stage graph of the input, warmed once: a
    // query reads the shared frames instead of planning and filling its own
    // copies. After each query the blocks that are not the graph's are
    // freed (clearCache would drop the graph's frames too). A failed
    // warm-up (e.g. a bad sfDir) leaves each query to fail on its own.
    val graph = new Pipeline(spark, sfDir)
    val warm = try graph.warm() catch { case e: Throwable =>
      System.err.println(s"[verify] warm-up failed: ${e.getMessage}")
      Set.empty[Int]
    }
    val sc = spark.sparkContext
    // per-query row counts, written as manifest.json: makes an empty
    // driver-side correctness artifact distinguishable from "nothing ran"
    // (round 3 shipped with CORRECTNESS_r03.json == {} and nothing noticed)
    val counts = SparkEntry.stages.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .map { case (name, fn) =>
      val n = try {
        fn(graph).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        spark.read.parquet(s"$outDir/$name").count() // metadata-only read
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        -1L
      }
      Caches.unpersistIds(spark, sc.getPersistentRDDs.keySet.toSet -- warm)
      name -> n
    }
    spark.catalog.clearCache()
    Caches.releaseAll(spark)
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      counts.map { case (k, v) => s""""$k": $v""" }.mkString("{", ",", "}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
