package graft

/** Benchmark main (driver contract: ONE JSON line on stdout).
  *
  * Headline = the end-to-end staged KG pipeline (graft.Run.execute: scan →
  * extract → link → emit → closure → canonicalize, all stages materialized)
  * reported as triples/sec and turns/sec — the BASELINE.json metric. The
  * per-query map times each SparkEntry query warm: every query runs over
  * one stage graph whose shared frames are materialized once up front, so a
  * query's time is its own operator cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER overrides the master URL — used by the scaling
    // runs with local-cluster[N,cores,mem] to get N real executor JVMs
    // (single-JVM local[K] shares one heap/GC, which caps thread scaling
    // long before core count does).
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSessions.builder("graft-bench", master, cpus)
      // At bench scale (hundreds of MB) the 64 MB default advisory size
      // coalesces shuffles to ~4 partitions, capping parallelism no matter
      // the core count; 4 MB keeps all cores fed. At production scale the
      // default is right — this is a small-data knob.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      // Same reasoning for SCAN splits: the sf0.1 fixture is a single
      // ~30 MB parquet file, which the 128 MB default reads as ONE task —
      // serializing the whole extraction+linking front of the pipeline.
      // 8 MB splits keep the scan parallel; at 100 TB the default is right.
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // --- optional deterministic scale-up (SPARK_GRAFT_SCALE=K) ---
    // Replicates events K× with disjoint event_id ranges (still seed-free
    // and deterministic: pure arithmetic). Used by the N-vs-4N scaling runs,
    // where the fixture SF is too small to saturate even N cores.
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "1").toInt
    val inDir = if (scale <= 1) sfDir else {
      import java.nio.file.{Files, Paths}
      import org.apache.spark.sql.functions._
      val tmp = Files.createTempDirectory("graft-bench-in")
      Seq("nation", "region", "customer", "supplier", "orders",
        "lineitem").foreach { t =>
        Files.createSymbolicLink(tmp.resolve(s"$t.parquet"),
          Paths.get(s"$sfDir/$t.parquet"))
      }
      // a 10^6 offset per replica keeps the replicas' event_ids disjoint
      spark.read.parquet(s"$sfDir/events.parquet")
        .withColumn("k", explode(sequence(lit(0L), lit(scale - 1L))))
        .withColumn("event_id", col("event_id") + col("k") * 1000000L)
        .drop("k")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.parquet(tmp.resolve("events.parquet").toString)
      tmp.toString
    }

    // --- headline: end-to-end staged pipeline, median of N reps ---
    // (±20-50% sandbox noise — a single rep can misrepresent the round.)
    // SPARK_GRAFT_COMPUTE_ONLY=1 times the pure computation path (no stage
    // materialization) — separates compute scaling from the single shared
    // disk of the sandbox, which caps write-stage scaling.
    val turns = spark.read.parquet(s"$inDir/events.parquet").count()
    val computeOnly = sys.env.get("SPARK_GRAFT_COMPUTE_ONLY").contains("1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_E2E_REPS", "3").toInt
    var triples = 0L
    var canonTriples = 0L
    val e2eSecs = (1 to reps).map { _ =>
      val outDir = java.nio.file.Files.createTempDirectory("graft-bench").toString
      spark.catalog.clearCache()
      Caches.releaseAll(spark) // cold rep: no residual checkpoint blocks either
      val t0 = System.nanoTime()
      val (t, c) =
        if (computeOnly) {
          val n = Pipeline.canonTriples(spark, inDir).count()
          (n, n)
        } else Run.execute(spark, inDir, outDir, resume = false)
      triples = t; canonTriples = c
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[bench] e2e rep $sec%8.2fs")
      // drop the rep's staged output immediately — repeated reps would
      // otherwise accumulate GBs of parquet in /tmp and skew later reps
      try {
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        Files.walk(Paths.get(outDir)).iterator().asScala.toSeq
          .reverse.foreach(Files.delete)
      } catch { case _: Throwable => () }
      sec
    }.sorted
    // true median (mean of the middle pair for even rep counts — the
    // upper-middle element alone would bias even-rep headlines slow)
    val e2eSec =
      if (e2eSecs.size % 2 == 1) e2eSecs(e2eSecs.size / 2)
      else (e2eSecs(e2eSecs.size / 2 - 1) + e2eSecs(e2eSecs.size / 2)) / 2

    // --- per-query timings ---
    // SPARK_GRAFT_E2E_ONLY=1 skips them (used for the N-vs-4N scaling runs,
    // which time only the pipeline).
    val e2eOnly = sys.env.get("SPARK_GRAFT_E2E_ONLY").contains("1")
    // SPARK_GRAFT_QUERIES=a,b,c limits the per-query pass (iteration aid)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    val allQueries =
      if (e2eOnly) Seq.empty
      else SparkEntry.stages.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.isEmpty || only.contains(n) }
    // WARM: every query runs over one stage graph, whose shared frames are
    // materialized once here, so a query's time is its own operator cost —
    // not the cost of rebuilding the whole pipeline cold (which made every
    // export/uber query read as "slow" and hid real per-operator
    // regressions inside rebuild noise). The e2e headline above stays
    // fully cold.
    val sc = spark.sparkContext
    val graph = new Pipeline(spark, sfDir)
    var warmupSec = 0.0
    var warm = Set.empty[Int] // the graph's blocks: kept for the pass
    if (allQueries.nonEmpty) {
      val w0 = System.nanoTime()
      warm = graph.warm()
      warmupSec = (System.nanoTime() - w0) / 1e9
      System.err.println(f"[bench] pipeline warm-up $warmupSec%8.2fs")
    }
    // median of 3 per query: a single loud sandbox window can no longer
    // ship a 10×-outlier per-query number as the round's record
    val qReps = 3
    val results = allQueries.map { case (name, fn) =>
      val times = (1 to qReps).map { _ =>
        val q0 = System.nanoTime()
        // a crashed query records its elapsed time AND lands in `failed` —
        // never a bogus fast timing that would read as a speedup
        val ok = try { fn(graph).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        ((System.nanoTime() - q0) / 1e9, ok)
      }
      val secs = times.map(_._1).sorted
      val sec = secs(secs.size / 2) // upper median; exact middle for odd N
      val ok = times.forall(_._2)
      System.err.println(f"[bench] $name%-22s $sec%8.2fs  " +
        f"(reps ${secs.map(s => f"$s%.2f").mkString("/")}%s)")
      // free everything the query materialized; the graph's frames survive
      Caches.unpersistIds(spark, sc.getPersistentRDDs.keySet.toSet -- warm)
      (name, sec, ok)
    }
    spark.catalog.clearCache()
    Caches.releaseAll(spark) // end of pass: zero residual checkpoint blocks
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.filterNot(_._3).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")

    val tps = (triples / e2eSec).toLong
    val rps = (turns / e2eSec).toLong
    val qTotal = results.map(_._2).sum
    val json =
      f"""{"metric":"kg_pipeline_e2e","value":$e2eSec%.3f,"unit":"sec","queries":$qs%s,"failed":$failed%s,"sf":"$sfDir%s","cpus":$cpus%s,"e2e_reps":${e2eSecs.map(s => f"$s%.3f").mkString("[", ",", "]")}%s,"turns":$turns%d,"triples":$triples%d,"canon_triples":$canonTriples%d,"triples_per_sec":$tps%d,"turns_per_sec":$rps%d,"query_total_sec":$qTotal%.3f,"query_mode":"warm","warmup_sec":$warmupSec%.3f}"""
    println(json)
    // belt-and-braces: also drop the line where a stdout-parsing failure
    // can't lose it
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH/last_run.json"), json + "\n")
    catch { case _: Throwable => () }
    spark.stop()
  }
}
