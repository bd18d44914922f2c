package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one process.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * Set-up (`setup_s`): session start plus input generation, which runs
  * `SetupGenerations` times into fresh directories (the median counts).
  * Reps are not warmed up: the program is a batch job that runs once per
  * process, so the first rep pays what a user's run pays. Reps repeat, one
  * at a time, until `--seconds` have passed (at least one).
  *
  * With `--trace 1` the reps are traced and give the per-layer metrics
  * instead (medians over reps).
  *
  * The last stdout line is one JSON object: correct, attempted, failed,
  * metrics, and the rep count as `samples`.
  */
object Main {

  val SetupGenerations = 3

  /** Heap still live after full collections, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }

  def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  final case class Rep(wall: Double, out: RepOut, failure: Option[String])

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // the production entry point's session settings (graft.Run.main)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val genS = (1 to SetupGenerations).map { i =>
      val dir = s"$work/in$i"
      val g0 = System.nanoTime()
      wl.generate(spark, dir, seed)
      val s = (System.nanoTime() - g0) / 1e9
      if (i < SetupGenerations) deleteTree(dir)
      s
    }
    val setupS = sessionS + median(genS)
    System.err.println(f"[perfbench] ${wl.name} seed $seed: session $sessionS%.2fs, " +
      s"generate ${genS.map(s => f"$s%.2f").mkString("/")}s")

    val trace = if (traced) Some(new Trace(spark)) else None
    var layers = Seq.empty[Map[String, Double]]
    /** One cold rep: caches released and heap collected before it; its
      * outputs checked after it, untimed. A traced rep also records the
      * heap it leaves live (resident cached and checkpointed blocks,
      * broadcasts, driver state). */
    def rep(i: Int): Rep = {
      val out = s"$work/rep$i"
      spark.catalog.clearCache()
      graft.Caches.releaseAll(spark)
      System.gc()
      trace.foreach(_.begin(out))
      val r0 = System.nanoTime()
      val res = try { wl.rep(spark, out); None } catch { case e: Exception => Some(e) }
      val wall = (System.nanoTime() - r0) / 1e9
      val repLayers = trace.map(_.end(wall, cores)).getOrElse(Map.empty[String, Double])
      val heap = if (traced) Map("spark.retained_heap_mb" -> liveHeapMb()) else Map.empty
      val r = res match {
        case Some(e) =>
          e.printStackTrace()
          Rep(wall, RepOut(0, 0), Some(e.toString))
        case None =>
          val o = wl.measure(spark, out)
          val failure = try wl.checkRep(spark, o, out) catch { case e: Exception => Some(e.toString) }
          if (trace.isDefined && failure.isEmpty) layers :+= repLayers ++ heap ++ wl.layerFacts(spark, out)
          Rep(wall, o, failure)
      }
      r.failure.foreach(f => System.err.println(s"[perfbench] rep $i FAILED: $f"))
      System.err.println(f"[perfbench] rep $i${if (traced) " traced" else ""}: ${r.wall}%.3fs, " +
        s"${r.out.rows} triples, ${r.out.bytes} bytes")
      deleteTree(out)
      r
    }

    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    val loop0 = System.nanoTime()
    while (reps.isEmpty || (System.nanoTime() - loop0) / 1e9 < seconds)
      reps += rep(reps.size)

    spark.catalog.clearCache()
    graft.Caches.releaseAll(spark)
    val checks = wl.finalChecks(spark, s"$work/checks")
    checks.foreach { case (n, ok) => System.err.println(s"[perfbench] check ${if (ok) "ok  " else "FAIL"} $n") }
    spark.stop()

    val ok = reps.filter(_.failure.isEmpty).toSeq
    val wall = median(ok.map(_.wall))
    val metrics: Seq[(String, Double, String)] =
      if (traced) Trace.MetricNames.map { n =>
        (n, if (layers.isEmpty) Double.NaN else median(layers.map(_.getOrElse(n, 0.0))), Trace.unitOf(n))
      }
      else Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wall, "s"),
        ("triples_per_s", median(ok.map(r => r.out.rows / r.wall)), "triples/s"),
        ("out_bytes_per_triple", median(ok.map(r => r.out.bytes.toDouble / r.out.rows)), "B"),
        ("ok_share", ok.size.toDouble / reps.size, "ratio"))
    val failed = reps.count(_.failure.nonEmpty) + checks.count(!_._2)
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${reps.size + checks.size}, """ +
      s""""failed": $failed, "metrics": {$ms}, "samples": ${reps.size}}""")
  }
}
