package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans the benchmark sets around its calls into the program. Outside a
  * traced rep `around` only runs the body. Inside one it records the span
  * (kept in memory until the rep ends) and tags the span's Spark jobs with
  * a job group named after it. */
object Spans {
  final case class Span(name: String, startMs: Long, endMs: Long)
  @volatile private[perfbench] var spark: Option[SparkSession] = None
  private[perfbench] val done = mutable.ArrayBuffer.empty[Span]

  def around[A](name: String)(body: => A): A = spark match {
    case None => body
    case Some(s) =>
      val sc = s.sparkContext
      Trace.cost(sc.setJobGroup(name, name))
      val t0 = System.currentTimeMillis()
      try body
      finally Trace.cost {
        done += Span(name, t0, System.currentTimeMillis())
        sc.clearJobGroup()
      }
  }
}

/** The traced run's instruments, all owned by the benchmark: a
  * `SparkListener` for job, stage and task metrics and for SQL executions
  * (the plan each starts with, and the SQL metrics of the plan it executed),
  * and the spans above. `end` attributes every job of the rep to one layer of the
  * program (see `layerOf`) and keeps the rep's metrics. */
class Trace(spark: SparkSession) {
  import Trace._

  private final case class Job(id: Int, startMs: Long, var endMs: Long, group: String,
                               execId: Option[Long], stageIds: Seq[Int], stageDetails: String)
  private final case class Stage(var tasks: Int = 0, times: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty,
                                 var shuffleWrite: Long = 0, var spill: Long = 0, var gcMs: Long = 0,
                                 var scanTasks: Int = 0)
  private final case class Exec(details: String, plan: String)
  private final case class Done(rows: Long, broadcastBytes: Long, broadcasts: Int)

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
  private val execs = new java.util.concurrent.ConcurrentHashMap[Long, Exec]()
  private val executed = new java.util.concurrent.ConcurrentHashMap[Long, Done]()
  @volatile private var recording = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) cost {
      val p = Option(e.properties)
      jobs.add(Job(e.jobId, e.time, -1L,
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong),
        e.stageIds, e.stageInfos.headOption.map(_.details).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (recording) cost {
      jobs.asScala.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording && e.taskMetrics != null) cost {
      val m = e.taskMetrics
      val s = stages.computeIfAbsent(e.stageId, _ => Stage())
      s.synchronized {
        s.tasks += 1
        s.times += m.executorRunTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        if (m.inputMetrics.bytesRead > 0) s.scanTasks += 1
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (recording) cost(e match {
      case x: SparkListenerSQLExecutionStart =>
        execs.put(x.executionId, Exec(x.details, x.physicalPlanDescription))
      case x: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSql.queryExecution(x).foreach { qe =>
          val nodes = collectAll(qe.executedPlan)
          val bcasts = nodes.collect { case b: BroadcastExchangeExec => b }
          // rows out: the topmost operator that counts its output rows
          val rows = nodes.iterator.flatMap(_.metrics.get("numOutputRows")).map(_.value)
            .nextOption().getOrElse(0L)
          executed.put(x.executionId, Done(rows,
            bcasts.flatMap(_.metrics.get("dataSize")).map(_.value).sum, bcasts.size))
        }
      case _ =>
    })
  }

  spark.sparkContext.addSparkListener(listener)

  private var repOut = ""

  def begin(out: String): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    jobs.clear(); stages.clear(); execs.clear(); executed.clear()
    Spans.done.clear()
    costNs.set(0L)
    repOut = java.nio.file.Paths.get(out).toAbsolutePath.toString
    recording = true
    Spans.spark = Some(spark)
  }

  /** Ends the traced rep; returns its per-layer metrics. `trace_overhead`
    * is the time spent in the instruments during the rep (listener
    * callbacks, span bookkeeping) as a share of the rep's wall time. */
  def end(wallS: Double, cores: Int): Map[String, Double] = {
    Spans.spark = None
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    recording = false
    val overhead = costNs.get() / 1e9 / wallS
    val js = jobs.asScala.toSeq.sortBy(_.id)
    val byLayer = js.groupBy(layerOf)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def stagesOf(j: Seq[Job]) = j.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i)))
    // time covered by the jobs' [start, end] intervals (jobs can overlap)
    def durS(j: Seq[Job]): Double = {
      var covered = 0L
      var reach = Long.MinValue
      for (x <- j.filter(_.endMs >= 0).sortBy(_.startMs)) {
        val from = math.max(x.startMs, reach)
        if (x.endMs > from) { covered += x.endMs - from; reach = x.endMs }
      }
      covered / 1000.0
    }
    def generic(prefix: String, j: Seq[Job], wall: Double, self: Double): Unit = {
      val st = stagesOf(j)
      val times = st.flatMap(_.times).sorted
      val execIds = j.flatMap(_.execId).distinct
      out(s"$prefix.wall_s") = wall
      out(s"$prefix.self_s") = self
      out(s"$prefix.task_s") = times.sum / 1000.0
      out(s"$prefix.jobs") = j.size.toDouble
      out(s"$prefix.rows_out") = execIds.flatMap(i => Option(executed.get(i))).map(_.rows).sum.toDouble
      out(s"$prefix.shuffle_write_mb") = st.map(_.shuffleWrite).sum / 1048576.0
      out(s"$prefix.spill_mb") = st.map(_.spill).sum / 1048576.0
      out(s"$prefix.task_skew") =
        if (times.isEmpty) 0.0 else times.last.toDouble / math.max(1L, times(times.size / 2))
    }
    val spans = Spans.done.toSeq
    def spanWall(layer: String) = spans.filter(s => spanLayer(s.name) == layer)
      .map(s => s.endMs - s.startMs).sum / 1000.0
    for (layer <- Layers) {
      val j = byLayer.getOrElse(layer, Seq.empty)
      val sw = spanWall(layer)
      // a layer entered through a span: wall is the span's; its self time
      // leaves out the jobs inside it that belong to other layers
      if (sw > 0) {
        val inner = js.filter(x => spans.exists(s => spanLayer(s.name) == layer &&
          x.startMs >= s.startMs && x.endMs <= s.endMs) && layerOf(x) != layer)
        generic(layer, j, sw, sw - durS(inner))
      } else generic(layer, j, durS(j), durS(j))
    }
    // whole-rep totals; spark.self_s is driver time outside every job
    generic("spark", js, wallS, wallS - durS(js))
    val all = stagesOf(js)
    val taskS = all.flatMap(_.times).sum / 1000.0
    out("spark.stages") = all.size.toDouble
    out("spark.tasks") = all.map(_.tasks).sum.toDouble
    out("spark.gc_s") = all.map(_.gcMs).sum / 1000.0
    out("spark.idle_core_share") = 1.0 - taskS / (wallS * cores)
    // layer-specific counters and the dispatch branches taken
    val src = byLayer.getOrElse("sources", Seq.empty)
    out("sources.scan_tasks") = stagesOf(src).map(_.scanTasks).sum.toDouble
    out("sources.repartition") =
      if (src.flatMap(_.execId).exists(i => Option(execs.get(i)).exists(_.plan.contains("RoundRobinPartitioning")))) 1.0 else 0.0
    def bcast(layer: String) = byLayer.getOrElse(layer, Seq.empty).flatMap(_.execId).distinct
      .flatMap(i => Option(executed.get(i)))
    out("link.broadcast_mb") = bcast("link").map(_.broadcastBytes).sum / 1048576.0
    out("canonicalize.broadcast") = if (bcast("canonicalize").exists(_.broadcasts > 0)) 1.0 else 0.0
    val closure = byLayer.getOrElse("closure", Seq.empty)
    val checkpoints = closure.filter(j => isCheckpoint(j)).flatMap(_.execId).distinct.size
    // closureIterative checkpoints the undirected edges and the initial
    // labels once, then the labels once per pass
    out("closure.passes") = math.max(0, checkpoints - 2).toDouble
    out("closure.driver_path") = if (closure.nonEmpty && checkpoints == 0) 1.0 else 0.0
    val manifest = byLayer.getOrElse("manifest", Seq.empty)
    val stageWrites = js.filter(j => stageOf(j).exists(!_.startsWith("_lineage")))
    out("manifest.write_s") = durS(stageWrites)
    out("manifest.rescan_s") = durS(manifest)
    val runWall = spanWall("spark")
    out("manifest.rescan_share") = if (runWall > 0) durS(manifest) / runWall else 0.0
    for (e <- Seq("nt", "ttl", "jsonld"))
      out(s"exports.${e}_s") = spans.filter(_.name == s"exports.$e").map(s => s.endMs - s.startMs).sum / 1000.0
    out("trace_overhead") = overhead
    out.toMap
  }

  /** The Run stage a job's SQL execution writes (`<out>/kg/<stage>`), if any. */
  private def stageOf(j: Job): Option[String] =
    j.execId.flatMap(i => Option(execs.get(i))).flatMap { e =>
      WritePath.findFirstMatchIn(e.plan).map(_.group(1)).flatMap { p =>
        val kg = s"$repOut/kg/"
        val path = p.stripPrefix("file:")
        if (path.startsWith(kg)) Some(path.stripPrefix(kg)) else None
      }
    }

  private def callSite(j: Job): Seq[String] =
    j.execId.flatMap(i => Option(execs.get(i))).map(_.details).getOrElse(j.stageDetails)
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq

  private def isCheckpoint(j: Job): Boolean =
    callSite(j).headOption.exists(_.contains("localCheckpoint")) ||
      callSite(j).exists(_.startsWith("graft.Caches.trackedCheckpoint"))

  /** The layer a job is charged to: the program frame nearest to where the
    * job was started decides (the operator or stage writer that ran it);
    * jobs the benchmark itself started belong to the enclosing span. A job
    * started by the run manifest belongs to the stage it writes, and to
    * `manifest` when it writes lineage or re-reads a written stage. */
  private def layerOf(j: Job): String = {
    val frames = callSite(j).filter(f => f.startsWith("graft.") && !f.startsWith("graft.Caches"))
    frames.headOption match {
      case Some(f) if f.startsWith("graft.operators.SameAs") =>
        if (f.contains(".canonicalize")) "canonicalize" else "closure"
      case Some(f) if f.startsWith("graft.io.RunManifest") => stageOf(j) match {
        case Some(s) if !s.startsWith("_lineage") => StageLayer.getOrElse(s.takeWhile(_ != '/'),
          if (s.startsWith("metrics")) "metrics" else "spark")
        case _ => "manifest"
      }
      case Some(f) if f.startsWith("graft.operators.Metrics") => "metrics"
      case Some(f) if f.startsWith("graft.operators.Emit") || f.startsWith("graft.Pipeline") => "emit"
      case Some(f) if f.startsWith("graft.operators.Link") => "link"
      case Some(f) if f.startsWith("graft.sources") => "sources"
      case Some(f) if f.startsWith("graft.io.") => "exports"
      case _ => spanLayer(j.group)
    }
  }
}

object Trace {
  private val costNs = new java.util.concurrent.atomic.AtomicLong()

  /** Runs an instrument's own work, adding its time to the rep's tracing
    * cost. */
  def cost[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally costNs.addAndGet(System.nanoTime() - t0)
  }

  /** The program's layers, in pipeline order. Mention extraction has no
    * jobs of its own: it is fused into the job that links its output. */
  val Layers: Seq[String] = Seq("sources", "link", "emit", "closure", "canonicalize",
    "metrics", "manifest", "exports")

  /** Run stage name → layer that computes it. */
  val StageLayer: Map[String, String] = Map("transcripts" -> "sources", "linked" -> "link",
    "triples" -> "emit", "canon" -> "canonicalize")

  /** The output path in a formatted plan's write node ("Arguments: path, ..."). */
  private val WritePath = """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s.*?Arguments: ([^,\s]+)""".r

  def spanLayer(span: String): String = span.takeWhile(_ != '.') match {
    case "run" | "" => "spark"
    case other => other
  }

  /** Every layer metric the traced run reports, in output order. */
  val MetricNames: Seq[String] = {
    val generic = Seq("wall_s", "self_s", "task_s", "jobs", "rows_out", "shuffle_write_mb",
      "spill_mb", "task_skew")
    (Layers :+ "spark").flatMap(l => generic.map(g => s"$l.$g")) ++ Seq(
      "sources.scan_tasks", "sources.repartition", "mentions.per_turn",
      "link.hit_rate", "link.broadcast_mb", "emit.fact_rows_pre_distinct", "emit.dup_ratio",
      "closure.edges", "closure.clusters", "closure.largest_cluster", "closure.passes",
      "closure.driver_path", "canonicalize.candidate_share", "canonicalize.collapsed_rows",
      "canonicalize.broadcast", "manifest.write_s", "manifest.rescan_s",
      "manifest.rescan_share", "manifest.files", "exports.nt_s", "exports.ttl_s",
      "exports.jsonld_s", "spark.stages", "spark.tasks", "spark.gc_s",
      "spark.idle_core_share", "spark.retained_heap_mb", "trace_overhead")
  }

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s" else if (name.endsWith("_mb")) "MB"
    else if (Seq("jobs", "rows_out", "scan_tasks", "fact_rows_pre_distinct", "edges", "clusters",
      "largest_cluster", "passes", "collapsed_rows", "files", "stages", "tasks")
      .exists(s => name.endsWith("." + s))) "count"
    else "ratio"

  private def final_(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** All nodes of a plan, looking through adaptive wrappers and query
    * stages. */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    val inner = final_(p) match {
      case q: QueryStageExec => Seq(q.plan)
      case x => x.children ++ x.subqueries
    }
    final_(p) +: inner.flatMap(collectAll)
  }

  /** True when the plan's scan is re-split by a round-robin exchange (the
    * under-split branch of `SynthTranscripts`). */
  def repartitions(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("RoundRobinPartitioning")
}
