package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.RunManifest
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The staged run (`graft.Run`): its resume, lineage and plan shape, and the
  * run manifest that records it (SURVEY.md §5 item 4). */
class RunSpec extends SparkSpec {

  private val stages =
    Seq("transcripts", "linked", "triples", "canon", "metrics_unmapped", "metrics_stats")

  /** Jobs of one cold `Run.execute` over the sf0.001 fixture at local[4]. */
  private val MaxRunJobs = 26

  private def manifest(out: String): Seq[JsonNode] =
    Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).asScala.toSeq
      .flatMap(l => scala.util.Try(new ObjectMapper().readTree(l)).toOption)

  private def doneLine(out: String, stage: String): JsonNode =
    manifest(out).filter(l => l.get("stage").asText == stage &&
      l.get("status").asText == "done").last

  /** A done line's per-file row counts. */
  private def filesOf(line: JsonNode): Map[String, Long] =
    line.get("files").properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  /** The `part-*` files under `dir`, relative to it. */
  private def partFiles(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(Paths.get(dir).relativize(_))

  test("resume re-executes a stage whose files disagree with its manifest line") {
    val out = Files.createTempDirectory("graftrun").toString
    val (t1, c1) = Run.execute(spark, sfDir, out, resume = false)
    val linkedRows = doneLine(out, "linked").get("rows").asLong
    val cut = Seq("linked", "triples").map(s => partFiles(s"$out/$s").sorted.head)
    assert(cut(1).toString.startsWith("bucket="))
    Files.delete(Paths.get(s"$out/linked").resolve(cut(0)))
    Files.delete(Paths.get(s"$out/triples").resolve(cut(1)))
    // a line cut short by a killed append must not stop the resume
    Files.writeString(Paths.get(s"$out/manifest.jsonl"), "{\"stage\":\"canon\",\"sta\n",
      StandardOpenOption.APPEND)
    val before = manifest(out).size
    val (t2, c2) = Run.execute(spark, sfDir, out, resume = true)
    assert(t2 == t1 && c2 == c1, "a resumed run must not read a truncated stage")
    val resumed = manifest(out).drop(before)
      .map(l => l.get("stage").asText -> l.get("status").asText).toMap
    assert(resumed == stages.map(s => s -> (
      if (s == "linked" || s == "triples") "done" else "skipped_resume")).toMap)
    assert(doneLine(out, "linked").get("rows").asLong == linkedRows)
    for (s <- Seq("linked", "triples"))
      assert(filesOf(doneLine(out, s)).keySet == partFiles(s"$out/$s").map(_.toString).toSet, s)
  }

  test("the transcripts stage shuffles once, hashed on conv_id") {
    val df = Run.transcripts(spark, sfDir)
    val exchanges = planNodes(df) { case e: ShuffleExchangeExec => e.outputPartitioning }
    assert(exchanges.size == 1, df.queryExecution.executedPlan)
    exchanges.head match {
      case HashPartitioning(Seq(k: Attribute), _) => assert(k.name == "conv_id")
      case p => fail(s"expected one conv_id hash exchange, got $p")
    }
  }

  test("staged run is checkpoint-resumable with per-partition lineage") {
    val out = Files.createTempDirectory("graftrun").toString
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persistent
    var counts = (0L, 0L)
    val jobs = jobsOf { counts = Run.execute(spark, sfDir, out, resume = false) }
    // the staged path's job count: an added job fails here, not only in a
    // traced benchmark run
    assert(jobs <= MaxRunJobs, s"Run.execute launched $jobs jobs")
    val (t1, c1) = counts
    assert(t1 > 0 && c1 > 0 && c1 <= t1)
    // the stages are parquet: a run leaves no cache or checkpoint behind
    assert((persistent -- before).isEmpty,
      s"Run.execute left persistent RDDs ${persistent -- before}")
    val manifest1 = Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).asScala
    assert(manifest1.count(_.contains("\"status\":\"done\"")) == 6)
    // lineage is exact: every stage's manifest line lists the part files on
    // disk (bucket=N/ kept) and their footer counts sum to its row count
    for (s <- stages) {
      val line = doneLine(out, s)
      val files = filesOf(line)
      assert(files.keySet == partFiles(s"$out/$s").map(_.toString).toSet, s)
      if (s == "triples") assert(files.keys.forall(_.matches("bucket=\\d+/part-.*")))
      val rows = spark.read.parquet(s"$out/$s").count()
      assert(files.values.sum == line.get("rows").asLong && rows == files.values.sum, s)
      assert(line.get("partitions").asInt == files.size, s)
    }
    assert(doneLine(out, "triples").get("rows").asLong == t1)
    assert(doneLine(out, "canon").get("rows").asLong == c1)
    assert(!Files.exists(Paths.get(s"$out/_lineage")))

    // simulate a crash after stage 2: drop everything after "linked"
    Seq("triples", "canon", "metrics_unmapped", "metrics_stats").foreach { s =>
      val p = Paths.get(s"$out/$s")
      if (Files.exists(p)) {
        Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
      }
    }
    val kept = manifest1.filter(l =>
      l.contains("\"stage\":\"transcripts\"") || l.contains("\"stage\":\"linked\""))
    Files.write(Paths.get(s"$out/manifest.jsonl"), kept.asJava)

    val (t2, c2) = Run.execute(spark, sfDir, out, resume = true)
    assert(t2 == t1 && c2 == c1, "resumed run must reproduce identical counts")
    val manifest2 = Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).asScala
    assert(manifest2.count(_.contains("skipped_resume")) == 2,
      "transcripts+linked must be skipped on resume")
  }
}

class RunManifestSpec extends SparkSpec {

  test("RunManifest.stage launches only its write's jobs (plain and partitioned)") {
    val out = Files.createTempDirectory("graftmanifest").toString
    val df = spark.range(0, 20000, 1, 4)
      .select(col("id"), (col("id") % 7).cast("string").as("s"), (col("id") % 5).as("bucket"))
      .repartition(3, col("s"))
    val m = new RunManifest(spark, s"$out/run", resume = false)
    for ((name, cols) <- Seq("plain" -> Nil, "bucketed" -> Seq("bucket"))) {
      val alone = jobsOf {
        val w = df.write
        (if (cols.nonEmpty) w.partitionBy(cols: _*) else w).parquet(s"$out/alone_$name")
      }
      assert(alone > 0)
      assert(jobsOf(m.stage(name, cols)(df)) == alone, name)
      assert(m.rows(name) == 20000)
    }
  }

  test("RunManifest.stage returns the written rows in the written columns") {
    val out = Files.createTempDirectory("graftmanifest").toString
    val tr = Pipeline.transcripts(spark, sfDir)
    val linked = operators.Link.linkAll(spark, sfDir, operators.Mentions.extract(tr))
    val m = new RunManifest(spark, out, resume = false)
    val frames = Seq(
      ("transcripts", Nil, tr),
      ("triples", Seq("bucket"), operators.Emit.allTriples(spark, sfDir, tr, linked)
        .withColumn("bucket", pmod(xxhash64(col("subj")), lit(16)))))
    for ((name, cols, df) <- frames) {
      val got = m.stage(name, cols)(df)
      val inferred = spark.read.parquet(s"$out/$name")
      assert(got.columns.toSeq == inferred.columns.toSeq, name)
      // the partition column keeps its written type; inference makes it int
      assert(got.schema.filterNot(f => cols.contains(f.name)) ==
        inferred.schema.filterNot(f => cols.contains(f.name)), name)
      val same = inferred.select(got.schema.map(f => col(f.name).cast(f.dataType)): _*)
      assert(got.exceptAll(same).isEmpty && same.exceptAll(got).isEmpty, name)
      assert(got.count() == m.rows(name) && m.rows(name) == df.count(), name)
    }
  }

  test("a resumed stage launches no job and keeps its written types") {
    val out = Files.createTempDirectory("graftmanifest").toString
    val df = spark.range(0, 20000, 1, 4)
      .select(col("id"), (col("id") % 7).cast("string").as("s"), (col("id") % 5).as("bucket"))
    new RunManifest(spark, out, resume = false).stage("bucketed", Seq("bucket"))(df)
    val m = new RunManifest(spark, out, resume = true)
    var got: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      got = m.stage("bucketed", Seq("bucket"))(sys.error("a resumed stage must not re-execute"))
    }
    assert(jobs == 0, "reading a reused stage back must not infer its schema")
    // bigint `bucket` as written; inference would make it int
    assert(got.schema.map(f => f.name -> f.dataType) == df.schema.map(f => f.name -> f.dataType))
    assert(m.rows("bucketed") == 20000)
    assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty)
  }
}
