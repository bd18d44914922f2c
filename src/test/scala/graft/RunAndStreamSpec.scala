package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Resume + streaming-parity specs (SURVEY.md §5 items 4-5). */
class RunSpec extends SparkSpec {

  test("staged run is checkpoint-resumable with per-partition lineage") {
    val out = Files.createTempDirectory("graftrun").toString
    val (t1, c1) = Run.execute(spark, sfDir, out, resume = false)
    assert(t1 > 0 && c1 > 0 && c1 <= t1)
    val manifest1 = Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).asScala
    assert(manifest1.count(_.contains("\"status\":\"done\"")) == 6)
    // lineage rows exist and sum to the stage row count
    val lin = spark.read.parquet(s"$out/_lineage/triples")
    val linSum = lin.agg(org.apache.spark.sql.functions.sum("rows"))
      .collect()(0).getLong(0)
    assert(linSum == t1)

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

class StreamParitySpec extends SparkSpec {

  test("streaming mention extraction ≡ batch (same operators on readStream)") {
    val got = streaming.StreamOps.runToBatch(spark,
      streaming.StreamOps.mentionStream(spark, sfDir), "sp_mentions", "append")
      .collect().toSet
    val want = Pipeline.mentions(spark, sfDir)
      .select("conv_id", "turn_idx", "kind", "midx", "surface").collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("streaming runner lands linked parquet; restart is exactly-once") {
    val out = java.nio.file.Files.createTempDirectory("graft-stream-run").toString
    val n1 = streaming.StreamOps.executeStreaming(spark, sfDir, out)
    val want = Pipeline.linked(spark, sfDir).drop("ts")
    assert(n1 == want.count())
    // landed rows equal the batch linked stage, column for column
    val got = spark.read.parquet(s"$out/linked")
      .select(want.columns.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSet
    assert(got == want.collect().toSet)
    // restart over the unchanged input: the checkpoint's file-source log
    // must commit zero new rows (exactly-once per file)
    val n2 = streaming.StreamOps.executeStreaming(spark, sfDir, out)
    assert(n2 == n1, s"restart added ${n2 - n1} duplicate rows")
  }

  test("streaming broadcast-link ≡ batch linked frame") {
    val got = streaming.StreamOps.runToBatch(spark,
      streaming.StreamOps.linkedStream(spark, sfDir), "sp_linked", "append")
      .collect().toSet
    val want = Pipeline.linked(spark, sfDir).drop("text", "ts")
      .collect().toSet
    assert(got == want)
    assert(got.nonEmpty)
  }
}
