package graft

import graft.io.RunManifest
import graft.operators._
import graft.sources.{SynthTranscripts, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entry point: staged, checkpoint-resumable execution of the
  * full KG pipeline (the production shape of SURVEY.md §3.1).
  *
  *   spark-submit --class graft.Run <jar> <sfDir> <outDir> [--resume]
  *
  * Stages (each materialized + manifest-logged with its per-file row
  * counts, read from the committed parquet footers):
  *   transcripts → linked → triples → canon → metrics
  * A killed run restarted with --resume re-executes every stage whose
  * files no longer match its manifest line, and reuses the rest.
  * `SPARK_GRAFT_CPUS` (default: the JVM's available processors) sets the
  * local core count and the shuffle partitions.
  */
object Run {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val resume = args.contains("--resume")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSessions.builder("graft-kg-run",
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    execute(spark, sfDir, outDir, resume)
    spark.stop()
  }

  /** Runs all stages; returns (triples rows, canon rows) as the run manifest
    * counted them, with no Spark job beyond the stage writes. */
  def execute(spark: SparkSession, sfDir: String, outDir: String,
              resume: Boolean): (Long, Long) = {
    val m = new RunManifest(spark, outDir, resume)
    val transcripts = m.stage("transcripts") { Run.transcripts(spark, sfDir) }
    val linked = m.stage("linked") {
      Link.linkAll(spark, sfDir, Mentions.extract(transcripts))
    }
    val triples = m.stage("triples", partitionCols = Seq("bucket")) {
      // bucket = hash(subj) — the Iceberg bucket(subj) analog, written as a
      // DIRECTORY partition (K1: the per-entity sink) so per-entity reads
      // prune to one bucket directory instead of scanning the uber table.
      // Shuffle onto the bucket key before the write: without it every
      // upstream task writes into every bucket directory (tasks × buckets
      // files) and the commit + every downstream scan pays the fan-out;
      // with it each bucket is written wholly by one task (one file per
      // bucket, splittable on read). Bucket count is SCALE-ADAPTIVE:
      // 4× the core count (min 16) — a fixed 16 buckets hashed into 32
      // reduce partitions left ≤16 of them non-empty (guide §2.5: too few
      // distinct synthetic key values), capping the write stage at half
      // the cores; 4× gives ~(1-e^-4) ≈ 98% expected task occupancy while
      // keeping per-bucket files large at production scale.
      val buckets = math.max(16, 4 * spark.sparkContext.defaultParallelism)
      Emit.allTriples(spark, sfDir, transcripts, linked)
        .withColumn("bucket", pmod(xxhash64(col("subj")), lit(buckets)))
        .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
    }
    m.stage("canon") {
      // The written triples stage re-reads cheaply, so it meets
      // canonicalize's read-twice input contract as is. One rewrite over
      // the whole table: routing ctx/act rows around it measured
      // wall-neutral over a parquet input (r6), and the two-branch union
      // fragmented the stage output 65 → 129 partitions.
      val t = triples.drop("bucket")
      SameAs.canonicalize(t, SameAs.closure(SameAs.edgesOf(t)))
    }
    m.stage("metrics_unmapped") { Metrics.unmappedHistogram(linked) }
    m.stage("metrics_stats") { Metrics.convStats(triples.drop("bucket")) }
    (m.rows("triples"), m.rows("canon"))
  }

  /** The transcripts stage in the designed ingest layout (SURVEY §4):
    * conv_id-bucketed — one file per bucket task, so every downstream stage
    * reads in parallel even when the raw input arrives as one unsplittable
    * row group, and per-conv work is co-located. The events scan feeds the
    * hash exchange directly, so it is the stage's only shuffle. */
  private[graft] def transcripts(spark: SparkSession, sfDir: String): DataFrame =
    SynthTranscripts.project(Tables.events(spark, sfDir))
      .repartition(spark.sparkContext.defaultParallelism, col("conv_id"))
}
