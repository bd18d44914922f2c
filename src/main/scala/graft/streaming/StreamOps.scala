package graft.streaming

import graft.operators.Mentions
import graft.sources.SynthTranscripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming lift of the per-turn extraction path. The batch
  * extraction (SynthTranscripts.project → Mentions.extract) is stateless
  * per-row, so it composes directly onto readStream (SURVEY.md §2.9)
  * and runs in Append mode with no watermark.
  *
  * The reference is strictly batch — this is the declared streaming
  * counterpart for ingest-as-it-lands deployments: same operators, same
  * results (asserted by parity tests and the stream_* oracle queries).
  */
object StreamOps {

  /** events parquet as a file-source stream (schema pinned from the batch
    * read — required by readStream). The file source needs a DIRECTORY to
    * watch; production streams land in one, the test fixture is a single
    * file — so it is symlinked into a scratch dir. */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    eventStreamAt(spark, dir,
      java.nio.file.Files.createTempDirectory("graft-stream").toString)

  /** eventStream watching a CALLER-OWNED scratch directory — a stable
    * watch path is what lets a Structured Streaming checkpoint resume
    * exactly-once across restarts (the file-source log keys committed
    * files by path; a fresh temp dir per run would re-ingest them). */
  def eventStreamAt(spark: SparkSession, dir: String,
                    scratch: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    Files.createDirectories(Paths.get(scratch))
    val link = Paths.get(scratch).resolve("events.parquet")
    if (!Files.exists(link))
      Files.createSymbolicLink(link, Paths.get(s"$dir/events.parquet"))
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(scratch)
      // spread each micro-batch across the cores BEFORE the per-row work:
      // a single-row-group file reads as ONE task, which runs the whole
      // regex-extraction + link stage single-threaded (measured 19 s vs
      // ~2 s spread at sf0.1). The shuffled rows are the NARROW raw events
      // (~50 B/row) — noise next to the downstream per-row work.
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** Streaming mention extraction (stateless map — no watermark needed). */
  def mentionStream(spark: SparkSession, dir: String): DataFrame =
    Mentions.extract(SynthTranscripts.project(eventStream(spark, dir)))
      .select("conv_id", "turn_idx", "kind", "midx", "surface")

  /** Streaming extraction + LINKING (stream-static join): the batch
    * broadcast-link stage composes directly onto the mention stream —
    * per-row key normalization, ONE broadcast hash join against the static
    * unified dictionary, the mint/fallback projection — all stateless, so
    * the query runs in Append mode with no watermark. This is the
    * ingest-as-it-lands deployment through the link stage; triple emission
    * with ordinals stays batch (ordinal windows are not time-based and
    * cannot stream — SURVEY §2.9). Same oracle as kg_linked. */
  def linkedStream(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Link.linkAll(spark, dir,
      Mentions.extract(SynthTranscripts.project(eventStream(spark, dir))))
      .drop("text", "ts")

  /** The ingest-as-it-lands RUNNER: extraction + broadcast linking as a
    * streaming job landing to parquet with a Structured Streaming
    * checkpoint — the production streaming shape of the staged Run
    * (SURVEY §2.9). Drained with AvailableNow here (the sandbox has no
    * unbounded source); a deployment replaces only the trigger.
    * Exactly-once per input file: the checkpoint's file-source log means
    * a restart over an unchanged input directory commits ZERO new rows
    * (RunAndStreamSpec asserts this), and a restart after new files land
    * processes only those. Returns the total landed row count. */
  def executeStreaming(spark: SparkSession, dir: String,
                       outDir: String): Long = {
    val events = eventStreamAt(spark, dir, s"$outDir/_in")
    val linked = graft.operators.Link.linkAll(spark, dir,
      Mentions.extract(SynthTranscripts.project(events)))
      .drop("ts") // event-time column not part of the linked stage schema
    val q = linked.writeStream.format("parquet")
      .option("path", s"$outDir/linked")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .outputMode("append").trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$outDir/linked").count()
  }

  /** Drain a stream fully into an append-mode memory sink and return the
    * batch result. Used by parity tests and the stream_* verification
    * queries. */
  def runToBatch(spark: SparkSession, stream: DataFrame, name: String): DataFrame = {
    val q = stream.writeStream
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}

