package graft.io

import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._
import scala.util.Try
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Checkpoint/resume + lineage for staged materialization (SURVEY.md §4
  * item 4; north_rule: "resumable from checkpoint with per-partition
  * lineage + metrics").
  *
  * Each stage writes:
  *  - `<out>/<stage>/` — the stage's rows (parquet, optionally
  *    directory-partitioned; in a real deployment an Iceberg table — same
  *    layout, snapshot id ↔ manifest row)
  *  - one JSON line in `<out>/manifest.jsonl` — (stage, status, rows,
  *    partitions, wall_ms, files, schema) — the resume log. `files` maps
  *    every committed `part-*` file, relative to the stage directory (so
  *    `bucket=N/part-…` in a partitioned stage), to its row count.
  *
  * Lineage launches no Spark job: the driver lists the committed files and
  * reads each one's row count from its parquet footer. A stage is read
  * back with its written schema (`schema`), so no schema-inference job
  * either, and a partition column keeps its written type.
  *
  * `resume = true` reuses a stage only when its last "done" line lists
  * exactly the files and row counts its footers give now (a driver-side
  * check, no job); a missing, truncated or altered stage, or a line
  * without `schema`, is re-executed.
  */
class RunManifest(spark: SparkSession, out: String, resume: Boolean) {

  private val manifestPath = Paths.get(s"$out/manifest.jsonl")
  private val json = new ObjectMapper()
  private val rowsOf = scala.collection.mutable.Map.empty[String, Long]
  Files.createDirectories(Paths.get(out))

  /** Row count of stage `name` in this run: from the footers of the files
    * its write committed, or from its manifest line when it was reused. */
  def rows(name: String): Long = rowsOf(name)

  /** Per-file row counts and written schema of each stage's last "done"
    * line (a line cut short by a killed run, or without `files` or
    * `schema`, counts for no stage). */
  private def doneStages: Map[String, (Map[String, Long], StructType)] =
    if (!Files.exists(manifestPath)) Map.empty
    else Files.readAllLines(manifestPath).asScala.toSeq
      .flatMap(l => Try(json.readTree(l)).toOption)
      .filter(l => l.path("status").asText == "done")
      .flatMap(l => Try(l.get("stage").asText -> (
        l.get("files").properties.asScala.map(e => e.getKey -> e.getValue.asLong).toMap,
        DataType.fromJson(l.get("schema").asText).asInstanceOf[StructType])).toOption)
      .toMap

  /** Every data file under `dir` (its `part-*` files), relative to it, →
    * the row count in its parquet footer. Runs on the driver. */
  private def committed(dir: String): Map[String, Long] =
    Footers(spark, dir).map { case (f, footer) =>
      f -> footer.getBlocks.asScala.map(_.getRowCount).sum
    }.toMap

  private def appendLine(line: ObjectNode): Unit =
    Files.writeString(manifestPath, json.writeValueAsString(line) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Materialize `df` as stage `name` (or reuse it when resuming).
    * `partitionCols` adds a directory-partitioned layout (the Iceberg
    * bucket(...) analog) so per-entity reads prune. */
  def stage(name: String, partitionCols: Seq[String] = Nil)
           (df: => DataFrame): DataFrame = {
    val dir = s"$out/$name"
    val logged = if (resume) doneStages.get(name) else None
    if (logged.exists(l => Try(committed(dir)).toOption.contains(l._1))) {
      val (files, schema) = logged.get
      rowsOf(name) = files.values.sum
      appendLine(json.createObjectNode().put("stage", name).put("status", "skipped_resume"))
      return spark.read.schema(schema).parquet(dir)
    }
    val t0 = System.nanoTime()
    val d = df
    val w = d.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(dir)
    val files = committed(dir)
    rowsOf(name) = files.values.sum
    val line = json.createObjectNode().put("stage", name).put("status", "done")
      .put("rows", rowsOf(name)).put("partitions", files.size)
      .put("wall_ms", (System.nanoTime() - t0) / 1000000)
    val perFile = line.putObject("files")
    files.toSeq.sorted.foreach { case (f, n) => perFile.put(f, n) }
    line.put("schema", d.schema.json)
    appendLine(line)
    spark.read.schema(d.schema).parquet(dir)
  }
}
