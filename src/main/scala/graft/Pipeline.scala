package graft

import graft.operators._
import graft.sources.SynthTranscripts
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end stage wiring (SURVEY.md §3.1 Spark trace):
  * transcripts → mentions → broadcast-linked → triple emit → sameAs closure
  * → canonical triple table. Each stage is exposed as a DataFrame factory so
  * SparkEntry.queries can surface any intermediate for the correctness gate.
  */
object Pipeline {

  def transcripts(s: SparkSession, d: String): DataFrame =
    SynthTranscripts(s, d)

  def mentions(s: SparkSession, d: String): DataFrame =
    Mentions.extract(transcripts(s, d))

  def linked(s: SparkSession, d: String): DataFrame =
    Link.linkAll(s, d, mentions(s, d))

  def triples(s: SparkSession, d: String): DataFrame =
    Emit.allTriples(s, d, transcripts(s, d), sharedLinked(s, d))

  /** `linked` for the factories that fan it out to several emitters,
    * persisted here once. A persist, not a checkpoint: the cache manager
    * matches it by plan, so a caller that already cached `linked` (Bench's
    * warm stages) has its cache substituted. The harness frees it
    * (`Caches.releaseAll`). */
  private def sharedLinked(s: SparkSession, d: String): DataFrame =
    linked(s, d).persist(StorageLevel.MEMORY_AND_DISK)

  def sameAsClusters(s: SparkSession, d: String): DataFrame =
    SameAs.closure(SameAs.edgesOf(triples(s, d)))

  /** The canonical triple table. Only the fact triples are materialized
    * (localCheckpoint): they feed the edge extraction and both rewrite
    * branches — canonicalize's read-twice input contract. The
    * snippet-heavy context/activity triples stream through exactly once,
    * untouched by the rewrite (ctx/act subjects/objects are canon-inert by
    * namespace), and a bare count over them prunes the string building
    * entirely. Measured (local[2] × scale-19 compute-only, interleaved
    * A/B): 55.7-57.7 s vs 248-355 s for a full-table checkpoint — the
    * 58.7M-row copy materializes every string column and spills. */
  def canonTriples(s: SparkSession, d: String): DataFrame = {
    val l = sharedLinked(s, d)
    val facts = Emit.factTriples(s, d, transcripts(s, d), l)
      .localCheckpoint()
    val canon = SameAs.closure(SameAs.edgesOf(facts))
    SameAs.canonicalize(facts, canon)
      .unionAll(Emit.contextTriples(l))
      .unionAll(Emit.activityTriples(l)) // date/cert objects — canon-inert
  }

  /** Context ordinals (W1/A5) surfaced directly for verification — the
    * SAME frame emission uses (Emit.ctxFrame), so the verified ordinals and
    * the minted context URIs can never drift apart. */
  def ordinals(s: SparkSession, d: String): DataFrame =
    Emit.ctxFrame(linked(s, d))
      .select("conv_id", "turn_idx", "kind", "midx", "ordinal", "ctx_uri")

  /** W2 "closest heading": each turn gets the text of the nearest
    * role=system turn at-or-before it, falling back to the nearest after
    * (`Utils/context.py:61-92`). Pure window functions, co-partitioned with
    * the conv bucketing — one shuffle on conv_id.
    */
  def headings(s: SparkSession, d: String): DataFrame = {
    val tr = transcripts(s, d)
    val h = when(col("role") === "system", col("text"))
    val before = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val after = Window.partitionBy("conv_id").orderBy("turn_idx")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    tr.select(col("conv_id"), col("turn_idx"),
      coalesce(
        last(h, ignoreNulls = true).over(before),
        first(h, ignoreNulls = true).over(after),
        lit("")).as("heading"))
  }

  /** A7 "first mentioned" person per conversation
    * (`Biography/biography.py:139-144`: mother/father = first mentioned).
    * Order key is document order (turn_idx, midx) packed into one BIGINT
    * with a 10^6 radix — collision-free for any realistic mention count
    * per turn and overflow-free for any turn index. */
  def firstPerson(s: SparkSession, d: String): DataFrame =
    linked(s, d).filter(col("kind") === "person")
      .groupBy("conv_id")
      .agg(min_by(col("obj_value"),
        col("turn_idx").cast("long") * 1000000L + col("midx"))
        .as("first_person"))
}
