package graft

import graft.operators._
import graft.sources.SynthTranscripts
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The stage graph of one input (SURVEY.md §3.1 Spark trace):
  * transcripts → mentions → broadcast-linked → triple emit → sameAs closure
  * → canonical triple table.
  *
  * The four shared frames (`transcripts`, `mentions`, `linked`, `triples`)
  * are built once per graph and persisted on first use, so every stage and
  * query of the graph reads the same frames. The persist is lazy (no eager
  * count): the first action that reads a frame fills it, or `warm()` fills
  * all four up front. The harness frees them (`spark.catalog.clearCache()`
  * + `Caches.releaseAll`). The other stages are plans over those frames,
  * built on each call.
  */
final class Pipeline(val spark: SparkSession, val dir: String) {

  private def shared(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  lazy val transcripts: DataFrame = shared(Pipeline.transcripts(spark, dir))

  lazy val mentions: DataFrame = shared(Mentions.extract(transcripts))

  lazy val linked: DataFrame = shared(Link.linkAll(spark, dir, mentions))

  lazy val triples: DataFrame =
    shared(Emit.allTriples(spark, dir, transcripts, linked))

  /** Fills the four shared frames (one job: `triples` reads the other
    * three) and returns the ids of their blocks, which a harness keeps
    * while it frees every other block after each query. */
  def warm(): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    triples.count()
    sc.getPersistentRDDs.keySet.toSet -- before
  }

  def sameAsClusters: DataFrame = SameAs.closure(SameAs.edgesOf(triples))

  /** The canonical triple table. Only the fact triples are materialized
    * (localCheckpoint): they feed the edge extraction and both rewrite
    * branches — canonicalize's read-twice input contract. The
    * snippet-heavy context/activity triples stream through exactly once,
    * untouched by the rewrite (ctx/act subjects/objects are canon-inert by
    * namespace), and a bare count over them prunes the string building
    * entirely. Measured (local[2] × scale-19 compute-only, interleaved
    * A/B): 55.7-57.7 s vs 248-355 s for a full-table checkpoint — the
    * 58.7M-row copy materializes every string column and spills. The
    * persisted `triples` also meet the contract, but canonicalizing them
    * counted slower cold at sf0.1 (fresh JVMs, 4 cores): 28.8-31.1 s vs
    * 22.4-22.8 s for this fact-only checkpoint. */
  def canonTriples: DataFrame = {
    val facts = Emit.factTriples(spark, dir, transcripts, linked)
      .localCheckpoint()
    val canon = SameAs.closure(SameAs.edgesOf(facts))
    SameAs.canonicalize(facts, canon)
      .unionAll(Emit.contextTriples(linked))
      .unionAll(Emit.activityTriples(linked)) // date/cert objects — canon-inert
  }

  /** Context ordinals (W1/A5) surfaced directly for verification — the
    * SAME frame emission uses (Emit.ctxFrame), so the verified ordinals and
    * the minted context URIs can never drift apart. */
  def ordinals: DataFrame =
    Emit.ctxFrame(linked)
      .select("conv_id", "turn_idx", "kind", "midx", "ordinal", "ctx_uri")
}

object Pipeline {

  /** The source plan, unpersisted, spread across the cores when the input
    * has fewer files than cores (`Tables.spread`). The staged `Run` lays
    * out its own stage instead (`Run.transcripts`). */
  def transcripts(s: SparkSession, d: String): DataFrame =
    SynthTranscripts(s, d)

  /** The canonical triple table of a fresh graph over `d`. */
  def canonTriples(s: SparkSession, d: String): DataFrame =
    new Pipeline(s, d).canonTriples
}
