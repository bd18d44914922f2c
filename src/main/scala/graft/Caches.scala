package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lifecycle control for localCheckpoint blocks.
  *
  * `localCheckpoint()` persists its backing RDD in the block store, and —
  * unlike DataFrame caches — `spark.catalog.clearCache()` never frees it:
  * only GC-driven cleaning does, which in a long-lived session (Verify's
  * ~60-query pass, a bench loop, a production driver) accumulates blocks +
  * disk spill indefinitely. This registry makes the release explicit:
  *
  *  - loop-internal checkpoints (SameAs.closureIterative's per-pass label
  *    frames) are released by their owner the moment the next pass's
  *    checkpoint materializes;
  *  - query-lifetime checkpoints that ESCAPE to the caller (canonTriples'
  *    fact table, Quads.bfs's edge set) are released by the harness via
  *    `release()` after the consuming action;
  *  - pass-lifetime checkpoints (the staged uber graph shared by
  *    kg_uber/kg_uber_canon) are created through `retainedCheckpoint` so
  *    `release()` keeps them; `releaseAll()` ends the pass.
  *
  * All bookkeeping is by RDD id diffing around the (eager) checkpoint call —
  * there is no public API from a checkpointed Dataset to its backing RDD.
  */
object Caches {

  private val retained = scala.collection.mutable.Set.empty[Int]

  /** localCheckpoint `df` and return (checkpointed frame, the ids of the
    * RDD blocks the checkpoint registered) — the ids feed a later
    * `unpersistIds`. Checkpointing is eager, so the id diff is exact. */
  def trackedCheckpoint(df: DataFrame): (DataFrame, Set[Int]) =
    synchronized {
      val sc = df.sparkSession.sparkContext
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = df.localCheckpoint()
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }

  /** localCheckpoint `df` and mark its blocks as surviving `release()` —
    * for frames deliberately shared across queries within one pass. */
  def retainedCheckpoint(df: DataFrame): DataFrame = {
    val (out, ids) = trackedCheckpoint(df)
    synchronized { retained ++= ids }
    out
  }

  /** Mark already-tracked ids as surviving `release()`. */
  def retainIds(ids: Set[Int]): Unit = synchronized { retained ++= ids }

  /** True iff every one of `ids` is still a live persistent RDD (a memo
    * holding a retained frame checks this before reusing it). */
  def allLive(spark: SparkSession, ids: Set[Int]): Boolean =
    ids.subsetOf(spark.sparkContext.getPersistentRDDs.keySet.toSet)

  /** Free specific checkpoint blocks (owner-driven, e.g. a superseded
    * closure pass). */
  def unpersistIds(spark: SparkSession, ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Free every persistent RDD except the retained set. NOTE: this also
    * drops the blocks under plain DataFrame caches (they refill lazily on
    * next access) — callers pair it with `spark.catalog.clearCache()` at
    * query/pass boundaries, where that is exactly the intent. */
  def release(spark: SparkSession): Unit = synchronized {
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => retained(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** End-of-pass cleanup: free EVERYTHING, including retained frames. */
  def releaseAll(spark: SparkSession): Unit = synchronized {
    retained.clear()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
