package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Freeing localCheckpoint blocks.
  *
  * `localCheckpoint()` persists its backing RDD in the block store, and —
  * unlike DataFrame caches — `spark.catalog.clearCache()` never frees it:
  * only GC-driven cleaning does, which in a long-lived session (Verify's
  * ~60-query pass, a bench loop, a production driver) accumulates blocks +
  * disk spill indefinitely. Release is therefore explicit:
  *
  *  - `trackedCheckpoint` checkpoints a frame and returns the ids of its
  *    blocks;
  *  - `unpersistIds` frees those ids when their owner is done with them
  *    (SameAs.closureIterative frees each superseded pass at once);
  *  - `releaseAll` frees every persistent RDD of the session — the harness
  *    calls it between queries and reps.
  *
  * Ids come from diffing the session's persistent RDDs around the (eager)
  * checkpoint call — there is no public API from a checkpointed Dataset to
  * its backing RDD.
  */
object Caches {

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

  /** Free specific persistent RDDs (owner-driven, e.g. a superseded
    * closure pass). */
  def unpersistIds(spark: SparkSession, ids: Set[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** Free every persistent RDD of the session. NOTE: this also drops the
    * blocks under plain DataFrame caches — callers pair it with
    * `spark.catalog.clearCache()` at query/rep boundaries, where that is
    * exactly the intent. */
  def releaseAll(spark: SparkSession): Unit =
    unpersistIds(spark, spark.sparkContext.getPersistentRDDs.keySet.toSet)
}
