package graft

import org.apache.spark.sql.SparkSession

/** Freeing persistent RDD blocks.
  *
  * `localCheckpoint()` persists its backing RDD in the block store, and —
  * unlike DataFrame caches — `spark.catalog.clearCache()` never frees it:
  * only GC-driven cleaning does, which in a long-lived session (Verify's
  * ~60-query pass, a bench loop, a production driver) accumulates blocks +
  * disk spill indefinitely. Release is therefore explicit:
  *
  *  - `unpersistIds` frees the given RDD ids — a harness keeps a stage
  *    graph's blocks and frees the rest after each query;
  *  - `releaseAll` frees every persistent RDD of the session — the harness
  *    calls it between reps and at the end of a pass.
  *
  * Ids come from `SparkContext.getPersistentRDDs`: a caller diffs its key
  * set around the work whose blocks it owns — there is no public API from a
  * checkpointed Dataset to its backing RDD. (Code that holds the RDD itself,
  * like SameAs' iterative closure, unpersists it directly.)
  */
object Caches {

  /** Free specific persistent RDDs (owner-driven, e.g. everything but a
    * warmed stage graph). */
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
