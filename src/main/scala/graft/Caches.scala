package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** What is materialized, freeing persistent RDD blocks, and the one
  * broadcast rule.
  *
  * The materialization rule: an operator materializes only a frame its
  * own plan reads more than once (Catalyst shares no subtree across two
  * readers; a count that sizes a later join is a read), and the caller
  * materializes the operator's inputs. A frame read once stays a plain
  * plan: checkpointing it costs an eager job at plan build and a copy.
  *
  * `localCheckpoint()` persists its backing RDD in the block store, and —
  * unlike DataFrame caches — `spark.catalog.clearCache()` never frees it:
  * only GC-driven cleaning does, which in a long-lived session (Verify's
  * 46-query pass, a bench loop, a production driver) accumulates blocks +
  * disk spill indefinitely. Release is therefore explicit:
  *
  *  - `unpersistIds` frees the given RDD ids — a harness keeps a stage
  *    graph's blocks and frees the rest after each query;
  *  - `releaseAll` frees every persistent RDD of the session — the harness
  *    calls it between reps and at the end of a pass.
  *
  * Ids come from `SparkContext.getPersistentRDDs`: a caller diffs its key
  * set around the work whose blocks it owns — there is no public API from a
  * checkpointed Dataset to its backing RDD. (SameAs' star rounds hold their
  * RDDs and unpersist each superseded round directly; the labels behind a
  * closure's map stay persisted, so the map reads them until their owner
  * frees them like any other block.)
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

  /** Row bound of every broadcast the program chooses itself: a row count,
    * not Spark's 10 MiB byte estimate, which at 48 B/row would move sf0.1's
    * BFS copy join (≈564 k rows) onto the shuffle side. */
  private val BroadcastRows = 3_000_000L

  /** `df` hinted for broadcast when its exact row count `rows`, which the
    * caller holds (no job runs), is within `BroadcastRows` and Spark's
    * broadcast switch is on (`spark.sql.autoBroadcastJoinThreshold` ≥ 0). */
  private[graft] def broadcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows > BroadcastRows ||
        df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold < 0) df
    else broadcast(df)
}
