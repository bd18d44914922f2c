package graft

import graft.io.Quads
import graft.operators.SameAs
import org.apache.spark.sql.DataFrame

/** The one broadcast rule (`Caches.broadcastIfSmall`) on both joins it
  * decides: canonicalize's two identity-map joins and the BFS copy join.
  * Each runs on both of its sides — broadcast at default settings, shuffle
  * with Spark's broadcast switch off — and gives the same rows on both. */
class BroadcastRuleSpec extends SparkSpec {
  import spark.implicits._

  private def broadcastJoins(df: DataFrame): Int =
    "BroadcastHashJoin".r.findAllIn(df.queryExecution.executedPlan.toString).size

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("canonicalize and bfs broadcast by the rule, shuffle with broadcast off, same rows") {
    // a checkpoint: the plans under test start at the triple table
    val t = new Pipeline(spark, sfDir).triples.localCheckpoint()
    def joins() = Seq(
      "canonicalize" -> SameAs.canonicalize(t, SameAs.closure(SameAs.edgesOf(t))),
      "bfs" -> Quads.bfs(t))
    val on = joins()
    assert(on.map { case (n, df) => n -> broadcastJoins(df) } ==
      Seq("canonicalize" -> 2, "bfs" -> 1))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val off = joins()
      assert(off.map { case (n, df) => n -> broadcastJoins(df) } ==
        Seq("canonicalize" -> 0, "bfs" -> 0))
      for (((name, a), (_, b)) <- on.zip(off)) {
        assert(a.count() > 0, name)
        assert(sameRows(a, b), name)
      }
    } finally spark.conf.set(key, saved)
  }

  test("canonicalize over the iterative closure's map launches no job and broadcasts it") {
    def p(i: Int) = model.Ns.person + i
    val canon = SameAs.starClosure(
      Seq((p(3), p(2)), (p(2), p(1)), (p(9), p(3))).toDF("a", "b"))._1
    val t = Seq(
      model.Triple(p(3), "knows", p(9), true, "", ""),
      model.Triple(p(9), "name", "Ann", false, "en", ""),
      model.Triple("x", "knows", p(2), true, "", "")).toDF()
    var got: DataFrame = null
    assert(jobsOf { got = SameAs.canonicalize(t, canon) } == 0)
    assert(broadcastJoins(got) == 2)
    assert(got.as[model.Triple].collect().toSet == Set(
      model.Triple(p(1), "knows", p(1), true, "", ""),
      model.Triple(p(1), "name", "Ann", false, "en", ""),
      model.Triple("x", "knows", p(1), true, "", "")))
  }
}
