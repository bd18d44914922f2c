package graft.oracle

import graft.{Caches, Pipeline, SparkEntry, SparkSpec}
import graft.io.Quads
import graft.model.{Ns, Triple}
import graft.operators.Metrics
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

/** The triple table's one layout, and the consumers that group it by
  * conversation, checked against the DuckDB twins' spelling of the
  * conversation: `regexp_extract(subj, '(conv_[0-9]+)', 1)`. */
class TripleTableSpec extends SparkSpec {

  private def oracleConv = regexp_extract(col("subj"), "(conv_[0-9]+)", 1)

  private def release(): Unit = {
    spark.catalog.clearCache()
    Caches.releaseAll(spark)
  }

  test("every kg_uber branch returns Triple's six columns and types, in order") {
    // kg_uber unions its branches by position
    val layout = Encoders.product[Triple].schema.fields
      .map(f => (f.name, f.dataType)).toSeq
    try OracleSql.uberParts.foreach { q =>
      val got = SparkEntry.queries(q)(spark, sfDir).schema.fields
        .map(f => (f.name, f.dataType)).toSeq
      assert(got == layout, s"$q")
    } finally release()
  }

  test("Quads.export graph equals the oracle's label, row for row") {
    try {
      val quads = Quads.export(new Pipeline(spark, sfDir).triples)
      val conv = oracleConv
      val label = when(conv =!= "", concat(lit(Ns.conv), conv))
        .otherwise(lit(Ns.kg + "graph/uber"))
      val byKind = quads
        .groupBy((col("graph") === label).as("same"),
          (col("graph") === Ns.kg + "graph/uber").as("uber"))
        .count().collect()
        .map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
      assert(!byKind.keys.exists(!_._1), s"graph labels differ: $byKind")
      // both branches of the label occur
      assert(byKind.contains((true, true)) && byKind.contains((true, false)))
    } finally release()
  }

  test("Metrics.convStats equals a groupBy on the oracle's conv") {
    try {
      val triples = new Pipeline(spark, sfDir).triples
      val per = triples.select(oracleConv.as("conv"))
        .filter(col("conv") =!= "")
        .groupBy("conv").agg(count(lit(1)).as("n"))
      val expected = per.agg(count(lit(1)), sum("n"), max("n"), min("n"),
        sum("n").cast("double") / count(lit(1))).collect().head
      val got = Metrics.convStats(triples).collect().head
      assert(expected.getLong(0) > 0)
      assert(got == expected)
    } finally release()
  }
}
