package graft.oracle

import graft.{Caches, Pipeline, SparkEntry, SparkSpec}
import graft.operators.SameAs
import org.apache.spark.sql.functions._

/** kg_uber_canon's rows against its DuckDB twin's definition, spelled in
  * Spark: the uber graph left-joined on subject and on IRI object to
  * kg_sameas_clusters, with plain joins and no domain split, then
  * coalesced and made distinct. The twin itself runs DuckDB out of memory
  * even at sf0.001, so this is the check that covers these rows. */
class UberCanonSpec extends SparkSpec {

  test("kg_uber_canon equals the twin's join definition over one uber build") {
    val p = new Pipeline(spark, sfDir)
    try {
      val u = SparkEntry.stages("kg_uber")(p).localCheckpoint()
      val got = SameAs.canonicalize(u, SameAs.closure(SameAs.edgesOf(u)))
      val clusters = SparkEntry.stages("kg_sameas_clusters")(p)
      val cs = clusters.select(col("node").as("s_node"), col("canon").as("s_canon"))
      val co = clusters.select(col("node").as("o_node"), col("canon").as("o_canon"))
      val want = u
        .join(cs, u("subj") === cs("s_node"), "left")
        .join(co, u("obj_is_iri") && u("obj_value") === co("o_node"), "left")
        .select(
          coalesce(col("s_canon"), col("subj")).as("subj"), col("pred"),
          coalesce(col("o_canon"), col("obj_value")).as("obj_value"),
          col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))
        .distinct()
      assert(got.columns.toSeq == want.columns.toSeq)
      assert(got.exceptAll(want).isEmpty, "rows the twin does not have")
      assert(want.exceptAll(got).isEmpty, "twin rows missing")
      // the rewrite is exercised: some uber rows do collapse
      assert(want.count() < u.count())
    } finally {
      spark.catalog.clearCache()
      Caches.releaseAll(spark)
    }
  }
}
