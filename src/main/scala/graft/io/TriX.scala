package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import RdfXml.escXml

/** TriX text export (K2 — "trix" in the reference's serialization list,
  * `Utils/utilities.py:807-808`), as a LINE format over the quad table
  * (io.Quads): the TriX envelope plus ONE `<graph><uri>g</uri><triple>…
  * </triple></graph>` element per quad. TriX explicitly allows a graph URI
  * to repeat across graph elements, so the per-quad shape needs NO
  * groupBy(graph) — a mega-graph (the uber graph at 10^12 turns) never
  * becomes one giant line or a skewed reduce key; the whole export is a
  * codegen'd projection, zero shuffle.
  */
object TriX {

  val openTag: String = """<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">"""
  val closeTag: String = "</TriX>"

  /** quads(graph, subj, pred, obj_value, obj_is_iri, obj_lang, obj_dtype)
    * → one-column ("line") TriX text. */
  def export(quads: DataFrame): DataFrame = {
    val spark = quads.sparkSession
    import spark.implicits._
    val obj = when(col("obj_is_iri"),
      concat(lit("<uri>"), escXml(col("obj_value")), lit("</uri>")))
      .when(col("obj_lang") =!= "",
        concat(lit("<plainLiteral xml:lang=\""), col("obj_lang"), lit("\">"),
          escXml(col("obj_value")), lit("</plainLiteral>")))
      .when(col("obj_dtype") =!= "",
        concat(lit("<typedLiteral datatype=\""), escXml(col("obj_dtype")),
          lit("\">"), escXml(col("obj_value")), lit("</typedLiteral>")))
      .otherwise(concat(lit("<plainLiteral>"), escXml(col("obj_value")),
        lit("</plainLiteral>")))
    val rows = quads.select(concat(
      lit("<graph><uri>"), escXml(col("graph")), lit("</uri><triple><uri>"),
      escXml(col("subj")), lit("</uri><uri>"), escXml(col("pred")),
      lit("</uri>"), obj, lit("</triple></graph>")).as("line"))
    Seq(openTag).toDF("line").unionAll(rows).unionAll(Seq(closeTag).toDF("line"))
  }
}
