package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RDF/XML text export (K2 — "pretty-xml" in the reference's format list,
  * `Utils/utilities.py:807-808`), as a LINE format: the rdf:RDF open tag
  * (carrying the xmlns table), one single-line rdf:Description per subject
  * with deterministically sorted property children, and the closing tag.
  * Predicates render as QNames via the shared prefix table (they all live
  * in prefixable namespaces); subjects/objects stay absolute in
  * rdf:about/rdf:resource, so no '/'-local-name issue arises.
  *
  * Scale: one groupBy(subject) shuffle, like the Turtle exporter.
  */
object RdfXml {

  val openTag: String =
    Turtle.prefixes.map { case (p, ns) => s"""xmlns:$p="$ns"""" }
      .mkString("<rdf:RDF ", " ", ">")
  val closeTag: String = "</rdf:RDF>"

  /** The XML attribute/text escaper of the RDF/XML and TriX exports
    * (& first, then < > "). */
  private[io] def escXml(c: org.apache.spark.sql.Column) =
    replace(replace(replace(replace(
      c, lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;")),
      lit("\""), lit("&quot;"))

  def export(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val q = Turtle.term(col("pred")) // QName (all predicates are prefixable)
    // q appears exactly TWICE (open tag + close tag) instead of once per
    // when-branch: the branch tree is duplicated per use site (Catalyst
    // shares no subtrees, and this projection sits under the
    // collect_list ObjectHashAggregate where whole-stage codegen subexpr
    // elimination does not apply), so 7 q copies evaluated the term
    // rewrite 7× per row — measured 11.6 s vs 2.9 s with the two-site
    // shape, identical strings.
    val attr = when(col("obj_is_iri"),
      concat(lit(" rdf:resource=\""), escXml(col("obj_value")), lit("\"")))
      .when(col("obj_lang") =!= "",
        concat(lit(" xml:lang=\""), col("obj_lang"), lit("\"")))
      .when(col("obj_dtype") =!= "",
        concat(lit(" rdf:datatype=\""), escXml(col("obj_dtype")), lit("\"")))
      .otherwise(lit(""))
    val child = concat(lit("<"), q, attr,
      when(col("obj_is_iri"), lit("/>"))
        .otherwise(concat(lit(">"), escXml(col("obj_value")),
          lit("</"), q, lit(">"))))
    val descriptions = triples
      .select(col("subj"), child.as("c"))
      .groupBy("subj")
      .agg(array_join(array_sort(collect_list(col("c"))), "").as("cs"))
      .select(concat(lit("<rdf:Description rdf:about=\""), escXml(col("subj")),
        lit("\">"), col("cs"), lit("</rdf:Description>")).as("line"))
    // row order: open tag, descriptions, closing tag — a coalesce(1) text
    // write of this frame is well-formed XML
    Seq(openTag).toDF("line")
      .unionAll(descriptions)
      .unionAll(Seq(closeTag).toDF("line"))
  }
}
