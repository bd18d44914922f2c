package graft.io

import graft.model.Triple
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N-Triples text export/import (SURVEY.md §2.1 S5/K2: the reference
  * serializes its graph to nt/ttl (`Utils/utilities.py:497-562`) and merges
  * `additional_triples.ttl` fixture files back in
  * (`utilities.py:546-556`, `combineTriples.py:90-137`)).
  *
  * Export is a pure projection (concat_ws) — safe at any scale; the parser
  * covers exactly the subset the exporter emits (IRI / plain / lang /
  * typed-literal objects, one triple per line) via regex extraction.
  */
object NTriples {

  private def escapeLit(c: org.apache.spark.sql.Column) =
    // literal escapes via replace() — no regex engine on the export path
    replace(replace(replace(replace(replace(
      c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\"")), lit("\n"), lit("\\n")),
      lit("\r"), lit("\\r")), lit("\t"), lit("\\t"))

  /** Triple table → one-column ("line") N-Triples text. */
  def export(triples: DataFrame): DataFrame = {
    val obj = when(col("obj_is_iri"), concat(lit("<"), col("obj_value"), lit(">")))
      .when(col("obj_lang") =!= "",
        concat(lit("\""), escapeLit(col("obj_value")), lit("\"@"), col("obj_lang")))
      .when(col("obj_dtype") =!= "",
        concat(lit("\""), escapeLit(col("obj_value")), lit("\"^^<"), col("obj_dtype"), lit(">")))
      .otherwise(concat(lit("\""), escapeLit(col("obj_value")), lit("\"")))
    triples.select(concat(
      lit("<"), col("subj"), lit("> <"), col("pred"), lit("> "), obj, lit(" .")
    ).as("line"))
  }

  /** N-Triples lines → triple table (the emitted subset; unparseable lines
    * are dropped, like the reference's lenient fixture merge). */
  def parse(lines: DataFrame): DataFrame = {
    val l = col("line")
    val subj = regexp_extract(l, "^<([^>]*)> ", 1)
    val pred = regexp_extract(l, "^<[^>]*> <([^>]*)> ", 1)
    val objIri = regexp_extract(l, "^<[^>]*> <[^>]*> <([^>]*)> \\.$", 1)
    val litVal = regexp_extract(l, "^<[^>]*> <[^>]*> \"(.*)\"(@[a-zA-Z-]+|\\^\\^<[^>]*>)? \\.$", 1)
    val lang = regexp_extract(l, "\"@([a-zA-Z-]+) \\.$", 1)
    val dtype = regexp_extract(l, "\"\\^\\^<([^>]*)> \\.$", 1)
    // Unescape via a NUL sentinel: escaped backslashes are parked FIRST
    // (so a literal backslash followed by 'n'/'r'/'t' can't be misread as
    // an escape sequence), the short escapes resolved, then the sentinel
    // restored. NUL cannot occur in N-Triples literals.
    val nul = "\u0000"
    val unescaped = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(regexp_replace(regexp_replace(
        litVal, "\\\\\\\\", nul),
        "\\\\t", "\t"), "\\\\r", "\r"), "\\\\n", "\n"), "\\\\\"", "\""),
      nul, "\\\\")
    lines.select(Triple.cols(subj, pred,
        when(objIri =!= "", objIri).otherwise(unescaped),
        isIri = (objIri =!= ""), lang = lang, dtype = dtype): _*)
      .filter(col("subj") =!= "" && col("pred") =!= "")
  }

  /** S5: merge fixture triples into a graph (union + set dedup). */
  def mergeInto(graph: DataFrame, ntLines: DataFrame): DataFrame =
    graph.unionAll(parse(ntLines)).distinct()
}
