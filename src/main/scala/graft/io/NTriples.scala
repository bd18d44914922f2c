package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-Triples text export/import (SURVEY.md §2.1 S5/K2: the reference
  * serializes its graph to nt/ttl (`Utils/utilities.py:497-562`) and merges
  * `additional_triples.ttl` fixture files back in
  * (`utilities.py:546-556`, `combineTriples.py:90-137`)).
  *
  * Export is a pure projection (concat) — safe at any scale. N-Triples is
  * the subset of Turtle with no prefixes and one triple per line, so the
  * one Turtle lexer (`TurtleParse.lex`) reads it back, with no prefix
  * pass.
  */
object NTriples {

  /** The N-Triples/Turtle literal escaper: literal-pattern replace() (no
    * regex engine; a no-match pass returns the input untouched), backslash
    * first, then ", \n, \r, \t. */
  private[io] def escapeLit(c: Column): Column =
    replace(replace(replace(replace(replace(
      c, lit("\\"), lit("\\\\")), lit("\""), lit("\\\"")), lit("\n"), lit("\\n")),
      lit("\r"), lit("\\r")), lit("\t"), lit("\\t"))

  private def iri(c: Column): Column = concat(lit("<"), c, lit(">"))

  /** The object term of a triple row (IRI, lang, typed or plain literal),
    * with `iri` writing the IRIs: `<iri>` here, `Turtle.term` in Turtle. */
  private[io] def obj(iri: Column => Column): Column = {
    val v = escapeLit(col("obj_value"))
    when(col("obj_is_iri"), iri(col("obj_value")))
      .when(col("obj_lang") =!= "", concat(lit("\""), v, lit("\"@"), col("obj_lang")))
      .when(col("obj_dtype") =!= "", concat(lit("\""), v, lit("\"^^"), iri(col("obj_dtype"))))
      .otherwise(concat(lit("\""), v, lit("\"")))
  }

  /** Triple table → one-column ("line") N-Triples text. */
  def export(triples: DataFrame): DataFrame =
    triples.select(concat(
      lit("<"), col("subj"), lit("> <"), col("pred"), lit("> "), obj(iri), lit(" .")
    ).as("line"))

  /** N-Triples lines → triple table, by the Turtle lexer (unparseable lines
    * are dropped, like the reference's lenient fixture merge). Launches no
    * job until an action. */
  def parse(lines: DataFrame): DataFrame = TurtleParse.lex(lines, Map.empty)
}
