package graft.operators

import graft.functions.Fns
import graft.model.{Ns, Triple}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Personname extraction family — the analog of `Biography/personname.py`
  * (the reference's largest standalone extractor): name-variant mentions
  * become typed NameEntity nodes with label literals, NAMECONNOTATION
  * subtype dispatch, WROTEORPUBLISHEDAS → AuthorialName, an
  * IndexedName/"Orlando" standard entry, birth-name GIVEN/SURNAME part
  * graphs with sort orders, and a per-person PersonNameContext that links
  * every variant EXCEPT the standard entry (the reference's
  * `link_triples(person.name_list[1:])` quirk, personname.py:268).
  *
  * Graft frame mapping: "nicknamed Nick_k" ↔ NICKNAME tags (subtype =
  * k%7 over the 7 NAMECONNOTATION classes, personname.py:19-28);
  * "born Given_a Family_b" ↔ BIRTHNAME with GIVEN/SURNAME children
  * (personname.py:142-152); role=assistant plays WROTEORPUBLISHEDAS
  * (personname.py:165-166); the document-first variant per conversation
  * plays the STANDARD tag's IndexedName entry (personname.py:227-229).
  *
  * Scale: one narrow pass over the transcript scan (two regexp projections
  * unioned), one window on conv_id (co-partitioned with the ingest
  * bucketing), projection-only emission — no joins, no extra shuffles.
  */
object Names {

  /** NAMECONNOTATION subtype classes, in the reference's dict order
    * (personname.py:20-28). */
  val connotations: Seq[String] = Seq(
    "AbusiveName", "HonorificName", "CrypticName", "LocalName",
    "RomanceName", "LiteraryName", "FamiliarName")

  /** Name-variant mentions: (conv_id, turn_idx, kord, kind, role, surface).
    * kord is the in-turn document order (the nickname clause precedes the
    * born clause in the synthesized text). */
  def mentions(tr: DataFrame): DataFrame = {
    def one(kind: String, kord: Int, re: String) =
      tr.select(col("conv_id"), col("turn_idx"), col("role"),
        lit(kind).as("kind"), lit(kord).as("kord"),
        regexp_extract(col("text"), re, 1).as("surface"))
        .filter(col("surface") =!= "")
    one("nickname", 0, "nicknamed (Nick_[0-9]+)")
      .unionAll(one("birthname", 1, "born (Given_[0-9]+ Family_[0-9]+)"))
  }

  /** The kg_names triple table (set semantics, like every emitter). */
  def nameTriples(tr: DataFrame): DataFrame = {
    val m = mentions(tr)
      // make_standard_uri(personName + " NameEnt " + value), personname.py:56-57
      .withColumn("name_uri", concat(lit(Ns.name), Fns.removePunctuation(
        concat(col("conv_id"), lit(" NameEnt "), col("surface")))))
      .withColumn("ord",
        col("turn_idx").cast("long") * 10 + col("kord"))
    // first occurrence per (conv, name) wins — the reference's existingList
    // dedup (personname.py:215-221); then the document-first name per conv
    // plays the STANDARD/IndexedName entry (personname.py:227-229)
    val firstPer = m.groupBy("conv_id", "name_uri")
      .agg(min_by(struct(col("turn_idx"), col("kord"), col("kind"),
        col("role"), col("surface")), col("ord")).as("f"),
        min(col("ord")).as("ord"))
      .select(col("conv_id"), col("name_uri"), col("f.kind").as("kind"),
        col("f.role").as("role"), col("f.surface").as("surface"), col("ord"))
    val ranked = firstPer.withColumn("rn",
      row_number().over(Window.partitionBy("conv_id").orderBy("ord")))
      .withColumn("k",
        when(col("kind") === "nickname",
          substring(col("surface"), 6, 10).cast("int")).otherwise(lit(null)))
      .withColumn("given",
        when(col("kind") === "birthname",
          element_at(split(col("surface"), " "), 1)).otherwise(lit(null)))
      .withColumn("family",
        when(col("kind") === "birthname",
          element_at(split(col("surface"), " "), 2)).otherwise(lit(null)))
    // ONE pass: all 16 per-name triples ride one exploded null-compacted
    // struct array. The per-conv PersonNameContext type triple is emitted
    // per row — the trailing set-distinct collapses it to one per conv.
    val nu = col("name_uri")
    val pnctx = concat(lit(Ns.ctx), col("conv_id"), lit("_PersonNameContext_0"))
    val connType = concat(lit(Ns.kg + "type/"), element_at(
      array(connotations.map(lit): _*), pmod(col("k"), lit(7)) + 1))
    val isNick = col("kind") === "nickname"
    val isBirth = col("kind") === "birthname"
    val gUri = concat(lit(Ns.name), Fns.removePunctuation(col("given")))
    val fUri = concat(lit(Ns.name), Fns.removePunctuation(col("family")))
    val rows = Seq(
      Triple.row(nu, Ns.rdfType,
        when(isNick, lit(Ns.tNickName)).otherwise(lit(Ns.tBirthName)),
        isIri = true),
      Triple.row(nu, Ns.rdfsLabel, col("surface"), isIri = false),
      when(isNick, Triple.row(nu, Ns.rdfType, connType, isIri = true)),
      // WROTEORPUBLISHEDAS analog: assistant-role turns publish under the name
      when(col("role") === "assistant",
        Triple.row(nu, Ns.rdfType, lit(Ns.tAuthorialName), isIri = true)),
      when(col("rn") === 1,
        Triple.row(nu, Ns.rdfType, lit(Ns.tIndexedName), isIri = true)),
      when(col("rn") === 1,
        Triple.row(nu, Ns.indexedBy, lit("Orlando"), isIri = false)),
      // context links all variants EXCEPT the standard entry (name_list[1:])
      when(col("rn") > 1, Triple.row(pnctx, Ns.hasName, nu, isIri = true)),
      Triple.row(pnctx, Ns.rdfType, lit(Ns.tContext), isIri = true),
      // birth-name part graph (makeBirthGraph, personname.py:80-107)
      when(isBirth, Triple.row(gUri, Ns.rdfType, lit(Ns.tForename), isIri = true)),
      when(isBirth, Triple.row(gUri, Ns.hasSortOrder, lit("1"),
        isIri = false, dtype = Ns.xsdInt)),
      when(isBirth, Triple.row(gUri, Ns.rdfsLabel, col("given"), isIri = false)),
      when(isBirth, Triple.row(nu, Ns.hasNamePart, gUri, isIri = true)),
      when(isBirth, Triple.row(fUri, Ns.rdfType, lit(Ns.tSurname), isIri = true)),
      when(isBirth, Triple.row(fUri, Ns.hasSortOrder, lit("2"),
        isIri = false, dtype = Ns.xsdInt)),
      when(isBirth, Triple.row(fUri, Ns.rdfsLabel, col("family"), isIri = false)),
      when(isBirth, Triple.row(nu, Ns.hasNamePart, fUri, isIri = true)))
    ranked.select(explode(array_compact(array(rows: _*))).as("t"))
      .select(col("t.*"))
      .distinct()
  }
}
