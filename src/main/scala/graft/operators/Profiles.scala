package graft.operators

import graft.functions.Fns
import graft.model.{Ns, Triple}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Writing-module emission + lifeInfo keyword emitters.
  *
  * Writing (`Writing/writing_extraction.py:29-70`): per person, a
  * WritingContext_1 carrying cwrc:profile = limit_words(AUTHORSUMMARY text,
  * 35) and a WritingContext_2 carrying cwrc:genericRangeIncludes literals
  * harvested from TGENRE tags. Graft mapping: AUTHORSUMMARY ↔ the first
  * system-role turn of a conversation (the summary heading), TGENRE
  * GENRENAME attrs ↔ the occupation surfaces inside that turn (the genre
  * vocabulary of the corpus). EXTENTOFOEUVRE (also a limit_words literal,
  * :57-59) is the same operator class as profile and is not replayed
  * separately.
  *
  * LifeInfo (`Biography/lifeInfo.py:80-106` + `birthDeath.py:15,237-256`):
  * CHILDLESSNESS paragraphs are classified by SUBSTRING keyword lists into
  * seven reproductiveHistory categories (unspecified fallback when no
  * keyword fires); SHORTPROSE after a death CHRONSTRUCT containing a
  * BURIAL_KEYWORD mints a Burial Event activity. Graft mapping: the
  * "while discussing <phrase>" clause plays the CHILDLESSNESS tag; the
  * keyword lists are verbatim from the reference.
  *
  * Scale: both are narrow projections over the transcript scan (one window
  * per conv for the summary/burial ordinals, co-partitioned with ingest).
  */
object Profiles {

  /** kg_writing: profile context + genre-harvest context + the Writer
    * Oeuvre node (`Writing/writer.py:23,57-62`): per processed person a
    * `<uri>_Oeuvre` node typed cwrc:Oeuvre, a bf:author edge from the
    * person, an "X's Oeuvre" label, and the EXTENTOFOEUVRE extent literal
    * (`writing_extraction.py:57-59` — limit_words 35, attached to the
    * oeuvre via the context's subject_uri). Graft: person ↔ conv, the
    * processed set = convs with an AUTHORSUMMARY (first system turn); the
    * reference labels with the uri's first underscore segment
    * (writer.py:60-61), which for conv ids would collapse to the constant
    * "conv" — the full conv id plays the name instead. */
  def writingTriples(tr: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val summary = tr.filter(col("role") === "system")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val ctx1 = concat(lit(Ns.ctx), col("conv_id"), lit("_WritingContext_1"))
    val ctx2 = concat(lit(Ns.ctx), col("conv_id"), lit("_WritingContext_2"))
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    val oeuvre = concat(lit(Ns.conv), col("conv_id"), lit("_Oeuvre"))
    // ONE window pass: the seven per-summary triples plus the per-genre
    // harvest ride one exploded array (fixed structs ++ transform of the
    // genre matches) — the former eight-branch self-union replayed the
    // summary filter+window PER BRANCH. Same multiset.
    val fixed = array(
      Triple.row(ctx1, Ns.profile, Fns.limitWords(col("text"), 35), isIri = false),
      Triple.row(ctx1, Ns.rdfType, lit(Ns.tContext), isIri = true),
      Triple.row(ctx2, Ns.rdfType, lit(Ns.tContext), isIri = true),
      Triple.row(oeuvre, Ns.rdfType, lit(Ns.tOeuvre), isIri = true),
      Triple.row(convUri, Ns.bfAuthor, oeuvre, isIri = true),
      Triple.row(oeuvre, Ns.rdfsLabel, concat(col("conv_id"), lit("'s Oeuvre")),
        isIri = false),
      Triple.row(oeuvre, Ns.extent, Fns.limitWords(col("text"), 35), isIri = false))
    val genreRows = transform(
      regexp_extract_all(col("text"), lit("working as ([A-Za-z-]+)"), lit(1)),
      g => Triple.row(ctx2, Ns.genericRangeIncludes, g, isIri = false))
    summary.select(explode(concat(fixed, genreRows)).as("t"))
      .select(col("t.*")).distinct()
  }

  /** childlessness_words verbatim (lifeInfo.py:81-89), in dict order. */
  val childlessnessWords: Seq[(String, Seq[String])] = Seq(
    "birthControl" -> Seq("contraception", "birth control", "family planning"),
    "adoption" -> Seq("adopted", "adoption"),
    "childlessness" -> Seq("childless", "no children", "no surviving children",
      "none survived", "no child alive", "did not have any children",
      "they had none", "decided not to have children"),
    "miscarriage" -> Seq("miscarriage", "miscarriages", "miscarried"),
    "stillbirth" -> Seq("stillborn", "still birth", "stillbirth"),
    "abortion" -> Seq("abortion", "aborted"),
    "venerealDisease" -> Seq("syphilis", "venereal", "VD"))

  /** BURIAL_KEYWORDS verbatim (birthDeath.py:15). */
  val burialKeywords: Seq[String] = Seq("buried", "grave", "interred")

  private def containsAny(c: org.apache.spark.sql.Column, kws: Seq[String]) =
    kws.map(k => c.contains(k)).reduce(_ || _)

  /** kg_lifeinfo: reproductive-history keyword classification + burial
    * events. One row per (conv, matched category) / per unspecified tag /
    * per burial event — distinct, standard triple schema. */
  def lifeInfoTriples(tr: DataFrame): DataFrame = {
    // `ptext` is a GENERATED column (1-element explode): predicate
    // pushdown cannot cross a Generate, so the keyword filters below
    // reference this attribute instead of being substituted through the
    // transcript-synthesis projection — without the boundary, the
    // unspecified branch's ~25 Contains conjuncts each re-inlined the
    // full text expression and blew the generated method past janino's
    // 64 KB limit (the last codegen fallback in the engine)
    val tagged = tr.filter(col("text").contains("while discussing"))
      .select(col("conv_id"), col("turn_idx"),
        explode(array(col("text"))).as("ptext"))
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    // ONE pass over the tagged turns: each of the 7 category triples and
    // the unspecified fallback ride one null-compacted exploded struct
    // array — the former 8-branch self-union re-ran the tagged filter
    // (and, cold, the transcript synthesis) per branch. Same multiset.
    val catStructs = childlessnessWords.map { case (cat, kws) =>
      when(containsAny(col("ptext"), kws),
        Triple.row(convUri, Ns.reproductiveHistory, lit(Ns.bio + cat),
          isIri = true))
    }
    val anyKw = containsAny(col("ptext"),
      childlessnessWords.flatMap(_._2))
    val unspec = when(!anyKw,
      Triple.row(convUri, Ns.unspecifiedReproHist,
        lit(Ns.bio + "unspecifiedReproductiveHistory"), isIri = true))
    val catTriples = tagged.select(explode(
      array_compact(array(catStructs :+ unspec: _*))).as("t"))
      .select(col("t.*"))
    // burial events get per-conv ordinals (context_count, birthDeath.py:246)
    // — one window pass, three exploded structs (label's lang stays "")
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val burial = tagged.filter(containsAny(col("ptext"), burialKeywords))
      .withColumn("ord", row_number().over(w))
      .withColumn("ev_uri", concat(lit(Ns.event), col("conv_id"),
        lit("_BurialEvent_"), col("ord").cast("string")))
    val burialTriples = burial.select(explode(array(
      Triple.row(col("ev_uri"), Ns.rdfType, lit(Ns.tActivity), isIri = true),
      Triple.row(col("ev_uri"), Ns.rdfsLabel, lit("Burial Event"), isIri = false),
      Triple.row(convUri, Ns.burialEvent, col("ev_uri"), isIri = true))).as("t"))
      .select(col("t.*"))
    catTriples.unionAll(burialTriples).distinct()
  }

  /** BIBCIT citation nodes (`Utils/citation.py:27-60`, wired per context at
    * `Utils/context.py:318-321`): each citation mints a node typed
    * E33_Linguistic_Object + cito:Citation, labelled "Citation for
    * <target>", pointing back at its citing entity and carrying the page
    * as P190 symbolic content. The REF-present and REF-missing branches
    * both replay, INCLUDING the reference's asymmetry: the REF path builds
    * its node from the CLEANED placeholder suffix
    * (remove_punctuation(strip_all_whitespace(...)), citation.py:41-45)
    * while the temp path uses the RAW DBREF (citation.py:48-50).
    *
    * Graft mapping: a tool-role turn plays a BIBCIT tag of its
    * conversation; DBREF = the tool id; REF present ↔ tool index ≥ 3
    * (pointing at a work); page = the turn index. Pure projection. */
  def citationTriples(tr: DataFrame): DataFrame = {
    val k = substring(col("tool"), 6, 10).cast("int")
    val suffix = Fns.removePunctuation(Fns.stripAllWhitespace(col("tool")))
    val hasRef = k >= 3
    val refUri = concat(lit(Ns.work), k.cast("string"))
    val b = tr.filter(col("role") === "tool" && col("tool") =!= "")
      .withColumn("cite_uri",
        when(hasRef, concat(refUri, lit("_dbref_"), suffix))
          .otherwise(concat(lit(Ns.kg + "temp/dbref_"), col("tool"))))
      .withColumn("citing_uri",
        when(hasRef, refUri)
          .otherwise(concat(lit(Ns.kg + "temp/"), col("tool"))))
      .withColumn("conv_uri", concat(lit(Ns.conv), col("conv_id")))
    // one pass, six exploded structs — the six-branch self-union re-ran
    // the filter+projection (and, cold, the transcript synthesis) per
    // branch. Same multiset.
    val c = col("cite_uri")
    b.select(explode(array(
        Triple.row(col("conv_uri"), Ns.refersTo, c, isIri = true),
        Triple.row(c, Ns.rdfType, lit(Ns.tLinguisticObj), isIri = true),
        Triple.row(c, Ns.rdfType, lit(Ns.tCitation), isIri = true),
        Triple.row(c, Ns.rdfsLabel,
          concat(lit("Citation for "), col("conv_id")), isIri = false, lang = "en"),
        Triple.row(c, Ns.referredToBy, col("citing_uri"), isIri = true),
        Triple.row(c, Ns.symbolicContent,
          col("turn_idx").cast("string"), isIri = false))).as("t"))
      .select(col("t.*"))
      .distinct()
  }

  /** The other_contexts families (`Biography/other_contexts.py:56-107` +
    * the HEALTH block at :13-53): simple IDENTIFYING contexts — no unique
    * subtagging, so no entity extraction — each carrying one generic
    * Activity typed with the family's event class and labelled
    * split_by_casing(event_type). Shared with the oracle as config data. */
  val otherFamilies: Seq[String] =
    Seq("Violence", "Wealth", "LeisureAndSociety", "OtherLifeEvent", "Health")
  /** split_by_casing(fam + "Event") precomputed driver-side (pure string,
    * the Column splitByCasing's exact regex). */
  val otherLabels: Seq[String] = otherFamilies.map { f =>
    "[A-Z][^A-Z]*".r.findAllIn(f + "Event").mkString(" ")
  }

  /** `kg_other_contexts`: for each participating turn (the section-kind
    * arithmetic plays find_all(tag) — eid % 23 picks the turn, the family
    * rotates with eid/23), emit the reference's exact id construction:
    * context_id = <conv>_<Fam>Context_<n> with a per-(conv, family)
    * ordinal, and activity_id = context_id.replace("Context","Event") +
    * "_" + n (other_contexts.py:80-83 — the replace runs over the whole
    * id; the lowercase namespace is untouched). Six triples per item, all
    * unique by construction. Narrow projection + one ordinal window. */
  def otherContextTriples(tr: DataFrame): DataFrame = {
    val eid = graft.functions.Fns.eidCol
    // Column `/` is double division — use floor for the eid // 23 the
    // oracle computes (exact: eid < 2^53 by the scale-knob bound)
    val famIdx = (floor(eid / 23).cast("long") % otherFamilies.length).cast("int") + 1
    val fam = element_at(array(otherFamilies.map(lit): _*), famIdx)
    val label = element_at(array(otherLabels.map(lit): _*), famIdx)
    val w = Window.partitionBy(col("conv_id"), col("fam"))
      .orderBy(col("turn_idx"))
    val b = tr.filter(eid % 23 === 0)
      .withColumn("fam", fam).withColumn("lab", label)
      .withColumn("n", row_number().over(w).cast("string"))
      .withColumn("ctx_uri", concat(lit(Ns.ctx), col("conv_id"), lit("_"),
        col("fam"), lit("Context_"), col("n")))
      .withColumn("act_uri", concat(
        regexp_replace(col("ctx_uri"), "Context", "Event"), lit("_"), col("n")))
    // one window pass, six exploded structs — the six-branch self-union
    // replayed the ordinal window per branch. Same multiset.
    val (ctx, act) = (col("ctx_uri"), col("act_uri"))
    b.select(explode(array(
        Triple.row(ctx, Ns.rdfType, lit(Ns.tContext), isIri = true),
        Triple.row(ctx, Ns.rdfType,
          concat(lit(Ns.kg + "type/"), col("fam"), lit("Context")), isIri = true),
        Triple.row(ctx, Ns.pred + "linksActivity", act, isIri = true),
        Triple.row(act, Ns.rdfType, lit(Ns.tActivity), isIri = true),
        Triple.row(act, Ns.rdfType,
          concat(lit(Ns.kg + "event/"), col("fam"), lit("Event")), isIri = true),
        Triple.row(act, Ns.rdfsLabel, col("lab"), isIri = false, lang = "en")))
        .as("t"))
      .select(col("t.*"))
  }
}
