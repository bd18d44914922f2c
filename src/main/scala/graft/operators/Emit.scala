package graft.operators

import graft.functions.Fns
import graft.model.Ns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Triple emission — the analog of the reference's `to_graph()`/`to_triple()`
  * rendering (`Biography/biography.py:198-226`, `Utils/context.py:284-461`,
  * `Utils/activity.py:370-526`), re-expressed as declarative projections +
  * one union-distinct (the reference's rdflib set semantics,
  * `bio_extraction.py:78`).
  *
  * Determinism: all URIs are functions of (conv_id, kind, ordinal); ordinals
  * are row_number over an explicit (turn_idx) ordering — never partition
  * order (SURVEY.md §7.4 hard-part 2). BNodes are skolemized the same way
  * (hard-part 3).
  */
object Emit {

  val predByKind: Map[String, String] = Map(
    "place"      -> Ns.mentionsPlace,
    "place_left" -> Ns.leftPlace,
    "person"     -> Ns.knowsPerson,
    "org"        -> Ns.memberOf,
    "occupation" -> Ns.hasOccupation,
    "education"  -> Ns.hasEducation)

  private def convUri = concat(lit(Ns.conv), col("conv_id"))

  private val tripleCols = Seq(
    col("subj"), col("pred"), col("obj_value"),
    col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))

  private def asTriple(df: DataFrame): DataFrame = df.select(tripleCols: _*)

  /** Per-conversation skeleton (`Biography/biography.py:198-226`):
    * type + label triples. */
  def skeleton(transcripts: DataFrame): DataFrame = {
    // ONE pass over the distinct convs: both rows ride one exploded
    // struct array — the former two-branch self-union re-ran the
    // distinct aggregation per branch (no common-subtree sharing)
    val convs = transcripts.select(col("conv_id")).distinct()
    val typed = struct(
      convUri.as("subj"), lit(Ns.rdfType).as("pred"),
      lit(Ns.tPerson).as("obj_value"), lit(true).as("obj_is_iri"),
      lit("").as("obj_lang"), lit("").as("obj_dtype"))
    val labeled = struct(
      convUri.as("subj"), lit(Ns.rdfsLabel).as("pred"),
      col("conv_id").as("obj_value"), lit(false).as("obj_is_iri"),
      lit("en").as("obj_lang"), lit("").as("obj_dtype"))
    convs.select(explode(array(typed, labeled)).as("t")).select(col("t.*"))
  }

  /** Linked-mention fact triples: (conv, pred(kind), obj). Unmatched places
    * are dropped here (reference filters null place URIs,
    * `Utils/utilities.py:375-385`); other kinds always emit (minted URIs or
    * fallback literals from Link). */
  def mentionTriples(linked: DataFrame): DataFrame = {
    val kept = linked.filter(
      !col("kind").isin("place", "place_left") || col("matched"))
    val predCol = predByKind.foldLeft(lit(null).cast("string")) {
      case (acc, (k, p)) => when(col("kind") === k, lit(p)).otherwise(acc)
    }
    asTriple(kept.select(convUri.as("subj"), predCol.as("pred"),
      col("obj_value"), col("obj_is_iri"), col("obj_lang"), col("obj_dtype")))
  }

  /** W3 "MOVED" semantics (`Utils/location.py:74-123`): a "leaving X" block
    * yields a spatialRelationship triple ONLY if X is never visited in the
    * same conversation. Implemented as a left-anti self-join on
    * (conv_id, obj_value) — co-partitioned keys, one small shuffle.
    */
  def spatialRelTriples(linked: DataFrame): DataFrame = {
    val visited = linked
      .filter(col("kind") === "place" && col("matched"))
      .select(col("conv_id"), col("obj_value")).distinct()
    val left = linked.filter(col("kind") === "place_left" && col("matched"))
    asTriple(left.join(visited, Seq("conv_id", "obj_value"), "left_anti")
      .select(convUri.as("subj"), lit(Ns.spatialRel).as("pred"),
        col("obj_value"), lit(true).as("obj_is_iri"),
        lit("").as("obj_lang"), lit("").as("obj_dtype")))
  }

  /** Context/annotation nodes with per-(conv, kind) ordinals — the
    * reference's mutable counters become a row_number window (SURVEY.md
    * §2.4 A5 / §2.5 W1, `Biography/culturalForm.py:412-413`, `Utils/
    * other_contexts.py:16-56`). Each emitting mention gets a context node
    * carrying type, target selector (F14: deterministic from keys, no DOM),
    * and a snippet literal (F5/F7).
    */
  /** Emitting mentions with (conv, kind) ordinals + minted context URIs —
    * shared base of context AND activity emission (same counters, same
    * document order). */
  private[graft] def ctxFrame(linked: DataFrame): DataFrame = {
    val emitting = linked.filter(
      !col("kind").isin("place", "place_left") || col("matched"))
    val w = Window.partitionBy(col("conv_id"), col("kind"))
      .orderBy(col("turn_idx"), col("midx"))
    emitting
      .withColumn("ordinal", row_number().over(w))
      .withColumn("ctx_uri",
        concat(lit(Ns.ctx), col("conv_id"), lit("_"), col("kind"),
          lit("Context_"), col("ordinal").cast("string")))
  }

  def contextTriples(linked: DataFrame): DataFrame =
    contextTriplesConv(linked).select(tripleCols: _*)

  /** Context triples + a precomputed `conv` column (the subject's conv is
    * KNOWN at emission — recovering it downstream with a per-row regex
    * over the biggest tables was the expensive way around). */
  private[graft] def contextTriplesConv(linked: DataFrame): DataFrame = {
    // ONE window pass: all three per-context triples ride one exploded
    // struct array. The former three-branch self-union re-ran the ordinal
    // sort+window+projection PER BRANCH (the shuffle itself was reused by
    // ReuseExchange, the sort/window above it was not) — 3× the window on
    // the widest emission path. Same multiset of rows.
    val ctx = ctxFrame(linked)
    def t(pred: String, obj: org.apache.spark.sql.Column, isIri: Boolean,
          lang: String) =
      struct(col("ctx_uri").as("subj"), lit(pred).as("pred"),
        obj.as("obj_value"), lit(isIri).as("obj_is_iri"),
        lit(lang).as("obj_lang"), lit("").as("obj_dtype"))
    val typed = t(Ns.rdfType, lit(Ns.tContext), isIri = true, "")
    val target = t(Ns.hasTarget,
      concat(lit("/conv["), col("conv_id"), lit("]/turn["),
        col("turn_idx").cast("string"), lit("]")), isIri = false, "")
    val snip = t(Ns.hasSnippet, Fns.snippet(col("text")), isIri = false, "en")
    ctx.select(explode(array(typed, target, snip)).as("t"),
        col("conv_id").as("conv"))
      .select(col("t.*"), col("conv"))
  }

  /** Kinds that carry an event character → Activity nodes (the reference's
    * location/occupation extractor families emit crm Activities; person/org
    * mentions stay direct relations, `Utils/activity.py:370-526`). */
  val activityKinds: Seq[String] =
    Seq("place", "place_left", "occupation", "education")

  /** Activity + time-span emission with TYPED, never-normalized partial
    * date literals (`Utils/activity.py:370-526`, `Utils/event.py:90-110`):
    * per emitting mention of an activity kind, an Activity node linked to a
    * Time-Span node carrying
    *  - atSomeTimeWithin: the partial lexical, datatype by LEXICAL LENGTH
    *    (F10 — 1891 stays gYear, never becomes 1891-01-01),
    *  - beginOfTheBegin/endOfTheEnd: the interval endpoints (F9/F11),
    *  - hasCertainty: CERT/BY/AFTER/C/ROUGHLYDATED → high/medium/low
    *    (F12, `Utils/activity.py:217-228`).
    * All URIs are functions of (conv, kind, ordinal) — same counters as the
    * contexts; all 8 triples are unique by construction (routed around the
    * fact distinct, like contexts). */
  def activityTriples(linked: DataFrame): DataFrame =
    activityTriplesConv(linked).select(tripleCols: _*)

  private[graft] def activityTriplesConv(linked: DataFrame): DataFrame = {
    val base = ctxFrame(linked).filter(col("kind").isin(activityKinds: _*))
    val lex = Dates.lexicalOf(col("ts"), col("turn_idx"))
    val certCode = element_at(
      array(Seq("CERT", "BY", "AFTER", "C", "ROUGHLYDATED").map(lit): _*),
      (col("turn_idx") % 5).cast("int") + 1)
    val a = base
      .withColumn("act_uri",
        concat(lit(Ns.act), col("conv_id"), lit("_"), col("kind"),
          lit("Activity_"), col("ordinal").cast("string")))
      .withColumn("tspan_uri", concat(col("act_uri"), lit("_time-span")))
      .withColumn("lexical", lex)
      .withColumn("fd", Fns.formatDate(col("lexical")))
      .withColumn("cert", Fns.dateCertainty(certCode))
    // ONE window pass: all 8 activity/time-span triples of a mention ride
    // one exploded struct array — the former eight-branch self-union
    // re-ran the ordinal sort+window+date projections PER BRANCH (only the
    // exchange below them was reused). Same multiset of rows.
    def t(subj: org.apache.spark.sql.Column, pred: String,
          obj: org.apache.spark.sql.Column, isIri: Boolean,
          lang: String, dtype: org.apache.spark.sql.Column) =
      struct(subj.as("subj"), lit(pred).as("pred"), obj.as("obj_value"),
        lit(isIri).as("obj_is_iri"), lit(lang).as("obj_lang"),
        dtype.as("obj_dtype"))
    val label = concat(col("conv_id"), lit(" "), col("kind"),
      lit(" activity "), col("ordinal").cast("string"))
    val rows = array(
      t(col("act_uri"), Ns.rdfType, lit(Ns.tActivity), isIri = true, "", lit("")),
      t(col("act_uri"), Ns.rdfsLabel, label, isIri = false, "en", lit("")),
      t(col("act_uri"), Ns.hasTimeSpan, col("tspan_uri"), isIri = true, "", lit("")),
      t(col("tspan_uri"), Ns.rdfType, lit(Ns.tTimeSpan), isIri = true, "", lit("")),
      t(col("tspan_uri"), Ns.atSomeTimeWithin, col("fd.lexical"),
        isIri = false, "", col("fd.dtype")),
      t(col("tspan_uri"), Ns.beginOfBegin, Dates.intervalStart(col("lexical")),
        isIri = false, "", lit(Ns.xsdDateTime)),
      t(col("tspan_uri"), Ns.endOfEnd, Dates.intervalEnd(col("lexical")),
        isIri = false, "", lit(Ns.xsdDateTime)),
      t(col("tspan_uri"), Ns.hasCertainty, col("cert"),
        isIri = false, "", lit("")))
    a.select(explode(rows).as("t"), col("conv_id").as("conv"))
      .select(col("t.*"), col("conv"))
  }

  /** owl:sameAs edges for every mentioned, authority-linked person:
    * person ↔ VIAF-style id (J6, `Biography/biography.py:214-222`) plus
    * deterministic chain edges person_k ↔ person_{k-1} when k%5≠0 (the
    * people.ttl-style bulk sameAs fixtures, `data/people.ttl:12-30`).
    */
  def sameAsTriples(spark: SparkSession, dir: String, linked: DataFrame): DataFrame = {
    val people = broadcast(graft.sources.Dicts.people(spark, dir))
    val mentioned = linked
      .filter(col("kind") === "person" && col("matched"))
      .select(col("obj_value").as("uri")).distinct()
    val withMeta = mentioned.join(people, Seq("uri"))
    // one pass over the joined frame: the viaf edge always, the chain edge
    // when k%5≠0, as one exploded (null-compacted) struct array — the
    // former two-branch self-union re-ran the mentioned-distinct + join
    // per branch
    val viaf = struct(col("uri").as("subj"),
      lit(Ns.owlSameAs).as("pred"), col("viaf_uri").as("obj_value"),
      lit(true).as("obj_is_iri"), lit("").as("obj_lang"),
      lit("").as("obj_dtype"))
    val chain = when(col("custkey") % 5 =!= 0,
      struct(col("uri").as("subj"), lit(Ns.owlSameAs).as("pred"),
        concat(lit(Ns.person), (col("custkey") - 1).cast("string"))
          .as("obj_value"),
        lit(true).as("obj_is_iri"), lit("").as("obj_lang"),
        lit("").as("obj_dtype")))
    withMeta.select(explode(array_compact(array(viaf, chain))).as("t"))
      .select(col("t.*"))
  }

  /** FreestandingEvents (`FreestandingEvents/freestanding_events.py:50-107`):
    * standalone per-CHRONSTRUCT Event nodes, independent of any extractor
    * family — the graft analog takes each system-role turn (the
    * CHRONSTRUCT/heading analog) and emits an Event node with a snippet
    * label and a typed partial-date literal. A standalone module in the
    * reference (own uber file) → a standalone query here, not part of the
    * main triple table. */
  def freestandingEvents(transcripts: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val fd = Fns.formatDate(Dates.lexicalOf(col("ts"), col("turn_idx")))
    val ev = transcripts.filter(col("role") === "system")
      .withColumn("ordinal", row_number().over(w))
      .withColumn("ev_uri",
        concat(lit(Ns.event), col("conv_id"), lit("_Event_"),
          col("ordinal").cast("string")))
      .withColumn("fd", fd)
    // one window pass, three exploded structs — same rule as the
    // context/activity emission (the self-union replayed the window)
    val typed = struct(col("ev_uri").as("subj"),
      lit(Ns.rdfType).as("pred"), lit(Ns.tEvent).as("obj_value"),
      lit(true).as("obj_is_iri"), lit("").as("obj_lang"), lit("").as("obj_dtype"))
    val label = struct(col("ev_uri").as("subj"),
      lit(Ns.rdfsLabel).as("pred"), Fns.snippet(col("text")).as("obj_value"),
      lit(false).as("obj_is_iri"), lit("en").as("obj_lang"), lit("").as("obj_dtype"))
    val date = struct(col("ev_uri").as("subj"),
      lit(Ns.atSomeTimeWithin).as("pred"), col("fd.lexical").as("obj_value"),
      lit(false).as("obj_is_iri"), lit("").as("obj_lang"),
      col("fd.dtype").as("obj_dtype"))
    ev.select(explode(array(typed, label, date)).as("t")).select(col("t.*"))
  }

  /** Fact triples (skeleton + mention facts + spatial + sameAs) with set
    * dedup. Set semantics (the reference's rdflib graph) — but only these
    * FACT triples can actually contain duplicates (the same (conv, pred,
    * obj) re-emitted from different turns). Context triples are unique by
    * construction (subject = one ctx URI per (conv, kind, ordinal), one
    * triple per predicate), so they are routed around the distinct —
    * removing the snippet-text payload, the bulk of the bytes, from the
    * pipeline's biggest shuffle while producing the identical set. */
  def factTriples(spark: SparkSession, dir: String,
                  transcripts: DataFrame, linked: DataFrame): DataFrame =
    skeleton(transcripts)
      .unionAll(mentionTriples(linked))
      .unionAll(spatialRelTriples(linked))
      .unionAll(sameAsTriples(spark, dir, linked))
      .distinct()

  /** The full graph: union of all emitters + set-dedup (the reference's
    * `uber_graph += graph`, `bio_extraction.py:78`). The distinct is the
    * single biggest shuffle of the pipeline — partial aggregation
    * (map-side combine) applies because it's a hash-aggregate over all
    * columns; AQE coalesces the post-shuffle partitions.
    */
  def allTriples(spark: SparkSession, dir: String,
                 transcripts: DataFrame, linked: DataFrame): DataFrame =
    // one definition, two shapes: the plain table is the conv-annotated one
    // minus `conv` (Catalyst prunes the conv/regex work per union branch)
    allTriplesConv(spark, dir, transcripts, linked).select(tripleCols: _*)

  /** The full graph + a precomputed `conv` column for conv-grouping
    * consumers (Quads.export, Metrics.convStats). Context/activity rows —
    * the bulk of the table — carry their conv from emission for free; only
    * the (post-distinct, much smaller) fact rows pay one regex. Plain
    * consumers that drop `conv` get the regex pruned away entirely by
    * Catalyst, so allTriples keeps its exact cost. `linked` feeds five
    * emitters and is read as given: the caller decides whether it is
    * materialized. */
  def allTriplesConv(spark: SparkSession, dir: String,
                     transcripts: DataFrame, linked: DataFrame): DataFrame =
    factTriples(spark, dir, transcripts, linked)
      .withColumn("conv", Fns.convOf(col("subj")))
      .unionAll(contextTriplesConv(linked))
      .unionAll(activityTriplesConv(linked))
}
