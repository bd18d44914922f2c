package graft.operators

import graft.functions.Fns
import graft.model.{Ns, Triple}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Friends / intimate-relationship context families
  * (`Biography/lifeInfo.py:137-283`) and the typed cultural-form
  * sub-family contexts (`Biography/culturalForm.py:355-413` +
  * data/context_mapping.csv).
  *
  * Graft payload synthesis (same convention as every other family — pure
  * arithmetic over eid, no transcript-text change):
  * FRIENDSASSOCIATES tags ↔ eid%15==0 turns, INTIMATERELATIONSHIPS tags ↔
  * eid%19==0 turns, CF sub-element tags ↔ eid%25==0 turns; the NAME tags
  * inside a relationship tag ↔ the turn's person mentions; LIVESWITH
  * nesting ↔ (eid/15 + midx)%3==0; the EROTIC attr ↔ (eid/19)%4.
  *
  * Scale: narrow projections + per-conv windows (co-partitioned with the
  * ingest bucketing) + ONE equi-join on conv_id against the per-conv
  * subject frame (the `person.uri` self-filter, lifeInfo.py:214 — a
  * fact×fact join on the partitioning key, never broadcast-dependent).
  */
object Relations {

  /** `utilities.split_by_casing` (utilities.py:215-216) replayed:
    * " ".join(findall('^[a-z]+|[A-Z][^A-Z]*', s)). */
  def splitByCasing(s: String): String =
    "^[a-z]+|[A-Z][^A-Z]*".r.findAllIn(s).mkString(" ")

  /** The per-conv subject URI (the reference's `person.uri`): the linked
    * turn-0 first person mention — the same subject definition the gender
    * family uses. */
  private def selfOf(linked: DataFrame): DataFrame =
    linked.filter(col("kind") === "person" &&
        col("turn_idx") === 0 && col("midx") === 0)
      .select(col("conv_id"), col("obj_value").as("self_uri"))

  // ---- FRIENDSASSOCIATES ---------------------------------------------------

  /** kg_friends (`lifeInfo.py:205-264`: find_friends + extract_friends):
    * per tag a FriendsAndAssociatesContext (per-conv `context_count`
    * ordinal); NAME mentions become Person relations — predicate
    * "cohabitant" for LIVESWITH-nested names, the passed default
    * "interpersonalRelationshipWith" otherwise (:207-217) — self-filtered
    * against person.uri (:219; biographers/parents are not modeled).
    * Non-empty friend lists additionally mint one Activity PER DISTINCT
    * PREDICATE (`get_attributes` key loop, :240-253): event ids replay
    * `context_id.replace("Context","Event") + "_" + event_count` with
    * event_count starting at 1 in attribute insertion order (= first-midx
    * order), labels `"Friend Relationship Event: " +
    * split_by_casing(pred).lower()`. Empty lists → identifying context
    * (type triples only, :259-261). */
  def friendTriples(linked: DataFrame): DataFrame = {
    val eid = Fns.eidCol
    val men = linked.filter(col("kind") === "person" && eid % 15 === 0)
      .withColumn("prd",
        when((floor(eid / 15) + col("midx")) % 3 === 0, "cohabitant")
          .otherwise("interpersonalRelationshipWith"))
    val friends = men.join(selfOf(linked), Seq("conv_id"), "left")
      .filter(col("self_uri").isNull || col("obj_value") =!= col("self_uri"))
    // tag-level frame: every turn has a midx-0 person mention, so the tag
    // ordinal (context_count, incremented per tag REGARDLESS of an empty
    // friend list) counts the midx-0 rows
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val tags = men.filter(col("midx") === 0)
      .withColumn("n", row_number().over(w).cast("string"))
      .select(col("conv_id"), col("turn_idx"),
        concat(lit(Ns.ctx), col("conv_id"),
          lit("_FriendsAndAssociatesContext_"), col("n")).as("ctx"))
    relationshipTriples(tags, friends,
      ctxType = "FriendsAndAssociatesContext",
      eventType = Ns.kg + "event/FriendsAndAssociatesEvent",
      labelPrefix = "Friend Relationship Event: ")
  }

  // ---- INTIMATERELATIONSHIPS ----------------------------------------------

  /** `predicate_map` (lifeInfo.py:109-114) in EROTIC-attr slot order;
    * slot 3 = the None relation. */
  val intimatePreds: Seq[String] = Seq("eroticRelationship",
    "possiblyEroticRelationship", "nonEroticRelationship",
    "intimateRelationship")

  /** kg_intimate (`lifeInfo.py:109-188`): the EROTIC attr picks the
    * predicate; a None relation routes through get_other_people (NO
    * cohabitant split, :116-121) while EROTICYES/POSSIBLY/NO route through
    * find_friends (LIVESWITH → cohabitant, :123-124). The reference only
    * emits when EXACTLY ONE relationship survives ("aiming for precision
    * here", :162-163): context + relation + one Activity per predicate
    * key; otherwise an identifying context. */
  def intimateTriples(linked: DataFrame): DataFrame = {
    val eid = Fns.eidCol
    val ridx = (floor(eid / 19) % 4).cast("int")
    val men = linked.filter(col("kind") === "person" && eid % 19 === 0)
      .withColumn("prd",
        when(ridx === 3, intimatePreds(3))
          .otherwise(when((floor(eid / 19) + col("midx")) % 3 === 0, "cohabitant")
            .otherwise(element_at(array(intimatePreds.map(lit): _*), ridx + 1))))
    val joined = men.join(selfOf(linked), Seq("conv_id"), "left")
    val surviving = joined
      .filter(col("self_uri").isNull || col("obj_value") =!= col("self_uri"))
    val cw = Window.partitionBy("conv_id", "turn_idx")
    val rels = surviving.withColumn("cnt", count(lit(1)).over(cw))
      .filter(col("cnt") === 1) // precision rule: exactly one name
    val w = Window.partitionBy("conv_id").orderBy("turn_idx")
    val tags = men.filter(col("midx") === 0)
      .withColumn("n", row_number().over(w).cast("string"))
      .select(col("conv_id"), col("turn_idx"),
        concat(lit(Ns.ctx), col("conv_id"),
          lit("_IntimateRelationshipContext_"), col("n")).as("ctx"))
    relationshipTriples(tags, rels,
      ctxType = "IntimateRelationshipContext",
      eventType = Ns.kg + "event/IntimateRelationshipEvent",
      labelPrefix = "Intimate Relationship Event: ")
  }

  /** Shared emission for the two relationship families: context type
    * triples for EVERY tag, relation triples + per-predicate activities
    * for the surviving relationship rows. */
  private def relationshipTriples(tags0: DataFrame, rels0: DataFrame,
      ctxType: String, eventType: String, labelPrefix: String): DataFrame = {
    // both frames are read twice, and Catalyst shares no subtree across
    // the two readers: tags by ctxTriples and the acts join, rels by
    // relTriples and the acts aggregation (small: one row per tag/name)
    val tags = tags0.localCheckpoint()
    val rels = rels0.localCheckpoint()
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    // both context-type triples ride one exploded pass over the tag frame
    val ctxTriples = tags.select(explode(array(
        Triple.row(col("ctx"), Ns.rdfType, lit(Ns.tContext), isIri = true),
        Triple.row(col("ctx"), Ns.rdfType, lit(Ns.kg + "type/" + ctxType),
          isIri = true))).as("t"))
      .select(col("t.*"))
    val relTriples = rels.select(Triple.cols(convUri,
      concat(lit(Ns.pred), col("prd")), col("obj_value"), isIri = true): _*)
    // one Activity per (tag, distinct predicate); event_count starts at 1
    // in attribute-insertion (= first-midx) order
    val acts = rels.groupBy("conv_id", "turn_idx", "prd")
      .agg(min("midx").as("m0"))
      .withColumn("ec", row_number().over(
        Window.partitionBy("conv_id", "turn_idx").orderBy("m0")).cast("string"))
      .join(tags, Seq("conv_id", "turn_idx"))
      .withColumn("act", concat(
        regexp_replace(col("ctx"), "Context", "Event"), lit("_"), col("ec")))
      .withColumn("lab", concat(lit(labelPrefix), element_at(
        map(intimatePreds.flatMap(p =>
          Seq(lit(p), lit(splitByCasing(p).toLowerCase))) ++
          Seq(lit("cohabitant"), lit("cohabitant"),
            lit("interpersonalRelationshipWith"),
            lit(splitByCasing("interpersonalRelationshipWith").toLowerCase)): _*),
        col("prd"))))
    // all four activity triples ride one exploded pass over acts
    val actTriples = acts.select(explode(array(
        Triple.row(col("ctx"), Ns.pred + "linksActivity", col("act"), isIri = true),
        Triple.row(col("act"), Ns.rdfType, lit(Ns.tActivity), isIri = true),
        Triple.row(col("act"), Ns.rdfType, lit(eventType), isIri = true),
        Triple.row(col("act"), Ns.rdfsLabel, col("lab"), isIri = false,
          lang = "en")))
        .as("t"))
      .select(col("t.*"))
    ctxTriples.unionAll(relTriples).unionAll(actTriples).distinct()
  }

  // ---- typed cultural-form sub-family contexts ----------------------------

  /** The CF sub-family dispatch (data/context_mapping.csv rows for the
    * cf_subelements at culturalForm.py:412-413 + CULTURALFORMATION /
    * POLITICS): context type per Orlando tag, and the CWRC predicate its
    * CulturalForm carries. */
  val cfTypes: Seq[String] = Seq("SocialClassContext", "RaceEthnicityContext",
    "NationalityContext", "SexualityContext", "ReligionContext",
    "PoliticalContext", "CulturalFormContext")
  val cfPreds: Seq[String] = Seq("socialClass", "raceColour",
    "nationalIdentity", "sexuality", "religion", "politicalAffiliation",
    "culturalForm")

  /** Activity labels precomputed by the reference formula
    * (culturalForm.py:381-383):
    * (split_by_casing(CONTEXT_TYPE) + "Event: " +
    *  split_by_casing(pred).lower()).replace("Context", ""). */
  val cfLabels: Seq[String] = cfTypes.zip(cfPreds).map { case (ty, p) =>
    (splitByCasing(ty) + "Event: " + splitByCasing(p).toLowerCase)
      .replace("Context", "")
  }

  /** kg_cf_contexts (`culturalForm.py:355-397` extract_culturalforms):
    * per CF tag a context typed with its SUB-FAMILY class (per-(conv,
    * family) ordinal — the cf_subelements_count streams, :412-413, reset
    * per bio) and one Activity per attribute key whose id replays
    * `context_id.replace("Context","Event") + "_" + count` with count
    * starting at 0 (:376-377 — unlike the relationship families' 1) and
    * whose rdf:type carries the CONTEXT type (:384:
    * `create_uri("context", CONTEXT_TYPE)` — the reference types CF
    * activities with the context class, replayed verbatim). Zero joins —
    * narrow projection + one window. */
  def cfContextTriples(tr: DataFrame): DataFrame = {
    val eid = Fns.eidCol
    val famIdx = (floor(eid / 25) % cfTypes.length).cast("int")
    val b0 = tr.filter(eid % 25 === 0)
      .withColumn("ctype", element_at(array(cfTypes.map(lit): _*), famIdx + 1))
      .withColumn("fpred", element_at(array(cfPreds.map(lit): _*), famIdx + 1))
      .withColumn("lab", element_at(array(cfLabels.map(lit): _*), famIdx + 1))
      .withColumn("k", (floor(eid / 175) % 10).cast("string"))
    val w = Window.partitionBy("conv_id", "ctype").orderBy("turn_idx")
    val b = b0.withColumn("n", row_number().over(w).cast("string"))
      .withColumn("ctx", concat(lit(Ns.ctx), col("conv_id"), lit("_"),
        col("ctype"), lit("_"), col("n")))
      .withColumn("act", concat(
        regexp_replace(col("ctx"), "Context", "Event"), lit("_0")))
      .withColumn("term", concat(lit(Ns.kg + "cf/"), col("fpred"),
        lit("/"), col("k")))
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    val ctypeUri = concat(lit(Ns.kg + "type/"), col("ctype"))
    // all seven rows unique by construction (≤1 CF turn per conv: 20
    // consecutive eids contain at most one multiple of 25) — no distinct,
    // same routing-around-distinct invariant as the other context
    // families. ONE window pass, seven exploded structs — the former
    // seven-branch self-union replayed the ordinal window per branch.
    val (ctx, act) = (col("ctx"), col("act"))
    b.select(explode(array(
        Triple.row(ctx, Ns.rdfType, lit(Ns.tContext), isIri = true),
        Triple.row(ctx, Ns.rdfType, ctypeUri, isIri = true),
        Triple.row(convUri, concat(lit(Ns.pred), col("fpred")), col("term"),
          isIri = true),
        Triple.row(ctx, Ns.pred + "linksActivity", act, isIri = true),
        Triple.row(act, Ns.rdfType, lit(Ns.tActivity), isIri = true),
        Triple.row(act, Ns.rdfType, ctypeUri, isIri = true),
        Triple.row(act, Ns.rdfsLabel, col("lab"), isIri = false, lang = "en")))
        .as("t"))
      .select(col("t.*"))
  }
}
