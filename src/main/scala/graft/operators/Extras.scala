package graft.operators

import graft.functions.Fns
import graft.model.{Ns, Triple}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Long-tail operators from SURVEY.md §2 not covered by the main pipeline:
  * the retry-chain link (J3), attribute regrouping (A2), keyword role
  * detection (P8), retraction-as-precedence (U2), and deterministic top-k
  * reporting (O3).
  */
object Extras {

  /** J3 — Religion→PoliticalAffiliation→Religion retry chain
    * (`Biography/culturalForm.py:247-273`): a term missed by the primary
    * dictionary is retried against a secondary one before falling back to
    * a literal. Two broadcast left joins + coalesce; `source` records which
    * stage resolved it. */
  def retryChainLink(spark: SparkSession, mentions: DataFrame): DataFrame = {
    import graft.sources.Dicts
    val primary = broadcast(Dicts.occupations(spark)
      .select(col("key"), col("term").as("p_term"), col("is_iri").as("p_is_iri")))
    val secondary = broadcast(Dicts.politicalAffiliations(spark)
      .select(col("key"), col("term").as("s_term")))
    mentions.filter(col("kind") === "occupation")
      .withColumn("key", Fns.cleanTerm(col("surface")))
      .join(primary, Seq("key"), "left")
      .join(secondary, Seq("key"), "left")
      .select(col("conv_id"), col("turn_idx"), col("surface"),
        when(col("p_term").isNotNull && col("p_is_iri"), col("p_term"))
          .when(col("p_term").isNotNull, concat(lit("ISO-3166-2:"), col("p_term")))
          .otherwise(coalesce(col("s_term"), col("surface"))).as("obj_value"),
        when(col("p_term").isNotNull, lit("primary"))
          .when(col("s_term").isNotNull, lit("retry"))
          .otherwise(lit("literal")).as("source"))
  }

  /** A2 — regroup attributes per (conv, kind) into a deterministic sorted
    * value list (`{pred: [values]}` regrouping, `culturalForm.py:323-330`).
    * Serialized as a '|'-joined sorted distinct string so set-hash compare
    * is order-stable. */
  def groupedAttrs(linked: DataFrame): DataFrame =
    linked.filter(
      !col("kind").isin("place", "place_left") || col("matched"))
      .groupBy("conv_id", "kind")
      .agg(array_join(array_sort(collect_set(col("obj_value"))), "|").as("vals"),
        count(lit(1)).as("n_mentions"))

  /** P8 — keyword role detection (`Biography/biography.py:39-55`: a NAME
    * whose surrounding text contains "biographer <name>" is typed as a
    * biographer). Graft analog: a person mentioned in a turn that declares
    * "working as novelist" is linked as a writer acquaintance. */
  def writerAcquaintances(linked: DataFrame): DataFrame =
    linked.filter(col("kind") === "person" &&
        lower(col("text")).contains("working as novel"))
      .select(concat(lit(Ns.conv), col("conv_id")).as("subj"),
        lit(Ns.pred + "knowsWriter").as("pred"),
        col("obj_value")).distinct()

  /** U2 — triple retraction as an emit-time precedence rule
    * (`Utils/organizations.py:138` removes the default foaf:Organization
    * typing when an org is retyped; union-distinct is monotone so the
    * retraction becomes "the retyped rows suppress the default",
    * SURVEY.md §7.4 hard-part 4). Orgs mentioned ≥3 times across the corpus
    * are retyped MajorOrg; their default Org typing is withheld via
    * left_anti. */
  def orgTypeTriples(linked: DataFrame): DataFrame =
    // each org lands in EXACTLY one of {default, retyped}, so the
    // retraction is a per-row CASE over one aggregation — the former
    // two-branch shape aggregated twice and paid a left_anti join for
    // what a projection decides (same rows)
    linked.filter(col("kind") === "org" && col("matched"))
      .groupBy(col("obj_value").as("org_uri"))
      .agg(count(lit(1)).as("n"))
      .select(col("org_uri"),
        when(col("n") >= 3, lit(Ns.kg + "type/MajorOrg"))
          .otherwise(lit(Ns.kg + "type/Org")).as("type_uri"))

  /** J4 — fuzzy place link (`Mods/modsBib.py:89,241-285` fuzz.ratio ≥ 95 ≈
    * near-exact): places the exact join missed are retried against the
    * broadcast dictionary with levenshtein ≤ 1 on the normalized key; best
    * candidate by (distance, uri) — a theta-join against a broadcast side,
    * so the fact side still never shuffles. */
  def fuzzyPlaceLink(spark: SparkSession, dir: String, linked: DataFrame): DataFrame = {
    val dict = broadcast(graft.sources.Dicts.places(spark, dir)
      .select(col("key").as("dkey"), col("uri")))
    val misses = linked.filter(col("kind") === "place" && !col("matched"))
      .select(col("conv_id"), col("turn_idx"), col("surface"),
        Fns.cleanTermSimple(col("surface")).as("key"))
    val cands = misses.join(dict,
      levenshtein(col("key"), col("dkey")) <= 1)
      .withColumn("lev", levenshtein(col("key"), col("dkey")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id", "turn_idx", "surface")
      .orderBy(col("lev"), col("uri"))
    cands.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("conv_id"), col("turn_idx"), col("surface"),
        col("uri"), col("lev"))
  }

  /** P11 — generic-name stoplist: the reference's full generic_names list
    * (`Utils/context.py:381`, verbatim) plus the synthetic corpus's two
    * garbage occupation words; surfaces on the stoplist don't get label
    * triples. The oracle's NOT IN list is generated from this constant. */
  val genericStoplist: Seq[String] = Seq(
    "king", "King", "mother-in-law", "Queen", "queen", "husband", "wife",
    "partner", "father", "daughter", "essay", "son", "he", "she", "they",
    "her", "him", "them", "sisters", "the", "mother", "sibling", "brother",
    "sister", "friend", "his wife", "her husband", "his husband", "her wife",
    "their husband", "their wife", "lover", "family",
    "floozle", "zorbulator")
  def stoplistFiltered(linked: DataFrame): DataFrame =
    linked.filter(col("kind") === "occupation" &&
        !col("surface").isin(genericStoplist: _*))
      .select(col("conv_id"), col("turn_idx"), col("surface")).distinct()

  /** J9 — employer attach (`Biography/occupation.py:247-257,289-311`: the
    * first NAME/ORGNAME inside an EMPLOYER block becomes the activity's
    * participant): a turn carrying both an occupation and an org mention
    * links the conversation to the employer. */
  def employerAttach(linked: DataFrame): DataFrame = {
    val occs = linked.filter(col("kind") === "occupation")
      .select(col("conv_id"), col("turn_idx"))
    val orgs = linked.filter(col("kind") === "org" && col("matched"))
      .select(col("conv_id"), col("turn_idx"), col("obj_value"))
    orgs.join(occs, Seq("conv_id", "turn_idx"))
      .select(concat(lit(Ns.conv), col("conv_id")).as("subj"),
        lit(Ns.pred + "employedAt").as("pred"), col("obj_value")).distinct()
  }

  /** J11 — family-member sex-consistency placeholder
    * (`Biography/lifeInfo.py:360-396` + `data/writers_sex.csv`): a person
    * found for a gendered relation whose WRITER_MAP sex conflicts with the
    * relation's expected sex is replaced by a deterministic
    * `<person>_PLACEHOLDER_<relation>` URI. Graft: the relation of a person
    * mention is mother/father by turn parity; the expected sex comes from a
    * FAMILY_MAP-style literal map; the person's sex from the broadcast
    * people dictionary's gender column. */
  def familyPlaceholder(spark: SparkSession, dir: String,
                        linked: DataFrame): DataFrame = {
    val people = broadcast(graft.sources.Dicts.people(spark, dir)
      .select(col("uri").as("obj_value"), col("gender")))
    val relation = when(col("turn_idx") % 2 === 0, "mother").otherwise("father")
    val expectedSex = when(col("relation") === "mother", "female")
      .otherwise("male")
    linked.filter(col("kind") === "person" && col("matched"))
      .withColumn("relation", relation)
      .join(people, Seq("obj_value"))
      .select(col("conv_id"), col("turn_idx"), col("midx"), col("relation"),
        when(col("gender") =!= expectedSex,
          concat(lit(Ns.conv), col("conv_id"), lit("_PLACEHOLDER_"),
            col("relation")))
          .otherwise(col("obj_value")).as("member_uri"))
  }

  /** Children-count emission (`Biography/lifeInfo.py:346-347`: CHILDREN tag
    * NUMBER attrs become xsd:int-typed literals): the conversation's count
    * of distinct known persons, emitted with the canonical integer lexical
    * form — the one output datatype the other emitters don't exercise. */
  def childrenCounts(linked: DataFrame): DataFrame =
    linked.filter(col("kind") === "person")
      .groupBy("conv_id")
      .agg(countDistinct(col("obj_value")).as("n"))
      .select(Triple.cols(concat(lit(Ns.conv), col("conv_id")),
        Ns.pred + "childrenCount", col("n").cast("string"),
        isIri = false, dtype = Ns.xsdInt): _*)

  /** F15 — real percent-encoding for minted agent URIs
    * (`Mods/modsBib.py:960-961`, AGENTS minting `modsBib.py:998-1009`):
    * person/org surface forms become url-encoded agent URIs. Uses the
    * codegen'd built-in `url_encode`; the oracle mirrors it with explicit
    * replaces valid for the surface domain (whose only reserved char
    * is '#'). */
  def agentUris(mentions: DataFrame): DataFrame =
    mentions.filter(col("kind").isin("person", "org"))
      .select(col("surface")).distinct()
      .select(col("surface"),
        concat(lit(Ns.kg + "agent/"), expr("url_encode(surface)"))
          .as("agent_uri"))

  /** O2 — deterministic sample selection (`Utils/utilities.py:660-671`
    * first/last/random-N, made reproducible): every 10th conversation by
    * conv number (content-derived, partition-order-free). */
  def sampleConvs(transcripts: DataFrame): DataFrame =
    transcripts.filter( // uncapped digits, like the oracle's substr(conv_id, 6)
      expr("substring(conv_id, 6)").cast("int") % 10 === 0)

  /** O3 — failure histogram as a deterministic top-k report
    * (`culturalForm.py:626` sorts fails desc): full tie-break
    * (n desc, kind, surface) so LIMIT is reproducible. */
  def topUnmapped(linked: DataFrame, k: Int = 5): DataFrame =
    linked.filter(!col("matched"))
      .groupBy("kind", "surface")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("kind"), col("surface"))
      .limit(k)
}
