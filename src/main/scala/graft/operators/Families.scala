package graft.operators

import graft.model.{Ns, Triple}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 reference-breadth families: gender extraction, per-relation
  * family predicates and children counts, cause-of-death linking, and
  * title↔BIBCIT matching.
  *
  * All are narrow projections / broadcast joins over the shared mention or
  * transcript frames — no new fact-side shuffles beyond one per-conv
  * aggregate (childrenCounts), one ordinal window (titleRefs) and one tiny
  * near-miss theta-join against a ~10-row broadcast (codNearMiss).
  */
object Families {

  // ---- gender extraction family ------------------------------------------

  /** kg_gender (`Biography/culturalForm.py:466-500` extract_gender_data +
    * `bio_extraction.py:49-55`'s battery): per person a GenderContext_1
    * node and a gender triple whose object is the mapped Gender term
    * (get_mapped_term("Gender", value): FEMALE→Woman, MALE→Man — the
    * cf_mapping.csv rows for Gender). Graft: person ↔ conv; get_sex(bio)
    * — the document's own gender declaration — is played by the WRITER_MAP
    * gender of the conv's subject person (the turn-0 first person mention);
    * convs whose subject is not in the authority play the reference's
    * missing-<GENDER>-tag error path and emit nothing (inner join). */
  def genderTriples(spark: SparkSession, dir: String,
                    mentions: DataFrame): DataFrame = {
    val people = broadcast(graft.sources.Dicts.people(spark, dir)
      .select(col("key"), col("gender")))
    val subj = mentions
      .filter(col("kind") === "person" && col("turn_idx") === 0 && col("midx") === 0)
      .withColumn("key", lower(col("surface")))
      .join(people, Seq("key"))
    val ctx = concat(lit(Ns.ctx), col("conv_id"), lit("_GenderContext_1"))
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    val term = concat(lit(Ns.genderNs),
      when(col("gender") === "female", "Woman").otherwise("Man"))
    // one pass, three exploded structs — the three-branch self-union
    // re-ran the mention filter + dictionary join per branch
    subj.select(explode(array(
        Triple.row(ctx, Ns.rdfType, lit(Ns.tContext), isIri = true),
        Triple.row(ctx, Ns.rdfType, lit(Ns.tGenderContext), isIri = true),
        Triple.row(convUri, Ns.gender, term, isIri = true))).as("t"))
      .select(col("t.*"))
      .distinct()
  }

  // ---- per-relation family predicates ------------------------------------

  /** FAMILY_MAP rows VERBATIM from `data/family_mapping.csv` (loaded at
    * `Biography/lifeInfo.py:278-291`): (Relation, Predicate, SEX) in file
    * order. Two reference data quirks are preserved exactly because the
    * sex-consistency check is PLAIN STRING inequality against WRITER_MAP's
    * MALE/FEMALE values (lifeInfo.py:366): BROTHER's SEX is " MALE" (a
    * leading space in the CSV) and several relations carry the literal
    * string "None" — both can never equal a writer's sex, so those
    * relations ALWAYS take the placeholder branch for dictionary-known
    * members. */
  val familyMap: Seq[(String, String, String)] = Seq(
    ("AUNT", "aunt", "FEMALE"), ("BROTHER", "brother", " MALE"),
    ("CHILD", "child", "None"), ("COUSIN", "cousin", "None"),
    ("DAUGHTER", "daughter", "FEMALE"), ("FATHER", "father", "MALE"),
    ("FOREBEAR", "ancestor", "None"), ("GRANDDAUGHTER", "grandDaughter", "FEMALE"),
    ("GRANDFATHER", "grandFather", "MALE"), ("GRANDMOTHER", "grandMother", "FEMALE"),
    ("GRANDSON", "grandSon", "None"), ("GUARDIAN", "guardian", "None"),
    ("HUSBAND", "husband", "MALE"), ("MOTHER", "mother", "FEMALE"),
    ("NEPHEW", "nephew", "MALE"), ("NIECE", "niece", "FEMALE"),
    ("OTHER", "interpersonalRelationshipWith", "None"), ("PARTNER", "partner", "None"),
    ("SISTER", "sister", "FEMALE"), ("SON", "son", "MALE"),
    ("STEPBROTHER", "stepBrother", "MALE"), ("STEPDAUGHTER", "stepDaughter", "FEMALE"),
    ("STEPFATHER", "stepFather", "MALE"), ("STEPMOTHER", "stepMother", "FEMALE"),
    ("STEPSISTER", "stepSister", "FEMALE"), ("STEPSON", "stepSon", "MALE"),
    ("UNCLE", "uncle", "MALE"), ("WIFE", "wife", "FEMALE"))

  /** kg_family (`Biography/lifeInfo.py:278-291,307-396` + the J11
    * placeholder composed in): every person mention plays a MEMBER tag;
    * its RELATION is document-order arithmetic over the FAMILY_MAP file
    * order ((eid*3 + midx) % 28 — gcd(3,28)=1 so every relation occurs).
    * Emits `<conv> <cwrc relationPredicate> <member>` where the member is
    * the linked person URI unless the sex-consistency check fires
    * (WRITER_MAP-known member whose sex ≠ the relation's SEX, relation ≠
    * interpersonalRelationshipWith → `<conv>_PLACEHOLDER_<predicate>`,
    * lifeInfo.py:364-369). Non-dictionary members keep their minted temp
    * URI (get_other_people mints standard URIs for any NAME). */
  def familyTriples(spark: SparkSession, dir: String,
                    linked: DataFrame): DataFrame = {
    val people = broadcast(graft.sources.Dicts.people(spark, dir)
      .select(col("uri").as("obj_value"), col("gender")))
    val predArr = array(familyMap.map(r => lit(r._2)): _*)
    val sexArr = array(familyMap.map(r => lit(r._3)): _*)
    val eid = graft.functions.Fns.eidCol
    val relIdx = ((eid * 3 + col("midx")) % familyMap.length).cast("int")
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    val b = linked.filter(col("kind") === "person")
      .join(people, Seq("obj_value"), "left") // gender null = not in WRITER_MAP
      .withColumn("prd", element_at(predArr, relIdx + 1))
      .withColumn("esex", element_at(sexArr, relIdx + 1))
    b.select(Triple.cols(convUri, concat(lit(Ns.pred), col("prd")),
      when(col("gender").isNotNull && upper(col("gender")) =!= col("esex") &&
          col("prd") =!= "interpersonalRelationshipWith",
        concat(convUri, lit("_PLACEHOLDER_"), col("prd")))
        .otherwise(col("obj_value")), isIri = true): _*)
      .distinct()
  }

  /** kg_children (`Biography/lifeInfo.py:346-347`: CHILDREN tag NUMBER
    * attrs become xsd:int-typed literals): the conversation's count of
    * distinct known persons, emitted with the canonical integer lexical
    * form — the one output datatype the other emitters don't exercise. */
  def childrenCounts(linked: DataFrame): DataFrame =
    linked.filter(col("kind") === "person")
      .groupBy("conv_id")
      .agg(countDistinct(col("obj_value")).as("n"))
      .select(Triple.cols(concat(lit(Ns.conv), col("conv_id")),
        Ns.pred + "childrenCount", col("n").cast("string"),
        isIri = false, dtype = Ns.xsdInt): _*)

  // ---- birth-position family ---------------------------------------------

  /** kg_birth_position (`Biography/birthDeath.py:40-52`
    * get_birthposition_uris): BIRTHPOSITION values map to
    * biography:onlyChild / eldestChild / youngestChild / middleChild —
    * EXCEPT that the reference compares against the literal "MIDDLE:"
    * (trailing colon, an upstream typo), so a plain MIDDLE value NEVER
    * maps and silently emits nothing. Replayed verbatim. Graft: the
    * birth-name clause ("born Given_i Family_j", eid%17==0) plays the
    * BIRTH block; its position attr is (eid DIV 17) % 4 over
    * [ONLY, ELDEST, YOUNGEST, MIDDLE]. Join-free narrow projection. */
  val birthPositions: Seq[(String, String)] = Seq(
    "ONLY" -> "onlyChild", "ELDEST" -> "eldestChild",
    "YOUNGEST" -> "youngestChild", "MIDDLE:" -> "middleChild")

  def birthPositionTriples(tr: DataFrame): DataFrame = {
    val eid = graft.functions.Fns.eidCol
    val pos = element_at(
      array(Seq("ONLY", "ELDEST", "YOUNGEST", "MIDDLE").map(lit): _*),
      (floor(eid / 17).cast("long") % 4).cast("int") + 1)
    val uri = birthPositions.foldRight(lit(null).cast("string")) {
      case ((k, v), acc) => when(col("pos") === k, lit(Ns.bio + v)).otherwise(acc)
    }
    tr.filter(eid % 17 === 0 && col("text").contains(" born "))
      .withColumn("pos", pos)
      .withColumn("uri", uri)
      .filter(col("uri").isNotNull) // MIDDLE: quirk — plain MIDDLE drops out
      .select(Triple.cols(concat(lit(Ns.conv), col("conv_id")),
        Ns.pred + "birthPosition", col("uri"), isIri = true): _*)
      .distinct()
  }

  // ---- marital-status family ---------------------------------------------

  /** kg_marital (`Biography/lifeInfo.py:61-67` + :403-408): MEMBER tags
    * contribute at most ONE of each MARRIAGE / SEPARATION / DIVORCE tag
    * (find_all limit=1 per type, in that order), each becoming a
    * `<person> biography:maritalStatusChange biography:<tagname>` triple
    * attached alongside the family relations. Graft: a person mention
    * (the MEMBER analog) carries a marriage tag iff eid%3==0, separation
    * iff eid%4==0, divorce iff eid%6==0 — the limit=1 semantics folds
    * into the per-conv distinct. Join-free narrow projection. */
  val maritalTags: Seq[(String, Long)] =
    Seq("marriage" -> 3L, "separation" -> 4L, "divorce" -> 6L)

  def maritalTriples(mentions: DataFrame): DataFrame = {
    val eid = graft.functions.Fns.eidCol
    val members = mentions.filter(col("kind") === "person")
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    // one pass, per-tag null-compacted structs — the three-branch
    // self-union re-ran the member filter (and, cold, extraction) per tag
    val tagStructs = maritalTags.map { case (status, m) =>
      when(eid % m === 0,
        Triple.row(convUri, Ns.pred + "maritalStatusChange",
          lit(Ns.bio + status), isIri = true))
    }
    members.select(explode(array_compact(array(tagStructs: _*))).as("t"))
      .select(col("t.*")).distinct()
  }

  // ---- cause-of-death linking --------------------------------------------

  /** CAUSE_MAP analog (`Biography/birthDeath.py:28-36` create_cause_map +
    * COD_mapping_categories/strings.txt): category → raw cause strings.
    * One category is an http URI (the reference URIRef branch,
    * birthDeath.py:146-147); the others become xsd:string category
    * literals; unmapped values fall back to the raw value as an
    * xsd:string literal (birthDeath.py:149-151). */
  val causeMap: Seq[(String, Seq[String])] = Seq(
    "http://id.lincsproject.ca/ii/VenerealDisease" ->
      Seq("syphilis", "venereal disease"),
    "Pregnancy_or_childbirth" ->
      Seq("miscarriage", "stillborn", "abortion", "after giving birth"),
    "Unspecified_Unknown_Cause_of_Death" -> Seq("a long illness", "old age"),
    "External_cause" -> Seq("an accident", "a fall"))

  /** COD clean_term (`birthDeath.py:24-26`): lower, hyphen→space, strip,
    * then remove ALL spaces. */
  def codClean(s: String): String =
    s.toLowerCase.replace("-", " ").trim.replace(" ", "")
  def codCleanCol(c: Column): Column =
    regexp_replace(trim(regexp_replace(lower(c), "-", " ")), " ", "")

  /** The death-cause mention frame: the "while discussing <phrase>" clause
    * plays the death-cause text (the same tag the lifeInfo classifier
    * reads — COD reads it through the CAUSE_MAP exact-match mechanics
    * instead of substring classification). */
  private def codFrame(tr: DataFrame): DataFrame =
    tr.withColumn("cause",
      regexp_extract(col("text"), "while discussing ([a-z ]+)\\.", 1))
      .filter(col("cause") =!= "")

  /** kg_death_causes (`birthDeath.py:117-170` get_mapped_term): exact
    * match of the cleaned cause against CAUSE_MAP in map order (first
    * match wins); http terms → URIRef, matched categories → xsd:string
    * literal of the CATEGORY name, misses → xsd:string literal of the raw
    * value. Zero-join narrow projection (the map is inlined). */
  def deathCauses(tr: DataFrame): DataFrame = {
    val key = codCleanCol(col("cause"))
    // foldRight keeps CAUSE_MAP iteration order: first matching category wins
    val term = causeMap.foldRight(col("cause")) { case ((cat, vals), acc) =>
      when(key.isin(vals.map(codClean): _*), lit(cat)).otherwise(acc)
    }
    val convUri = concat(lit(Ns.conv), col("conv_id"))
    codFrame(tr)
      .withColumn("term", term)
      .select(Triple.cols(convUri, Ns.causeOfDeath, col("term"),
        isIri = col("term").startsWith("http"),
        dtype = when(col("term").startsWith("http"), lit(""))
          .otherwise(lit(Ns.xsdString))): _*)
      .distinct()
  }

  /** kg_cod_nearmiss (`birthDeath.py:152-166` get_close_matches logging):
    * for every unmapped cause value, the CAUSE_MAP entries within
    * levenshtein ≤ 3 of it (the reference's "Possible matches" fail rows).
    * The map side is a ~10-row broadcast, so the theta-join never
    * shuffles the fact side. */
  def codNearMiss(tr: DataFrame, maxLev: Int = 3): DataFrame = {
    val spark = tr.sparkSession
    import spark.implicits._
    val allClean = causeMap.flatMap(_._2).map(codClean)
    val cands = broadcast(
      causeMap.flatMap { case (cat, vals) =>
        vals.map(v => (cat, v, codClean(v)))
      }.toDF("category", "candidate", "cand_key"))
    val key = codCleanCol(col("cause"))
    val misses = codFrame(tr)
      .withColumn("key", key)
      .filter(!col("key").isin(allClean: _*))
      .select(col("cause"), col("key")).distinct()
    misses.join(cands, levenshtein(col("key"), col("cand_key")) <= maxLev)
      .select(col("cause"), col("category"), col("candidate"),
        levenshtein(col("key"), col("cand_key")).as("lev"))
  }

  // ---- title ↔ BIBCIT matching -------------------------------------------

  /** The bibliography reference-title dictionary (`titles/readFiles.py`
    * main's ref_title built from the title-dict CSV): dbref k → registered
    * title. Synthesized arithmetically: ref_title[k] = "Title_" + 2k. */
  def refTitle(k: Column): Column =
    concat(lit("Title_"), (k * 2).cast("string"))

  /** kg_title_dict (`titles/readFiles.py:9-34` parseFile + the main-loop
    * dict builder): the cross-file title dictionary — one row per
    * normalized title with the merged, deduplicated document list (the
    * reference accumulates `documents` across files into one CSV). The
    * reg-attr normalization branch lives in the Titles authority
    * (title_extraction.py analog); here the normalized form IS the
    * surface. One groupBy over the slim title-mention frame. */
  def titleDict(tr: DataFrame): DataFrame =
    tr.withColumn("title",
      regexp_extract(col("text"), "reading (Title_[0-9]+)", 1))
      .filter(col("title") =!= "")
      .groupBy("title")
      .agg(countDistinct(col("conv_id")).as("n_documents"),
        array_join(array_sort(collect_set(col("conv_id"))), "|").as("documents"))

  /** kg_title_refs (`titles/readFiles.py:37-108` compareTitleRefs): per
    * conversation (↔ file), every first-seen title (titles_seen dedup,
    * :43-59) is compared against the file's bibcit: the FIRST tool turn
    * plays `item.parent.find('bibcit')`, its tool index the DBREF attr.
    * Replayed verbatim: no bibcit → unmatched; bibcit without a dbref
    * (tool index < 3) → the row is SKIPPED entirely (the `continue` at
    * :72-73); dbref present → matched iff the registered title equals the
    * mention, else unmatched (:85-90). Output is the reference's CSV
    * report as a DataFrame: (conv_id, title, status, dbref), dbref = -1
    * off the matched branch. One window + one tiny per-conv aggregate. */
  def titleRefs(tr: DataFrame): DataFrame = {
    val titles = tr
      .withColumn("title", regexp_extract(col("text"), "reading (Title_[0-9]+)", 1))
      .filter(col("title") =!= "")
    val w = Window.partitionBy("conv_id", "title").orderBy("turn_idx")
    val seen = titles.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("conv_id", "turn_idx", "title")
    val bib = tr.filter(col("role") === "tool" && col("tool") =!= "")
      .groupBy("conv_id")
      .agg(min_by(col("tool"), col("turn_idx")).as("first_tool"))
      .withColumn("dbref", substring(col("first_tool"), 6, 10).cast("int"))
      .select("conv_id", "dbref")
    seen.join(bib, Seq("conv_id"), "left")
      .filter(col("dbref").isNull || col("dbref") >= 3) // dbref-less bibcit → continue
      .select(col("conv_id"), col("title"),
        when(col("dbref").isNotNull && col("title") === refTitle(col("dbref")),
          "matched").otherwise("unmatched").as("status"),
        when(col("dbref").isNotNull && col("title") === refTitle(col("dbref")),
          col("dbref")).otherwise(lit(-1)).as("dbref"))
  }
}
