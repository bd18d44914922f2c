package graft.operators

import graft.functions.Fns
import graft.model.{Ns, Triple}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Education family node shapes (`Biography/education.py:75-335`): per
  * EDUCATION block a typed context (mode-dispatched, `context_map` at
  * :205-209), a School node (rdfs:label + EducationalOrganization + the
  * `school_type_map` types at :43-67, attached through `attending_map`'s
  * level predicate or CWRC.schoolAttended, :110-116), Degree credentials
  * (:249), and EducationalAward nodes with the 11-keyword `award_keywords`
  * / `award_map` class dispatch (:146-180, `get_award_type`: every keyword
  * SUBSTRING-contained in the lowercased name contributes its class,
  * deduplicated as a set; no hit → the CWRC.EducationalAward base class).
  *
  * Graft mapping: the "studied at Academy_k" clause (eid%8==0 turns) plays
  * the EDUCATION block; its linked row (authority URI or skolemized BNode —
  * the reference's `make_standard_uri(name+" ORG")` miss path) plays the
  * School URI. Block attributes are pure arithmetic over m = eid/8 (the
  * same convention as every other family's attr synthesis): mode = m%4,
  * INSTITUTIONLEVEL = (m/4)%4, STUDENTBODY = (m/16)%3, AWARD present iff
  * m%2==0 with name (m/2)%8, DEGREE present iff m%3==0 with value (m/3)%4.
  * Ordinals replay `education_count` (reset per bio at :525-533 → a
  * per-(conv, context-type) stream).
  *
  * Scale: one narrow projection over the linked education rows + one
  * ordinal window per (conv, ctype) — no joins (the School link was
  * already paid in the linking stage), no corpus-wide shuffles beyond the
  * window's conv-co-partitioned exchange and the final distinct.
  */
object Education {

  /** `Education.context_map` (education.py:205-209): mode → context type. */
  val modes: Seq[String] =
    Seq("InstitutionalEducationContext", "SelfTaughtEducationContext",
      "DomesticEducationContext", "EducationContext")

  /** INSTITUTIONLEVEL slots (school_type_map's level rows, :46-49) and
    * `attending_map` (:69-73); slot 4 (None) → CWRC.schoolAttended. */
  val levelTypes: Seq[String] =
    Seq("PrimarySchool", "SecondarySchool", "PostSecondarySchool")
  val levelPreds: Seq[String] =
    Seq("primarySchool", "secondarySchool", "postSecondarySchool")

  /** STUDENTBODY slots (:53-55); slot 3 (None) → no type triple. */
  val bodyTypes: Seq[String] = Seq("SingleSexSchool", "CoEducationalSchool")

  /** `award_keywords` + `award_map` VERBATIM (education.py:148-169). */
  val awardKeywords: Seq[String] = Seq("scholarship", "prize", "medal",
    "fellow", "fellowship", "essay", "bursary", "exhibition", "distinction",
    "honours", "studentship")
  val awardMap: Map[String, String] = Map(
    "scholarship" -> "Scholarship", "prize" -> "EducationalPrize",
    "medal" -> "EducationalPrize", "fellow" -> "Fellowship",
    "fellowship" -> "Fellowship", "essay" -> "EssayAward",
    "bursary" -> "Bursary", "exhibition" -> "Scholarship",
    "distinction" -> "Distinction", "honours" -> "Distinction",
    "studentship" -> "Studentship")

  /** The synthetic AWARD names, chosen to exercise every dispatch path:
    * multi-keyword names, keywords that collapse to one class under the
    * set-dedup (fellow⊂fellowship; scholarship+exhibition), the
    * no-keyword default, and a two-class name. */
  val awardNames: Seq[String] = Seq(
    "Gold Medal", "Junior Scholarship and Exhibition", "Essay Prize",
    "Latin Verse Cup", "Research Fellowship", "First Class Honours",
    "Travel Bursary", "Open Studentship with Distinction")

  /** `get_award_type` (education.py:173-178) replayed in Scala over the
    * FIXED name list — the dispatch is a pure function of the 8 names, so
    * it folds to a driver-side table instead of 11 runtime Contains
    * branches. Sorted for a deterministic array literal; emission is
    * set-semantic so order is immaterial. */
  val awardTypes: Seq[Seq[String]] = awardNames.map { name =>
    val hits = awardKeywords.filter(name.toLowerCase.contains(_))
      .map(awardMap).distinct
    (if (hits.isEmpty) Seq("EducationalAward") else hits)
      .sorted.map(Ns.kg + "type/" + _)
  }

  /** DEGREE values (get_degrees → EDU_MAP "Degree" terms, :341-342). */
  val degrees: Seq[String] = Seq("BA", "MA", "PhD", "Diploma")

  /** SUBJECT values (get_study_subjects → EDU_MAP "Subject" terms,
    * :337-338). Present iff m%5==0, value (m/5)%6. */
  val subjects: Seq[String] =
    Seq("Latin", "Mathematics", "Botany", "Rhetoric", "Music", "Greek")

  /** kg_education: the full education node-shape emission. Input: the
    * linked mention frame (education rows carry the School URI). */
  def educationTriples(linked: DataFrame): DataFrame = {
    val m = (Fns.eidCol / 8).cast("long") // education rows have eid%8==0
    val base = linked.filter(col("kind") === "education")
      .withColumn("m", m)
      .withColumn("ctype", element_at(
        array(modes.map(lit): _*), (col("m") % 4).cast("int") + 1))
      .withColumn("lvl", (floor(col("m") / 4) % 4).cast("int"))   // 3 = None
      .withColumn("body", (floor(col("m") / 16) % 3).cast("int")) // 2 = None
    val w = Window.partitionBy("conv_id", "ctype")
      .orderBy("turn_idx", "midx")
    val b = base.withColumn("n", row_number().over(w).cast("string"))
      .withColumn("ctx", concat(lit(Ns.ctx), col("conv_id"), lit("_"),
        col("ctype"), lit("_"), col("n")))
    val school = col("obj_value")
    val attendPred = element_at(
      array((levelPreds :+ "schoolAttended").map(p => lit(Ns.pred + p)): _*),
      col("lvl") + 1)
    // ONE pass over the block frame: every per-block triple rides one
    // exploded struct array (fixed rows null-compacted by their
    // m-arithmetic guards; the variable-length award-class rows as a
    // concatenated transform over the precomputed dispatch table).
    // Reference citations per row group:
    //  - awards: skolemized BNode per (conv, turn, midx); classes from the
    //    award_keywords/award_map dispatch (education.py:146-180)
    //  - degrees: context credential (education.py:249)
    //  - studied subjects (education.py:241-246): subjectOfStudy on the
    //    context PLUS teachesEducationalSubject on the school (the
    //    len(schools)==1 quirk holds in the one-school-per-block shape)
    //  - contested behaviour (education.py:236-238, :351-352):
    //    limit_words(value, 20) literals, present iff m%7==0
    //  - instructors (get_instructors :133-139; to_triple :121-122,
    //    :231-232): one INSTRUCTOR per block (m%6==0), arithmetic URI;
    //    len(instructors)==1 subject attach fires when m%30==0
    //  - companions (add_companion :313-314; to_triple :234-235), m%9==0
    //  - school locations (get_locations :140 → to_triple :124-125), m%10
    //  - degree subjects (get_degree_subjects → to_triple :252-253), m%15
    val mc = col("m")
    val aidx = (floor(mc / 2) % awardNames.length).cast("int")
    val aname = element_at(array(awardNames.map(lit): _*), aidx + 1)
    val auri = concat(lit(Ns.kg + "award/"), col("conv_id"),
      lit("_"), col("turn_idx").cast("string"), lit("_"),
      col("midx").cast("string"))
    val degUri = concat(lit(Ns.kg + "degree/"),
      element_at(array(degrees.map(lit): _*),
        (floor(mc / 3) % degrees.length).cast("int") + 1))
    val subjTerm = concat(lit(Ns.kg + "subject/"),
      element_at(array(subjects.map(lit): _*),
        (floor(mc / 5) % subjects.length).cast("int") + 1))
    val dsTerm = concat(lit(Ns.kg + "subject/"),
      element_at(array(subjects.map(lit): _*),
        (floor(mc / 15) % subjects.length).cast("int") + 1))
    val instructorUri = concat(lit(Ns.person), ((mc * 7) % 200).cast("string"))
    val companionUri = concat(lit(Ns.person), ((mc * 11) % 200).cast("string"))
    val locationUri = concat(lit(Ns.place), ((mc * 3) % 25).cast("string"))
    val ctx = col("ctx")
    val fixed = array(
      Triple.row(ctx, Ns.rdfType, lit(Ns.tContext), isIri = true),
      Triple.row(ctx, Ns.rdfType,
        concat(lit(Ns.kg + "type/"), col("ctype")), isIri = true),
      Triple.row(school, Ns.rdfsLabel, col("surface"), isIri = false),
      Triple.row(school, Ns.rdfType,
        lit(Ns.kg + "type/EducationalOrganization"), isIri = true),
      Triple.row(ctx, attendPred, school, isIri = true),
      when(col("lvl") < 3, Triple.row(school, Ns.rdfType,
        element_at(array(levelTypes.map(x => lit(Ns.kg + "type/" + x)): _*),
          col("lvl") + 1), isIri = true)),
      when(col("body") < 2, Triple.row(school, Ns.rdfType,
        element_at(array(bodyTypes.map(x => lit(Ns.kg + "type/" + x)): _*),
          col("body") + 1), isIri = true)),
      when(mc % 2 === 0, Triple.row(auri, Ns.rdfsLabel, aname, isIri = false)),
      when(mc % 2 === 0, Triple.row(ctx, Ns.pred + "award", auri, isIri = true)),
      when(mc % 3 === 0, Triple.row(ctx, Ns.pred + "credential", degUri,
        isIri = true)),
      when(mc % 5 === 0, Triple.row(ctx, Ns.pred + "subjectOfStudy", subjTerm,
        isIri = true)),
      when(mc % 5 === 0, Triple.row(school,
        Ns.pred + "teachesEducationalSubject", subjTerm, isIri = true)),
      when(mc % 7 === 0, Triple.row(ctx, Ns.pred + "contestedBehaviour",
        graft.functions.Fns.limitWords(col("text"), 20), isIri = false)),
      when(mc % 6 === 0, Triple.row(ctx, Ns.pred + "instructor",
        instructorUri, isIri = true)),
      when(mc % 6 === 0, Triple.row(school, Ns.pred + "hasEmployee",
        instructorUri, isIri = true)),
      when(mc % 6 === 0 && mc % 5 === 0, Triple.row(instructorUri,
        Ns.pred + "teachesEducationalSubject", subjTerm, isIri = true)),
      when(mc % 9 === 0, Triple.row(ctx, Ns.pred + "companion",
        companionUri, isIri = true)),
      when(mc % 10 === 0, Triple.row(school, Ns.pred + "hasLocation",
        locationUri, isIri = true)),
      when(mc % 15 === 0, Triple.row(ctx, Ns.pred + "credentialSubject",
        dsTerm, isIri = true)))
    val awardTypeRows = filter(
      transform(element_at(typedlit(awardTypes), aidx + 1),
        ty => Triple.row(auri, Ns.rdfType, ty, isIri = true)),
      _ => mc % 2 === 0)
    b.select(explode(concat(array_compact(fixed), awardTypeRows)).as("t"))
      .select(col("t.*")).distinct()
  }
}
