package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthesis of the transcript input table mandated by
  * BASELINE.json's input_hint: (conv_id string, turn_idx int, role string,
  * text string, tool string, ts timestamp).
  *
  * The table is a PURE-ARITHMETIC projection of the driver-generated `events`
  * table (TESTDATA.md) — no randomness, no hashing — so the DuckDB oracle can
  * re-derive the identical rows (graft.oracle.OracleSql.TR is the DuckDB-side
  * twin of this function; any edit here must be mirrored there).
  *
  * Shape correspondences to the reference (SURVEY.md §intro table):
  * conversation ↔ Orlando XML document (`Biography/bio_extraction.py:38`),
  * turn ↔ paragraph/CHRONSTRUCT block, embedded `Nation_k`/`Customer#k`/
  * occupation words ↔ tagged PLACE/NAME/JOB mentions, role=system turns ↔
  * HEADING tags, the `tool` column ↔ tag mode attributes.
  *
  * Scale note: this is a narrow map over the events scan — zero shuffle; at
  * 10^12 rows it parallelizes embarrassingly. Each conversation is 20
  * consecutive event_ids, so conv boundaries align with input file splits
  * almost everywhere (at most one conv straddles a split boundary).
  */
object SynthTranscripts {

  /** Occupation surface forms, indexed by event_id % 12. Chosen to exercise
    * every linking path (SURVEY.md §2.3 J1/J2): dictionary hits through the
    * clean_term stemmer (novelist/Novels both → "novel"; singer/singing →
    * "sing"), hyphen folding (school-teacher), an ISO-3166-style non-http
    * dictionary term (Ontarian → CA-ON literal, `culturalForm.py:575-583`),
    * and unmappable terms (zorbulator, floozle → fallback literal,
    * `culturalForm.py:583`).
    */
  val occWords: Seq[String] = Seq(
    "novelist", "Novels", "singer", "singing", "preacher", "school-teacher",
    "blacksmith", "zorbulator", "weaver", "Painter", "floozle", "Ontarian")

  def apply(spark: SparkSession, dir: String): DataFrame =
    // the shuffled rows, if any, are the narrow raw events
    project(Tables.spread(Tables.events(spark, dir)))

  /** CHILDLESSNESS/SHORTPROSE-style keyword payloads (lifeInfo.py:80-106 +
    * birthDeath.py:15,237-256): seven reproductive-history trigger words,
    * one non-trigger ("gardening" → the unspecified fallback), one burial
    * trigger ("the grave" ⊇ BURIAL_KEYWORDS' "grave"). Indexed by
    * (event_id DIV 21) % 9. */
  val lifePhrases: Seq[String] = Seq(
    "contraception", "adoption", "childless", "miscarriage", "stillborn",
    "abortion", "syphilis", "gardening", "the grave")

  /** Filler second sentence (no mention frames inside) — multi-sentence
    * turns exercise the snippet sentence budget (F6/F7): turns whose first
    * sentence exceeds the word budget get the filler trimmed off. */
  val fillerSentence: String =
    " We discussed the quarterly matters at some length and agreed to continue shortly."

  /** The pure projection events → transcripts; shared by the reader above
    * and `graft.Run.transcripts`, whose conv_id hash exchange takes the
    * place of the reader's spread.
    *
    * Multi-mention clauses (find_all parity, `Utils/utilities.py:351-360`:
    * the reference collects ALL tagged mentions per paragraph, so some turns
    * must carry 2+ mentions of one kind): a second person on eid%11==0, a
    * second place on eid%9==0, a second occupation on eid%10==0. */
  def project(e: DataFrame): DataFrame = {
    val eid = col("event_id")
    val occ = element_at(
      array(occWords.map(lit): _*), (eid % 12).cast("int") + 1)
    val occ2 = element_at(
      array(occWords.map(lit): _*), ((eid + 5) % 12).cast("int") + 1)
    val text = concat(
      lit("I visited Nation_"), (eid % 31).cast("string"),
      lit(" and met Customer#"), lpad(((eid * 7) % 200).cast("string"), 9, "0"),
      lit(" working as "), occ,
      when(eid % 5 === 0,
        concat(lit(" at Supplier#"), lpad(((eid * 3) % 13).cast("string"), 9, "0"))
      ).otherwise(lit("")),
      when(eid % 7 === 0,
        concat(lit(" leaving Nation_"), ((eid + 4) % 31).cast("string"))
      ).otherwise(lit("")),
      when(eid % 11 === 0,
        concat(lit(" and also met Customer#"), lpad(((eid * 13) % 200).cast("string"), 9, "0"))
      ).otherwise(lit("")),
      when(eid % 9 === 0,
        concat(lit(" then visited Nation_"), ((eid + 17) % 31).cast("string"))
      ).otherwise(lit("")),
      when(eid % 10 === 0,
        concat(lit(" later working as "), occ2)
      ).otherwise(lit("")),
      // (eid DIV 8)*3 ranges over odd AND even academies — eid*3 with
      // eid%8==0 would only ever hit the even (authority-mapped) half and
      // leave the skolem-miss path unreachable in the corpus
      when(eid % 8 === 0,
        concat(lit(" studied at Academy_"),
          (expr("event_id DIV 8") * 3 % 40).cast("string"))
      ).otherwise(lit("")),
      // personname family (personname.py): nickname variants — (eid*11)%40
      // covers all residues mod 40 (gcd(143,40)=1) so every NAMECONNOTATION
      // subtype (k%7) is reachable
      when(eid % 13 === 0,
        concat(lit(" nicknamed Nick_"), ((eid * 11) % 40).cast("string"))
      ).otherwise(lit("")),
      // birth-name with GIVEN/SURNAME parts (personname.py:142-152)
      when(eid % 17 === 0,
        concat(lit(" born Given_"), ((eid * 3) % 25).cast("string"),
          lit(" Family_"), ((eid * 5) % 25).cast("string"))
      ).otherwise(lit("")),
      // TITLE mentions linked through the cross-linked title authority
      // (titles/title_extraction.py) — only even titles occur in text
      when(eid % 14 === 0,
        concat(lit(" reading Title_"), ((eid * 7) % 30).cast("string"))
      ).otherwise(lit("")),
      // CHILDLESSNESS/burial keyword payload (lifeInfo.py:80-106)
      when(eid % 21 === 0,
        concat(lit(" while discussing "), element_at(
          array(lifePhrases.map(lit): _*),
          (expr("event_id DIV 21") % 9).cast("int") + 1))
      ).otherwise(lit("")),
      lit("."),
      when(eid % 6 === 0, lit(fillerSentence)).otherwise(lit("")))
    val role = when(col("event_type") === "purchase", "user")
      .when(col("event_type") === "click", "assistant")
      .when(col("event_type") === "view", "assistant")
      .when(col("event_type") === "signup", "system")
      .otherwise("tool") // event_type = error
    e.select(
      // at least six digits, never truncated (lpad would cut 10⁶ and up)
      format_string("conv_%06d", expr("event_id DIV 20")).as("conv_id"),
      (eid % 20).cast("int").as("turn_idx"),
      role.as("role"),
      text.as("text"),
      when(col("event_type") === "error",
        concat(lit("tool_"), (eid % 5).cast("string"))).otherwise(lit(""))
        .as("tool"),
      col("ts"))
  }
}
