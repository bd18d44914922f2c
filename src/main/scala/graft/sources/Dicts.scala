package graft.sources

import graft.functions.Fns
import graft.model.Ns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Authority dictionaries — the analog of the reference's CSV lookup tables
  * (PLACE_MAP `Utils/place.py:42-53`, CF_MAP `Biography/culturalForm.py:524-539`,
  * PERSON_MAP/ORGANIZATION_MAP `Utils/utilities.py:153-182`).
  *
  * Two flavors, both broadcast-joined by the linker (SURVEY.md §2.3):
  *  - table-backed (places from nation∪region, people from customer, orgs
  *    from supplier) — these model GeoNames/VIAF-style authority snapshots;
  *  - inline literal rows (occupations) — these model the CSVs the reference
  *    ships in data/, including its quirks: duplicate normalized keys across
  *    rows (first-row-wins, `culturalForm.py:570-575`) and non-http terms
  *    that become "ISO-3166-2:"-prefixed typed literals
  *    (`culturalForm.py:575-583`).
  *
  * All dictionaries are collapsed to one row per normalized key with
  * min_by(term, row_id) BEFORE the join — that makes "first match wins"
  * deterministic and keeps the join side tiny for broadcast.
  */
object Dicts {

  /** Inline occupation authority rows: (row_id, term, alt labels).
    * `term` is either an IRI or a bare ISO-3166-2-style code. */
  val occupationRows: Seq[(Int, String, Seq[String])] = Seq(
    (0, Ns.occ + "novelist", Seq("novelist", "novel writer")),
    (1, Ns.occ + "author",   Seq("novels", "author")), // "novels"→"novel" collides with row 0 → row 0 wins
    (2, Ns.occ + "singer",   Seq("singer", "singing")),
    (3, Ns.occ + "preacher", Seq("preacher")),
    (4, Ns.occ + "teacher",  Seq("school-teacher", "teacher")),
    (5, Ns.occ + "smith",    Seq("blacksmith")),
    (6, Ns.occ + "weaver",   Seq("weaver")),
    (7, Ns.occ + "painter",  Seq("painter")),
    (8, "CA-ON",             Seq("Ontarian")) // non-http term → ISO literal path
  )

  /** Education authority rows — EDU_MAP analog
    * (`Biography/education.py:459-472`): even-numbered academies carry
    * LINCS-style authority URIs; odd ones miss and get skolemized
    * (the reference's education BNodes, `education.py:173`). */
  val educationRows: Seq[(Int, String, Seq[String])] =
    (0 until 40 by 2).map(k => (k / 2, s"${Ns.kg}edu/auth/$k", Seq(s"Academy_$k")))

  /** An inline authority: explode each row's alt labels, normalize them
    * with `norm`, keep the first row's term per key. Output: (key, term). */
  private def inlineDict(spark: SparkSession, rows: Seq[(Int, String, Seq[String])],
                         norm: Column => Column): DataFrame = {
    import spark.implicits._
    rows.flatMap { case (rid, term, alts) => alts.map(a => (rid, term, a)) }
      .toDF("row_id", "term", "alt")
      .select(norm(col("alt")).as("key"), col("term"), col("row_id"))
      .groupBy("key")
      .agg(min_by(col("term"), col("row_id")).as("term"))
  }

  /** Education dictionary: (key, uri), lowercase keys, first-row-wins. */
  def educations(spark: SparkSession): DataFrame =
    inlineDict(spark, educationRows, lower).withColumnRenamed("term", "uri")

  /** Occupations: normalized with the cf clean_term stemmer, first row per
    * key. Output: (key, term, is_iri). */
  def occupations(spark: SparkSession): DataFrame =
    inlineDict(spark, occupationRows, Fns.cleanTerm)
      .withColumn("is_iri", col("term").startsWith("http"))

  /** Places: nation ∪ region names → minted place URIs. Normalized with the
    * simple (non-stemming) cleaner, like `Utils/place.py:88-97`. */
  def places(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir).select(
      Fns.cleanTermSimple(col("n_name")).as("key"),
      concat(lit(Ns.place), col("n_nationkey").cast("string")).as("uri"))
    val r = Tables.region(spark, dir).select(
      Fns.cleanTermSimple(col("r_name")).as("key"),
      concat(lit(Ns.place), lit("r"), col("r_regionkey").cast("string")).as("uri"))
    n.unionAll(r)
  }

  /** People: customer names → person URIs + VIAF-style sameAs targets.
    * viaf id = custkey DIV 3 (clusters of three — the sameAs-closure seed,
    * analog of PERSON_MAP/wikidata_ids, `Biography/biography.py:12-36`).
    * gender = the WRITER_MAP "SEX" column (`data/writers_sex.csv` analog,
    * `Biography/lifeInfo.py:360-396`), derived as custkey parity. */
  def people(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      lower(col("c_name")).as("key"),
      concat(lit(Ns.person), col("c_custkey").cast("string")).as("uri"),
      col("c_custkey").cast("long").as("custkey"),
      concat(lit(Ns.viaf), expr("CAST(c_custkey DIV 3 AS STRING)")).as("viaf_uri"),
      // DIV 2 parity: decoupled from custkey parity, which the synthetic
      // mention arithmetic always aligns with turn parity (a custkey%2
      // gender would make relation/sex conflicts unreachable)
      when(expr("c_custkey DIV 2") % 2 === 0, "female").otherwise("male")
        .as("gender"))

  /** Orgs: supplier names → org URIs (`Utils/organizations.py:56-83`). */
  def orgs(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir).select(
      lower(col("s_name")).as("key"),
      concat(lit(Ns.org), col("s_suppkey").cast("string")).as("uri"))
}
