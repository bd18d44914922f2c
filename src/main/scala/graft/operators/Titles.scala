package graft.operators

import graft.functions.Fns
import graft.model.{Ns, Triple}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Titles extraction family — `titles/title_extraction.py:26-107`: a title
  * authority CSV whose rows can point at OTHER rows (`ct_islink` holding a
  * 1-indexed CSV line number, resolved with a -2 offset), materialized by a
  * SELF-JOIN at dictionary-build time; TYPE_MAPPING dispatches titletype to
  * ontology classes with unknown types skipped (the KeyError→continue at
  * title_extraction.py:73-76); a row whose ct_islink is non-numeric garbage
  * is dropped entirely (the ValueError→continue at :41-43).
  *
  * Linked pairs carry BOTH rows' labels and types under BOTH keys
  * (mapping[title_value] and mapping[other_title], :50-51), label order
  * [target, source] exactly as built at :49.
  *
  * Scale: the authority is dictionary-sized → the self-join and the
  * mention-link join are broadcast joins; the fact side (mentions) stays
  * on its scan partitioning, zero shuffle.
  */
object Titles {

  /** TYPE_MAPPING verbatim (title_extraction.py:17-24). */
  val typeMapping: Seq[(String, String)] = Seq(
    "monographic" -> "standaloneWork",
    "analytic"    -> "embeddedWork",
    "journal"     -> "periodical",
    "series"      -> "series",
    "unpublished" -> "unpublished")

  /** Title-type cycle for the synthetic authority; "manuscript" is
    * deliberately ABSENT from typeMapping → exercises the skip path. */
  private val typeCycle = Seq(
    "Monographic", "Analytic", "Journal", "Series", "Unpublished", "Manuscript")

  /** The synthetic authority rows: (row_id, normalized, titletype,
    * ct_islink). Rows k%5==1 link to row k+1 (ct_islink = row_id+2, the
    * 1-indexed-plus-header pointer of title_extraction.py:41); row 3's
    * ct_islink is garbage ("x") → dropped; everything else cycles through
    * the reference's observed non-link markers n / "" / ?. */
  val titleRows: Seq[(Int, String, String, String)] =
    (0 until 30).map { k =>
      val islink =
        if (k == 3) "x"
        else if (k % 5 == 1) (k + 3).toString // points at row k+1 (= line k+3)
        else Seq("n", "", "?")(k % 3)
      (k, s"Title_$k", typeCycle(k % 6), islink)
    }

  /** The cross-linked dictionary: (key, labels, types) — the reference's
    * `mapping` dict (csv_matches, title_extraction.py:26-60). */
  def dict(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val raw = titleRows.toDF("row_id", "normalized", "titletype", "islink")
    val sources = raw.filter(col("islink").rlike("^[0-9]+$"))
      .withColumn("t_row", col("islink").cast("int") - 2)
    val targets = raw.select(col("row_id").as("t_row"),
      col("normalized").as("t_norm"), col("titletype").as("t_type"))
    // THE authority self-join: link rows resolve their target row
    val pairs = sources.join(targets, "t_row")
      .select(col("normalized").as("s_norm"), col("titletype").as("s_type"),
        col("t_norm"), col("t_type"))
    val pairEntries = pairs
      .select(explode(array(col("s_norm"), col("t_norm"))).as("key"),
        array(col("t_norm"), col("s_norm")).as("labels"),   // [other, item], :49
        array(col("t_type"), col("s_type")).as("types"))
    val singles = raw.filter(col("islink").isin("n", "", "?"))
      .join(pairEntries.select(col("key").as("normalized")).distinct(),
        Seq("normalized"), "left_anti")
      .select(col("normalized").as("key"),
        array(col("normalized")).as("labels"),
        array(col("titletype")).as("types"))
    pairEntries.unionAll(singles)
  }

  /** kg_titles: gen_rdf over the WHOLE dictionary (title_extraction.py:63-77
    * runs over every mapping entry, matched or not) + mentionsTitle links
    * for titles actually read in the corpus. */
  def titleTriples(spark: SparkSession, tr: DataFrame): DataFrame = {
    val d = dict(spark)
      .withColumn("title_uri",
        concat(lit(Ns.title), Fns.removePunctuation(col("key"))))
    val mappedType = typeMapping.foldLeft(lit(null).cast("string")) {
      case (acc, (from, to)) =>
        when(lower(col("ty")) === from, lit(Ns.kg + "type/" + to)).otherwise(acc)
    }
    val tu = col("title_uri")
    val typed = d.select(Triple.cols(tu, Ns.rdfType, lit(Ns.tTitle),
      isIri = true): _*)
    val labels = d.select(tu, explode(col("labels")).as("lbl"))
      .select(Triple.cols(tu, Ns.rdfsLabel, col("lbl"), isIri = false): _*)
    val classes = d.select(tu, explode(col("types")).as("ty"))
      .withColumn("mapped", mappedType).filter(col("mapped").isNotNull)
      .select(Triple.cols(tu, Ns.rdfType, col("mapped"), isIri = true): _*)
    val mentions = tr.select(col("conv_id"),
      explode(regexp_extract_all(col("text"),
        lit("reading (Title_[0-9]+)"), lit(1))).as("key"))
    val links = mentions
      .join(broadcast(d.select(col("key"), tu)), Seq("key"))
      .select(Triple.cols(concat(lit(Ns.conv), col("conv_id")),
        Ns.mentionsTitle, tu, isIri = true): _*)
    typed.unionAll(labels).unionAll(classes).unionAll(links).distinct()
  }
}
