package graft.operators

import graft.model.{Ns, Triple}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The bibliography two-phase, two-source join — the graft analog of the
  * reference's largest module (`Mods/modsBib.py`):
  *
  *  - phase 1: scan the "writing" fact table and aggregate a DBREF→genre
  *    map (`WritingParse.parse_db_refs`, `Mods/modsBib.py:288-347`: many
  *    TEXTSCOPEs per DBREF, genres collected per record id). Graft: the
  *    lineitem table plays the writing docs (many lines per orderkey), the
  *    genre of a line is its returnflag+linestatus code.
  *  - phase 2: scan the "bibliography" fact table and emit per-record CIDOC
  *    triples, joining the phase-1 genre map in on the shared key
  *    (`BibliographyParse.build_graph`, `modsBib.py:817-1236`). Graft: the
  *    orders table plays the bibliography records (one per orderkey),
  *    authored by its customer (person URIs — the same namespace the
  *    mention pipeline links into, like modsBib's PEOPLE_MAPPING rewrite at
  *    `modsBib.py:789-815`).
  *
  * Scale design: this is the engine's one genuine FACT×FACT join — both
  * sides are large, so neither can broadcast. Phase 1 is a partial-agg
  * groupBy (collect_set per key); the join is pinned to sort-merge
  * (`hint("merge")`) because that IS the right plan at 10^12 rows — at
  * fixture scale AQE would broadcast the aggregated side and hide the plan
  * class under test. AQE skew-join splits hot orderkeys.
  */
object Works {

  /** Phase 1: orderkey → sorted distinct genre codes. */
  def genreMap(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(array_sort(collect_set(
        concat(col("l_returnflag"), col("l_linestatus")))).as("genres"))

  /** Phase 2: per-order Work triples + genre triples via the shuffle join.
    * Orders with no writing-side rows still emit type/author triples (the
    * reference emits bibliography records regardless; genre only on a map
    * hit, `modsBib.py:933-947`). */
  def workTriples(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val workUri = concat(lit(Ns.work), col("o_orderkey").cast("string"))
    // type + author ride one exploded pass — the two-branch self-union
    // scanned orders twice
    val typedAuthor = orders.select(explode(array(
      Triple.row(workUri, Ns.rdfType, lit(Ns.tWork), isIri = true),
      Triple.row(workUri, Ns.authoredBy,
        concat(lit(Ns.person), col("o_custkey").cast("string")), isIri = true)))
      .as("t")).select(col("t.*"))
    val genres = orders.select(col("o_orderkey"), workUri.as("work_uri"))
      .join(genreMap(lineitem).hint("merge"), Seq("o_orderkey"))
      .select(col("work_uri").as("subj"), lit(Ns.hasGenre).as("pred"),
        explode(col("genres")).as("g"))
      .select(Triple.cols(col("subj"), col("pred"),
        concat(lit(Ns.genre), col("g")), isIri = true): _*)
    // relatedItems (one level of `modsBib.py:1110-1134`'s recursive related
    // records): each work relates to the author's previous work — a window
    // over the second fact table, deterministic (custkey, orderkey) order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    val related = orders
      .select(col("o_custkey"), col("o_orderkey"), workUri.as("work_uri"))
      .withColumn("prev", lag(col("o_orderkey"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(Triple.cols(col("work_uri"), Ns.relatedWork,
        concat(lit(Ns.work), col("prev").cast("string")), isIri = true): _*)
    typedAuthor.unionAll(genres).unionAll(related)
  }

  /** role_map verbatim (modsBib.py:380-392) — MODS role names → MARC
    * relator codes; the last slot plays the reference's role=None path,
    * which defaults to "author" (modsBib.py:995-997). */
  val roleMap: Seq[(String, String)] = Seq(
    "editor"       -> "edt",
    "translator"   -> "trl",
    "compiler"     -> "com",
    "adapter"      -> "adp",
    "contributor"  -> "ctb",
    "illustrator"  -> "ill",
    "introduction" -> "win",
    "revised"      -> "edt",
    "afterword"    -> "aft",
    "transcriber"  -> "trc",
    "author"       -> "aut") // the role=None → "author" default

  /** The modsBib origin/agent record shape (`build_graph`,
    * modsBib.py:920-1100): per bibliography record, a CIDOC Creation event
    * (ProductionEvent + PublishingEvent types, "creation of <title>" label,
    * P94_has_created → the work) carrying reified agent-role nodes
    * (PC14_carried_out_by with P02_has_range → the person and
    * P14.1_in_the_role_of → the MARC relator), a publisher role when the
    * record has one, the place of publication resolved against the SAME
    * place authority the mention pipeline links into (the GEOMAPPER
    * analog), and the publication date as a typed literal.
    *
    * Synthetic field mapping: roleTerm ↔ o_orderkey % 11 over role_map
    * (slot 10 = the None→author default), name type 'personal' vs
    * corporate ↔ custkey % 10, o['publisher'] present ↔ o_orderkey % 4 ≠ 0,
    * o['place'] present ↔ o_orderkey % 5 ≠ 0 (via the customer's nation),
    * o['date'] ↔ o_orderdate.
    *
    * Scale: orders is the fact side and never shuffles — the only join is
    * orders ⋈ broadcast(customer-slim) for the place lookup (the reference's
    * GEOMAPPER is a dictionary); everything else is projection + distinct.
    */
  def agentTriples(orders: DataFrame, customer: DataFrame): DataFrame = {
    val ok = col("o_orderkey")
    val ck = col("o_custkey")
    val roleName = element_at(array(roleMap.map(r => lit(r._1)): _*),
      (ok % 11).cast("int") + 1)
    val roleCode = element_at(array(roleMap.map(r => lit(r._2)): _*),
      (ok % 11).cast("int") + 1)
    val slim = broadcast(customer.select(col("c_custkey").as("o_custkey"),
      col("c_nationkey")))
    // spread an under-split orders table across the cores: the
    // single-file fixture reads as ~4 scan tasks, and since the
    // single-pass emission below has no union branches to fan out into,
    // those 4 tasks would otherwise carry the whole partial
    // aggregation of the final distinct (measured: 5.3 s vs 1.4 s for the
    // same distinct at full width)
    val b = Tables.spread(orders).join(slim, Seq("o_custkey"))
      .withColumn("work_uri", concat(lit(Ns.work), ok.cast("string")))
      .withColumn("origin_uri",
        concat(lit(Ns.work), ok.cast("string"), lit("_activity_statement_0")))
      .withColumn("person_uri", concat(lit(Ns.person), ck.cast("string")))
      .withColumn("cname", concat(lit("Customer#"), lpad(ck.cast("string"), 9, "0")))
      .withColumn("role_name", roleName)
      .withColumn("agent_uri", concat(col("person_uri"), lit("_"), roleName))
      .withColumn("role_uri", concat(lit(Ns.role), roleCode))
      .withColumn("pub_name", concat(lit("Publisher_"), (ok % 7).cast("string")))
      .withColumn("pub_uri", concat(lit(Ns.kg + "publisher/"), col("pub_name")))
      .withColumn("pubrole_uri",
        concat(lit(Ns.work), ok.cast("string"), lit("_publisher_role_0")))
      .withColumn("place_uri",
        concat(lit(Ns.place), col("c_nationkey").cast("string")))
    // ONE pass: all 23 per-record triples (13 unconditional, 8
    // publisher-gated, 2 place-gated) ride one exploded null-compacted
    // struct array.
    val o = col("origin_uri")
    val personType = when(ck % 10 === 0, lit(Ns.tActor)) // corporate analog
      .otherwise(lit(Ns.tPersonE21))
    val always = Seq(
      Triple.row(o, Ns.rdfType, lit(Ns.tCreation), isIri = true),
      Triple.row(o, Ns.hasType, lit(Ns.tProduction), isIri = true),
      Triple.row(o, Ns.hasType, lit(Ns.tPublishing), isIri = true),
      Triple.row(o, Ns.rdfsLabel,
        concat(lit("creation of Work "), ok.cast("string")),
        isIri = false, lang = "en"),
      Triple.row(o, Ns.hasCreated, col("work_uri"), isIri = true),
      Triple.row(o, Ns.atSomeTimeWithin, col("o_orderdate").cast("string"),
        isIri = false, dtype = Ns.xsdDate),
      Triple.row(col("person_uri"), Ns.rdfsLabel, col("cname"), isIri = false),
      Triple.row(col("person_uri"), Ns.rdfType, personType, isIri = true),
      Triple.row(col("agent_uri"), Ns.rdfsLabel,
        concat(col("cname"), lit(" in role of "), col("role_name")),
        isIri = false, lang = "en"),
      Triple.row(col("agent_uri"), Ns.rdfType, lit(Ns.tPC14), isIri = true),
      Triple.row(col("agent_uri"), Ns.hasRange, col("person_uri"), isIri = true),
      Triple.row(col("agent_uri"), Ns.inRoleOf, col("role_uri"), isIri = true),
      Triple.row(o, Ns.isDomainOf, col("agent_uri"), isIri = true))
    val pubRows = Seq(
      Triple.row(col("pub_uri"), Ns.rdfType, lit(Ns.tActor), isIri = true),
      Triple.row(col("pub_uri"), Ns.altLabel, col("pub_name"), isIri = false),
      Triple.row(col("pub_uri"), Ns.hasType, lit(Ns.role + "pbl"), isIri = true),
      Triple.row(col("pubrole_uri"), Ns.rdfsLabel,
        concat(col("pub_name"), lit(" in the role of publisher")),
        isIri = false, lang = "en"),
      Triple.row(col("pubrole_uri"), Ns.rdfType, lit(Ns.tPC14), isIri = true),
      Triple.row(col("pubrole_uri"), Ns.hasRange, col("pub_uri"), isIri = true),
      Triple.row(col("pubrole_uri"), Ns.inRoleOf, lit(Ns.role + "pbl"),
        isIri = true),
      Triple.row(o, Ns.isDomainOf, col("pubrole_uri"), isIri = true)
    ).map(s => when(ok % 4 =!= 0, s))
    val placeRows = Seq(
      Triple.row(o, Ns.tookPlaceAt, col("place_uri"), isIri = true),
      Triple.row(col("place_uri"), Ns.rdfType, lit(Ns.tPlace), isIri = true)
    ).map(s => when(ok % 5 =!= 0, s))
    b.select(explode(array_compact(
        array(always ++ pubRows ++ placeRows: _*))).as("t"))
      .select(col("t.*")).distinct()
  }
}
