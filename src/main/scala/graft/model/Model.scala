package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, struct}

/** Core data model of the KG-construction engine.
  *
  * Mirrors the reference's value domain (see SURVEY.md §1): the sole output
  * unit is an RDF triple whose object is either an IRI or a literal with an
  * optional language tag or datatype (cwrc/RDF-extraction emits exactly this
  * shape via rdflib, e.g. `Utils/context.py:342-343` lang literals,
  * `Biography/culturalForm.py:575-583` xsd:string typed literals).
  *
  * Graph semantics in the reference are SET semantics (`uber_graph += graph`,
  * `Biography/bio_extraction.py:78`): we realize a graph as
  * `Dataset[Triple].union(...).distinct()`.
  */
final case class Triple(
    subj: String,      // IRI (skolemized where the reference used BNodes)
    pred: String,      // IRI
    obj_value: String, // lexical form (IRI string or literal lexical form)
    obj_is_iri: Boolean,
    obj_lang: String,  // "" when absent ("en" where the reference tags lang)
    obj_dtype: String  // "" when absent (xsd:string/date/gYear/... otherwise)
)

/** The triple layout as columns — the one place an emitter spells it.
  * `pred`, `isIri`, `lang` and `dtype` take a Column or a plain value
  * (String/Boolean), which becomes a literal. */
object Triple {

  /** The six aliased columns of one triple, in layout order — for
    * `df.select(Triple.cols(...): _*)`. */
  def cols(subj: Column, pred: Any, obj: Column, isIri: Any,
           lang: Any = "", dtype: Any = ""): Seq[Column] = Seq(
    subj.as("subj"), lit(pred).as("pred"), obj.as("obj_value"),
    lit(isIri).as("obj_is_iri"), lit(lang).as("obj_lang"),
    lit(dtype).as("obj_dtype"))

  /** The same six columns as one struct — an element of the per-row array
    * that single-pass emitters explode and flatten with `t.*`. */
  def row(subj: Column, pred: Any, obj: Column, isIri: Any,
          lang: Any = "", dtype: Any = ""): Column =
    struct(cols(subj, pred, obj, isIri, lang, dtype): _*)
}

/** Namespace registry — the analog of the reference's NS_DICT
  * (`Utils/utilities.py:35-84`). Ours is a small fixed set; all URIs the
  * engine mints are deterministic functions of input keys.
  */
object Ns {
  val kg       = "http://kg.graft/"
  val conv     = kg + "conv/"
  val ctx      = kg + "context/"
  val act      = kg + "activity/"
  val place    = kg + "place/"
  val person   = kg + "person/"
  val org      = kg + "org/"
  val occ      = kg + "occupation/"
  val viaf     = "http://viaf.graft/"
  val pred     = kg + "pred/"
  val work     = kg + "work/"
  val genre    = kg + "genre/"

  // Predicates (fixed vocabulary, analog of cwrc/crm/oa terms).
  val rdfType        = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val rdfsLabel      = "http://www.w3.org/2000/01/rdf-schema#label"
  val owlSameAs      = "http://www.w3.org/2002/07/owl#sameAs"
  val hasTarget      = pred + "hasTarget"
  val hasSnippet     = pred + "hasSnippet"
  val mentionsPlace  = pred + "visitedPlace"
  val leftPlace      = pred + "leftPlace"
  val spatialRel     = pred + "spatialRelationship"
  val knowsPerson    = pred + "knowsPerson"
  val memberOf       = pred + "memberOf"
  val hasOccupation  = pred + "hasOccupation"
  val hasEducation   = pred + "hasEducation"
  val tPerson        = kg + "type/Conversation"
  val tContext       = kg + "type/Context"
  // Activity/time-span vocabulary (analog of crm:E7_Activity /
  // E52_Time-Span emission, `Utils/activity.py:370-526`, `event.py:90-110`)
  val tActivity        = kg + "type/Activity"
  val tEvent           = kg + "type/Event"
  val event            = kg + "event/"
  val tTimeSpan        = kg + "type/TimeSpan"
  val hasTimeSpan      = pred + "hasTimeSpan"        // crm:P4_has_time-span
  val atSomeTimeWithin = pred + "atSomeTimeWithin"   // crm:P82
  val beginOfBegin     = pred + "beginOfTheBegin"    // crm:P82a
  val endOfEnd         = pred + "endOfTheEnd"        // crm:P82b
  val hasCertainty     = pred + "hasCertainty"
  // Bibliography two-phase shape (Mods/modsBib.py)
  val tWork       = kg + "type/Work"
  val hasGenre    = pred + "hasGenre"
  val authoredBy  = pred + "authoredBy"
  val relatedWork = pred + "relatedWork"

  // personname family (Biography/personname.py)
  val name           = kg + "name/"
  val hasName        = pred + "name"          // cwrc.name, personname.py:124
  val indexedBy      = pred + "IndexedBy"     // cwrc.IndexedBy, personname.py:201
  val hasNamePart    = pred + "hasNamePart"   // personname.py:93
  val hasSortOrder   = pred + "hasSortOrder"  // personname.py:90
  val tNickName      = kg + "type/NickName"
  val tBirthName     = kg + "type/BirthName"
  val tAuthorialName = kg + "type/AuthorialName"
  val tIndexedName   = kg + "type/IndexedName"
  val tForename      = kg + "type/Forename"
  val tSurname       = kg + "type/Surname"
  // titles family (titles/title_extraction.py)
  val title         = kg + "title/"
  val tTitle        = kg + "type/Title"       // BF.Title analog
  val mentionsTitle = pred + "mentionsTitle"
  // Writing module (Writing/writing_extraction.py:29-64)
  val profile              = pred + "profile"
  val genericRangeIncludes = pred + "genericRangeIncludes"
  val extent               = pred + "extent"
  // Writer Oeuvre node shape (Writing/writer.py:23,57-62)
  val tOeuvre  = kg + "type/Oeuvre"   // cwrc:Oeuvre
  val bfAuthor = pred + "author"      // bf:author
  // gender extraction family (Biography/culturalForm.py:466-500)
  val gender         = pred + "gender"         // CulturalForm("gender", ...)
  val genderNs       = kg + "gender/"          // get_mapped_term("Gender", v)
  val tGenderContext = kg + "type/GenderContext"
  // per-relation family predicates (Biography/lifeInfo.py:278-291 +
  // data/family_mapping.csv)
  // (predicates minted as Ns.pred + <Predicate column>, e.g. pred/mother)
  // cause-of-death linking (Biography/birthDeath.py:28-36,117-170)
  val causeOfDeath = pred + "causeOfDeath"
  // lifeInfo keyword emitters (Biography/lifeInfo.py:80-106, birthDeath.py)
  val bio                    = kg + "bio/"
  val reproductiveHistory    = pred + "reproductiveHistory"
  val unspecifiedReproHist   = pred + "unspecifiedReproductiveHistory"
  val burialEvent            = pred + "burialEvent"

  // modsBib origin/agent record shape (Mods/modsBib.py:920-1060): CIDOC
  // Creation events with reified agent-role nodes (PC14_carried_out_by)
  val role        = kg + "role/"           // ROLES/MARCREL analog
  val hasType     = pred + "P2_hasType"    // crm:P2_has_type
  val hasCreated  = pred + "P94_hasCreated"
  val hasRange    = pred + "P02_hasRange"  // crmpc:P02_has_range
  val isDomainOf  = pred + "P01i_isDomainOf"
  val inRoleOf    = pred + "P14_1_inRoleOf"
  val tookPlaceAt = pred + "P7_tookPlaceAt"
  val altLabel    = "http://www.w3.org/2004/02/skos/core#altLabel"
  val tCreation   = kg + "type/Creation"          // crm:E65_Creation
  val tProduction = kg + "type/ProductionEvent"
  val tPublishing = kg + "type/PublishingEvent"
  val tPC14       = kg + "type/PC14_carried_out_by"
  val tPersonE21  = kg + "type/Person"            // crm:E21_Person
  val tActor      = kg + "type/Actor"             // crm:E39_Actor
  val tPlace      = kg + "type/Place"             // crm:E53_Place

  // BIBCIT citation nodes (Utils/citation.py:27-60)
  val refersTo        = pred + "P67_refersTo"
  val referredToBy    = pred + "P67i_referredToBy"
  val symbolicContent = pred + "P190_hasSymbolicContent"
  val tLinguisticObj  = kg + "type/LinguisticObject" // crm:E33
  val tCitation       = kg + "type/Citation"         // cito:Citation

  val xsdString   = "http://www.w3.org/2001/XMLSchema#string"
  val xsdInt      = "http://www.w3.org/2001/XMLSchema#int"
  val xsdDate     = "http://www.w3.org/2001/XMLSchema#date"
  val xsdGYear    = "http://www.w3.org/2001/XMLSchema#gYear"
  val xsdGYearMon = "http://www.w3.org/2001/XMLSchema#gYearMonth"
  val xsdDateTime = "http://www.w3.org/2001/XMLSchema#dateTime"
}
