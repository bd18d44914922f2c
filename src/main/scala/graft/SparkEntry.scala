package graft
import graft.operators.Metrics
import graft.oracle.OracleSql
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each query surfaces one stage/operator of the KG-construction pipeline
  * (SURVEY.md §2 inventory); oracleSql holds the DuckDB twin of each.
  */
object SparkEntry {
  /** Flagship: the full triple table on sf=0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.triples(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // input synthesis — also the per-turn text-equality invariant check
    "kg_transcripts" -> ((s, d) => Pipeline.transcripts(s, d)),
    // §2.2 mention detection (P1/P4-P7) — all matches per turn (find_all
    // parity), midx = document-order match position within (turn, kind)
    "kg_mentions" -> ((s, d) => Pipeline.mentions(s, d)
      .select("conv_id", "turn_idx", "kind", "midx", "surface")),
    // §2.3 entity linking (J1/J2/J5) incl. fallback + ISO-literal paths
    "kg_linked" -> ((s, d) => Pipeline.linked(s, d).drop("text", "ts")),
    // §2.4 A5 / §2.5 W1 ordinal windows
    "kg_ordinals" -> ((s, d) => Pipeline.ordinals(s, d)),
    // full emission + union-distinct (A1)
    "kg_triples" -> ((s, d) => Pipeline.triples(s, d)),
    // Activity/Time-Span nodes with typed partial-date literals (F9-F12,
    // activity.py:370-526 / event.py:90-110 wired into emission)
    "kg_activities" -> ((s, d) =>
      operators.Emit.activityTriples(Pipeline.linked(s, d))),
    // §2.3 J7 sameAs closure (min-label propagation)
    "kg_sameas_clusters" -> ((s, d) => Pipeline.sameAsClusters(s, d)),
    // closure applied: canonical triple table
    "kg_triples_canon" -> ((s, d) => Pipeline.canonTriples(s, d)),
    // §2.4 A4 unmapped histogram
    "kg_unmapped" -> ((s, d) => Metrics.unmappedHistogram(Pipeline.linked(s, d))),
    // §2.4 A3 run statistics
    "kg_stats" -> ((s, d) => Metrics.convStats(Pipeline.triples(s, d))),
    // §2.5 W2 closest heading
    "kg_heading" -> ((s, d) => Pipeline.headings(s, d)),
    // §2.4 A7 first-mention selection
    "kg_first_person" -> ((s, d) => Pipeline.firstPerson(s, d)),
    // §2.8 F9/F10 partial-precision date literals + interval expansion
    "kg_dates" -> ((s, d) => operators.Dates.dateLiterals(Pipeline.transcripts(s, d))),

    // Structured Streaming parity: same operators lifted onto readStream,
    // drained to completion — checked against the SAME oracles as batch
    "stream_mentions" -> ((s, d) => streaming.StreamOps.runToBatch(
      s, streaming.StreamOps.mentionStream(s, d), "stream_mentions_tbl", "append")),
    // streaming extraction + broadcast linking (stream-static join)
    "stream_linked" -> ((s, d) => streaming.StreamOps.runToBatch(
      s, streaming.StreamOps.linkedStream(s, d), "stream_linked_tbl", "append")),
    // §2.3 J3 retry-chain linking (primary → secondary dict → literal)
    "kg_retry_chain" -> ((s, d) =>
      operators.Extras.retryChainLink(s, Pipeline.mentions(s, d))),
    // §2.4 A2 attribute regrouping (sorted deterministic lists)
    "kg_grouped_attrs" -> ((s, d) =>
      operators.Extras.groupedAttrs(Pipeline.linked(s, d))),
    // §2.2 P8 keyword role detection
    "kg_writer_acquaintances" -> ((s, d) =>
      operators.Extras.writerAcquaintances(Pipeline.linked(s, d))),
    // §2.7 U2 retraction-as-precedence org retyping
    "kg_org_types" -> ((s, d) =>
      operators.Extras.orgTypeTriples(Pipeline.linked(s, d))),
    // §2.6 O3 deterministic top-k failure report
    "kg_top_unmapped" -> ((s, d) =>
      operators.Extras.topUnmapped(Pipeline.linked(s, d))),
    // §2.3 J4 fuzzy (levenshtein≤1) place retry on exact-miss
    "kg_fuzzy_place" -> ((s, d) =>
      operators.Extras.fuzzyPlaceLink(s, d, Pipeline.linked(s, d))),
    // §2.2 P11 generic-name stoplist suppression
    "kg_stoplist" -> ((s, d) =>
      operators.Extras.stoplistFiltered(Pipeline.linked(s, d))),
    // §2.3 J9 employer attach (co-mention join)
    "kg_employer" -> ((s, d) =>
      operators.Extras.employerAttach(Pipeline.linked(s, d))),
    // §2.6 O2 deterministic sample selection
    "kg_sample" -> ((s, d) =>
      operators.Extras.sampleConvs(Pipeline.transcripts(s, d))),
    // §2.1 K2 N-Triples text export (pure projection)
    "kg_nt_lines" -> ((s, d) => io.NTriples.export(Pipeline.triples(s, d))),
    // §2.1 K2 Turtle export: @prefix table + grouped-by-subject statements
    "kg_ttl_lines" -> ((s, d) => io.Turtle.export(Pipeline.triples(s, d))),
    // §3.3 modsBib two-phase bibliography: fact×fact shuffle join
    // (genre map aggregated from lineitem ⋈ orders emission)
    "kg_works" -> ((s, d) => operators.Works.workTriples(
      sources.Tables.orders(s, d), sources.Tables.lineitem(s, d))),
    // §2.3 J11 family sex-consistency placeholder (writers_sex.csv analog)
    "kg_family_placeholder" -> ((s, d) =>
      operators.Extras.familyPlaceholder(s, d, Pipeline.linked(s, d))),
    // §2.1 K4 quad export: subject-centric named graphs (huvizQuads analog)
    "kg_quads" -> ((s, d) => io.Quads.export(Pipeline.triples(s, d))),
    // §2.1 K2 JSON-LD-lines export (one sorted node object per subject)
    "kg_jsonld_lines" -> ((s, d) => io.JsonLd.export(Pipeline.triples(s, d))),
    // §2.1 K2 RDF/XML-lines export (rdf:RDF envelope + one Description/subj)
    "kg_rdfxml_lines" -> ((s, d) => io.RdfXml.export(Pipeline.triples(s, d))),
    // FreestandingEvents: standalone Event nodes from system-role turns
    "kg_freestanding" -> ((s, d) =>
      operators.Emit.freestandingEvents(Pipeline.transcripts(s, d))),
    // xsd:int-typed literal emission (children counts, lifeInfo.py:346-347)
    "kg_children" -> ((s, d) =>
      operators.Extras.childrenCounts(Pipeline.linked(s, d))),
    // ontology-term validation (verify_terms.py analog): distinct predicate
    // / type inventory with a known-in-vocabulary flag
    "kg_term_validation" -> ((s, d) =>
      operators.Metrics.termValidation(Pipeline.triples(s, d))),
    // §2.8 F15 real %-encoding in minted agent URIs (modsBib.py:960-961)
    "kg_agent_uris" -> ((s, d) =>
      operators.Extras.agentUris(Pipeline.mentions(s, d))),
    // personname family (personname.py): typed NameEntity variants with
    // connotation dispatch, birth-name part graphs, IndexedName std entry
    "kg_names" -> ((s, d) =>
      operators.Names.nameTriples(Pipeline.transcripts(s, d))),
    // titles family (title_extraction.py): cross-row-linked authority
    // (ct_islink self-join at dict build) + TYPE_MAPPING dispatch
    "kg_titles" -> ((s, d) =>
      operators.Titles.titleTriples(s, Pipeline.transcripts(s, d))),
    // Writing module (writing_extraction.py): profile + genre contexts
    "kg_writing" -> ((s, d) =>
      operators.Profiles.writingTriples(Pipeline.transcripts(s, d))),
    // lifeInfo keyword emitters (lifeInfo.py:80-106 + burial events)
    "kg_lifeinfo" -> ((s, d) =>
      operators.Profiles.lifeInfoTriples(Pipeline.transcripts(s, d))),
    // §2.1 K2 N3 export (Turtle-compatible subset — utilities.py:807-808)
    "kg_n3_lines" -> ((s, d) => io.N3.export(Pipeline.triples(s, d))),
    // §2.1 K2 TriX export: per-quad graph elements, zero-shuffle projection
    "kg_trix_lines" -> ((s, d) =>
      io.TriX.export(io.Quads.export(Pipeline.triples(s, d)))),
    // §2.1 K4 Huviz 3-level BFS neighbor copy (huvizQuads.py:119-140)
    "kg_quads_bfs" -> ((s, d) => io.Quads.bfs(Pipeline.triples(s, d))),
    // §3.3 modsBib origin/agent record shape: CIDOC Creation events with
    // reified agent-role nodes, publisher roles, place + date of publication
    "kg_works_agents" -> ((s, d) => operators.Works.agentTriples(
      sources.Tables.orders(s, d), sources.Tables.customer(s, d))),
    // reviewTerms.py: vocabulary-label lookup over the data graph's URIs
    "kg_labels" -> ((s, d) =>
      operators.Metrics.labelLookup(Pipeline.triples(s, d))),
    // Utils/citation.py: BIBCIT citation nodes (REF + temp branches)
    "kg_citations" -> ((s, d) =>
      operators.Profiles.citationTriples(Pipeline.transcripts(s, d))),
    // Biography/other_contexts.py: identifying contexts + generic activities
    "kg_other_contexts" -> ((s, d) =>
      operators.Profiles.otherContextTriples(Pipeline.transcripts(s, d))),
    // gender extraction family (culturalForm.py:466-500): GenderContext +
    // mapped Gender term per conv, sourced from the writers-sex authority
    "kg_gender" -> ((s, d) =>
      operators.Families.genderTriples(s, d, Pipeline.mentions(s, d))),
    // per-relation family predicates (lifeInfo.py:278-291 + the verbatim
    // family_mapping.csv), J11 sex-consistency placeholder composed in
    "kg_family" -> ((s, d) =>
      operators.Families.familyTriples(s, d, Pipeline.linked(s, d))),
    // cause-of-death linking (birthDeath.py:117-170): CAUSE_MAP exact
    // match w/ URIRef / category-literal / fallback-literal branches
    "kg_death_causes" -> ((s, d) =>
      operators.Families.deathCauses(Pipeline.transcripts(s, d))),
    // ...and its get_close_matches near-miss report (birthDeath.py:152-166)
    "kg_cod_nearmiss" -> ((s, d) =>
      operators.Families.codNearMiss(Pipeline.transcripts(s, d))),
    // title↔BIBCIT matching report (titles/readFiles.py:37-108)
    "kg_title_refs" -> ((s, d) =>
      operators.Families.titleRefs(Pipeline.transcripts(s, d))),
    // cross-file title dictionary (titles/readFiles.py:9-34 + dict merge)
    "kg_title_dict" -> ((s, d) =>
      operators.Families.titleDict(Pipeline.transcripts(s, d))),
    // birth-position mapping incl. the MIDDLE: colon quirk
    // (birthDeath.py:40-52)
    "kg_birth_position" -> ((s, d) =>
      operators.Families.birthPositionTriples(Pipeline.transcripts(s, d))),
    // marital-status changes per member tag (lifeInfo.py:61-67,403-408)
    "kg_marital" -> ((s, d) =>
      operators.Families.maritalTriples(Pipeline.mentions(s, d))),
    // education family node shapes: typed contexts, School nodes,
    // attending/level dispatch, Degree credentials, EducationalAward
    // keyword classifier (education.py:75-335, award_map :146-180)
    "kg_education" -> ((s, d) =>
      operators.Education.educationTriples(Pipeline.linked(s, d))),
    // FRIENDSASSOCIATES contexts: cohabitant/interpersonal relations +
    // per-predicate relationship Activities (lifeInfo.py:205-264)
    "kg_friends" -> ((s, d) =>
      operators.Relations.friendTriples(Pipeline.linked(s, d))),
    // INTIMATERELATIONSHIPS contexts: EROTIC-attr predicate dispatch +
    // the exactly-one-name precision rule (lifeInfo.py:109-188)
    "kg_intimate" -> ((s, d) =>
      operators.Relations.intimateTriples(Pipeline.linked(s, d))),
    // typed cultural-form sub-family contexts + CF activities
    // (culturalForm.py:355-413 + data/context_mapping.csv)
    "kg_cf_contexts" -> ((s, d) =>
      operators.Relations.cfContextTriples(Pipeline.transcripts(s, d))),
    // K3 FULL combineTriples analog: the core graph ∪ EVERY standalone
    // emission family (the reference's cross-module uber graph), set
    // semantics. One distinct shuffle over the combined output; every
    // branch is the same plan its own gate verifies. kg_labels excluded —
    // reviewTerms checks the graph, it doesn't emit into it.
    "kg_uber" -> ((s, d) => uberGraph(s, d)),
    // ...and its canonical form: the uber graph rewritten through the
    // sameAs closure (families emit no sameAs edges, so the identity map
    // is exactly the core pipeline's — e.g. works' reified agent records
    // get their person participants collapsed onto canonical ids). One
    // localCheckpoint of the build feeds the closure and both rewrite
    // branches — canonicalize's read-twice input contract.
    "kg_uber_canon" -> ((s, d) => {
      val u = uberGraph(s, d).localCheckpoint()
      operators.SameAs.canonicalize(u,
        operators.SameAs.closure(operators.SameAs.edgesOf(u)))
    })
  )

  /** The cross-module uber graph (SURVEY §3.3): one cold build of the
    * 16-branch union. The union's branch list derives from
    * OracleSql.uberParts (one branch per family fragment — keep them in
    * lockstep). The transcript frame feeds the family branches of one
    * union job — persisted eagerly so the branches read one
    * materialization instead of racing the cache into N re-syntheses. */
  private def uberGraph(s: SparkSession, d: String): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val tr = Pipeline.transcripts(s, d).persist(lvl)
    tr.count()
    // The LINKED frame feeds Pipeline.triples plus five family branches —
    // persist it for the build's duration so ONE cold uber build runs the
    // scan→extract→link front exactly once instead of ~6× (VERDICT r5 #3).
    // The mention frame (its upstream, reused by two more branches) rides
    // the same cache: linked's plan scans it once during materialization.
    val mts = Pipeline.mentions(s, d).persist(lvl)
    val l = operators.Link.linkAll(s, d, mts).persist(lvl)
    l.count()
    // the tr/mts/linked caches are the harness's to free — NOT
    // unpersisted here, because their plans may BE the bench's warm
    // shared cache entries
    operators.Emit.allTriples(s, d, tr, l)
      .unionAll(operators.Emit.freestandingEvents(tr))
      .unionAll(operators.Extras.childrenCounts(l))
      .unionAll(operators.Works.workTriples(
        sources.Tables.orders(s, d), sources.Tables.lineitem(s, d)))
      .unionAll(operators.Works.agentTriples(
        sources.Tables.orders(s, d), sources.Tables.customer(s, d)))
      .unionAll(operators.Names.nameTriples(tr))
      .unionAll(operators.Titles.titleTriples(s, tr))
      .unionAll(operators.Profiles.writingTriples(tr))
      .unionAll(operators.Profiles.lifeInfoTriples(tr))
      .unionAll(operators.Profiles.citationTriples(tr))
      .unionAll(operators.Profiles.otherContextTriples(tr))
      .unionAll(operators.Families.genderTriples(s, d, mts))
      .unionAll(operators.Families.familyTriples(s, d, l))
      .unionAll(operators.Families.deathCauses(tr))
      .unionAll(operators.Families.birthPositionTriples(tr))
      .unionAll(operators.Families.maritalTriples(mts))
      .unionAll(operators.Education.educationTriples(l))
      .unionAll(operators.Relations.friendTriples(l))
      .unionAll(operators.Relations.intimateTriples(l))
      .unionAll(operators.Relations.cfContextTriples(tr))
      .distinct()
  }

  def oracleSql: Map[String, String] = OracleSql.queries
}
