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
    new Pipeline(spark, "/root/testdata/sf0.001").triples

  /** Every query as a function of one stage graph: the queries of a graph
    * read its shared frames. */
  val stages: Map[String, Pipeline => DataFrame] = Map(
    // input synthesis — also the per-turn text-equality invariant check
    "kg_transcripts" -> (p => p.transcripts),
    // §2.2 mention detection (P1/P4-P7) — all matches per turn (find_all
    // parity), midx = document-order match position within (turn, kind)
    "kg_mentions" -> (p => p.mentions
      .select("conv_id", "turn_idx", "kind", "midx", "surface")),
    // §2.3 entity linking (J1/J2/J5) incl. fallback + ISO-literal paths
    "kg_linked" -> (p => p.linked.drop("text", "ts")),
    // §2.4 A5 / §2.5 W1 ordinal windows
    "kg_ordinals" -> (p => p.ordinals),
    // full emission + union-distinct (A1)
    "kg_triples" -> (p => p.triples),
    // Activity/Time-Span nodes with typed partial-date literals (F9-F12,
    // activity.py:370-526 / event.py:90-110 wired into emission)
    "kg_activities" -> (p => operators.Emit.activityTriples(p.linked)),
    // §2.3 J7 sameAs closure (connected components, least name)
    "kg_sameas_clusters" -> (p => p.sameAsClusters),
    // closure applied: canonical triple table
    "kg_triples_canon" -> (p => p.canonTriples),
    // §2.4 A4 unmapped histogram
    "kg_unmapped" -> (p => Metrics.unmappedHistogram(p.linked)),
    // §2.4 A3 run statistics
    "kg_stats" -> (p => Metrics.convStats(p.triples)),
    // §2.8 F9/F10 partial-precision date literals + interval expansion
    "kg_dates" -> (p => operators.Dates.dateLiterals(p.transcripts)),
    // §2.6 O3 deterministic top-k failure report
    "kg_top_unmapped" -> (p => Metrics.topUnmapped(p.linked)),
    // §2.1 K2 N-Triples text export (pure projection)
    "kg_nt_lines" -> (p => io.NTriples.export(p.triples)),
    // §2.1 K2 Turtle export: @prefix table + grouped-by-subject statements
    "kg_ttl_lines" -> (p => io.Turtle.export(p.triples)),
    // §3.3 modsBib two-phase bibliography: fact×fact shuffle join
    // (genre map aggregated from lineitem ⋈ orders emission)
    "kg_works" -> (p => operators.Works.workTriples(
      sources.Tables.orders(p.spark, p.dir),
      sources.Tables.lineitem(p.spark, p.dir))),
    // §2.1 K4 quad export: subject-centric named graphs (huvizQuads analog)
    "kg_quads" -> (p => io.Quads.export(p.triples)),
    // §2.1 K2 JSON-LD-lines export (one sorted node object per subject)
    "kg_jsonld_lines" -> (p => io.JsonLd.export(p.triples)),
    // §2.1 K2 RDF/XML-lines export (rdf:RDF envelope + one Description/subj)
    "kg_rdfxml_lines" -> (p => io.RdfXml.export(p.triples)),
    // FreestandingEvents: standalone Event nodes from system-role turns
    "kg_freestanding" -> (p =>
      operators.Emit.freestandingEvents(p.transcripts)),
    // xsd:int-typed literal emission (children counts, lifeInfo.py:346-347)
    "kg_children" -> (p => operators.Families.childrenCounts(p.linked)),
    // ontology-term validation (verify_terms.py analog): distinct predicate
    // / type inventory with a known-in-vocabulary flag
    "kg_term_validation" -> (p => operators.Metrics.termValidation(p.triples)),
    // personname family (personname.py): typed NameEntity variants with
    // connotation dispatch, birth-name part graphs, IndexedName std entry
    "kg_names" -> (p => operators.Names.nameTriples(p.transcripts)),
    // titles family (title_extraction.py): cross-row-linked authority
    // (ct_islink self-join at dict build) + TYPE_MAPPING dispatch
    "kg_titles" -> (p => operators.Titles.titleTriples(p.spark, p.transcripts)),
    // Writing module (writing_extraction.py): profile + genre contexts
    "kg_writing" -> (p => operators.Profiles.writingTriples(p.transcripts)),
    // lifeInfo keyword emitters (lifeInfo.py:80-106 + burial events)
    "kg_lifeinfo" -> (p => operators.Profiles.lifeInfoTriples(p.transcripts)),
    // §2.1 K2 N3 export (Turtle-compatible subset — utilities.py:807-808)
    "kg_n3_lines" -> (p => io.N3.export(p.triples)),
    // §2.1 K2 TriX export: per-quad graph elements, zero-shuffle projection
    "kg_trix_lines" -> (p => io.TriX.export(io.Quads.export(p.triples))),
    // §2.1 K4 Huviz 3-level BFS neighbor copy (huvizQuads.py:119-140)
    "kg_quads_bfs" -> (p => io.Quads.bfs(p.triples)),
    // §3.3 modsBib origin/agent record shape: CIDOC Creation events with
    // reified agent-role nodes, publisher roles, place + date of publication
    "kg_works_agents" -> (p => operators.Works.agentTriples(
      sources.Tables.orders(p.spark, p.dir),
      sources.Tables.customer(p.spark, p.dir))),
    // reviewTerms.py: vocabulary-label lookup over the data graph's URIs
    "kg_labels" -> (p => operators.Metrics.labelLookup(p.triples)),
    // Utils/citation.py: BIBCIT citation nodes (REF + temp branches)
    "kg_citations" -> (p => operators.Profiles.citationTriples(p.transcripts)),
    // Biography/other_contexts.py: identifying contexts + generic activities
    "kg_other_contexts" -> (p =>
      operators.Profiles.otherContextTriples(p.transcripts)),
    // gender extraction family (culturalForm.py:466-500): GenderContext +
    // mapped Gender term per conv, sourced from the writers-sex authority
    "kg_gender" -> (p =>
      operators.Families.genderTriples(p.spark, p.dir, p.mentions)),
    // per-relation family predicates (lifeInfo.py:278-291 + the verbatim
    // family_mapping.csv), J11 sex-consistency placeholder composed in
    "kg_family" -> (p =>
      operators.Families.familyTriples(p.spark, p.dir, p.linked)),
    // cause-of-death linking (birthDeath.py:117-170): CAUSE_MAP exact
    // match w/ URIRef / category-literal / fallback-literal branches
    "kg_death_causes" -> (p => operators.Families.deathCauses(p.transcripts)),
    // ...and its get_close_matches near-miss report (birthDeath.py:152-166)
    "kg_cod_nearmiss" -> (p => operators.Families.codNearMiss(p.transcripts)),
    // title↔BIBCIT matching report (titles/readFiles.py:37-108)
    "kg_title_refs" -> (p => operators.Families.titleRefs(p.transcripts)),
    // cross-file title dictionary (titles/readFiles.py:9-34 + dict merge)
    "kg_title_dict" -> (p => operators.Families.titleDict(p.transcripts)),
    // birth-position mapping incl. the MIDDLE: colon quirk
    // (birthDeath.py:40-52)
    "kg_birth_position" -> (p =>
      operators.Families.birthPositionTriples(p.transcripts)),
    // marital-status changes per member tag (lifeInfo.py:61-67,403-408)
    "kg_marital" -> (p => operators.Families.maritalTriples(p.mentions)),
    // education family node shapes: typed contexts, School nodes,
    // attending/level dispatch, Degree credentials, EducationalAward
    // keyword classifier (education.py:75-335, award_map :146-180)
    "kg_education" -> (p => operators.Education.educationTriples(p.linked)),
    // FRIENDSASSOCIATES contexts: cohabitant/interpersonal relations +
    // per-predicate relationship Activities (lifeInfo.py:205-264)
    "kg_friends" -> (p => operators.Relations.friendTriples(p.linked)),
    // INTIMATERELATIONSHIPS contexts: EROTIC-attr predicate dispatch +
    // the exactly-one-name precision rule (lifeInfo.py:109-188)
    "kg_intimate" -> (p => operators.Relations.intimateTriples(p.linked)),
    // typed cultural-form sub-family contexts + CF activities
    // (culturalForm.py:355-413 + data/context_mapping.csv)
    "kg_cf_contexts" -> (p =>
      operators.Relations.cfContextTriples(p.transcripts)),
    // K3 FULL combineTriples analog: the core graph ∪ EVERY standalone
    // emission family (the reference's cross-module uber graph), set
    // semantics: the distinct union of the OracleSql.uberParts queries
    // over one graph, so every branch is the same plan its own gate
    // verifies and the twin unions the same list. kg_labels excluded —
    // reviewTerms checks the graph, it doesn't emit into it.
    "kg_uber" -> (p =>
      OracleSql.uberParts.map(stages(_)(p)).reduce(_ unionAll _).distinct()),
    // ...and its canonical form: the uber graph rewritten through the
    // sameAs closure (families emit no sameAs edges, so the identity map
    // is exactly the core pipeline's — e.g. works' reified agent records
    // get their person participants collapsed onto canonical ids). One
    // localCheckpoint of the build feeds the closure and both rewrite
    // branches — canonicalize's read-twice input contract.
    "kg_uber_canon" -> (p => {
      val u = stages("kg_uber")(p).localCheckpoint()
      operators.SameAs.canonicalize(u,
        operators.SameAs.closure(operators.SameAs.edgesOf(u)))
    })
  )

  /** The driver's surface: each query over a fresh graph of `(s, d)`. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    stages.map { case (n, f) =>
      n -> ((s: SparkSession, d: String) => f(new Pipeline(s, d)))
    }

  def oracleSql: Map[String, String] = OracleSql.queries
}
