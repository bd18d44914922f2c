package graft.oracle

import graft.model.Ns
import graft.sources.{Dicts, SynthTranscripts}

/** DuckDB-dialect oracle SQL for every SparkEntry query (the driver runs
  * these against the same parquet tables and hash-compares the results).
  *
  * The transcript table, dictionaries, linking and emission are re-derived
  * here in pure SQL. The fragments are BUILT FROM THE SAME SCALA CONSTANTS
  * as the Spark side (SynthTranscripts.occWords, Dicts.occupationRows, Ns)
  * so the two implementations cannot drift on data values — only on logic,
  * which is exactly what the correctness gate should test.
  */
object OracleSql {

  /** occupation word list as a VALUES table. */
  private val occValues = SynthTranscripts.occWords.zipWithIndex
    .map { case (w, i) => s"($i,'$w')" }.mkString(",")

  /** occupation dictionary rows as a VALUES table. */
  private val occDictValues = Dicts.occupationRows
    .flatMap { case (rid, term, alts) => alts.map(a => s"($rid,'$term','$a')") }
    .mkString(",")

  /** education authority rows as a VALUES table. */
  private val eduDictValues = Dicts.educationRows
    .flatMap { case (rid, term, alts) => alts.map(a => s"($rid,'$term','$a')") }
    .mkString(",")

  /** clean_term simple variant (lower, -→space, strip, remove spaces). */
  def cleanSimple(e: String): String =
    s"replace(trim(replace(lower($e),'-',' ')),' ','')"

  /** Snippet (F6/F7) closed form, valid for the synthetic corpus shape
    * (one or two '.'-terminated sentences, single-spaced): the general
    * sentence-budget fold (Fns.snippet = limitToFullSentences + the
    * reference's replace chain) reduces to "drop the second sentence iff
    * the first one's space count reaches the budget". The Spark side runs
    * the general algorithm; this independent derivation pins it. */
  def snipSql(t: String): String = {
    val s1 = s"substr($t, 1, strpos($t, '.'))"
    s"(CASE WHEN length($t) > strpos($t, '.') AND len(string_split($s1, ' ')) - 1 >= ${graft.functions.Fns.SnippetMaxWords} THEN $s1 ELSE $t END)"
  }

  /** clean_term stemmer variant (culturalForm.py:513-521) as nested CASEs.
    * Stages: simple-clean → drop trailing s → drop ism/ist/ing → drop er. */
  def stem(e: String): String = {
    val t0 = cleanSimple(e)
    val t1 = s"(CASE WHEN $t0 LIKE '%s' THEN substr($t0,1,length($t0)-1) ELSE $t0 END)"
    val t2 = s"(CASE WHEN length($t1)>=3 AND substr($t1,length($t1)-2,3) IN ('ism','ist','ing') THEN substr($t1,1,length($t1)-3) ELSE $t1 END)"
    s"(CASE WHEN $t2 LIKE '%er' THEN substr($t2,1,length($t2)-2) ELSE $t2 END)"
  }

  /** Shared CTE block: transcripts, mentions, dictionaries, linked mentions.
    * Mirrors SynthTranscripts / Mentions / Dicts / Link exactly. */
  /** life-phrase table as VALUES (mirrors SynthTranscripts.lifePhrases). */
  private val lifeValues = SynthTranscripts.lifePhrases.zipWithIndex
    .map { case (w, i) => s"($i,'$w')" }.mkString(",")

  val BASE: String = s"""
WITH occ(i, w) AS (VALUES $occValues),
lifep(i, w) AS (VALUES $lifeValues),
tr AS (
  SELECT 'conv_' || lpad(CAST(e.event_id // 20 AS VARCHAR), 6, '0') AS conv_id,
         CAST(e.event_id % 20 AS INT) AS turn_idx,
         CASE e.event_type WHEN 'purchase' THEN 'user' WHEN 'click' THEN 'assistant'
              WHEN 'view' THEN 'assistant' WHEN 'signup' THEN 'system' ELSE 'tool' END AS role,
         'I visited Nation_' || CAST(e.event_id % 31 AS VARCHAR)
           || ' and met Customer#' || lpad(CAST((e.event_id * 7) % 200 AS VARCHAR), 9, '0')
           || ' working as ' || o.w
           || CASE WHEN e.event_id % 5 = 0 THEN ' at Supplier#' || lpad(CAST((e.event_id * 3) % 13 AS VARCHAR), 9, '0') ELSE '' END
           || CASE WHEN e.event_id % 7 = 0 THEN ' leaving Nation_' || CAST((e.event_id + 4) % 31 AS VARCHAR) ELSE '' END
           || CASE WHEN e.event_id % 11 = 0 THEN ' and also met Customer#' || lpad(CAST((e.event_id * 13) % 200 AS VARCHAR), 9, '0') ELSE '' END
           || CASE WHEN e.event_id % 9 = 0 THEN ' then visited Nation_' || CAST((e.event_id + 17) % 31 AS VARCHAR) ELSE '' END
           || CASE WHEN e.event_id % 10 = 0 THEN ' later working as ' || o2.w ELSE '' END
           || CASE WHEN e.event_id % 8 = 0 THEN ' studied at Academy_' || CAST(((e.event_id // 8) * 3) % 40 AS VARCHAR) ELSE '' END
           || CASE WHEN e.event_id % 13 = 0 THEN ' nicknamed Nick_' || CAST((e.event_id * 11) % 40 AS VARCHAR) ELSE '' END
           || CASE WHEN e.event_id % 17 = 0 THEN ' born Given_' || CAST((e.event_id * 3) % 25 AS VARCHAR) || ' Family_' || CAST((e.event_id * 5) % 25 AS VARCHAR) ELSE '' END
           || CASE WHEN e.event_id % 14 = 0 THEN ' reading Title_' || CAST((e.event_id * 7) % 30 AS VARCHAR) ELSE '' END
           || CASE WHEN e.event_id % 21 = 0 THEN ' while discussing ' || lp.w ELSE '' END
           || '.'
           || CASE WHEN e.event_id % 6 = 0 THEN '${SynthTranscripts.fillerSentence}' ELSE '' END AS text,
         CASE WHEN e.event_type = 'error' THEN 'tool_' || CAST(e.event_id % 5 AS VARCHAR) ELSE '' END AS tool,
         e.ts AS ts
  FROM events e JOIN occ o ON o.i = CAST(e.event_id % 12 AS INT)
               JOIN occ o2 ON o2.i = CAST((e.event_id + 5) % 12 AS INT)
               JOIN lifep lp ON lp.i = CAST((e.event_id // 21) % 9 AS INT)
),
men AS (
  -- find_all parity: ALL regex matches per (turn, kind), midx = match index
  SELECT conv_id, turn_idx, kind, CAST(i - 1 AS INT) AS midx, ms[i] AS surface, text, ts FROM (
    SELECT conv_id, turn_idx, kind, ms, unnest(range(1, len(ms) + 1)) AS i, text, ts FROM (
      SELECT conv_id, turn_idx, 'place' AS kind, regexp_extract_all(text, 'visited (Nation_[0-9]+)', 1) AS ms, text, ts FROM tr
      UNION ALL SELECT conv_id, turn_idx, 'place_left', regexp_extract_all(text, 'leaving (Nation_[0-9]+)', 1), text, ts FROM tr
      UNION ALL SELECT conv_id, turn_idx, 'person', regexp_extract_all(text, 'met (Customer#[0-9]{9})', 1), text, ts FROM tr
      UNION ALL SELECT conv_id, turn_idx, 'org', regexp_extract_all(text, 'at (Supplier#[0-9]{9})', 1), text, ts FROM tr
      UNION ALL SELECT conv_id, turn_idx, 'occupation', regexp_extract_all(text, 'working as ([A-Za-z-]+)', 1), text, ts FROM tr
      UNION ALL SELECT conv_id, turn_idx, 'education', regexp_extract_all(text, 'studied at (Academy_[0-9]+)', 1), text, ts FROM tr
    )
  )
),
place_dict AS (
  SELECT ${cleanSimple("n_name")} AS key, '${Ns.place}' || CAST(n_nationkey AS VARCHAR) AS uri FROM nation
  UNION ALL
  SELECT ${cleanSimple("r_name")}, '${Ns.place}r' || CAST(r_regionkey AS VARCHAR) FROM region
),
people_dict AS (
  SELECT lower(c_name) AS key, '${Ns.person}' || CAST(c_custkey AS VARCHAR) AS uri,
         CAST(c_custkey AS BIGINT) AS custkey,
         '${Ns.viaf}' || CAST(c_custkey // 3 AS VARCHAR) AS viaf_uri,
         CASE WHEN (c_custkey // 2) % 2 = 0 THEN 'female' ELSE 'male' END AS gender
  FROM customer
),
org_dict AS (SELECT lower(s_name) AS key, '${Ns.org}' || CAST(s_suppkey AS VARCHAR) AS uri FROM supplier),
edu_dict_raw(row_id, term, alt) AS (VALUES $eduDictValues),
edu_dict AS (
  SELECT lower(alt) AS key, min_by(term, row_id) AS uri
  FROM edu_dict_raw GROUP BY 1
),
occ_dict_raw(row_id, term, alt) AS (VALUES $occDictValues),
occ_dict AS (
  SELECT ${stem("alt")} AS key, min_by(term, row_id) AS term
  FROM occ_dict_raw GROUP BY 1
),
linked AS (
  SELECT m.conv_id, m.turn_idx, m.kind, m.midx, m.surface, m.text, m.ts,
         d.uri IS NOT NULL AS matched,
         d.uri AS obj_value, d.uri IS NOT NULL AS obj_is_iri,
         '' AS obj_lang, '' AS obj_dtype
  FROM men m LEFT JOIN place_dict d ON ${cleanSimple("m.surface")} = d.key
  WHERE m.kind IN ('place','place_left')
  UNION ALL
  SELECT m.conv_id, m.turn_idx, m.kind, m.midx, m.surface, m.text, m.ts,
         d.uri IS NOT NULL,
         COALESCE(d.uri, '${Ns.kg}temp/' || replace(m.surface, '#', '')),
         TRUE, '', ''
  FROM men m LEFT JOIN people_dict d ON lower(m.surface) = d.key
  WHERE m.kind = 'person'
  UNION ALL
  SELECT m.conv_id, m.turn_idx, m.kind, m.midx, m.surface, m.text, m.ts,
         d.uri IS NOT NULL,
         COALESCE(d.uri, '${Ns.org}' || replace(m.surface, '#', '') || '_ORG'),
         TRUE, '', ''
  FROM men m LEFT JOIN org_dict d ON lower(m.surface) = d.key
  WHERE m.kind = 'org'
  UNION ALL
  SELECT m.conv_id, m.turn_idx, m.kind, m.midx, m.surface, m.text, m.ts,
         d.term IS NOT NULL,
         CASE WHEN d.term LIKE 'http%' THEN d.term
              WHEN d.term IS NOT NULL THEN 'ISO-3166-2:' || d.term
              ELSE m.surface END,
         COALESCE(d.term LIKE 'http%', FALSE),
         '',
         CASE WHEN COALESCE(d.term LIKE 'http%', FALSE) THEN '' ELSE '${Ns.xsdString}' END
  FROM men m LEFT JOIN occ_dict d ON ${stem("m.surface")} = d.key
  WHERE m.kind = 'occupation'
  UNION ALL
  SELECT m.conv_id, m.turn_idx, m.kind, m.midx, m.surface, m.text, m.ts,
         d.uri IS NOT NULL,
         COALESCE(d.uri, '${Ns.kg}edu/skolem/' || replace(m.surface, '_', '')),
         TRUE, '', ''
  FROM men m LEFT JOIN edu_dict d ON lower(m.surface) = d.key
  WHERE m.kind = 'education'
),
emitting AS (
  SELECT * FROM linked WHERE kind NOT IN ('place','place_left') OR matched
),
ctx AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, kind ORDER BY turn_idx, midx) AS ordinal
  FROM emitting
),
act AS (
  -- Activity/time-span emission base (activity kinds only; same ordinals
  -- as ctx because the emitting sets coincide for these kinds)
  SELECT conv_id, turn_idx, kind, ordinal,
    '${Ns.act}' || conv_id || '_' || kind || 'Activity_' || CAST(ordinal AS VARCHAR) AS act_uri,
    '${Ns.act}' || conv_id || '_' || kind || 'Activity_' || CAST(ordinal AS VARCHAR) || '_time-span' AS tspan_uri,
    conv_id || ' ' || kind || ' activity ' || CAST(ordinal AS VARCHAR) AS label,
    CASE WHEN turn_idx % 4 = 0 THEN strftime(ts, '%Y')
         WHEN turn_idx % 4 = 1 THEN strftime(ts, '%Y-%m')
         WHEN turn_idx % 4 = 2 THEN strftime(ts, '%Y-%m-%d')
         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS lexical,
    CASE WHEN turn_idx % 5 = 0 THEN 'highCertainty'
         WHEN turn_idx % 5 IN (1, 2, 3) THEN 'mediumCertainty'
         ELSE 'lowCertainty' END AS cert
  FROM ctx WHERE kind IN ('place','place_left','occupation','education')
),
all_triples_raw AS (
  SELECT DISTINCT '${Ns.conv}' || conv_id AS subj, '${Ns.rdfType}' AS pred,
         '${Ns.tPerson}' AS obj_value, TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM tr
  UNION ALL
  SELECT DISTINCT '${Ns.conv}' || conv_id, '${Ns.rdfsLabel}', conv_id, FALSE, 'en', '' FROM tr
  UNION ALL
  SELECT '${Ns.conv}' || conv_id,
         CASE kind WHEN 'place' THEN '${Ns.mentionsPlace}' WHEN 'place_left' THEN '${Ns.leftPlace}'
              WHEN 'person' THEN '${Ns.knowsPerson}' WHEN 'org' THEN '${Ns.memberOf}'
              WHEN 'education' THEN '${Ns.hasEducation}'
              ELSE '${Ns.hasOccupation}' END,
         obj_value, obj_is_iri, obj_lang, obj_dtype
  FROM emitting
  UNION ALL
  SELECT '${Ns.conv}' || l.conv_id, '${Ns.spatialRel}', l.obj_value, TRUE, '', ''
  FROM linked l
  WHERE l.kind = 'place_left' AND l.matched AND NOT EXISTS (
    SELECT 1 FROM linked v WHERE v.kind = 'place' AND v.matched
      AND v.conv_id = l.conv_id AND v.obj_value = l.obj_value)
  UNION ALL
  SELECT '${Ns.ctx}' || conv_id || '_' || kind || 'Context_' || CAST(ordinal AS VARCHAR),
         '${Ns.rdfType}', '${Ns.tContext}', TRUE, '', '' FROM ctx
  UNION ALL
  SELECT '${Ns.ctx}' || conv_id || '_' || kind || 'Context_' || CAST(ordinal AS VARCHAR),
         '${Ns.hasTarget}', '/conv[' || conv_id || ']/turn[' || CAST(turn_idx AS VARCHAR) || ']',
         FALSE, '', '' FROM ctx
  UNION ALL
  SELECT '${Ns.ctx}' || conv_id || '_' || kind || 'Context_' || CAST(ordinal AS VARCHAR),
         '${Ns.hasSnippet}', ${snipSql("text")}, FALSE, 'en', '' FROM ctx
  UNION ALL
  SELECT d.uri, '${Ns.owlSameAs}', d.viaf_uri, TRUE, '', ''
  FROM (SELECT DISTINCT obj_value FROM linked WHERE kind='person' AND matched) p
  JOIN people_dict d ON d.uri = p.obj_value
  UNION ALL
  SELECT d.uri, '${Ns.owlSameAs}', '${Ns.person}' || CAST(d.custkey - 1 AS VARCHAR), TRUE, '', ''
  FROM (SELECT DISTINCT obj_value FROM linked WHERE kind='person' AND matched) p
  JOIN people_dict d ON d.uri = p.obj_value
  WHERE d.custkey % 5 <> 0
  UNION ALL
  -- Activity + Time-Span nodes with typed, never-normalized date literals
  SELECT act_uri, '${Ns.rdfType}', '${Ns.tActivity}', TRUE, '', '' FROM act
  UNION ALL
  SELECT act_uri, '${Ns.rdfsLabel}', label, FALSE, 'en', '' FROM act
  UNION ALL
  SELECT act_uri, '${Ns.hasTimeSpan}', tspan_uri, TRUE, '', '' FROM act
  UNION ALL
  SELECT tspan_uri, '${Ns.rdfType}', '${Ns.tTimeSpan}', TRUE, '', '' FROM act
  UNION ALL
  SELECT tspan_uri, '${Ns.atSomeTimeWithin}', lexical, FALSE, '',
         CASE WHEN length(lexical) = 19 THEN '${Ns.xsdDateTime}'
              WHEN length(lexical) = 10 THEN '${Ns.xsdDate}'
              WHEN length(lexical) = 7 THEN '${Ns.xsdGYearMon}'
              WHEN length(lexical) IN (4,5) THEN '${Ns.xsdGYear}'
              ELSE '${Ns.xsdString}' END FROM act
  UNION ALL
  SELECT tspan_uri, '${Ns.beginOfBegin}',
         CASE WHEN length(lexical) = 4 THEN lexical || '-01-01 00:00:00'
              WHEN length(lexical) = 7 THEN lexical || '-01 00:00:00'
              WHEN length(lexical) = 10 THEN lexical || ' 00:00:00'
              ELSE lexical END, FALSE, '', '${Ns.xsdDateTime}' FROM act
  UNION ALL
  SELECT tspan_uri, '${Ns.endOfEnd}',
         CASE WHEN length(lexical) = 4 THEN lexical || '-12-31 23:59:59'
              WHEN length(lexical) = 7 THEN strftime(last_day(CAST(lexical || '-01' AS DATE)), '%Y-%m-%d') || ' 23:59:59'
              WHEN length(lexical) = 10 THEN lexical || ' 23:59:59'
              ELSE lexical END, FALSE, '', '${Ns.xsdDateTime}' FROM act
  UNION ALL
  SELECT tspan_uri, '${Ns.hasCertainty}', cert, FALSE, '', '' FROM act
),
all_triples AS (SELECT DISTINCT * FROM all_triples_raw)
"""

  /** sameAs closure as a recursive CTE over the emitted sameAs triples. */
  val CLOSURE_CTES: String = s""",
sa_edges AS (
  SELECT subj AS a, obj_value AS b FROM all_triples WHERE pred = '${Ns.owlSameAs}'
),
und AS (SELECT a, b FROM sa_edges UNION SELECT b, a FROM sa_edges),
reach AS (
  WITH RECURSIVE r(n, m) AS (
    SELECT a, a FROM und
    UNION
    SELECT r.n, e.b FROM r JOIN und e ON r.m = e.a
  ) SELECT * FROM r
),
canon AS (SELECT n AS node, min(m) AS canon FROM reach GROUP BY n)
"""

  // lazy: quadSelect and streamQueries are declared below and would
  // otherwise still be null when this initializer runs.
  private lazy val baseQueries: Map[String, String] = Map(
    "kg_transcripts" ->
      (BASE + "SELECT conv_id, turn_idx, role, text, tool, ts FROM tr"),
    "kg_mentions" ->
      (BASE + "SELECT conv_id, turn_idx, kind, midx, surface FROM men"),
    "kg_linked" ->
      (BASE + """SELECT conv_id, turn_idx, kind, midx, surface, matched,
                 obj_value, obj_is_iri, obj_lang, obj_dtype FROM linked"""),
    "kg_ordinals" ->
      (BASE + s"""SELECT conv_id, turn_idx, kind, midx, ordinal,
                 '${Ns.ctx}' || conv_id || '_' || kind || 'Context_' || CAST(ordinal AS VARCHAR) AS ctx_uri
                 FROM ctx"""),
    "kg_triples" ->
      (BASE + "SELECT * FROM all_triples"),
    "kg_activities" ->
      (BASE + s"SELECT * FROM all_triples WHERE subj LIKE '${Ns.act}%'"),
    "kg_children" ->
      (BASE + s"""SELECT '${Ns.conv}' || conv_id AS subj,
  '${Ns.pred}childrenCount' AS pred,
  CAST(count(DISTINCT obj_value) AS VARCHAR) AS obj_value,
  FALSE AS obj_is_iri, '' AS obj_lang, '${Ns.xsdInt}' AS obj_dtype
FROM linked WHERE kind = 'person' GROUP BY conv_id"""),
    "kg_term_validation" ->
      (BASE + s""", roles AS (
  SELECT DISTINCT 'predicate' AS role, pred AS term FROM all_triples
  UNION
  SELECT DISTINCT 'type', obj_value FROM all_triples WHERE pred = '${Ns.rdfType}')
SELECT role, term,
  term IN (${graft.operators.Vocabulary.terms.map(t => s"'$t'").mkString(",")}) AS known
FROM roles"""),
    "kg_freestanding" ->
      (BASE + s""", ev AS (
  SELECT conv_id, turn_idx, ts, text,
         row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS ordinal,
         CASE WHEN turn_idx % 4 = 0 THEN strftime(ts, '%Y')
              WHEN turn_idx % 4 = 1 THEN strftime(ts, '%Y-%m')
              WHEN turn_idx % 4 = 2 THEN strftime(ts, '%Y-%m-%d')
              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS lexical
  FROM tr WHERE role = 'system'),
evu AS (SELECT *, '${Ns.event}' || conv_id || '_Event_' || CAST(ordinal AS VARCHAR) AS ev_uri FROM ev)
SELECT ev_uri AS subj, '${Ns.rdfType}' AS pred, '${Ns.tEvent}' AS obj_value,
       TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM evu
UNION ALL
SELECT ev_uri, '${Ns.rdfsLabel}', ${snipSql("text")}, FALSE, 'en', '' FROM evu
UNION ALL
SELECT ev_uri, '${Ns.atSomeTimeWithin}', lexical, FALSE, '',
       CASE WHEN length(lexical) = 19 THEN '${Ns.xsdDateTime}'
            WHEN length(lexical) = 10 THEN '${Ns.xsdDate}'
            WHEN length(lexical) = 7 THEN '${Ns.xsdGYearMon}'
            WHEN length(lexical) IN (4,5) THEN '${Ns.xsdGYear}'
            ELSE '${Ns.xsdString}' END FROM evu"""),
    "kg_quads" -> (BASE + quadSelect),
    "kg_agent_uris" ->
      (BASE + s"""SELECT DISTINCT surface,
  '${Ns.kg}agent/' || replace(surface, '#', '%23') AS agent_uri
FROM men WHERE kind IN ('person','org')"""),
    "kg_jsonld_lines" -> {
      val e = graft.io.Turtle.escJsonSql("obj_value")
      (BASE + s""", objs AS (
  SELECT subj, pred,
    CASE WHEN obj_is_iri THEN '{"@id":"' || $e || '"}'
         WHEN obj_lang <> '' THEN '{"@value":"' || $e || '","@language":"' || obj_lang || '"}'
         WHEN obj_dtype <> '' THEN '{"@value":"' || $e || '","@type":"' || obj_dtype || '"}'
         ELSE '{"@value":"' || $e || '"}' END AS o
  FROM all_triples),
per_pred AS (
  SELECT subj, '"' || pred || '":[' || string_agg(o, ',' ORDER BY o) || ']' AS entry
  FROM objs GROUP BY subj, pred)
SELECT '{"@id":"' || subj || '",' || string_agg(entry, ',' ORDER BY entry) || '}' AS line
FROM per_pred GROUP BY subj""")
    },
    "kg_rdfxml_lines" -> {
      val q = graft.io.Turtle.termSql("pred")
      val e = graft.io.Turtle.escXmlSql("obj_value")
      val ed = graft.io.Turtle.escXmlSql("obj_dtype")
      val es = graft.io.Turtle.escXmlSql("subj")
      (BASE + s""", kids AS (
  SELECT subj,
    CASE WHEN obj_is_iri THEN '<' || $q || ' rdf:resource="' || $e || '"/>'
         WHEN obj_lang <> '' THEN '<' || $q || ' xml:lang="' || obj_lang || '">' || $e || '</' || $q || '>'
         WHEN obj_dtype <> '' THEN '<' || $q || ' rdf:datatype="' || $ed || '">' || $e || '</' || $q || '>'
         ELSE '<' || $q || '>' || $e || '</' || $q || '>' END AS c
  FROM all_triples)
SELECT line FROM (VALUES ('${graft.io.RdfXml.openTag.replace("'", "''")}'), ('${graft.io.RdfXml.closeTag}')) h(line)
UNION ALL
SELECT '<rdf:Description rdf:about="' || $es || '">' || string_agg(c, '' ORDER BY c) || '</rdf:Description>'
FROM kids GROUP BY subj""")
    },
    "kg_sameas_clusters" ->
      (BASE + CLOSURE_CTES + "SELECT node, canon FROM canon"),
    "kg_triples_canon" ->
      (BASE + CLOSURE_CTES + s"""
SELECT DISTINCT
  COALESCE(cs.canon, t.subj) AS subj, t.pred,
  COALESCE(co.canon, t.obj_value) AS obj_value,
  t.obj_is_iri, t.obj_lang, t.obj_dtype
FROM all_triples t
LEFT JOIN canon cs ON t.subj = cs.node
LEFT JOIN canon co ON t.obj_is_iri AND t.obj_value = co.node"""),
    "kg_unmapped" ->
      (BASE + "SELECT kind, surface, count(*) AS n FROM linked WHERE NOT matched GROUP BY kind, surface"),
    "kg_stats" ->
      (BASE + """, per AS (
  SELECT regexp_extract(subj, '(conv_[0-9]+)', 1) AS conv, count(*) AS n
  FROM all_triples WHERE regexp_extract(subj, '(conv_[0-9]+)', 1) <> ''
  GROUP BY 1)
SELECT count(*) AS n_convs, CAST(sum(n) AS BIGINT) AS total_triples, max(n) AS max_per_conv,
       min(n) AS min_per_conv, CAST(sum(n) AS DOUBLE)/count(*) AS avg_per_conv
FROM per"""),
    "kg_heading" ->
      (BASE + """SELECT conv_id, turn_idx,
  COALESCE(
    last_value(CASE WHEN role='system' THEN text END IGNORE NULLS)
      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    first_value(CASE WHEN role='system' THEN text END IGNORE NULLS)
      OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
    '') AS heading
FROM tr"""),
    "kg_first_person" ->
      (BASE + """SELECT conv_id,
  min_by(obj_value, CAST(turn_idx AS BIGINT) * 1000000 + midx) AS first_person
FROM linked WHERE kind = 'person' GROUP BY conv_id"""),
    "kg_dates" ->
      (BASE + s""", lex AS (
  SELECT conv_id, turn_idx,
    CASE WHEN turn_idx % 4 = 0 THEN strftime(ts, '%Y')
         WHEN turn_idx % 4 = 1 THEN strftime(ts, '%Y-%m')
         WHEN turn_idx % 4 = 2 THEN strftime(ts, '%Y-%m-%d')
         ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS lexical
  FROM tr)
SELECT conv_id, turn_idx, lexical,
  CASE WHEN length(lexical) = 19 THEN '${Ns.xsdDateTime}'
       WHEN length(lexical) = 10 THEN '${Ns.xsdDate}'
       WHEN length(lexical) = 7 THEN '${Ns.xsdGYearMon}'
       WHEN length(lexical) IN (4,5) THEN '${Ns.xsdGYear}'
       ELSE '${Ns.xsdString}' END AS dtype,
  CASE WHEN length(lexical) = 4 THEN lexical || '-01-01 00:00:00'
       WHEN length(lexical) = 7 THEN lexical || '-01 00:00:00'
       WHEN length(lexical) = 10 THEN lexical || ' 00:00:00'
       ELSE lexical END AS interval_start,
  CASE WHEN length(lexical) = 4 THEN lexical || '-12-31 23:59:59'
       WHEN length(lexical) = 7 THEN strftime(last_day(CAST(lexical || '-01' AS DATE)), '%Y-%m-%d') || ' 23:59:59'
       WHEN length(lexical) = 10 THEN lexical || ' 23:59:59'
       ELSE lexical END AS interval_end
FROM lex""")
  ) ++ extraQueries ++ round4Queries ++ round5Queries ++ streamQueries

  // ----- round-5 families: education, friends/intimate, CF contexts -------

  /** Shared eid expression (NO digit cap — mirrors Fns.eidCol). */
  private def eidSql(p: String = ""): String =
    s"(CAST(substr(${p}conv_id, 6) AS BIGINT) * 20 + ${p}turn_idx)"

  private lazy val round5Queries: Map[String, String] = {
    import graft.operators.{Education => E, Relations => R}
    def strList(xs: Seq[String]): String =
      xs.map(x => s"'$x'").mkString("[", ",", "]")
    // kg_education building blocks (all derived from the SAME Scala
    // constants the Spark side inlines — zero drift)
    val awardNameValues = E.awardNames.zipWithIndex
      .map { case (nm, i) => s"($i,'$nm')" }.mkString(",")
    val awardTypeValues = E.awardTypes.zipWithIndex
      .flatMap { case (tys, i) => tys.map(ty => s"($i,'$ty')") }.mkString(",")
    val attendList = strList(
      (E.levelPreds :+ "schoolAttended").map(Ns.pred + _))
    val levelTypeList = strList(E.levelTypes.map(Ns.kg + "type/" + _))
    val bodyTypeList = strList(E.bodyTypes.map(Ns.kg + "type/" + _))
    def limitWordsN(e: String, n: Int): String = {
      val w = s"string_split(regexp_replace(trim($e), '\\\\s+', ' ', 'g'), ' ')"
      s"(CASE WHEN len($w) > $n THEN array_to_string(list_slice($w, 1, $n), ' ') || '...' ELSE array_to_string($w, ' ') END)"
    }
    val educationSql = BASE + s""", edu AS (
  SELECT conv_id, turn_idx, midx, surface, obj_value, text,
         ${eidSql()} // 8 AS m
  FROM linked WHERE kind = 'education'),
edub AS (
  SELECT *, ${strList(E.modes)}[CAST(m % 4 AS INT) + 1] AS ctype,
         CAST((m // 4) % 4 AS INT) AS lvl,
         CAST((m // 16) % 3 AS INT) AS body
  FROM edu),
educ AS (
  SELECT *, '${Ns.ctx}' || conv_id || '_' || ctype || '_' ||
    CAST(row_number() OVER (PARTITION BY conv_id, ctype ORDER BY turn_idx, midx) AS VARCHAR) AS ctx
  FROM edub),
awn(i, nm) AS (VALUES $awardNameValues),
awt(i, ty) AS (VALUES $awardTypeValues),
eaw AS (
  SELECT e.*, a.nm,
    '${Ns.kg}award/' || conv_id || '_' || CAST(turn_idx AS VARCHAR) || '_' || CAST(midx AS VARCHAR) AS auri,
    CAST((m // 2) % ${E.awardNames.length} AS INT) AS aidx
  FROM educ e JOIN awn a ON a.i = CAST((e.m // 2) % ${E.awardNames.length} AS INT)
  WHERE e.m % 2 = 0)
SELECT DISTINCT * FROM (
  SELECT ctx AS subj, '${Ns.rdfType}' AS pred, '${Ns.tContext}' AS obj_value,
         TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM educ
  UNION ALL SELECT ctx, '${Ns.rdfType}', '${Ns.kg}type/' || ctype, TRUE, '', '' FROM educ
  UNION ALL SELECT obj_value, '${Ns.rdfsLabel}', surface, FALSE, '', '' FROM educ
  UNION ALL SELECT obj_value, '${Ns.rdfType}', '${Ns.kg}type/EducationalOrganization', TRUE, '', '' FROM educ
  UNION ALL SELECT ctx, $attendList[lvl + 1], obj_value, TRUE, '', '' FROM educ
  UNION ALL SELECT obj_value, '${Ns.rdfType}', $levelTypeList[lvl + 1], TRUE, '', '' FROM educ WHERE lvl < 3
  UNION ALL SELECT obj_value, '${Ns.rdfType}', $bodyTypeList[body + 1], TRUE, '', '' FROM educ WHERE body < 2
  UNION ALL SELECT auri, '${Ns.rdfsLabel}', nm, FALSE, '', '' FROM eaw
  UNION ALL SELECT ctx, '${Ns.pred}award', auri, TRUE, '', '' FROM eaw
  UNION ALL SELECT a.auri, '${Ns.rdfType}', t.ty, TRUE, '', '' FROM eaw a JOIN awt t ON t.i = a.aidx
  UNION ALL SELECT ctx, '${Ns.pred}credential',
    '${Ns.kg}degree/' || ${strList(E.degrees)}[CAST((m // 3) % ${E.degrees.length} AS INT) + 1],
    TRUE, '', '' FROM educ WHERE m % 3 = 0
  UNION ALL SELECT ctx, '${Ns.pred}subjectOfStudy',
    '${Ns.kg}subject/' || ${strList(E.subjects)}[CAST((m // 5) % ${E.subjects.length} AS INT) + 1],
    TRUE, '', '' FROM educ WHERE m % 5 = 0
  UNION ALL SELECT obj_value, '${Ns.pred}teachesEducationalSubject',
    '${Ns.kg}subject/' || ${strList(E.subjects)}[CAST((m // 5) % ${E.subjects.length} AS INT) + 1],
    TRUE, '', '' FROM educ WHERE m % 5 = 0
  UNION ALL SELECT ctx, '${Ns.pred}contestedBehaviour',
    ${limitWordsN("text", 20)}, FALSE, '', '' FROM educ WHERE m % 7 = 0
  UNION ALL SELECT ctx, '${Ns.pred}instructor',
    '${Ns.person}' || CAST((m * 7) % 200 AS VARCHAR), TRUE, '', '' FROM educ WHERE m % 6 = 0
  UNION ALL SELECT obj_value, '${Ns.pred}hasEmployee',
    '${Ns.person}' || CAST((m * 7) % 200 AS VARCHAR), TRUE, '', '' FROM educ WHERE m % 6 = 0
  UNION ALL SELECT '${Ns.person}' || CAST((m * 7) % 200 AS VARCHAR),
    '${Ns.pred}teachesEducationalSubject',
    '${Ns.kg}subject/' || ${strList(E.subjects)}[CAST((m // 5) % ${E.subjects.length} AS INT) + 1],
    TRUE, '', '' FROM educ WHERE m % 30 = 0
  UNION ALL SELECT ctx, '${Ns.pred}companion',
    '${Ns.person}' || CAST((m * 11) % 200 AS VARCHAR), TRUE, '', '' FROM educ WHERE m % 9 = 0
  UNION ALL SELECT obj_value, '${Ns.pred}hasLocation',
    '${Ns.place}' || CAST((m * 3) % 25 AS VARCHAR), TRUE, '', '' FROM educ WHERE m % 10 = 0
  UNION ALL SELECT ctx, '${Ns.pred}credentialSubject',
    '${Ns.kg}subject/' || ${strList(E.subjects)}[CAST((m // 15) % ${E.subjects.length} AS INT) + 1],
    TRUE, '', '' FROM educ WHERE m % 15 = 0
)"""

    // shared relationship-family CTE scaffolding
    def relLabelCase(prefix: String): String = {
      val cases = (R.intimatePreds :+ "cohabitant" :+ "interpersonalRelationshipWith")
        .distinct.map(p =>
          s"WHEN '$p' THEN '$prefix${R.splitByCasing(p).toLowerCase}'")
      s"CASE prd ${cases.mkString(" ")} END"
    }
    def relationshipSql(tagMod: Int, ctxType: String, eventType: String,
        prdExpr: String, survFilter: String, labelCase: String): String =
      s""", selfp AS (
  SELECT conv_id, obj_value AS self_uri FROM linked
  WHERE kind = 'person' AND turn_idx = 0 AND midx = 0),
rmen AS (
  SELECT conv_id, turn_idx, midx, obj_value, ${eidSql()} AS eid
  FROM linked WHERE kind = 'person' AND ${eidSql()} % $tagMod = 0),
rprd AS (SELECT *, $prdExpr AS prd FROM rmen),
rsur AS (
  SELECT f.* FROM rprd f LEFT JOIN selfp s ON s.conv_id = f.conv_id
  WHERE s.self_uri IS NULL OR f.obj_value <> s.self_uri),
rcnt AS (SELECT *, count(*) OVER (PARTITION BY conv_id, turn_idx) AS cnt FROM rsur),
rrel AS (SELECT * FROM rcnt $survFilter),
rtag AS (
  SELECT conv_id, turn_idx,
    '${Ns.ctx}' || conv_id || '_${ctxType}_' ||
    CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS VARCHAR) AS ctx
  FROM rmen WHERE midx = 0),
rag AS (SELECT conv_id, turn_idx, prd, min(midx) AS m0 FROM rrel GROUP BY 1, 2, 3),
ran AS (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY m0) AS ec FROM rag),
ract AS (
  SELECT a.conv_id, a.prd, t.ctx,
         replace(t.ctx, 'Context', 'Event') || '_' || CAST(a.ec AS VARCHAR) AS act
  FROM ran a JOIN rtag t ON t.conv_id = a.conv_id AND t.turn_idx = a.turn_idx)
SELECT DISTINCT * FROM (
  SELECT ctx AS subj, '${Ns.rdfType}' AS pred, '${Ns.tContext}' AS obj_value,
         TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM rtag
  UNION ALL SELECT ctx, '${Ns.rdfType}', '${Ns.kg}type/$ctxType', TRUE, '', '' FROM rtag
  UNION ALL SELECT '${Ns.conv}' || conv_id, '${Ns.pred}' || prd, obj_value, TRUE, '', '' FROM rrel
  UNION ALL SELECT ctx, '${Ns.pred}linksActivity', act, TRUE, '', '' FROM ract
  UNION ALL SELECT act, '${Ns.rdfType}', '${Ns.tActivity}', TRUE, '', '' FROM ract
  UNION ALL SELECT act, '${Ns.rdfType}', '$eventType', TRUE, '', '' FROM ract
  UNION ALL SELECT act, '${Ns.rdfsLabel}', $labelCase, FALSE, 'en', '' FROM ract
)"""

    val friendsSql = BASE + relationshipSql(
      tagMod = 15, ctxType = "FriendsAndAssociatesContext",
      eventType = Ns.kg + "event/FriendsAndAssociatesEvent",
      prdExpr = "CASE WHEN (eid // 15 + midx) % 3 = 0 THEN 'cohabitant' " +
        "ELSE 'interpersonalRelationshipWith' END",
      survFilter = "", // every surviving friend emits
      labelCase = relLabelCase("Friend Relationship Event: "))

    val intimateSql = BASE + relationshipSql(
      tagMod = 19, ctxType = "IntimateRelationshipContext",
      eventType = Ns.kg + "event/IntimateRelationshipEvent",
      prdExpr = "CASE WHEN CAST((eid // 19) % 4 AS INT) = 3 THEN 'intimateRelationship' " +
        "WHEN (eid // 19 + midx) % 3 = 0 THEN 'cohabitant' " +
        s"ELSE ${strList(R.intimatePreds.take(3))}[CAST((eid // 19) % 4 AS INT) + 1] END",
      survFilter = "WHERE cnt = 1", // the exactly-one-name precision rule
      labelCase = relLabelCase("Intimate Relationship Event: "))

    val cfSql = BASE + s""", cfb AS (
  SELECT conv_id, turn_idx, ${eidSql()} AS eid FROM tr
  WHERE ${eidSql()} % 25 = 0),
cft AS (
  SELECT *, ${strList(R.cfTypes)}[CAST((eid // 25) % ${R.cfTypes.length} AS INT) + 1] AS ctype,
         ${strList(R.cfPreds)}[CAST((eid // 25) % ${R.cfTypes.length} AS INT) + 1] AS fpred,
         ${strList(R.cfLabels)}[CAST((eid // 25) % ${R.cfTypes.length} AS INT) + 1] AS lab,
         CAST((eid // 175) % 10 AS VARCHAR) AS k
  FROM cfb),
cfn AS (
  SELECT *, '${Ns.ctx}' || conv_id || '_' || ctype || '_' ||
    CAST(row_number() OVER (PARTITION BY conv_id, ctype ORDER BY turn_idx) AS VARCHAR) AS ctx
  FROM cft),
cfu AS (
  SELECT *, replace(ctx, 'Context', 'Event') || '_0' AS act,
         '${Ns.kg}cf/' || fpred || '/' || k AS term
  FROM cfn)
SELECT ctx AS subj, '${Ns.rdfType}' AS pred, '${Ns.tContext}' AS obj_value,
       TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM cfu
UNION ALL SELECT ctx, '${Ns.rdfType}', '${Ns.kg}type/' || ctype, TRUE, '', '' FROM cfu
UNION ALL SELECT '${Ns.conv}' || conv_id, '${Ns.pred}' || fpred, term, TRUE, '', '' FROM cfu
UNION ALL SELECT ctx, '${Ns.pred}linksActivity', act, TRUE, '', '' FROM cfu
UNION ALL SELECT act, '${Ns.rdfType}', '${Ns.tActivity}', TRUE, '', '' FROM cfu
UNION ALL SELECT act, '${Ns.rdfType}', '${Ns.kg}type/' || ctype, TRUE, '', '' FROM cfu
UNION ALL SELECT act, '${Ns.rdfsLabel}', lab, FALSE, 'en', '' FROM cfu"""

    Map("kg_education" -> educationSql, "kg_friends" -> friendsSql,
      "kg_intimate" -> intimateSql, "kg_cf_contexts" -> cfSql)
  }

  // ----- round-4 families: gender, family predicates, COD, title refs -----

  /** COD clean_term over the `cause` column in DuckDB (mirrors
    * Families.codCleanCol). */
  private val codKey: String =
    "replace(trim(replace(lower(cause), '-', ' ')), ' ', '')"

  private lazy val round4Queries: Map[String, String] = {
    import graft.operators.Families
    val famValues = Families.familyMap.zipWithIndex
      .map { case ((_, p, s), i) => s"($i,'$p','$s')" }.mkString(",")
    val famN = Families.familyMap.length
    val codTermCase = Families.causeMap.map { case (cat, vals) =>
      val keys = vals.map(v => s"'${Families.codClean(v)}'").mkString(",")
      s"WHEN $codKey IN ($keys) THEN '$cat'"
    }.mkString("CASE ", " ", " ELSE cause END")
    val codcValues = Families.causeMap.flatMap { case (cat, vals) =>
      vals.map(v => s"('$cat','$v','${Families.codClean(v)}')")
    }.mkString(",")
    val allClean = Families.causeMap.flatMap(_._2)
      .map(v => s"'${Families.codClean(v)}'").mkString(",")
    val titleMatch =
      "b.dbref IS NOT NULL AND t.title = 'Title_' || CAST(b.dbref * 2 AS VARCHAR)"
    Map(
      "kg_gender" -> (BASE + s""", gsub AS (
  SELECT m.conv_id, p.gender
  FROM men m JOIN people_dict p ON p.key = lower(m.surface)
  WHERE m.kind = 'person' AND m.turn_idx = 0 AND m.midx = 0)
SELECT DISTINCT * FROM (
  SELECT '${Ns.ctx}' || conv_id || '_GenderContext_1' AS subj, '${Ns.rdfType}' AS pred,
         '${Ns.tContext}' AS obj_value, TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM gsub
  UNION ALL SELECT '${Ns.ctx}' || conv_id || '_GenderContext_1', '${Ns.rdfType}', '${Ns.tGenderContext}', TRUE, '', '' FROM gsub
  UNION ALL SELECT '${Ns.conv}' || conv_id, '${Ns.gender}',
            '${Ns.genderNs}' || CASE WHEN gender = 'female' THEN 'Woman' ELSE 'Man' END, TRUE, '', '' FROM gsub
)"""),
      "kg_family" -> (BASE + s""", fam(i, prd, sx) AS (VALUES $famValues),
pm AS (
  SELECT l.conv_id, l.obj_value, p.gender, l.midx,
         (CAST(substr(l.conv_id, 6) AS BIGINT) * 20 + l.turn_idx) AS eid
  FROM linked l LEFT JOIN people_dict p ON p.uri = l.obj_value
  WHERE l.kind = 'person')
SELECT DISTINCT '${Ns.conv}' || conv_id AS subj,
  '${Ns.pred}' || f.prd AS pred,
  CASE WHEN gender IS NOT NULL AND upper(gender) <> f.sx AND f.prd <> 'interpersonalRelationshipWith'
       THEN '${Ns.conv}' || conv_id || '_PLACEHOLDER_' || f.prd
       ELSE obj_value END AS obj_value,
  TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype
FROM pm JOIN fam f ON f.i = (eid * 3 + midx) % $famN"""),
      "kg_death_causes" -> (BASE + s""", codf AS (
  SELECT conv_id, regexp_extract(text, 'while discussing ([a-z ]+)\\.', 1) AS cause FROM tr
  WHERE regexp_extract(text, 'while discussing ([a-z ]+)\\.', 1) <> ''),
codt AS (SELECT conv_id, $codTermCase AS term FROM codf)
SELECT DISTINCT '${Ns.conv}' || conv_id AS subj, '${Ns.causeOfDeath}' AS pred,
  term AS obj_value, term LIKE 'http%' AS obj_is_iri, '' AS obj_lang,
  CASE WHEN term LIKE 'http%' THEN '' ELSE '${Ns.xsdString}' END AS obj_dtype
FROM codt"""),
      "kg_cod_nearmiss" -> (BASE + s""", codf AS (
  SELECT conv_id, regexp_extract(text, 'while discussing ([a-z ]+)\\.', 1) AS cause FROM tr
  WHERE regexp_extract(text, 'while discussing ([a-z ]+)\\.', 1) <> ''),
codc(category, candidate, cand_key) AS (VALUES $codcValues),
misses AS (SELECT DISTINCT cause, $codKey AS key FROM codf
           WHERE $codKey NOT IN ($allClean))
SELECT m.cause, c.category, c.candidate, levenshtein(m.key, c.cand_key) AS lev
FROM misses m JOIN codc c ON levenshtein(m.key, c.cand_key) <= 3"""),
      "kg_marital" -> {
        val branches = Families.maritalTags.map { case (status, m) =>
          s"""SELECT '${Ns.conv}' || conv_id AS subj,
  '${Ns.pred}maritalStatusChange' AS pred, '${Ns.bio}$status' AS obj_value,
  TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype
FROM mem WHERE eid % $m = 0"""
        }.mkString("\n  UNION ALL ")
        BASE + s""", mem AS (
  SELECT conv_id, (CAST(substr(conv_id, 6) AS BIGINT) * 20 + turn_idx) AS eid
  FROM men WHERE kind = 'person')
SELECT DISTINCT * FROM (
  $branches
)"""
      },
      "kg_birth_position" -> {
        val posCase = Families.birthPositions.map { case (k, v) =>
          s"WHEN '$k' THEN '${Ns.bio}$v'"
        }.mkString("CASE pos ", " ", " END")
        BASE + s""", bp AS (
  SELECT conv_id, (CAST(substr(conv_id, 6) AS BIGINT) * 20 + turn_idx) AS eid FROM tr
  WHERE (CAST(substr(conv_id, 6) AS BIGINT) * 20 + turn_idx) % 17 = 0
    AND strpos(text, ' born ') > 0),
bpp AS (SELECT conv_id,
  ['ONLY','ELDEST','YOUNGEST','MIDDLE'][CAST((eid // 17) % 4 AS INT) + 1] AS pos FROM bp),
bpu AS (SELECT conv_id, $posCase AS uri FROM bpp)
SELECT DISTINCT '${Ns.conv}' || conv_id AS subj, '${Ns.pred}birthPosition' AS pred,
  uri AS obj_value, TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype
FROM bpu WHERE uri IS NOT NULL"""
      },
      "kg_title_dict" -> (BASE + s""", ttl AS (
  SELECT conv_id, regexp_extract(text, 'reading (Title_[0-9]+)', 1) AS title FROM tr
  WHERE regexp_extract(text, 'reading (Title_[0-9]+)', 1) <> '')
SELECT title, count(DISTINCT conv_id) AS n_documents,
       string_agg(DISTINCT conv_id, '|' ORDER BY conv_id) AS documents
FROM ttl GROUP BY title"""),
      "kg_title_refs" -> (BASE + s""", ttl AS (
  SELECT conv_id, turn_idx, regexp_extract(text, 'reading (Title_[0-9]+)', 1) AS title FROM tr
  WHERE regexp_extract(text, 'reading (Title_[0-9]+)', 1) <> ''),
tseen AS (SELECT conv_id, turn_idx, title FROM (
  SELECT conv_id, turn_idx, title,
         row_number() OVER (PARTITION BY conv_id, title ORDER BY turn_idx) AS rn FROM ttl)
  WHERE rn = 1),
tbib AS (SELECT conv_id, CAST(substr(min_by(tool, turn_idx), 6) AS INT) AS dbref
         FROM tr WHERE role = 'tool' AND tool <> '' GROUP BY conv_id)
SELECT t.conv_id, t.title,
  CASE WHEN $titleMatch THEN 'matched' ELSE 'unmatched' END AS status,
  CASE WHEN $titleMatch THEN b.dbref ELSE -1 END AS dbref
FROM tseen t LEFT JOIN tbib b ON b.conv_id = t.conv_id
WHERE b.dbref IS NULL OR b.dbref >= 3"""))
  }

  /** kg_uber — the FULL combineTriples analog (`combineTriples.py:77-150`
    * across ALL modules, not just the core pipeline): the core graph
    * unioned with every standalone emission family, set semantics.
    * Composed from the very fragments the per-family gates verify; each
    * is wrapped by NAME so fragment column order can never scramble the
    * union. kg_labels is excluded — reviewTerms is a checker over the
    * graph, not an emitter into it. */
  private[graft] val uberParts: Seq[String] = Seq(
    "kg_triples", "kg_freestanding", "kg_children", "kg_works",
    "kg_works_agents", "kg_names", "kg_titles", "kg_writing",
    "kg_lifeinfo", "kg_citations", "kg_other_contexts",
    "kg_gender", "kg_family", "kg_death_causes", "kg_birth_position",
    "kg_marital", "kg_education", "kg_friends", "kg_intimate",
    "kg_cf_contexts")

  private lazy val uberSql: String =
    "SELECT subj, pred, obj_value, obj_is_iri, obj_lang, obj_dtype FROM (" +
      uberParts.map(q =>
        "SELECT subj, pred, obj_value, obj_is_iri, obj_lang, obj_dtype FROM (" +
          baseQueries(q) + "\n)").mkString(" UNION ALL ") + ")"

  /** kg_uber_canon: the uber graph rewritten through the sameAs closure.
    * The canon map is the kg_sameas_clusters query verbatim (families add
    * no sameAs edges, so closing over core == closing over uber). */
  private lazy val uberCanonSql: String = {
    val canonSql = baseQueries("kg_sameas_clusters")
    s"""SELECT DISTINCT
  COALESCE(cs.canon, t.subj) AS subj, t.pred,
  COALESCE(co.canon, t.obj_value) AS obj_value,
  t.obj_is_iri, t.obj_lang, t.obj_dtype
FROM ($uberSql) t
LEFT JOIN ($canonSql
) cs ON t.subj = cs.node
LEFT JOIN ($canonSql
) co ON t.obj_is_iri AND t.obj_value = co.node"""
  }

  lazy val queries: Map[String, String] = baseQueries +
    ("kg_uber" -> ("SELECT DISTINCT " + uberSql.stripPrefix("SELECT "))) +
    ("kg_uber_canon" -> uberCanonSql)

  /** Connotation subtype table (mirrors Names.connotations). */
  private val connValues = graft.operators.Names.connotations.zipWithIndex
    .map { case (w, i) => s"($i,'$w')" }.mkString(",")

  /** Title authority rows (mirrors Titles.titleRows). */
  private val titleValues = graft.operators.Titles.titleRows
    .map { case (rid, norm, ty, link) => s"($rid,'$norm','$ty','$link')" }
    .mkString(",")

  /** kg_names: the personname-family oracle (same window/dedup/dispatch
    * logic re-derived in SQL). */
  private lazy val namesQuery: String =
    BASE + s""", nmen AS (
  SELECT conv_id, turn_idx, role, 0 AS kord, 'nickname' AS kind,
         regexp_extract(text, 'nicknamed (Nick_[0-9]+)', 1) AS surface FROM tr
  UNION ALL
  SELECT conv_id, turn_idx, role, 1, 'birthname',
         regexp_extract(text, 'born (Given_[0-9]+ Family_[0-9]+)', 1) FROM tr
),
nmen2 AS (
  SELECT *, '${Ns.name}' || replace(replace(conv_id || ' NameEnt ' || surface, '_', ''), ' ', '_') AS name_uri,
         CAST(turn_idx AS BIGINT) * 10 + kord AS ord
  FROM nmen WHERE surface <> ''),
nfirst AS (
  SELECT conv_id, name_uri, kind, role, surface, ord FROM (
    SELECT *, row_number() OVER (PARTITION BY conv_id, name_uri ORDER BY ord) AS dn FROM nmen2)
  WHERE dn = 1),
nranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY conv_id ORDER BY ord) AS rn,
    CASE WHEN kind = 'nickname' THEN CAST(substr(surface, 6) AS INT) END AS k,
    CASE WHEN kind = 'birthname' THEN string_split(surface, ' ')[1] END AS given,
    CASE WHEN kind = 'birthname' THEN string_split(surface, ' ')[2] END AS family
  FROM nfirst),
conn(i, w) AS (VALUES $connValues),
nbn AS (
  SELECT *, '${Ns.name}' || replace(replace(given, '_', ''), ' ', '_') AS g_uri,
         '${Ns.name}' || replace(replace(family, '_', ''), ' ', '_') AS f_uri
  FROM nranked WHERE kind = 'birthname')
SELECT DISTINCT * FROM (
  SELECT name_uri AS subj, '${Ns.rdfType}' AS pred,
         CASE WHEN kind = 'nickname' THEN '${Ns.tNickName}' ELSE '${Ns.tBirthName}' END AS obj_value,
         TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM nranked
  UNION ALL SELECT name_uri, '${Ns.rdfsLabel}', surface, FALSE, '', '' FROM nranked
  UNION ALL SELECT n.name_uri, '${Ns.rdfType}', '${Ns.kg}type/' || c.w, TRUE, '', ''
            FROM nranked n JOIN conn c ON c.i = n.k % 7 WHERE n.kind = 'nickname'
  UNION ALL SELECT name_uri, '${Ns.rdfType}', '${Ns.tAuthorialName}', TRUE, '', '' FROM nranked WHERE role = 'assistant'
  UNION ALL SELECT name_uri, '${Ns.rdfType}', '${Ns.tIndexedName}', TRUE, '', '' FROM nranked WHERE rn = 1
  UNION ALL SELECT name_uri, '${Ns.indexedBy}', 'Orlando', FALSE, '', '' FROM nranked WHERE rn = 1
  UNION ALL SELECT '${Ns.ctx}' || conv_id || '_PersonNameContext_0', '${Ns.hasName}', name_uri, TRUE, '', '' FROM nranked WHERE rn > 1
  UNION ALL SELECT DISTINCT '${Ns.ctx}' || conv_id || '_PersonNameContext_0', '${Ns.rdfType}', '${Ns.tContext}', TRUE, '', '' FROM nranked
  UNION ALL SELECT g_uri, '${Ns.rdfType}', '${Ns.tForename}', TRUE, '', '' FROM nbn
  UNION ALL SELECT g_uri, '${Ns.hasSortOrder}', '1', FALSE, '', '${Ns.xsdInt}' FROM nbn
  UNION ALL SELECT g_uri, '${Ns.rdfsLabel}', given, FALSE, '', '' FROM nbn
  UNION ALL SELECT name_uri, '${Ns.hasNamePart}', g_uri, TRUE, '', '' FROM nbn
  UNION ALL SELECT f_uri, '${Ns.rdfType}', '${Ns.tSurname}', TRUE, '', '' FROM nbn
  UNION ALL SELECT f_uri, '${Ns.hasSortOrder}', '2', FALSE, '', '${Ns.xsdInt}' FROM nbn
  UNION ALL SELECT f_uri, '${Ns.rdfsLabel}', family, FALSE, '', '' FROM nbn
  UNION ALL SELECT name_uri, '${Ns.hasNamePart}', f_uri, TRUE, '', '' FROM nbn
)"""

  /** kg_titles: cross-linked authority build + gen_rdf + mention links. */
  private lazy val titlesQuery: String = {
    val typeCases = graft.operators.Titles.typeMapping
      .map { case (f, to) => s"WHEN '$f' THEN '$to'" }.mkString(" ")
    val typeKeys = graft.operators.Titles.typeMapping
      .map { case (f, _) => s"'$f'" }.mkString(",")
    BASE + s""", traw(row_id, normalized, titletype, islink) AS (VALUES $titleValues),
tsrc AS (SELECT row_id, normalized, titletype, CAST(islink AS INT) - 2 AS t_row
         FROM traw WHERE regexp_matches(islink, '^[0-9]+$$')),
tpairs AS (SELECT s.normalized AS s_norm, s.titletype AS s_type,
                  t.normalized AS t_norm, t.titletype AS t_type
           FROM tsrc s JOIN traw t ON t.row_id = s.t_row),
tpe AS (
  SELECT s_norm AS key, [t_norm, s_norm] AS labels, [t_type, s_type] AS types FROM tpairs
  UNION ALL
  SELECT t_norm, [t_norm, s_norm], [t_type, s_type] FROM tpairs),
tsing AS (
  SELECT normalized AS key, [normalized] AS labels, [titletype] AS types FROM traw
  WHERE islink IN ('n', '', '?') AND normalized NOT IN (SELECT key FROM tpe)),
tdict AS (SELECT key, labels, types,
                 '${Ns.title}' || replace(replace(key, '_', ''), ' ', '_') AS title_uri
          FROM (SELECT * FROM tpe UNION ALL SELECT * FROM tsing)),
tmen AS (SELECT conv_id, unnest(regexp_extract_all(text, 'reading (Title_[0-9]+)', 1)) AS key FROM tr)
SELECT DISTINCT * FROM (
  SELECT title_uri AS subj, '${Ns.rdfType}' AS pred, '${Ns.tTitle}' AS obj_value,
         TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM tdict
  UNION ALL SELECT title_uri, '${Ns.rdfsLabel}', unnest(labels), FALSE, '', '' FROM tdict
  UNION ALL SELECT title_uri, '${Ns.rdfType}', '${Ns.kg}type/' || (CASE lower(ty) $typeCases END), TRUE, '', ''
            FROM (SELECT title_uri, unnest(types) AS ty FROM tdict)
            WHERE lower(ty) IN ($typeKeys)
  UNION ALL SELECT '${Ns.conv}' || m.conv_id, '${Ns.mentionsTitle}', d.title_uri, TRUE, '', ''
            FROM tmen m JOIN tdict d ON d.key = m.key
)"""
  }

  /** limit_words(e, 35) in DuckDB (mirrors Fns.limitWords). */
  private def limitWordsSql(e: String): String = {
    val w = s"string_split(regexp_replace(trim($e), '\\s+', ' ', 'g'), ' ')"
    s"(CASE WHEN len($w) > 35 THEN array_to_string(list_slice($w, 1, 35), ' ') || '...' ELSE array_to_string($w, ' ') END)"
  }

  /** kg_writing: profile + genre-harvest contexts. */
  private lazy val writingQuery: String =
    BASE + s""", wsum AS (
  SELECT conv_id, text FROM (
    SELECT conv_id, text, row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
    FROM tr WHERE role = 'system') WHERE rn = 1)
SELECT DISTINCT * FROM (
  SELECT '${Ns.ctx}' || conv_id || '_WritingContext_1' AS subj, '${Ns.profile}' AS pred,
         ${limitWordsSql("text")} AS obj_value, FALSE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM wsum
  UNION ALL SELECT '${Ns.ctx}' || conv_id || '_WritingContext_1', '${Ns.rdfType}', '${Ns.tContext}', TRUE, '', '' FROM wsum
  UNION ALL SELECT '${Ns.ctx}' || conv_id || '_WritingContext_2', '${Ns.rdfType}', '${Ns.tContext}', TRUE, '', '' FROM wsum
  UNION ALL SELECT '${Ns.ctx}' || conv_id || '_WritingContext_2', '${Ns.genericRangeIncludes}',
            unnest(regexp_extract_all(text, 'working as ([A-Za-z-]+)', 1)), FALSE, '', '' FROM wsum
  UNION ALL SELECT '${Ns.conv}' || conv_id || '_Oeuvre', '${Ns.rdfType}', '${Ns.tOeuvre}', TRUE, '', '' FROM wsum
  UNION ALL SELECT '${Ns.conv}' || conv_id, '${Ns.bfAuthor}', '${Ns.conv}' || conv_id || '_Oeuvre', TRUE, '', '' FROM wsum
  UNION ALL SELECT '${Ns.conv}' || conv_id || '_Oeuvre', '${Ns.rdfsLabel}', conv_id || '''s Oeuvre', FALSE, '', '' FROM wsum
  UNION ALL SELECT '${Ns.conv}' || conv_id || '_Oeuvre', '${Ns.extent}', ${limitWordsSql("text")}, FALSE, '', '' FROM wsum
)"""

  /** kg_lifeinfo: keyword classification branches generated from the
    * verbatim childlessness_words / BURIAL_KEYWORDS constants. */
  private lazy val lifeinfoQuery: String = {
    import graft.operators.Profiles.{burialKeywords, childlessnessWords}
    def anyOf(kws: Seq[String]) =
      kws.map(k => s"strpos(text, '$k') > 0").mkString("(", " OR ", ")")
    val catBranches = childlessnessWords.map { case (cat, kws) =>
      s"""SELECT '${Ns.conv}' || conv_id AS subj, '${Ns.reproductiveHistory}' AS pred, '${Ns.bio}$cat' AS obj_value,
         TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM ltag WHERE ${anyOf(kws)}"""
    }.mkString("\n  UNION ALL ")
    BASE + s""", ltag AS (
  SELECT conv_id, turn_idx, text FROM tr WHERE strpos(text, 'while discussing') > 0),
lburial AS (
  SELECT conv_id,
         '${Ns.event}' || conv_id || '_BurialEvent_' ||
           CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS VARCHAR) AS ev_uri
  FROM ltag WHERE ${anyOf(burialKeywords)})
SELECT DISTINCT * FROM (
  $catBranches
  UNION ALL SELECT '${Ns.conv}' || conv_id, '${Ns.unspecifiedReproHist}',
            '${Ns.bio}unspecifiedReproductiveHistory', TRUE, '', ''
            FROM ltag WHERE NOT ${anyOf(childlessnessWords.flatMap(_._2))}
  UNION ALL SELECT ev_uri, '${Ns.rdfType}', '${Ns.tActivity}', TRUE, '', '' FROM lburial
  UNION ALL SELECT ev_uri, '${Ns.rdfsLabel}', 'Burial Event', FALSE, '', '' FROM lburial
  UNION ALL SELECT '${Ns.conv}' || conv_id, '${Ns.burialEvent}', ev_uri, TRUE, '', '' FROM lburial
)"""
  }

  /** Turtle/N3 export oracle (grouped statements + prefix header). */
  private lazy val ttlQuery: String =
    BASE + s""", rendered AS (
  SELECT ${graft.io.Turtle.termSql("subj")} AS s,
         ${graft.io.Turtle.termSql("pred")} || ' ' ||
         CASE WHEN obj_is_iri THEN ${graft.io.Turtle.termSql("obj_value")}
              WHEN obj_lang <> '' THEN '"' || ${graft.io.Turtle.escLitSql("obj_value")} || '"@' || obj_lang
              WHEN obj_dtype <> '' THEN '"' || ${graft.io.Turtle.escLitSql("obj_value")} || '"^^' || ${graft.io.Turtle.termSql("obj_dtype")}
              ELSE '"' || ${graft.io.Turtle.escLitSql("obj_value")} || '"' END AS po
  FROM all_triples)
SELECT line FROM (VALUES ${graft.io.Turtle.headerLines.map(l => s"('$l')").mkString(",")}) h(line)
UNION ALL
SELECT s || ' ' || string_agg(po, ' ; ' ORDER BY po) || ' .' FROM rendered GROUP BY s"""

  /** The quad projection shared by kg_quads / TriX / BFS oracles. */
  private val quadSelect: String =
    s"""SELECT
  CASE WHEN regexp_extract(subj, '(conv_[0-9]+)', 1) <> ''
       THEN '${Ns.conv}' || regexp_extract(subj, '(conv_[0-9]+)', 1)
       ELSE '${Ns.kg}graph/uber' END AS graph,
  subj, pred, obj_value, obj_is_iri, obj_lang, obj_dtype
FROM all_triples"""

  /** TriX export oracle: per-quad graph elements (no grouping). */
  private lazy val trixQuery: String = {
    def e(x: String) = graft.io.Turtle.escXmlSql(x)
    BASE + s""", qd AS ($quadSelect)
SELECT line FROM (VALUES ('${graft.io.TriX.openTag.replace("'", "''")}'), ('${graft.io.TriX.closeTag}')) h(line)
UNION ALL
SELECT '<graph><uri>' || ${e("graph")} || '</uri><triple><uri>' || ${e("subj")} || '</uri><uri>' || ${e("pred")} || '</uri>' ||
  CASE WHEN obj_is_iri THEN '<uri>' || ${e("obj_value")} || '</uri>'
       WHEN obj_lang <> '' THEN '<plainLiteral xml:lang="' || obj_lang || '">' || ${e("obj_value")} || '</plainLiteral>'
       WHEN obj_dtype <> '' THEN '<typedLiteral datatype="' || ${e("obj_dtype")} || '">' || ${e("obj_value")} || '</typedLiteral>'
       ELSE '<plainLiteral>' || ${e("obj_value")} || '</plainLiteral>' END
  || '</triple></graph>' AS line
FROM qd"""
  }

  /** Huviz 3-level BFS oracle: 3 iterated frontier⋈triples joins. */
  private lazy val quadsBfsQuery: String =
    BASE + s""", q0 AS ($quadSelect),
f0 AS (SELECT DISTINCT graph, obj_value AS subj FROM q0 WHERE obj_is_iri),
l1 AS (SELECT f.graph, t.subj, t.pred, t.obj_value, t.obj_is_iri, t.obj_lang, t.obj_dtype
       FROM f0 f JOIN all_triples t ON t.subj = f.subj),
f1 AS (SELECT DISTINCT graph, obj_value AS subj FROM l1 WHERE obj_is_iri),
l2 AS (SELECT f.graph, t.subj, t.pred, t.obj_value, t.obj_is_iri, t.obj_lang, t.obj_dtype
       FROM f1 f JOIN all_triples t ON t.subj = f.subj),
f2 AS (SELECT DISTINCT graph, obj_value AS subj FROM l2 WHERE obj_is_iri),
l3 AS (SELECT f.graph, t.subj, t.pred, t.obj_value, t.obj_is_iri, t.obj_lang, t.obj_dtype
       FROM f2 f JOIN all_triples t ON t.subj = f.subj)
SELECT DISTINCT * FROM (
  SELECT * FROM q0 UNION ALL SELECT * FROM l1
  UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3)"""

  /** kg_works_agents: the modsBib origin/agent record-shape oracle. */
  private lazy val worksAgentsQuery: String = {
    val rmapValues = graft.operators.Works.roleMap.zipWithIndex
      .map { case ((r, c), i) => s"($i,'$r','$c')" }.mkString(",")
    s"""
WITH rmap(i, role, code) AS (VALUES $rmapValues),
b AS (
  SELECT o_orderkey AS ok, o_custkey AS ck,
         CAST(o_orderdate AS VARCHAR) AS od, c_nationkey AS nk, r.role, r.code
  FROM orders JOIN customer ON c_custkey = o_custkey
              JOIN rmap r ON r.i = o_orderkey % 11),
b2 AS (
  SELECT *,
    '${Ns.work}' || CAST(ok AS VARCHAR) || '_activity_statement_0' AS origin_uri,
    '${Ns.work}' || CAST(ok AS VARCHAR) AS work_uri,
    '${Ns.person}' || CAST(ck AS VARCHAR) AS person_uri,
    'Customer#' || lpad(CAST(ck AS VARCHAR), 9, '0') AS cname,
    '${Ns.person}' || CAST(ck AS VARCHAR) || '_' || role AS agent_uri,
    '${Ns.role}' || code AS role_uri,
    'Publisher_' || CAST(ok % 7 AS VARCHAR) AS pub_name,
    '${Ns.kg}publisher/Publisher_' || CAST(ok % 7 AS VARCHAR) AS pub_uri,
    '${Ns.work}' || CAST(ok AS VARCHAR) || '_publisher_role_0' AS pubrole_uri,
    '${Ns.place}' || CAST(nk AS VARCHAR) AS place_uri
  FROM b)
SELECT DISTINCT * FROM (
  SELECT origin_uri AS subj, '${Ns.rdfType}' AS pred, '${Ns.tCreation}' AS obj_value,
         TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM b2
  UNION ALL SELECT origin_uri, '${Ns.hasType}', '${Ns.tProduction}', TRUE, '', '' FROM b2
  UNION ALL SELECT origin_uri, '${Ns.hasType}', '${Ns.tPublishing}', TRUE, '', '' FROM b2
  UNION ALL SELECT origin_uri, '${Ns.rdfsLabel}', 'creation of Work ' || CAST(ok AS VARCHAR), FALSE, 'en', '' FROM b2
  UNION ALL SELECT origin_uri, '${Ns.hasCreated}', work_uri, TRUE, '', '' FROM b2
  UNION ALL SELECT origin_uri, '${Ns.atSomeTimeWithin}', od, FALSE, '', '${Ns.xsdDate}' FROM b2
  UNION ALL SELECT person_uri, '${Ns.rdfsLabel}', cname, FALSE, '', '' FROM b2
  UNION ALL SELECT person_uri, '${Ns.rdfType}',
            CASE WHEN ck % 10 = 0 THEN '${Ns.tActor}' ELSE '${Ns.tPersonE21}' END, TRUE, '', '' FROM b2
  UNION ALL SELECT agent_uri, '${Ns.rdfsLabel}', cname || ' in role of ' || role, FALSE, 'en', '' FROM b2
  UNION ALL SELECT agent_uri, '${Ns.rdfType}', '${Ns.tPC14}', TRUE, '', '' FROM b2
  UNION ALL SELECT agent_uri, '${Ns.hasRange}', person_uri, TRUE, '', '' FROM b2
  UNION ALL SELECT agent_uri, '${Ns.inRoleOf}', role_uri, TRUE, '', '' FROM b2
  UNION ALL SELECT origin_uri, '${Ns.isDomainOf}', agent_uri, TRUE, '', '' FROM b2
  UNION ALL SELECT pub_uri, '${Ns.rdfType}', '${Ns.tActor}', TRUE, '', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT pub_uri, '${Ns.altLabel}', pub_name, FALSE, '', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT pub_uri, '${Ns.hasType}', '${Ns.role}pbl', TRUE, '', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT pubrole_uri, '${Ns.rdfsLabel}', pub_name || ' in the role of publisher', FALSE, 'en', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT pubrole_uri, '${Ns.rdfType}', '${Ns.tPC14}', TRUE, '', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT pubrole_uri, '${Ns.hasRange}', pub_uri, TRUE, '', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT pubrole_uri, '${Ns.inRoleOf}', '${Ns.role}pbl', TRUE, '', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT origin_uri, '${Ns.isDomainOf}', pubrole_uri, TRUE, '', '' FROM b2 WHERE ok % 4 <> 0
  UNION ALL SELECT origin_uri, '${Ns.tookPlaceAt}', place_uri, TRUE, '', '' FROM b2 WHERE ok % 5 <> 0
  UNION ALL SELECT place_uri, '${Ns.rdfType}', '${Ns.tPlace}', TRUE, '', '' FROM b2 WHERE ok % 5 <> 0
)"""
  }

  /** kg_labels: reviewTerms.py vocabulary-label lookup oracle. */
  private lazy val labelsQuery: String = {
    val vocabValues = graft.operators.Vocabulary.labels
      .map { case (u, l) => s"('$u','$l')" }.mkString(",")
    BASE + s""", vocab(uri, label) AS (VALUES $vocabValues),
duris AS (
  SELECT DISTINCT uri FROM (
    SELECT subj AS uri FROM all_triples
    UNION ALL
    SELECT obj_value FROM all_triples WHERE obj_is_iri)
  WHERE starts_with(uri, '${Ns.kg}type/') OR starts_with(uri, '${Ns.occ}'))
SELECT d.uri AS subj, '${Ns.rdfsLabel}' AS pred, v.label AS obj_value,
       FALSE AS obj_is_iri, 'en' AS obj_lang, '' AS obj_dtype
FROM duris d JOIN vocab v ON v.uri = d.uri"""
  }

  /** kg_citations: BIBCIT citation-node oracle (tool domain: the cleaned
    * placeholder suffix reduces to dropping the underscore). */
  private lazy val citationsQuery: String =
    BASE + s""", cit AS (
  SELECT conv_id, turn_idx, tool, CAST(substr(tool, 6) AS INT) AS k,
         replace(tool, '_', '') AS suffix
  FROM tr WHERE role = 'tool' AND tool <> ''),
c2 AS (
  SELECT *,
    CASE WHEN k >= 3 THEN '${Ns.work}' || CAST(k AS VARCHAR) || '_dbref_' || suffix
         ELSE '${Ns.kg}temp/dbref_' || tool END AS cite_uri,
    CASE WHEN k >= 3 THEN '${Ns.work}' || CAST(k AS VARCHAR)
         ELSE '${Ns.kg}temp/' || tool END AS citing_uri,
    '${Ns.conv}' || conv_id AS conv_uri
  FROM cit)
SELECT DISTINCT * FROM (
  SELECT conv_uri AS subj, '${Ns.refersTo}' AS pred, cite_uri AS obj_value,
         TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM c2
  UNION ALL SELECT cite_uri, '${Ns.rdfType}', '${Ns.tLinguisticObj}', TRUE, '', '' FROM c2
  UNION ALL SELECT cite_uri, '${Ns.rdfType}', '${Ns.tCitation}', TRUE, '', '' FROM c2
  UNION ALL SELECT cite_uri, '${Ns.rdfsLabel}', 'Citation for ' || conv_id, FALSE, 'en', '' FROM c2
  UNION ALL SELECT cite_uri, '${Ns.referredToBy}', citing_uri, TRUE, '', '' FROM c2
  UNION ALL SELECT cite_uri, '${Ns.symbolicContent}', CAST(turn_idx AS VARCHAR), FALSE, '', '' FROM c2
)"""

  /** kg_other_contexts: other_contexts.py identifying contexts + generic
    * activities oracle. Families/labels are the shared Scala constants. */
  private lazy val otherContextsQuery: String = {
    val fams = graft.operators.Profiles.otherFamilies
      .zip(graft.operators.Profiles.otherLabels).zipWithIndex
      .map { case ((f, l), i) => s"($i,'$f','$l')" }.mkString(",")
    BASE + s""", famv(i, fam, lab) AS (VALUES $fams),
oc AS (
  SELECT conv_id, turn_idx,
         CAST(substr(conv_id, 6) AS BIGINT) * 20 + turn_idx AS eid
  FROM tr),
oc2 AS (
  SELECT o.conv_id, o.turn_idx, f.fam, f.lab,
         row_number() OVER (PARTITION BY o.conv_id, f.fam ORDER BY o.turn_idx) AS n
  FROM oc o JOIN famv f ON f.i = CAST((o.eid // 23) % ${graft.operators.Profiles.otherFamilies.length} AS INT)
  WHERE o.eid % 23 = 0),
oc3 AS (
  SELECT *,
    '${Ns.ctx}' || conv_id || '_' || fam || 'Context_' || CAST(n AS VARCHAR) AS ctx_uri,
    replace('${Ns.ctx}' || conv_id || '_' || fam || 'Context_' || CAST(n AS VARCHAR),
            'Context', 'Event') || '_' || CAST(n AS VARCHAR) AS act_uri
  FROM oc2)
SELECT ctx_uri AS subj, '${Ns.rdfType}' AS pred, '${Ns.tContext}' AS obj_value,
       TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype FROM oc3
UNION ALL SELECT ctx_uri, '${Ns.rdfType}', '${Ns.kg}type/' || fam || 'Context', TRUE, '', '' FROM oc3
UNION ALL SELECT ctx_uri, '${Ns.pred}linksActivity', act_uri, TRUE, '', '' FROM oc3
UNION ALL SELECT act_uri, '${Ns.rdfType}', '${Ns.tActivity}', TRUE, '', '' FROM oc3
UNION ALL SELECT act_uri, '${Ns.rdfType}', '${Ns.kg}event/' || fam || 'Event', TRUE, '', '' FROM oc3
UNION ALL SELECT act_uri, '${Ns.rdfsLabel}', lab, FALSE, 'en', '' FROM oc3"""
  }

  /** PA dictionary rows for the retry chain (mirrors Dicts.paRows). */
  private val paDictValues = Dicts.paRows
    .flatMap { case (rid, term, alts) => alts.map(a => s"($rid,'$term','$a')") }
    .mkString(",")

  private lazy val extraQueries: Map[String, String] = Map(
    "kg_works_agents" -> worksAgentsQuery,
    "kg_labels" -> labelsQuery,
    "kg_citations" -> citationsQuery,
    "kg_other_contexts" -> otherContextsQuery,
    "kg_names" -> namesQuery,
    "kg_titles" -> titlesQuery,
    "kg_writing" -> writingQuery,
    "kg_lifeinfo" -> lifeinfoQuery,
    "kg_retry_chain" ->
      (BASE + s""", pa_dict_raw(row_id, term, alt) AS (VALUES $paDictValues),
pa_dict AS (SELECT ${stem("alt")} AS key, min_by(term, row_id) AS term
            FROM pa_dict_raw GROUP BY 1)
SELECT m.conv_id, m.turn_idx, m.surface,
  CASE WHEN p.term LIKE 'http%' THEN p.term
       WHEN p.term IS NOT NULL THEN 'ISO-3166-2:' || p.term
       ELSE COALESCE(s.term, m.surface) END AS obj_value,
  CASE WHEN p.term IS NOT NULL THEN 'primary'
       WHEN s.term IS NOT NULL THEN 'retry' ELSE 'literal' END AS source
FROM men m
LEFT JOIN occ_dict p ON ${stem("m.surface")} = p.key
LEFT JOIN pa_dict s ON ${stem("m.surface")} = s.key
WHERE m.kind = 'occupation'"""),
    "kg_grouped_attrs" ->
      (BASE + """SELECT conv_id, kind,
  string_agg(DISTINCT obj_value, '|' ORDER BY obj_value) AS vals,
  count(*) AS n_mentions
FROM emitting GROUP BY conv_id, kind"""),
    "kg_writer_acquaintances" ->
      (BASE + s"""SELECT DISTINCT '${Ns.conv}' || conv_id AS subj,
  '${Ns.pred}knowsWriter' AS pred, obj_value
FROM linked WHERE kind = 'person' AND lower(text) LIKE '%working as novel%'"""),
    "kg_org_types" ->
      (BASE + s""", orgs AS (
  SELECT obj_value AS org_uri, count(*) AS n FROM linked
  WHERE kind = 'org' AND matched GROUP BY 1)
SELECT org_uri,
  CASE WHEN n >= 3 THEN '${Ns.kg}type/MajorOrg' ELSE '${Ns.kg}type/Org' END AS type_uri
FROM orgs"""),
    "kg_top_unmapped" ->
      (BASE + """SELECT kind, surface, count(*) AS n FROM linked WHERE NOT matched
GROUP BY 1, 2 ORDER BY n DESC, kind, surface LIMIT 5"""),
    "kg_fuzzy_place" ->
      (BASE + s""", misses AS (
  SELECT conv_id, turn_idx, surface, ${cleanSimple("surface")} AS key
  FROM linked WHERE kind = 'place' AND NOT matched),
cands AS (
  SELECT m.conv_id, m.turn_idx, m.surface, d.uri,
         levenshtein(m.key, d.key) AS lev
  FROM misses m JOIN place_dict d ON levenshtein(m.key, d.key) <= 1),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx, surface
                               ORDER BY lev, uri) AS rn
  FROM cands)
SELECT conv_id, turn_idx, surface, uri, lev FROM ranked WHERE rn = 1"""),
    "kg_stoplist" ->
      (BASE + s"""SELECT DISTINCT conv_id, turn_idx, surface FROM linked
WHERE kind = 'occupation' AND surface NOT IN (${
        graft.operators.Extras.genericStoplist.map(w => s"'$w'").mkString(",")
      })"""),
    "kg_employer" ->
      (BASE + s"""SELECT DISTINCT '${Ns.conv}' || o.conv_id AS subj,
  '${Ns.pred}employedAt' AS pred, o.obj_value
FROM linked o JOIN linked c
  ON c.conv_id = o.conv_id AND c.turn_idx = o.turn_idx AND c.kind = 'occupation'
WHERE o.kind = 'org' AND o.matched"""),
    "kg_sample" ->
      (BASE + """SELECT conv_id, turn_idx, role, text, tool, ts FROM tr
WHERE CAST(substr(conv_id, 6) AS INT) % 10 = 0"""),
    "kg_works" -> s"""
WITH gmap AS (
  SELECT l_orderkey AS o_orderkey,
         list_sort(list_distinct(list(l_returnflag || l_linestatus))) AS genres
  FROM lineitem GROUP BY 1)
SELECT '${Ns.work}' || CAST(o_orderkey AS VARCHAR) AS subj,
       '${Ns.rdfType}' AS pred, '${Ns.tWork}' AS obj_value,
       TRUE AS obj_is_iri, '' AS obj_lang, '' AS obj_dtype
FROM orders
UNION ALL
SELECT '${Ns.work}' || CAST(o_orderkey AS VARCHAR), '${Ns.authoredBy}',
       '${Ns.person}' || CAST(o_custkey AS VARCHAR), TRUE, '', ''
FROM orders
UNION ALL
SELECT '${Ns.work}' || CAST(o.o_orderkey AS VARCHAR), '${Ns.hasGenre}',
       '${Ns.genre}' || g.genre, TRUE, '', ''
FROM orders o
JOIN (SELECT o_orderkey, unnest(genres) AS genre FROM gmap) g
  ON g.o_orderkey = o.o_orderkey
UNION ALL
SELECT '${Ns.work}' || CAST(o_orderkey AS VARCHAR), '${Ns.relatedWork}',
       '${Ns.work}' || CAST(prev AS VARCHAR), TRUE, '', ''
FROM (SELECT o_orderkey,
             lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev
      FROM orders)
WHERE prev IS NOT NULL""",
    "kg_family_placeholder" ->
      (BASE + s"""SELECT l.conv_id, l.turn_idx, l.midx,
  CASE WHEN l.turn_idx % 2 = 0 THEN 'mother' ELSE 'father' END AS relation,
  CASE WHEN d.gender <> (CASE WHEN l.turn_idx % 2 = 0 THEN 'female' ELSE 'male' END)
       THEN '${Ns.conv}' || l.conv_id || '_PLACEHOLDER_' ||
            (CASE WHEN l.turn_idx % 2 = 0 THEN 'mother' ELSE 'father' END)
       ELSE l.obj_value END AS member_uri
FROM linked l JOIN people_dict d ON d.uri = l.obj_value
WHERE l.kind = 'person' AND l.matched"""),
    "kg_ttl_lines" -> ttlQuery,
    // N3 ⊇ Turtle for plain graphs — the N3 exporter shares the Turtle
    // renderer, so its oracle IS the Turtle oracle
    "kg_n3_lines" -> ttlQuery,
    "kg_trix_lines" -> trixQuery,
    "kg_quads_bfs" -> quadsBfsQuery,
    "kg_nt_lines" ->
      (BASE + """SELECT '<' || subj || '> <' || pred || '> ' ||
  CASE WHEN obj_is_iri THEN '<' || obj_value || '>'
       WHEN obj_lang <> '' THEN '"' || obj_value || '"@' || obj_lang
       WHEN obj_dtype <> '' THEN '"' || obj_value || '"^^<' || obj_dtype || '>'
       ELSE '"' || obj_value || '"' END || ' .' AS line
FROM all_triples"""))

  /** Streaming queries reuse the batch oracles — streaming/batch parity IS
    * the check. */
  private val streamQueries: Map[String, String] = Map(
    "stream_mentions" ->
      (BASE + "SELECT conv_id, turn_idx, kind, midx, surface FROM men"),
    // streaming broadcast-link ≡ the batch linked frame
    "stream_linked" ->
      (BASE + """SELECT conv_id, turn_idx, kind, midx, surface, matched,
                 obj_value, obj_is_iri, obj_lang, obj_dtype FROM linked"""))
}
