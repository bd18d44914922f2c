package graft.io

import graft.model.Ns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Turtle text export (K2 — the reference's DEFAULT serialization format,
  * `Utils/utilities.py:497-509` + format list at `utilities.py:807-808`):
  * an @prefix header block plus one grouped-by-subject statement line per
  * subject (`s p1 o1 ; p2 o2 .`), predicates sorted for determinism.
  *
  * Prefix application: longest-namespace match; a local name containing '/'
  * is not prefixable in Turtle, so such IRIs fall back to <...> form. The
  * prefix table is shared with the DuckDB oracle (config data, like Ns).
  *
  * Scale: one groupBy(subject) shuffle — the only way to produce grouped
  * statements; everything else is codegen'd string projection.
  */
object Turtle {

  /** (prefix, namespace) — one entry per minted sub-namespace so local
    * names never contain '/'. */
  val prefixes: Seq[(String, String)] = Seq(
    "conv"   -> Ns.conv,
    "ctx"    -> Ns.ctx,
    "act"    -> Ns.act,
    "place"  -> Ns.place,
    "person" -> Ns.person,
    "org"    -> Ns.org,
    "occ"    -> Ns.occ,
    "work"   -> Ns.work,
    "genre"  -> Ns.genre,
    "pred"   -> Ns.pred,
    "typ"    -> (Ns.kg + "type/"),
    "temp"   -> (Ns.kg + "temp/"),
    "kg"     -> Ns.kg,
    "viaf"   -> Ns.viaf,
    "rdf"    -> "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs"   -> "http://www.w3.org/2000/01/rdf-schema#",
    "owl"    -> "http://www.w3.org/2002/07/owl#",
    "xsd"    -> "http://www.w3.org/2001/XMLSchema#")

  /** Longest-first match order (kg is a prefix of its sub-namespaces). */
  private val byLength = prefixes.sortBy { case (_, ns) => -ns.length }

  val headerLines: Seq[String] =
    prefixes.map { case (p, ns) => s"@prefix $p: <$ns> ." }

  /** prefix keyed by full namespace string — one static literal map. */
  private val prefixOfNs: Column =
    map(prefixes.flatMap { case (p, ns) => Seq(lit(ns), lit(p)) }: _*)

  /** IRI → prefixed name, or <iri> when no prefix fits / '/' in local name.
    *
    * Semantically the longest-first fold over `byLength`
    * (startsWith(ns) && no '/' in the remainder), but evaluated as TWO
    * candidate splits + map lookups instead of 18 per-row
    * startsWith/substr/contains chains (hot-path expression cost — the
    * chain scanned the shared "http://…" bytes of every namespace per
    * branch): every registered namespace ends in '/' or '#', so the only
    * split points the fold can ever accept are the character after the
    * IRI's LAST '#' (remainder must still be '/'-free — checked) and the
    * character after its LAST '/' (remainder '/'-free by construction).
    * The '#' candidate is the longer one when both exist, preserving
    * longest-match order. Map equality checks are length-first, so the 18
    * comparisons are O(1) for all but the one candidate namespace. */
  def term(c: Column): Column = {
    val hashLocal  = substring_index(c, "#", -1)
    val hashNs     = c.substr(lit(1), length(c) - length(hashLocal))
    val slashLocal = substring_index(c, "/", -1)
    val slashNs    = c.substr(lit(1), length(c) - length(slashLocal))
    val p1 = element_at(prefixOfNs, hashNs)
    val p2 = element_at(prefixOfNs, slashNs)
    when(c.contains("#") && p1.isNotNull && !hashLocal.contains("/"),
        concat(p1, lit(":"), hashLocal))
      .when(p2.isNotNull, concat(p2, lit(":"), slashLocal))
      .otherwise(concat(lit("<"), c, lit(">")))
  }

  /** DuckDB mirror of NTriples.escapeLit (same replace order: \\ first, then ",
    * \n, \r, \t) — keeps the oracle's serialization well-formed for ANY
    * literal value domain, not just the control-char-free one. */
  def escLitSql(e: String): String =
    s"replace(replace(replace(replace(replace($e, chr(92), chr(92)||chr(92)), " +
      s"chr(34), chr(92)||chr(34)), chr(10), chr(92)||'n'), " +
      s"chr(13), chr(92)||'r'), chr(9), chr(92)||'t')"

  /** DuckDB mirror of JsonLd.esc (backslash then quote). */
  def escJsonSql(e: String): String =
    s"replace(replace($e, chr(92), chr(92)||chr(92)), chr(34), chr(92)||chr(34))"

  /** DuckDB mirror of RdfXml.escXml (& first, then < > "). */
  def escXmlSql(e: String): String =
    s"replace(replace(replace(replace($e, '&', '&amp;'), '<', '&lt;'), " +
      s"'>', '&gt;'), chr(34), '&quot;')"

  /** The same CASE chain as `term`, in DuckDB SQL (for the oracle). */
  def termSql(e: String): String =
    byLength.foldRight(s"('<' || $e || '>')") { case ((p, ns), els) =>
      val rest = s"substr($e, ${ns.length + 1})"
      s"(CASE WHEN starts_with($e, '$ns') AND strpos($rest, '/') = 0 " +
        s"THEN '$p:' || $rest ELSE $els END)"
    }

  /** Triple table → one-column ("line") Turtle text: header lines ∪ one
    * sorted grouped statement per subject. */
  def export(triples: DataFrame): DataFrame = {
    val spark = triples.sparkSession
    import spark.implicits._
    val statements = triples
      .select(term(col("subj")).as("s"),
        concat(term(col("pred")), lit(" "), NTriples.obj(term)).as("po"))
      .groupBy("s")
      .agg(array_join(array_sort(collect_list(col("po"))), " ; ").as("pos"))
      .select(concat(col("s"), lit(" "), col("pos"), lit(" .")).as("line"))
    headerLines.toDF("line").unionAll(statements)
  }
}
