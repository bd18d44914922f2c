package graft.io

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Turtle and N-Triples text import (S5 — the reference parses
  * `additional_triples.ttl` fixture files back into the graph,
  * `Utils/utilities.py:546-556`, `Biography/combineTriples.py:90-137`).
  *
  * Covers the grouped-statement Turtle subset our own `Turtle.export`
  * emits — `@prefix` headers, `s p1 o1 ; p2 o2 .` statements, prefixed
  * names or `<iri>` terms, and literals with the full escape set plus
  * optional `@lang` / `^^datatype` suffixes. N-Triples is the subset of
  * that with no prefixes and one triple per line, so `NTriples.parse` is
  * this lexer too.
  *
  * Design: `@prefix` directives are GLOBAL state, so they are collected
  * driver-side first (a handful of rows — the header block) and shipped
  * with the per-line lexer (`lex`); N-Triples has none and skips that
  * pass, so its parse launches no job before an action. Statement lexing
  * is genuinely imperative (a `;` or `>` inside a quoted literal must not
  * split terms), which is the documented last-resort case for
  * `mapPartitions`: a small allocation-light scanner per line, no driver
  * loops, no shuffle — the parse stays a narrow per-partition map over
  * the text.
  */
object TurtleParse {

  private val outSchema = StructType(Seq(
    StructField("subj", StringType, nullable = false),
    StructField("pred", StringType, nullable = false),
    StructField("obj_value", StringType, nullable = false),
    StructField("obj_is_iri", BooleanType, nullable = false),
    StructField("obj_lang", StringType, nullable = false),
    StructField("obj_dtype", StringType, nullable = false)))

  private val PrefixLine = """@prefix\s+([A-Za-z][\w-]*):\s+<([^>]*)>\s*\.""".r

  /** Lex one statement line into raw term tokens, honouring quotes.
    * Tokens: `<iri>`, `"literal..."[@lang|^^type]`, prefixed names, and
    * the separators `;` / `.` (kept as 1-char tokens). */
  private def tokens(line: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    val n = line.length
    var i = 0
    while (i < n) {
      val c = line.charAt(i)
      if (c == ' ' || c == '\t') i += 1
      else if (c == '<') { // IRI ref — no escapes inside our subset
        val end = line.indexOf('>', i)
        val stop = if (end < 0) n - 1 else end
        out += line.substring(i, stop + 1); i = stop + 1
      } else if (c == '"') { // literal — scan past backslash escapes,
        var j = i + 1 // then swallow any @lang / ^^<type> / ^^pfx:type tail
        // escape PAIRS are skipped atomically, so the scan can never stop
        // inside one — a bare '"' is always the true closing quote
        while (j < n && line.charAt(j) != '"') {
          if (line.charAt(j) == '\\') j += 1 // skip the escaped char
          j += 1
        }
        var k = math.min(j + 1, n)
        if (k < n && line.charAt(k) == '@') {
          while (k < n && line.charAt(k) != ' ') k += 1
        } else if (k + 1 < n && line.charAt(k) == '^' && line.charAt(k + 1) == '^') {
          while (k < n && line.charAt(k) != ' ') k += 1
        }
        out += line.substring(i, k); i = k
      } else if (c == ';' || c == '.') { out += c.toString; i += 1 }
      else { // prefixed name
        var j = i
        while (j < n && line.charAt(j) != ' ' && line.charAt(j) != ';') j += 1
        // a trailing '.' ends the statement, not the name
        var stop = j
        if (stop > i && line.charAt(stop - 1) == '.') stop -= 1
        if (stop > i) out += line.substring(i, stop)
        i = if (stop < j) stop else j
      }
    }
    out.result()
  }

  private def unescape(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => b += '\n'; case 'r' => b += '\r'; case 't' => b += '\t'
          case other => b += other // covers \" and \\
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** Resolve a term token to a full IRI (None = not an IRI token). */
  private def iriOf(tok: String, pfx: Map[String, String]): Option[String] =
    if (tok.startsWith("<") && tok.endsWith(">"))
      Some(tok.substring(1, tok.length - 1))
    else tok.indexOf(':') match {
      case sep if sep > 0 =>
        pfx.get(tok.substring(0, sep)).map(_ + tok.substring(sep + 1))
      case _ => None
    }

  /** Turtle lines → triple table (the exporter's subset; lines that don't
    * lex into full triples are dropped, matching the reference's lenient
    * fixture merge). */
  def parse(lines: DataFrame): DataFrame = {
    // header pass: the @prefix block is config-sized — filter BEFORE the
    // collect so only directive rows ever reach the driver
    val pfx = lines.select("line")
      .filter(col("line").startsWith("@prefix")).collect().iterator
      .map(_.getString(0)).collect {
        case PrefixLine(p, ns) => p -> ns
      }.toMap
    lex(lines, pfx)
  }

  /** The statement lines of `lines` → triple table, prefixed names
    * resolved through `pfx`; a narrow per-partition map, no job. */
  private[io] def lex(lines: DataFrame, pfx: Map[String, String]): DataFrame = {
    val rows: Dataset[Row] = lines.select("line")
      .filter(!col("line").startsWith("@prefix"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val ts = tokens(r.getString(0))
          if (ts.length < 3) Iterator.empty
          else iriOf(ts.head, pfx) match {
            case None => Iterator.empty
            case Some(subj) =>
              // ts.tail = p o (';' p o)* '.'
              ts.tail.grouped(3).flatMap { g =>
                if (g.length < 2) None
                else for {
                  pred <- iriOf(g(0), pfx)
                  obj = g(1)
                  row <- objOf(obj, pfx).map { case (v, isIri, lang, dt) =>
                    Row(subj, pred, v, isIri, lang, dt)
                  }
                } yield row
              }
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    rows.toDF()
  }

  /** Object token → (value, is_iri, lang, dtype). */
  private def objOf(tok: String, pfx: Map[String, String])
      : Option[(String, Boolean, String, String)] =
    if (tok.startsWith("\"")) {
      val close = { // closing quote (escape pairs skipped atomically)
        var j = 1
        while (j < tok.length && tok.charAt(j) != '"') {
          if (tok.charAt(j) == '\\') j += 1
          j += 1
        }
        j
      }
      if (close >= tok.length) None
      else {
        val v = unescape(tok.substring(1, close))
        val tail = tok.substring(close + 1)
        if (tail.startsWith("@")) Some((v, false, tail.substring(1), ""))
        else if (tail.startsWith("^^"))
          iriOf(tail.substring(2), pfx).map(dt => (v, false, "", dt))
        else Some((v, false, "", ""))
      }
    } else iriOf(tok, pfx).map(iri => (iri, true, "", ""))
}
