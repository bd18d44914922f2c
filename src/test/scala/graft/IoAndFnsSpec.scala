package graft

import graft.functions.Fns
import graft.io.NTriples
import graft.model.Triple
import org.apache.spark.sql.functions._

/** N-Triples round-trip (S5/K2) + sentence-budget / date-cascade helpers. */
class NTriplesSpec extends SparkSpec {
  import spark.implicits._

  test("export → parse round-trips the emitted triple subset exactly") {
    val triples = new Pipeline(spark, sfDir).triples
    val tr = triples.as[Triple].collect().toSet
    val lines = NTriples.export(triples)
    val back = NTriples.parse(lines).as[Triple].collect().toSet
    assert(back == tr)
  }

  test("mergeInto unions fixture triples with set semantics (S5)") {
    val g = Seq(Triple("s1", "p", "o", true, "", "")).toDS().toDF()
    val nt = Seq(
      """<s2> <p> "lit with \"quote\""@en .""",
      """<s1> <p> <o> .""", // duplicate of g after parse
      "garbage line").toDF("line")
    val merged = NTriples.mergeInto(g, nt).as[Triple].collect().toSet
    assert(merged == Set(
      Triple("s1", "p", "o", true, "", ""),
      Triple("s2", "p", "lit with \"quote\"", false, "en", "")))
  }

  test("Turtle export → TurtleParse round-trips the pipeline graph (S5 widened)") {
    val triples = new Pipeline(spark, sfDir).triples
    val tr = triples.as[Triple].collect().toSet
    val back = graft.io.TurtleParse.parse(graft.io.Turtle.export(triples))
      .as[Triple].collect().toSet
    assert(back == tr)
  }

  test("TurtleParse handles separators inside literals, escapes, prefixes") {
    val ttl = Seq(
      "@prefix ex: <http://ex.org/> .",
      "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .",
      // ' ; ' and ' . ' INSIDE the literal must not split terms
      """ex:s ex:p "a ; b . c" ; ex:q "tab\there \"q\" back\\slash"@en .""",
      """<http://ex.org/s2> ex:n "42"^^xsd:int ; ex:o ex:t .""",
      "not a statement").toDF("line")
    val got = graft.io.TurtleParse.parse(ttl).as[Triple].collect().toSet
    assert(got == Set(
      Triple("http://ex.org/s", "http://ex.org/p", "a ; b . c", false, "", ""),
      Triple("http://ex.org/s", "http://ex.org/q",
        "tab\there \"q\" back\\slash", false, "en", ""),
      Triple("http://ex.org/s2", "http://ex.org/n", "42", false, "",
        "http://www.w3.org/2001/XMLSchema#int"),
      Triple("http://ex.org/s2", "http://ex.org/o", "http://ex.org/t", true, "", "")))
  }
}

class SentenceAndDateSpec extends SparkSpec {
  private def evalStr(c: org.apache.spark.sql.Column): String =
    spark.range(1).select(c.cast("string")).collect()(0).getString(0)

  test("limitToFullSentences replays utilities.py:266-281 semantics") {
    // python reference behavior, replayed by hand:
    // "One two three. Four five six. Seven." max=4 →
    //   acc="" (0 spaces<4) + "One two three" + "." → "One two three."
    //   acc has 2 spaces<4 → + "Four five six." → "One two three.Four five six."
    //   acc has 5 spaces ≥4 → stop
    assert(evalStr(Fns.limitToFullSentences(
      lit("One two three. Four five six. Seven."), 4))
      == "One two three.Four five six.")
    assert(evalStr(Fns.limitToFullSentences(lit("   "), 5)) == "")
    assert(evalStr(Fns.limitToFullSentences(lit("Short."), 10)) == "Short.")
  }

  test("dateParseCascade accepts the format family, null on junk (F9)") {
    def p(s: String) = spark.range(1)
      .select(Fns.dateParseCascade(lit(s)).cast("string")).collect()(0).getString(0)
    // the full activity.py:82-169 strptime family, incl. the Orlando
    // trailing-dash variants
    assert(p("1891-05-03") == "1891-05-03 00:00:00")
    assert(p("1891-05-03-") == "1891-05-03 00:00:00")
    assert(p("1891-05") == "1891-05-01 00:00:00")
    assert(p("1891-05-") == "1891-05-01 00:00:00")
    assert(p("1891-05--") == "1891-05-01 00:00:00")
    assert(p("1891") == "1891-01-01 00:00:00")
    assert(p("1891-") == "1891-01-01 00:00:00")
    assert(p("1891--") == "1891-01-01 00:00:00")
    assert(p("May 1891") == "1891-05-01 00:00:00")
    assert(p("3 May 1891") == "1891-05-03 00:00:00")
    assert(p("Jun 1891") == "1891-06-01 00:00:00")
    assert(p("3 Jun 1891") == "1891-06-03 00:00:00")
    assert(p("not a date") == null)
  }
}
