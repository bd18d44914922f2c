package graft

import graft.functions.Fns
import graft.io.NTriples
import graft.model.Triple
import org.apache.spark.sql.functions._

/** N-Triples round-trip (S5/K2) + the sentence-budget helper. */
class NTriplesSpec extends SparkSpec {
  import spark.implicits._

  test("export → parse round-trips the emitted triple subset exactly") {
    // the pipeline graph plus literals that exercise every escape, the
    // statement separators and '<>' inside quotes, empty and typed values
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    val edge = Seq("say \"hi\"", "back\\slash", "a\\nb not a newline",
      "line\nbreak", "tab\there", "cr\rhere", "a . b", "a ; b", "<not an iri>",
      "ends with \\", "")
      .zipWithIndex.flatMap { case (v, i) => Seq(
        Triple(s"http://ex.org/s$i", "http://ex.org/p", v, false, "", ""),
        Triple(s"http://ex.org/s$i", "http://ex.org/p", v, false, "en-GB", ""),
        Triple(s"http://ex.org/s$i", "http://ex.org/p", v, false, "", xsd + "string")) }
    val triples = new Pipeline(spark, sfDir).triples.unionAll(edge.toDS().toDF())
    val tr = triples.as[Triple].collect().toSet
    val lines = NTriples.export(triples)
    val back = NTriples.parse(lines).as[Triple].collect().toSet
    assert(back == tr)
  }

  test("NTriples.parse launches no job before an action") {
    val dir = java.nio.file.Files.createTempDirectory("graftnt").toString
    val t = Seq(Triple("http://ex.org/s", "http://ex.org/p", "o", false, "en", "")).toDS()
    NTriples.export(t.toDF()).write.mode("overwrite").text(dir)
    val lines = spark.read.text(dir).toDF("line")
    var parsed: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { parsed = NTriples.parse(lines) } == 0)
    assert(parsed.as[Triple].collect().toSeq == t.collect().toSeq)
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
}
