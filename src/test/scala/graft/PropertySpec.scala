package graft

import graft.functions.Fns
import org.apache.spark.sql.functions._
import scala.util.Random

/** Property-style randomized tests (seeded, 200 cases each): the Column
  * implementations must agree with direct Scala ports of the reference's
  * Python functions on arbitrary inputs — not just the curated cases.
  * (SURVEY.md §5 test plan item 3.)
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)
  private def word() = Seq.fill(1 + rnd.nextInt(8))(
    ('a' + rnd.nextInt(26)).toChar).mkString
  private def sentence() = Seq.fill(1 + rnd.nextInt(12))(word())
    .mkString(" " * (1 + rnd.nextInt(3)))

  /** Direct port of utilities.py:242-263. */
  private def limitWordsRef(s: String, n: Int): String = {
    val text = s.split("\\s+").filter(_.nonEmpty).mkString(" ")
    val words = text.split(" ", -1)
    val kept = words.take(n).mkString(" ")
    if (words.length > n) kept + "..." else kept
  }

  /** Direct port of culturalForm.py:513-521. */
  private def cleanTermRef(s0: String): String = {
    var s = s0.toLowerCase.replace("-", " ").trim.replace(" ", "")
    if (s.takeRight(1) == "s") s = s.dropRight(1)
    if (Seq("ism", "ist", "ing").contains(s.takeRight(3))) s = s.dropRight(3)
    if (s.takeRight(2) == "er") s = s.dropRight(2)
    s
  }

  test("conv ids of 10⁶ and up round-trip through convOf and the twin's regexp_extract") {
    // the fixture's 50 conversations, shifted below 10⁶, across it and to
    // nine digits
    val base = spark.read.parquet(s"$sfDir/events.parquet")
    val events = Seq(0L, 1000000L - 25, 123456789L)
      .map(c => base.withColumn("event_id", col("event_id") + c * 20))
      .reduce(_ unionByName _)
    val tr = sources.SynthTranscripts.project(events).localCheckpoint()
    // at least six digits, never truncated: below 10⁶ the lpad-6 spelling
    val want = events.select(expr("event_id DIV 20")).distinct().as[Long]
      .collect().map(n => f"conv_$n%06d").toSet
    assert(want.exists(_.length == 12) && want.exists(_.length == 14))
    assert(tr.select("conv_id").distinct().as[String].collect().toSet == want)
    // every subject the emitters mint from them
    val linked = operators.Link.linkAll(spark, sfDir, operators.Mentions.extract(tr))
    val got = operators.Emit.allTriples(spark, sfDir, tr, linked)
      .select(col("subj")).distinct()
      .select(Fns.convOf(col("subj")), regexp_extract(col("subj"), "(conv_[0-9]+)", 1))
      .as[(String, String)].collect()
    val differ = got.filter { case (a, b) => a != b }
    assert(differ.isEmpty, differ.take(3).mkString(", "))
    assert(got.map(_._1).filter(_.nonEmpty).toSet == want)
  }

  test("limitWords ≡ python port on 200 random whitespaced sentences") {
    val cases = Seq.fill(200)((sentence(), 1 + rnd.nextInt(10)))
    val df = cases.toDF("s", "n")
    // evaluate per distinct n to keep limitWords' Int argument literal
    cases.map(_._2).distinct.foreach { n =>
      val got = df.filter(col("n") === n)
        .select(col("s"), Fns.limitWords(col("s"), n)).as[(String, String)]
        .collect()
      got.foreach { case (s, out) =>
        assert(out == limitWordsRef(s, n), s"limitWords('$s', $n)")
      }
    }
  }

  test("cleanTerm ≡ python port on 200 random tokens (incl. -, case, suffixes)") {
    val suffixes = Seq("", "s", "ism", "ist", "ing", "er", "ers", "-like")
    val cases = Seq.fill(200)(
      (if (rnd.nextBoolean()) word().capitalize else word()) +
        suffixes(rnd.nextInt(suffixes.length)))
    val got = cases.toDF("s").select(col("s"), Fns.cleanTerm(col("s")))
      .as[(String, String)].collect()
    got.foreach { case (s, out) =>
      assert(out == cleanTermRef(s), s"cleanTerm('$s')")
    }
  }

  /** Direct port of utilities.py:266-281 (the fold inside
    * Fns.limitToFullSentences) + the context.py:277-281 replace chain. */
  private def ltfsRef(s0: String, mx: Int): String = {
    val s = s0.trim
    if (s.isEmpty) return s
    var acc = ""
    for (x <- s.split("\\.", -1)) {
      val cand = acc + x.trim
      val withDot = if (cand.endsWith(".")) cand else cand + "."
      if (acc.split(" ", -1).length - 1 < mx) acc = withDot
    }
    acc.replaceAll("\\.  \\.", ". ")
  }
  private def snippetRef(s: String): String =
    ltfsRef(s, Fns.SnippetMaxWords)
      .replace("\n", " ").replace(".", ". ").replace("  ", " ").trim

  test("snippet chain ≡ python port on 200 random multi-sentence texts") {
    def sent() = Seq.fill(1 + rnd.nextInt(18))(word()).mkString(" ")
    val cases = Seq.fill(200) {
      val n = 1 + rnd.nextInt(4)
      Seq.fill(n)(sent()).mkString(".", ". ", ".")
        .drop(1) + (if (rnd.nextBoolean()) "\nextra line" else "")
    }
    val got = cases.toDF("s")
      .select(col("s"), Fns.snippet(col("s"))).as[(String, String)].collect()
    got.foreach { case (s, out) =>
      assert(out == snippetRef(s), s"snippet(${s.take(80)}...)")
    }
  }

  test("union-distinct is commutative and idempotent on random triple sets") {
    val t = new Pipeline(spark, sfDir).triples.limit(500)
    val a = t.sample(withReplacement = true, 0.5, seed = 1)
    val b = t.sample(withReplacement = true, 0.5, seed = 2)
    val ab = a.unionAll(b).distinct()
    val ba = b.unionAll(a).distinct()
    assert(ab.exceptAll(ba).isEmpty && ba.exceptAll(ab).isEmpty)
    assert(ab.unionAll(ab).distinct().count() == ab.count())
  }

  test("Turtle export→parse round-trips 200 adversarial random literals") {
    // literal alphabet deliberately includes every character the
    // exporter escapes or the lexer treats as a separator
    val nasty = Seq('"', '\\', '\n', '\r', '\t', ';', '.', '<', '>', '@',
      '^', ' ', 'é', 'ж', 'a', 'b', '0')
    def lit0() = Seq.fill(rnd.nextInt(20))(
      nasty(rnd.nextInt(nasty.length))).mkString
    val triples = (0 until 200).map { i =>
      val kind = rnd.nextInt(3)
      val obj = kind match {
        case 0 => (lit0(), false, "", "")
        case 1 => (lit0(), false, "en", "")
        case 2 => (lit0(), false, "", graft.model.Ns.xsdString)
      }
      model.Triple(
        graft.model.Ns.person + s"p$i",
        graft.model.Ns.pred + word(),
        obj._1, obj._2, obj._3, obj._4)
    } :+ model.Triple(graft.model.Ns.person + "px",
      graft.model.Ns.pred + "knows", graft.model.Ns.person + "py",
      true, "", "")
    val df = triples.toDS().toDF()
    val back = graft.io.TurtleParse.parse(graft.io.Turtle.export(df))
      .as[model.Triple].collect().toSet
    assert(back == triples.toSet)
  }
}
