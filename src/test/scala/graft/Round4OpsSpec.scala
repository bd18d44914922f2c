package graft

import graft.model.Ns
import graft.operators.Families
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Hand-checked specs for the round-4 families (gender, per-relation family
  * predicates, cause-of-death, title refs, Writer Oeuvre). */
class Round4OpsSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2024-01-01 10:00:00")

  private def tr(rows: (String, Int, String, String, String)*) =
    rows.map { case (c, t, r, x, tool) => (c, t, r, x, tool, ts) }
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  test("family predicates: verbatim-map quirks drive the placeholder branch") {
    // familyMap replays the CSV verbatim: BROTHER carries ' MALE' (leading
    // space) and several relations the literal 'None' — neither can ever
    // equal an uppercased writer sex, so those relations ALWAYS take the
    // placeholder for dictionary-known members
    assert(Families.familyMap.find(_._1 == "BROTHER").get._3 == " MALE")
    assert(Families.familyMap.find(_._1 == "CHILD").get._3 == "None")
    assert(Families.familyMap.length == 28)
    // composed over a synthetic linked frame: matched person with a
    // conflicting sex → placeholder; unknown person → minted URI kept
    val linked = Seq(
      ("conv_000001", 0, "person", 0, "Customer#000000002", true,
        Ns.person + "2", true, "", ""),
      ("conv_000001", 1, "person", 0, "Customer#000000999", false,
        Ns.kg + "temp/Customer000000999", true, "", ""))
      .toDF("conv_id", "turn_idx", "kind", "midx", "surface", "matched",
        "obj_value", "obj_is_iri", "obj_lang", "obj_dtype")
    val got = Families.familyTriples(spark, sfDir, linked)
      .as[model.Triple].collect()
    // eid=20: relIdx (20*3+0)%28 = 4 → DAUGHTER/FEMALE; person 2 gender:
    // custkey 2 DIV 2 = 1 odd → male → conflict → placeholder
    val conv = Ns.conv + "conv_000001"
    assert(got.contains(model.Triple(conv, Ns.pred + "daughter",
      conv + "_PLACEHOLDER_daughter", true, "", "")))
    // eid=21: relIdx 63%28 = 7 → GRANDDAUGHTER; unknown member unchanged
    assert(got.contains(model.Triple(conv, Ns.pred + "grandDaughter",
      Ns.kg + "temp/Customer000000999", true, "", "")))
  }

  test("cause-of-death: URIRef, category-literal, and fallback branches") {
    val t = tr(
      ("c1", 0, "user", "x while discussing syphilis.", ""),
      ("c1", 1, "user", "x while discussing miscarriage.", ""),
      ("c1", 2, "user", "x while discussing gardening.", ""),
      ("c1", 3, "user", "no cause here.", ""))
    val got = Families.deathCauses(t).as[model.Triple].collect().toSet
    val conv = Ns.conv + "c1"
    assert(got.contains(model.Triple(conv, Ns.causeOfDeath,
      "http://id.lincsproject.ca/ii/VenerealDisease", true, "", "")))
    assert(got.contains(model.Triple(conv, Ns.causeOfDeath,
      "Pregnancy_or_childbirth", false, "", Ns.xsdString)))
    assert(got.contains(model.Triple(conv, Ns.causeOfDeath,
      "gardening", false, "", Ns.xsdString)))
    assert(got.size == 3)
  }

  test("cause-of-death near-miss: adoption → abortion at levenshtein 2") {
    val t = tr(("c1", 0, "user", "x while discussing adoption.", ""))
    val nm = Families.codNearMiss(t)
      .select("cause", "candidate", "lev").as[(String, String, Int)].collect()
    assert(nm.contains(("adoption", "abortion", 2)))
  }

  test("title refs: seen-dedup, dbref-less skip, matched/unmatched split") {
    val t = tr(
      // conv a: first bibcit tool_3 → dbref 3 → ref title Title_6
      ("a", 0, "user", "reading Title_6.", ""),
      ("a", 1, "user", "reading Title_6.", ""), // titles_seen dedup
      ("a", 2, "user", "reading Title_8.", ""), // ≠ Title_6 → unmatched
      ("a", 3, "tool", "cite.", "tool_3"),
      ("a", 4, "tool", "cite.", "tool_4"), // not first — ignored
      // conv b: bibcit without dbref (k<3) → rows SKIPPED entirely
      ("b", 0, "user", "reading Title_2.", ""),
      ("b", 1, "tool", "cite.", "tool_1"),
      // conv c: no bibcit at all → unmatched
      ("c", 0, "user", "reading Title_4.", ""))
    val got = Families.titleRefs(t)
      .as[(String, String, String, Int)].collect().toSet
    assert(got == Set(
      ("a", "Title_6", "matched", 3),
      ("a", "Title_8", "unmatched", -1),
      ("c", "Title_4", "unmatched", -1)))
  }

  test("closure: driver union-find ≡ iterative min-label propagation") {
    // chains, a star, a singleton edge, and two disjoint components —
    // incl. a merge where the min label arrives via the LATER union
    val edges = Seq(
      ("n5", "n4"), ("n4", "n3"), ("n3", "n2"), ("n2", "n1"),
      ("hub", "s1"), ("hub", "s2"), ("hub", "s3"), ("s3", "a0"),
      ("x2", "x1"), ("z9", "z8")).toDF("a", "b")
    val fast = operators.SameAs.closure(edges)
      .as[(String, String)].collect().toSet
    val iter = operators.SameAs.closureIterative(edges)
      .as[(String, String)].collect().toSet
    assert(fast == iter, s"driver=$fast iterative=$iter")
    assert(fast.contains(("n5", "n1")) && fast.contains(("hub", "a0")))
  }

  test("closure: large-star/small-star ≡ driver union-find on long chains, a big star, a zigzag, self-loops, duplicates") {
    val rnd = new scala.util.Random(7)
    // names in no order along the chain: min-label propagation needs passes
    // linear in the chain there, large-star/small-star rounds logarithmic
    def chain(n: Int, tag: String) = {
      val names = rnd.shuffle((0 until n).toVector).map(i => f"$tag$i%05d")
      names.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    // "star_h" sorts after every leaf: the hub is not the least node
    val star = (1 to 3000).map(i => ("star_h", f"star_$i%04d"))
    // every lower endpoint starts as a local minimum, so the first large
    // star changes nothing and only the small star's flags keep it going
    val zigzag = (0 until 50).flatMap(i =>
      Seq((f"z$i%02d", f"r$i%02d"), (f"z$i%02d", f"r${i + 1}%02d")))
    val odd = Seq(("self", "self"), // a node with only a self-loop
      ("d1", "d2"), ("d1", "d2"), ("d2", "d1"), ("d3", "d2"), ("d2", "d3"))
    val chains = Seq(100, 400, 5000)
      .map(n => (s"chain$n", chain(n, s"c${n}_"), Some(n)))
    val cases = chains ++
      Seq(("star", star, None), ("zigzag", zigzag, None), ("odd", odd, None))
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try for (parts <- Seq("1", "3")) {
      spark.conf.set(key, parts)
      for ((name, es, chainLen) <- cases) {
        val edges = es.toDF("a", "b")
        val fast = operators.SameAs.closure(edges)
          .as[(String, String)].collect().toSet
        val (iterDf, rounds) = operators.SameAs.starClosure(edges)
        val iter = iterDf.as[(String, String)].collect().toSet
        val wrong = (iter -- fast).size + (fast -- iter).size
        assert(wrong == 0, s"$name at $parts partitions: $wrong " +
          s"(node, canon) pairs in one map only (${fast.size} nodes), e.g. " +
          (iter -- fast).take(3).mkString(", "))
        // rounds grow with the log of a chain: ≈3 more per 10× length
        chainLen.foreach(n =>
          assert(rounds <= 3 * math.log10(n) + 3, s"$name: $rounds rounds"))
      }
    } finally spark.conf.set(key, saved)
    // a closure that is still changing at the cap throws, never truncates
    val e = intercept[IllegalStateException](operators.SameAs.starClosure(
      chains.head._2.toDF("a", "b"), maxRounds = 2))
    assert(e.getMessage.contains("after 2 rounds"), e.getMessage)
  }

  test("birth position: MIDDLE never maps (the reference's MIDDLE: typo)") {
    // eids 17, 34, 51, 68 → positions (eid DIV 17) % 4 = 1,2,3,0 →
    // ELDEST, YOUNGEST, MIDDLE, ONLY; MIDDLE must silently drop
    val rows = Seq(17L, 34L, 51L, 68L).map { eid =>
      (f"conv_${eid / 20}%06d", (eid % 20).toInt, "user",
        "x born Given_1 Family_2.", "", ts)
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val got = Families.birthPositionTriples(rows)
      .as[model.Triple].collect().toSet
    val objs = got.map(_.obj_value)
    assert(objs == Set(Ns.bio + "eldestChild", Ns.bio + "youngestChild",
      Ns.bio + "onlyChild"), s"got $objs")
  }

  test("writing: Oeuvre node typed+labelled+authored, extent attached") {
    val t = tr(("c1", 1, "system", "summary text working as weaver.", ""))
    val got = operators.Profiles.writingTriples(t)
      .as[model.Triple].collect().toSet
    val oeuvre = Ns.conv + "c1_Oeuvre"
    assert(got.contains(model.Triple(oeuvre, Ns.rdfType, Ns.tOeuvre, true, "", "")))
    assert(got.contains(model.Triple(Ns.conv + "c1", Ns.bfAuthor, oeuvre, true, "", "")))
    assert(got.contains(model.Triple(oeuvre, Ns.rdfsLabel, "c1's Oeuvre", false, "", "")))
    assert(got.contains(model.Triple(oeuvre, Ns.extent,
      "summary text working as weaver.", false, "", "")))
  }
}
