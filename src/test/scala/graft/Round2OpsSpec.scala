package graft

import graft.model.Ns
import graft.operators.{Extras, Works}
import org.apache.spark.sql.functions._

/** Unit specs for the round-2 operators (each is also oracle-gated; these
  * pin the semantics on tiny hand-derived fixtures). */
class Round2OpsSpec extends SparkSpec {
  import spark.implicits._

  test("works: genre map aggregates sorted distinct codes; emission shapes") {
    val orders = Seq((1L, 10L), (2L, 10L), (3L, 11L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq(
      (1L, "A", "F"), (1L, "R", "O"), (1L, "A", "F"), // dup code collapses
      (2L, "N", "O")).toDF("l_orderkey", "l_returnflag", "l_linestatus")
    val got = Works.workTriples(orders, lineitem)
      .as[(String, String, String, Boolean, String, String)].collect().toSet
    def w(k: Long) = Ns.work + k
    assert(got.contains((w(1), Ns.rdfType, Ns.tWork, true, "", "")))
    assert(got.contains((w(3), Ns.rdfType, Ns.tWork, true, "", ""))) // no lines → still a record
    assert(got.contains((w(1), Ns.hasGenre, Ns.genre + "AF", true, "", "")))
    assert(got.contains((w(1), Ns.hasGenre, Ns.genre + "RO", true, "", "")))
    assert(got.contains((w(2), Ns.hasGenre, Ns.genre + "NO", true, "", "")))
    assert(!got.exists(t => t._1 == w(3) && t._2 == Ns.hasGenre))
    assert(got.contains((w(1), Ns.authoredBy, Ns.person + "10", true, "", "")))
    // relatedItems: same author's previous work, by orderkey order
    assert(got.contains((w(2), Ns.relatedWork, w(1), true, "", "")))
    assert(!got.exists(t => t._2 == Ns.relatedWork && t._1 == w(1)))
    assert(!got.exists(t => t._2 == Ns.relatedWork && t._1 == w(3)))
  }

  test("turtle term rendering: longest-prefix match, '/'-local-name fallback") {
    def term(s: String): String =
      Seq(s).toDF("x").select(io.Turtle.term(col("x"))).as[String].head()
    assert(term(Ns.conv + "conv_000001") == "conv:conv_000001")
    assert(term(Ns.kg + "type/MajorOrg") == "typ:MajorOrg")
    assert(term(Ns.kg + "temp/Customer000000199") == "temp:Customer000000199")
    // '/' inside the would-be local name → cannot prefix → absolute form
    assert(term(Ns.kg + "pa/shadow-cabinet") == s"<${Ns.kg}pa/shadow-cabinet>")
    assert(term("http://www.w3.org/2001/XMLSchema#string") == "xsd:string")
    assert(term("http://elsewhere.example/x") == "<http://elsewhere.example/x>")
  }

  test("family placeholder: conflict rewrites to _PLACEHOLDER_<relation>") {
    val got = Extras.familyPlaceholder(spark, sfDir, new Pipeline(spark, sfDir).linked)
      .as[(String, Int, Int, String, String)].collect()
    assert(got.nonEmpty)
    got.foreach { case (conv, turn, _, rel, uri) =>
      assert(rel == (if (turn % 2 == 0) "mother" else "father"))
      // placeholders carry the relation; authority URIs parse as person ids
      // with the matching gender parity (mother↔even custkey, father↔odd)
      if (uri.contains("_PLACEHOLDER_")) {
        assert(uri == s"${Ns.conv}${conv}_PLACEHOLDER_$rel")
      } else {
        val id = uri.stripPrefix(Ns.person).toLong
        assert(((id / 2) % 2 == 0) == (rel == "mother"))
      }
    }
    assert(got.exists(_._5.contains("_PLACEHOLDER_")))
    assert(got.exists(!_._5.contains("_PLACEHOLDER_")))
  }
}
