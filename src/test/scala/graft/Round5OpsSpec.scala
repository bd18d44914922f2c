package graft

import graft.model.Ns
import graft.operators.{Education, Relations}
import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** Hand-checked specs for the round-5 families (education node shapes +
  * award dispatch, friends / intimate relationships, typed CF contexts)
  * and the checkpoint lifecycle registry. */
class Round5OpsSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2024-01-01 10:00:00")

  private def linkedDf(rows: (String, Int, String, Int, String, Boolean, String)*) =
    rows.map { case (c, t, k, m, s, ok, uri) =>
      (c, t, k, m, s, ok, uri, true, "", "", "fixture text for block " + c) }
      .toDF("conv_id", "turn_idx", "kind", "midx", "surface", "matched",
        "obj_value", "obj_is_iri", "obj_lang", "obj_dtype", "text")

  test("award dispatch replays get_award_type: substring hits, set dedup, default") {
    def typesOf(name: String): Seq[String] =
      Education.awardTypes(Education.awardNames.indexOf(name))
    // fellow ⊂ fellowship: two keyword hits, ONE class after the set dedup
    assert(typesOf("Research Fellowship") == Seq(Ns.kg + "type/Fellowship"))
    // scholarship + exhibition both map to Scholarship → one class
    assert(typesOf("Junior Scholarship and Exhibition") ==
      Seq(Ns.kg + "type/Scholarship"))
    // two distinct classes survive
    assert(typesOf("Essay Prize").toSet ==
      Set(Ns.kg + "type/EssayAward", Ns.kg + "type/EducationalPrize"))
    // no keyword → the EducationalAward base class
    assert(typesOf("Latin Verse Cup") == Seq(Ns.kg + "type/EducationalAward"))
  }

  test("education: level/mode dispatch, degree credential, award node") {
    // eid=24 → m=3: EducationContext, lvl PRIMARY, body SINGLESEX,
    // no award (m odd), degree MA ((3/3)%4=1)
    // eid=48 → m=6: DomesticEducationContext, lvl SECONDARY, award
    // 'Latin Verse Cup' ((6/2)%8=3 → default class), degree PhD
    // eid=280 → m=35: subject (m%5) Mathematics, contested behaviour (m%7)
    val linked = linkedDf(
      ("conv_000001", 4, "education", 0, "Academy_9", false, Ns.kg + "edu/skolem/Academy9"),
      ("conv_000002", 8, "education", 0, "Academy_18", true, Ns.kg + "edu/auth/18"),
      ("conv_000014", 0, "education", 0, "Academy_5", false, Ns.kg + "edu/skolem/Academy5"))
    val got = Education.educationTriples(linked).as[model.Triple].collect().toSet
    val ctx1 = Ns.ctx + "conv_000001_EducationContext_1"
    val school1 = Ns.kg + "edu/skolem/Academy9"
    assert(got.contains(model.Triple(ctx1, Ns.pred + "primarySchool", school1, true, "", "")))
    assert(got.contains(model.Triple(school1, Ns.rdfType, Ns.kg + "type/PrimarySchool", true, "", "")))
    assert(got.contains(model.Triple(school1, Ns.rdfType, Ns.kg + "type/SingleSexSchool", true, "", "")))
    assert(got.contains(model.Triple(school1, Ns.rdfsLabel, "Academy_9", false, "", "")))
    assert(got.contains(model.Triple(ctx1, Ns.pred + "credential", Ns.kg + "degree/MA", true, "", "")))
    assert(!got.exists(t => t.subj == ctx1 && t.pred == Ns.pred + "award"))
    val ctx2 = Ns.ctx + "conv_000002_DomesticEducationContext_1"
    val award2 = Ns.kg + "award/conv_000002_8_0"
    assert(got.contains(model.Triple(ctx2, Ns.pred + "award", award2, true, "", "")))
    assert(got.contains(model.Triple(award2, Ns.rdfsLabel, "Latin Verse Cup", false, "", "")))
    assert(got.contains(model.Triple(award2, Ns.rdfType, Ns.kg + "type/EducationalAward", true, "", "")))
    assert(got.contains(model.Triple(ctx2, Ns.pred + "credential", Ns.kg + "degree/PhD", true, "", "")))
    // m=35: subjectOfStudy on the context AND teachesEducationalSubject on
    // the school (the len(schools)==1 quirk always holds per-block here);
    // contested behaviour = limit_words(text, 20) literal
    val ctx3 = Ns.ctx + "conv_000014_EducationContext_1"
    val subj = Ns.kg + "subject/Mathematics"
    assert(got.contains(model.Triple(ctx3, Ns.pred + "subjectOfStudy", subj, true, "", "")))
    assert(got.contains(model.Triple(Ns.kg + "edu/skolem/Academy5",
      Ns.pred + "teachesEducationalSubject", subj, true, "", "")))
    assert(got.contains(model.Triple(ctx3, Ns.pred + "contestedBehaviour",
      "fixture text for block conv_000014", false, "", "")))
    // m=6 (conv_000002): instructor (m%6==0) person (6*7)%200=42 on the
    // context AND school hasEmployee; NO instructor-teaches (6%5!=0),
    // no companion/location/credentialSubject (6 % 9/10/15 != 0)
    val p42 = Ns.person + "42"
    assert(got.contains(model.Triple(ctx2, Ns.pred + "instructor", p42, true, "", "")))
    assert(got.contains(model.Triple(Ns.kg + "edu/auth/18",
      Ns.pred + "hasEmployee", p42, true, "", "")))
    assert(!got.exists(_.pred == Ns.pred + "companion"))
    assert(!got.exists(t => t.subj == p42 &&
      t.pred == Ns.pred + "teachesEducationalSubject"))
  }

  test("education: companion, school location, degree subject, " +
      "instructor-teaches at m=90") {
    // eid=720 (conv_000036 turn 0) → m=90: every new branch fires —
    // instructor (90*7)%200=30 teaching Latin ((90/5)%6=0, m%30==0),
    // companion (90*11)%200=190, school location place (90*3)%25=20,
    // credentialSubject Latin ((90/15)%6=0)
    val linked = linkedDf(
      ("conv_000036", 0, "education", 0, "Academy_1", true, Ns.kg + "edu/auth/1"))
    val got = Education.educationTriples(linked).as[model.Triple].collect().toSet
    val ctx = Ns.ctx + "conv_000036_DomesticEducationContext_1"
    val school = Ns.kg + "edu/auth/1"
    val latin = Ns.kg + "subject/Latin"
    assert(got.contains(model.Triple(ctx, Ns.pred + "instructor", Ns.person + "30", true, "", "")))
    assert(got.contains(model.Triple(school, Ns.pred + "hasEmployee", Ns.person + "30", true, "", "")))
    assert(got.contains(model.Triple(Ns.person + "30",
      Ns.pred + "teachesEducationalSubject", latin, true, "", "")))
    assert(got.contains(model.Triple(ctx, Ns.pred + "companion", Ns.person + "190", true, "", "")))
    assert(got.contains(model.Triple(school, Ns.pred + "hasLocation", Ns.place + "20", true, "", "")))
    assert(got.contains(model.Triple(ctx, Ns.pred + "credentialSubject", latin, true, "", "")))
    // the school still teaches the studied subject (len(schools)==1 rule)
    assert(got.contains(model.Triple(school, Ns.pred + "teachesEducationalSubject", latin, true, "", "")))
  }

  test("split_by_casing replica matches the reference regex") {
    assert(Relations.splitByCasing("interpersonalRelationshipWith") ==
      "interpersonal Relationship With")
    assert(Relations.splitByCasing("cohabitant") == "cohabitant")
    assert(Relations.splitByCasing("RaceEthnicityContext") ==
      "Race Ethnicity Context")
    assert(Relations.cfLabels(Relations.cfTypes.indexOf("RaceEthnicityContext"))
      == "Race Ethnicity Event: race colour")
  }

  test("friends: self-filter, predicate dispatch, per-predicate activity") {
    // conv 1, eid=30 (t=10): tag turn; (eid/15 + midx)%3 = (2+midx)%3 →
    // midx 0 interpersonal, midx 1 cohabitant — but midx 1 IS the subject
    // (self-filtered). conv 2, eid=45 (t=5): the only mention is the
    // subject → empty list → identifying context only.
    val self1 = Ns.person + "11"
    val friendA = Ns.person + "77"
    val linked = linkedDf(
      ("conv_000001", 0, "person", 0, "s", true, self1),
      ("conv_000001", 10, "person", 0, "a", true, friendA),
      ("conv_000001", 10, "person", 1, "s", true, self1),
      ("conv_000002", 0, "person", 0, "s2", true, Ns.person + "22"),
      ("conv_000002", 5, "person", 0, "s2", true, Ns.person + "22"))
    val got = Relations.friendTriples(linked).as[model.Triple].collect().toSet
    val ctx1 = Ns.ctx + "conv_000001_FriendsAndAssociatesContext_1"
    val act1 = Ns.ctx + "conv_000001_FriendsAndAssociatesEvent_1_1"
    assert(got.contains(model.Triple(ctx1, Ns.rdfType,
      Ns.kg + "type/FriendsAndAssociatesContext", true, "", "")))
    assert(got.contains(model.Triple(Ns.conv + "conv_000001",
      Ns.pred + "interpersonalRelationshipWith", friendA, true, "", "")))
    assert(got.contains(model.Triple(act1, Ns.rdfsLabel,
      "Friend Relationship Event: interpersonal relationship with", false, "en", "")))
    assert(got.contains(model.Triple(ctx1, Ns.pred + "linksActivity", act1, true, "", "")))
    // no cohabitant relation anywhere (the only cohabitant slot was self)
    assert(!got.exists(_.pred == Ns.pred + "cohabitant"))
    // conv 2: identifying context — type triples only, no relations/acts
    val ctx2 = Ns.ctx + "conv_000002_FriendsAndAssociatesContext_1"
    assert(got.contains(model.Triple(ctx2, Ns.rdfType, Ns.tContext, true, "", "")))
    assert(!got.exists(t => t.subj == Ns.conv + "conv_000002" ||
      (t.subj == ctx2 && t.pred == Ns.pred + "linksActivity")))
  }

  test("intimate: exactly-one-name precision rule + EROTIC dispatch") {
    // conv 1: eid=38 (t=18) → ridx=(38/19)%4=2 → nonEroticRelationship;
    // one non-self mention → cnt=1 → full emission with event_count 1.
    // conv 3: eid=76 (t=16) → ridx=0; TWO surviving mentions → identifying.
    val linked = linkedDf(
      ("conv_000001", 0, "person", 0, "s", true, Ns.person + "11"),
      ("conv_000001", 18, "person", 0, "a", true, Ns.person + "77"),
      ("conv_000003", 0, "person", 0, "s3", true, Ns.person + "33"),
      ("conv_000003", 16, "person", 0, "a", true, Ns.person + "77"),
      ("conv_000003", 16, "person", 1, "b", true, Ns.person + "88"))
    val got = Relations.intimateTriples(linked).as[model.Triple].collect().toSet
    val ctx1 = Ns.ctx + "conv_000001_IntimateRelationshipContext_1"
    val act1 = Ns.ctx + "conv_000001_IntimateRelationshipEvent_1_1"
    assert(got.contains(model.Triple(Ns.conv + "conv_000001",
      Ns.pred + "nonEroticRelationship", Ns.person + "77", true, "", "")))
    assert(got.contains(model.Triple(act1, Ns.rdfsLabel,
      "Intimate Relationship Event: non erotic relationship", false, "en", "")))
    assert(got.contains(model.Triple(ctx1, Ns.pred + "linksActivity", act1, true, "", "")))
    // conv 3: two names → precision rule suppresses relations + activities
    val conv3 = Ns.conv + "conv_000003"
    assert(!got.exists(_.subj == conv3))
    assert(got.contains(model.Triple(
      Ns.ctx + "conv_000003_IntimateRelationshipContext_1",
      Ns.rdfType, Ns.kg + "type/IntimateRelationshipContext", true, "", "")))
  }

  test("cf contexts: typed context, count-from-0 event id, context-typed activity") {
    // eid=25 (conv 1, t=5) → famIdx=(25/25)%7=1 → RaceEthnicityContext
    val t = Seq(("conv_000001", 5, "user", "x.", "", ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val got = Relations.cfContextTriples(t).as[model.Triple].collect().toSet
    val ctx = Ns.ctx + "conv_000001_RaceEthnicityContext_1"
    val act = Ns.ctx + "conv_000001_RaceEthnicityEvent_1_0" // count starts 0
    assert(got.contains(model.Triple(ctx, Ns.rdfType,
      Ns.kg + "type/RaceEthnicityContext", true, "", "")))
    assert(got.contains(model.Triple(Ns.conv + "conv_000001",
      Ns.pred + "raceColour", Ns.kg + "cf/raceColour/0", true, "", "")))
    assert(got.contains(model.Triple(act, Ns.rdfType, Ns.tActivity, true, "", "")))
    // the CF quirk: the activity carries the CONTEXT type, not an Event type
    assert(got.contains(model.Triple(act, Ns.rdfType,
      Ns.kg + "type/RaceEthnicityContext", true, "", "")))
    assert(got.contains(model.Triple(act, Ns.rdfsLabel,
      "Race Ethnicity Event: race colour", false, "en", "")))
    assert(got.size == 7)
  }

  test("checkpoint registry: tracked blocks are freed, retained survive release") {
    val sc = spark.sparkContext
    val (a, aIds) = Caches.trackedCheckpoint(Seq(1, 2, 3).toDF("x"))
    val b = Caches.retainedCheckpoint(Seq(4, 5).toDF("x"))
    assert(aIds.nonEmpty && a.count() == 3 && b.count() == 2)
    Caches.release(spark)
    // release is async (unpersist(blocking=false)) — poll briefly
    def live = sc.getPersistentRDDs.keySet.toSet
    val deadline = System.currentTimeMillis() + 10000
    while ((aIds & live).nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert((aIds & live).isEmpty, "tracked checkpoint blocks not freed")
    assert(b.count() == 2, "retained checkpoint must survive release()")
    Caches.releaseAll(spark)
    // fresh deadline: the first poll may have consumed most of the budget
    // (ADVICE r5 — the reused deadline could expire immediately and flake)
    val deadline2 = System.currentTimeMillis() + 10000
    while (live.nonEmpty && System.currentTimeMillis() < deadline2)
      Thread.sleep(50)
    assert(live.isEmpty, "releaseAll must leave zero persistent RDDs")
  }
}
