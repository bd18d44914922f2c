package graft

import graft.operators.{Education, Names, Relations, Works}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-quality regression guards: the properties that make this pipeline
  * scale must stay visible in the physical plan (SURVEY.md §4) — a future
  * edit that silently turns a dictionary link into a fact-side shuffle or
  * widens a scan should fail here, not in production.
  */
class PlanQualitySpec extends SparkSpec {

  // plain (unpersisted) plans: a graph's persisted frame would show as a
  // cached scan and hide the shape under test
  private def mentions =
    operators.Mentions.extract(Pipeline.transcripts(spark, sfDir))
  private def linked = operators.Link.linkAll(spark, sfDir, mentions)

  test("linking is ONE broadcast hash join over ONE scan of the input") {
    // other suites may have persisted the same linked plan — a cached
    // InMemoryTableScan would hide the join/scan shape under test
    spark.catalog.clearCache()
    val plan = linked.queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts == 1,
      s"single-pass linking = exactly 1 broadcast join, got $broadcasts")
    assert(!plan.contains("SortMergeJoin"),
      "dictionary linking must not shuffle the fact side")
    val eventScans = "events\\.parquet".r.findAllIn(plan).size
    assert(eventScans == 1,
      s"the fact side must be scanned once, found $eventScans event scans")
  }

  test("extraction scan is column-pruned (unused event columns not read)") {
    val plan = mentions.queryExecution.executedPlan.toString
    // mention extraction needs event_id/event_type (+ts via transcripts
    // projection pruning); the wide columns must not reach the scan
    assert(!plan.contains("props"), "props must be pruned from the scan")
    assert(!plan.contains("user_id"), "user_id must be pruned from the scan")
  }

  test("kg_works plans a shuffle (sort-merge) join — the fact×fact class") {
    spark.catalog.clearCache()
    val plan = operators.Works.workTriples(
      sources.Tables.orders(spark, sfDir), sources.Tables.lineitem(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      "two large fact sides must shuffle-join, not broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
  }

  test("round-4 families: broadcast-only joins, fact side never shuffles") {
    spark.catalog.clearCache()
    // gender + family: one broadcast join against the people dictionary
    // each — the mention/linked fact side must not sort-merge
    for ((name, plan) <- Seq(
      "kg_gender" -> operators.Families.genderTriples(
        spark, sfDir, mentions),
      "kg_family" -> operators.Families.familyTriples(
        spark, sfDir, linked))) {
      val p = plan.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin"),
        s"$name must broadcast the dictionary, not shuffle the fact side")
      assert(!p.contains("CartesianProduct"), name)
    }
    // death causes: pure projection — the CAUSE_MAP is inlined, no join
    val cod = operators.Families.deathCauses(Pipeline.transcripts(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!cod.contains("Join"), "CAUSE_MAP linking must be join-free")
  }

  test("round-5 families: equi-joins only; education/CF are join-free") {
    spark.catalog.clearCache()
    // friends/intimate: the self-filter is ONE equi-join on conv_id (plus
    // the tag/activity assembly joins, also conv-keyed) — never a
    // nested-loop or cartesian pair space
    for ((name, df) <- Seq(
      "kg_friends" -> operators.Relations.friendTriples(linked),
      "kg_intimate" -> operators.Relations.intimateTriples(linked))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), name)
    }
    // education: narrow projection + one window over linked — the ONLY
    // join class anywhere in its plan is linking's own dictionary
    // broadcast; it must add no shuffle join of its own
    val edu = operators.Education.educationTriples(linked)
      .queryExecution.executedPlan.toString
    assert(!edu.contains("SortMergeJoin") && !edu.contains("CartesianProduct")
      && !edu.contains("BroadcastNestedLoopJoin"),
      "education must not add joins beyond the linking broadcast")
    val cf = operators.Relations.cfContextTriples(Pipeline.transcripts(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!cf.contains("Join"), "CF contexts must be join-free")
  }

  test("family emission plans are single-pass (no per-branch recompute)") {
    spark.catalog.clearCache()
    // the caller materializes the inputs, so each plan holds only the
    // emitter's own operators. Catalyst shares no subtree across union
    // branches: a self-union over the pre-explode frame would re-scan the
    // inputs and replay the window or joins a branch needs, once per
    // branch, and show up here as extra nodes.
    val tr = Pipeline.transcripts(spark, sfDir).localCheckpoint()
    val lk = linked.localCheckpoint()
    def nodes(df: DataFrame)(pf: PartialFunction[SparkPlan, Any]) =
      planNodes(df)(pf).size
    val friends = Relations.friendTriples(lk)
    // (emitter, plan, windows, joins, scans) of its one pass
    val cases = Seq(
      // two scans: the nickname and birth-name projections of the input
      ("kg_names", Names.nameTriples(tr), 1, 0, 2),
      ("kg_education", Education.educationTriples(lk), 1, 0, 1),
      ("kg_works_agents", Works.agentTriples(Tables.orders(spark, sfDir),
        Tables.customer(spark, sfDir)), 0, 1, 2),
      // the activity frame's window + its join with the tags
      ("kg_friends", friends, 1, 1, 4),
      ("kg_intimate", Relations.intimateTriples(lk), 1, 1, 4))
    for ((name, df, windows, joins, scans) <- cases) {
      assert(nodes(df) { case w: WindowExec => w } == windows, s"$name windows")
      assert(nodes(df) { case j: BaseJoinExec => j } == joins, s"$name joins")
      assert(nodes(df) { case s: RDDScanExec => s; case s: FileSourceScanExec => s }
        == scans, s"$name scans")
    }
    // the relationship families read their twice-read tags and rels from
    // checkpoints: two readers each
    assert(nodes(friends) { case s: RDDScanExec => s } == 4,
      "kg_friends must read tags and rels from their checkpoints")
    Caches.releaseAll(spark)
  }

  test("family emitters launch no job before an action") {
    // the graph's frames are built outside the count: only the emitters'
    // construction is measured, and a frame they read once is a plain
    // plan. The source tables are read inside it: a read infers no schema
    val tr = Pipeline.transcripts(spark, sfDir)
    val lk = linked
    for ((name, build) <- Seq[(String, () => DataFrame)](
        "kg_names" -> (() => Names.nameTriples(tr)),
        "kg_education" -> (() => Education.educationTriples(lk)),
        "kg_works_agents" -> (() => Works.agentTriples(
          Tables.orders(spark, sfDir), Tables.customer(spark, sfDir)))))
      assert(jobsOf(build()) == 0, name)
  }

  test("whole-stage codegen covers the extraction path (no UDF breaks)") {
    // the source spread's Exchange wraps the plan in AdaptiveSparkPlan,
    // which only shows its codegen spans once finalized — run the query,
    // then inspect the same QueryExecution's final plan
    val df = mentions
    df.collect() // count() would build its own QueryExecution — collect
    // executes THIS dataset's, finalizing the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), "extraction should run under whole-stage codegen")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("generated code COMPILES on the hot paths (no silent 64KB fallback)") {
    // spark.sql.codegen.fallback=false turns janino compile failures into
    // hard errors instead of a silent per-stage interpreter fallback — the
    // round-3 cleanTerm/mint expression pyramids degraded exactly this way
    // (see Fns.cleanTerm / Link.linkAll) and only a log WARN betrayed it
    spark.catalog.clearCache()
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val p = new Pipeline(spark, sfDir)
      p.linked.count()          // extract+link+mint
      p.triples.count()         // full emission
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
