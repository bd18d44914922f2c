package graft

/** Plan-quality regression guards: the properties that make this pipeline
  * scale must stay visible in the physical plan (SURVEY.md §4) — a future
  * edit that silently turns a dictionary link into a fact-side shuffle or
  * widens a scan should fail here, not in production.
  */
class PlanQualitySpec extends SparkSpec {

  test("linking is ONE broadcast hash join over ONE scan of the input") {
    // other suites may have persisted the same linked plan — a cached
    // InMemoryTableScan would hide the join/scan shape under test
    spark.catalog.clearCache()
    val plan = Pipeline.linked(spark, sfDir).queryExecution.executedPlan.toString
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
    val plan = Pipeline.mentions(spark, sfDir).queryExecution.executedPlan.toString
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
        spark, sfDir, Pipeline.mentions(spark, sfDir)),
      "kg_family" -> operators.Families.familyTriples(
        spark, sfDir, Pipeline.linked(spark, sfDir)))) {
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
      "kg_friends" -> operators.Relations.friendTriples(Pipeline.linked(spark, sfDir)),
      "kg_intimate" -> operators.Relations.intimateTriples(Pipeline.linked(spark, sfDir)))) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), name)
    }
    // education + CF contexts: narrow projections + one window — no joins
    // at all (the School link was paid in the linking stage; attrs inlined)
    // education: narrow projection + one window over linked — the ONLY
    // join class anywhere in its plan is linking's own dictionary
    // broadcast (inlined once per union branch); it must add no shuffle
    // join of its own
    val edu = operators.Education.educationTriples(Pipeline.linked(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!edu.contains("SortMergeJoin") && !edu.contains("CartesianProduct")
      && !edu.contains("BroadcastNestedLoopJoin"),
      "education must not add joins beyond the linking broadcast")
    val cf = operators.Relations.cfContextTriples(Pipeline.transcripts(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(!cf.contains("Join"), "CF contexts must be join-free")
  }

  test("family emission plans read materialized frames (no per-branch recompute)") {
    spark.catalog.clearCache()
    // Catalyst shares no common subtrees across union branches: without
    // the localCheckpoint these emitters re-ran their extraction/window/
    // join pipeline once PER BRANCH (16× in kg_names). The emission plan
    // must therefore read the checkpointed frame (ExistingRDD) and carry
    // no window or join of its own — those are paid once at
    // materialization.
    val cases = Seq(
      "kg_names" -> operators.Names.nameTriples(Pipeline.transcripts(spark, sfDir)),
      "kg_friends" -> operators.Relations.friendTriples(Pipeline.linked(spark, sfDir)),
      "kg_education" -> operators.Education.educationTriples(Pipeline.linked(spark, sfDir)))
    for ((name, df) <- cases) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Scan ExistingRDD"),
        s"$name must read its checkpointed emission frame")
      assert(!p.contains("Window"),
        s"$name emission must not replay its window per branch")
      assert(!p.contains("Join"),
        s"$name emission must not replay its joins per branch")
    }
    // works_agents emits its 23 per-record triples as ONE exploded pass
    // over its checkpointed frame (r6): the emission plan must read the
    // materialized frame (join + computed columns paid once there) and
    // carry no join/window of its own
    val wa = operators.Works.agentTriples(
      sources.Tables.orders(spark, sfDir), sources.Tables.customer(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(wa.contains("Scan ExistingRDD"),
      "works_agents must read its checkpointed emission frame")
    assert(!wa.contains("Join") && !wa.contains("Window"),
      "works_agents emission must stay single-pass and join-free")
    Caches.release(spark)
  }

  test("whole-stage codegen covers the extraction path (no UDF breaks)") {
    // the source spread's Exchange wraps the plan in AdaptiveSparkPlan,
    // which only shows its codegen spans once finalized — run the query,
    // then inspect the same QueryExecution's final plan
    val df = Pipeline.mentions(spark, sfDir)
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
      Pipeline.linked(spark, sfDir).count()          // extract+link+mint
      Pipeline.triples(spark, sfDir).count()         // full emission
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }
}
