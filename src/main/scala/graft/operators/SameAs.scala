package graft.operators

import graft.model.Ns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sameAs canonicalization (SURVEY.md §2.3 J7): the reference only rewrites
  * identities through PERSON_MAP (`Utils/utilities.py:289-304`) and leaves
  * transitive closure to consumers; the north_rule mandates a real closure.
  *
  * Algorithm: iterative min-label propagation (connected components)
  * expressed in DataFrame joins — each pass sends every node's current label
  * across every undirected edge and takes the min. Converges in
  * O(log(diameter)) passes; our sameAs graphs are dictionary-derived chains
  * and stars with tiny diameter (≤ ~8), so 3-5 passes suffice. Per-iteration
  * `localCheckpoint` truncates lineage so the plan doesn't grow exponentially
  * (SURVEY.md §4 item 5). Edge sets are minuscule next to the fact table
  * (distinct linked entities only), so these shuffles are cheap at any scale;
  * mega-cluster skew is bounded because labels are aggregated with a
  * partial-agg-friendly min().
  */
object SameAs {

  /** Driver fast-path bound: identity-edge sets up to this size are
    * closed with an in-memory union-find (one collect, zero iterative
    * Spark jobs — the per-pass job overhead dominates the iterative
    * closure at small scale). Beyond it the iterative min-label
    * propagation below runs — the 10⁹-entity scale path. Both produce
    * the identical (node, min-of-component) map. */
  val DriverClosureCap = 100000L

  /** Pass cap of the iterative closure — far above the 3-5 passes the
    * pointer-jumping propagation needs on sameAs graphs. */
  val MaxClosurePasses = 20

  /** edges(a, b) → (node, canon): every node of the edge set mapped to the
    * lexicographic min of its connected component.
    *
    * Dispatch costs ONE Spark job: a single limit(cap+1) collect both
    * answers "is it small?" and, when yes, IS the edge set the union-find
    * consumes (the former count-then-collect probe computed the edge
    * extraction twice). */
  def closure(edges: DataFrame): DataFrame = {
    val probe = edges.select(col("a"), col("b"))
      .limit((DriverClosureCap + 1).toInt).collect()
    if (probe.length <= DriverClosureCap)
      closureOnDriver(edges.sparkSession,
        probe.map(r => (r.getString(0), r.getString(1))))
    else closureIterative(edges)
  }

  /** The distributed min-label-propagation closure — the big-edge-set
    * path; kept equivalence-tested against the driver fast path
    * (Round4OpsSpec). */
  private[graft] def closureIterative(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val (und, undIds) = graft.Caches.trackedCheckpoint(
      edges.select(col("a"), col("b"))
        .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
        .distinct())
    var (labels, labelIds) = graft.Caches.trackedCheckpoint(
      und.select(col("a").as("node")).distinct()
        .withColumn("label", col("node")))
    var i = 0
    var changed = 1L
    while (changed > 0 && i < MaxClosurePasses) {
      // hop: take the min label across every edge
      val msgs = und.join(labels, und("a") === labels("node"))
        .select(und("b").as("node"), col("label"))
      val hop = labels.unionAll(msgs)
        .groupBy("node").agg(min("label").as("label"))
      // pointer-jump: label := label(label) — shortcuts chains, turning the
      // O(diameter) propagation into O(log diameter) iterations
      val (next, nextIds) = graft.Caches.trackedCheckpoint(hop.as("x")
        .join(hop.as("y"), col("x.label") === col("y.node"), "left")
        .select(col("x.node").as("node"),
          coalesce(col("y.label"), col("x.label")).as("label")))
      // convergence probe every 2nd iteration — with pointer jumping most
      // closures finish in 2-3 passes, so probing each pass would spend as
      // many driver jobs on probes as on work
      if (i % 2 == 1 || i >= MaxClosurePasses - 1) {
        changed = next.as("n")
          .join(labels.as("o"), col("n.node") === col("o.node"))
          .filter(col("n.label") =!= col("o.label"))
          .count()
      }
      // the superseded pass's checkpoint blocks are dead the moment `next`
      // is materialized and the probe has read them — free them NOW, not at
      // GC time: a 10⁹-entity closure holds 2 label frames, never i of them
      graft.Caches.unpersistIds(spark, labelIds)
      labels = next
      labelIds = nextIds
      i += 1
    }
    // und only feeds the loop; the final labels frame is all the caller needs
    graft.Caches.unpersistIds(spark, undIds)
    labels.select(col("node"), col("label").as("canon"))
  }

  /** Union-find (path-halving) closure over an already-collected edge set;
    * canon = lexicographic min of each component — bit-identical to the
    * iterative propagation's fixpoint. */
  private def closureOnDriver(spark: org.apache.spark.sql.SparkSession,
                              es: Array[(String, String)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[String, String]
    def find(x0: String): String = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(rb) = ra
      parent.getOrElseUpdate(a, find(a)); parent.getOrElseUpdate(b, find(b))
    }
    val nodes = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    val minOf = scala.collection.mutable.HashMap.empty[String, String]
    nodes.foreach { n =>
      val r = find(n)
      minOf.get(r) match {
        case Some(m) if m <= n => ()
        case _ => minOf(r) = math.Ordering.String.min(minOf.getOrElse(r, n), n)
      }
    }
    nodes.toSeq.sorted.map(n => (n, minOf(find(n)))).toDF("node", "canon")
  }

  /** Extract sameAs edges from a triple table. */
  def edgesOf(triples: DataFrame): DataFrame =
    triples.filter(col("pred") === Ns.owlSameAs)
      .select(col("subj").as("a"), col("obj_value").as("b"))

  /** Rewrite subj and IRI objects through the canonical map, then re-dedup
    * (the rewrite can collapse previously distinct triples — same as the
    * reference's PERSON_MAP substitution collapsing graph nodes).
    *
    * Scale split: the canon map's DOMAIN is the identity namespaces
    * (person/VIAF URIs — the only nodes sameAs edges mention), and its
    * labels stay inside that domain (a cluster's min label is one of its
    * members). So a row is a rewrite CANDIDATE only if its subject or IRI
    * object sits in the domain; every other row — contexts, names,
    * titles, events, exports: the bulk of the graph's bytes — bypasses
    * the join AND the re-distinct untouched. Set-identical to rewriting +
    * distincting everything: the input is dup-free, candidates keep a
    * domain URI in the slot that made them candidates after rewriting, so
    * the two sides can never collide.
    *
    * INPUT CONTRACT: `triples` is read TWICE (candidate + bypass branches
    * of one union). Pass a frame that re-scans cheaply — a parquet stage
    * (Run) or a localCheckpoint. A merely .persist()ed frame is NOT
    * enough: Spark's cache substitution silently fails for one branch of
    * a self-union over a cached plan, and that branch rebuilds the whole
    * upstream pipeline (measured 30 s vs 3 s on the uber graph —
    * round-3's entire kg_uber_canon heavy tail was this).
    */
  val canonDomain: Seq[String] = Seq(Ns.person, Ns.viaf)

  def canonicalize(triples: DataFrame, canon: DataFrame): DataFrame = {
    def inDomain(c: org.apache.spark.sql.Column) =
      canonDomain.map(c.startsWith(_)).reduce(_ || _)
    val isCand = inDomain(col("subj")) ||
      (col("obj_is_iri") && inDomain(col("obj_value")))
    val bypass = triples.filter(!isCand)
    val facts = triples.filter(isCand)
    // The canon map comes out of a localCheckpoint, which hides size stats
    // from AQE — without an explicit hint these joins plan as full shuffles
    // of the fact table. Broadcast while the identity map is broadcastable;
    // beyond the threshold fall back to shuffle joins + AQE skew splitting.
    // The size check costs ZERO Spark jobs on the common path: the
    // driver-closure fast path's map is a LocalRelation whose size is
    // readable from the plan (the former unconditional limit(3M).count()
    // probe ran one extra job over the map per canon query — VERDICT r5
    // #6). Only the iterative closure's map pays the bounded count.
    val known = canon.queryExecution.analyzed match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        Some(l.data.length.toLong)
      case _ => None
    }
    val small = known.getOrElse(canon.limit(3000001).count()) <= 3000000
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df
    val cs = maybeBroadcast(canon.withColumnRenamed("node", "s_node")
      .withColumnRenamed("canon", "s_canon"))
    val co = maybeBroadcast(canon.withColumnRenamed("node", "o_node")
      .withColumnRenamed("canon", "o_canon"))
    val rewritten = facts
      .join(cs, facts("subj") === cs("s_node"), "left")
      .join(co,
        facts("obj_is_iri") && facts("obj_value") === co("o_node"), "left")
      .select(
        coalesce(col("s_canon"), col("subj")).as("subj"),
        col("pred"),
        coalesce(col("o_canon"), col("obj_value")).as("obj_value"),
        col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))
      .distinct()
    rewritten.unionAll(bypass)
  }
}
