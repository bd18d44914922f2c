package graft.io

import graft.model.Ns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K4 — quad export for visualization (`Huviz/huvizQuads.py:119-140`): the
  * reference regroups its context-centric triples into SUBJECT-CENTRIC
  * named graphs (a ConjunctiveGraph quad per triple, graph = the entity the
  * statement is about). Graft: the graph label of a triple is the
  * conversation whose URIs its subject embeds (conv/context/activity nodes
  * all carry the conv id); triples about global entities (sameAs edges,
  * works) land in the uber graph — the same per-person-file vs uber-file
  * split the reference serializes. The reference's 3-level BFS copy of
  * neighbor subgraphs is visualization sugar and is not replayed.
  *
  * Scale: a pure projection over the triple table — zero shuffle.
  */
object Quads {

  /** Triple table → (graph, subj, pred, obj_value, obj_is_iri, obj_lang,
    * obj_dtype). A precomputed `conv` column (Pipeline.triplesWithConv) is
    * used when present; otherwise the conv is recovered by regex. */
  def export(triples: DataFrame): DataFrame = {
    val conv = if (triples.columns.contains("conv")) col("conv")
      else graft.functions.Fns.convOf(col("subj"))
    triples.select(
      when(conv =!= "", concat(lit(Ns.conv), conv))
        .otherwise(lit(Ns.kg + "graph/uber")).as("graph"),
      col("subj"), col("pred"), col("obj_value"),
      col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))
  }

  /** The Huviz 3-level BFS neighbor copy (`Huviz/huvizQuads.py:119-140`):
    * every graph additionally receives the triples of resources reachable
    * from its objects in ≤3 hops (the nested predicate_objects loops),
    * realized as 3 ITERATED equi-joins frontier⋈triples on subj — each
    * level is a plain shuffle join on the subject key, no recursion state
    * on the driver beyond the loop counter. Output: original quads ∪ the
    * copied levels, set semantics. */
  def bfs(triples: DataFrame): DataFrame = {
    // the triple table feeds the quad base AND the copy join — two
    // branches of ONE final union. localCheckpoint, not persist: a
    // self-union over a merely cached plan silently rebuilds one branch
    // (Spark's cache substitution fails there — see SameAs.canonicalize
    // input contract); the RDD-backed checkpoint is eagerly materialized
    // once and read by every branch.
    val t = triples.localCheckpoint()
    val quads = export(t)
    // Frontier expansion factors through the DISTINCT IRI edge set: level
    // k+1's frontier = distinct (graph, obj) of frontier_k ⋈ triples, which
    // equals frontier_k ⋈ edges — so expand over the slim (subj, dst) edge
    // relation (O(distinct entity links), a fraction of the triple table)
    // and join the FULL triple table exactly ONCE at the end to copy the
    // statements of every reached node. Replaces 3 wide 7-column
    // frontier⋈triples joins with 2 slim 2-column hops + 1 copy join.
    // Edges carry the source's graph label (a FUNCTION of subj — free at
    // emission, same distinct cardinality), so level-0 derives from the
    // slim DISTINCT edge set instead of re-scanning + re-shuffling the
    // full IRI-triple projection a second time (the former frontier-0
    // distinct was its own full-width pass over `t`).
    val srcConv = if (t.columns.contains("conv")) col("conv")
      else graft.functions.Fns.convOf(col("subj"))
    val srcGraph = when(srcConv =!= "", concat(lit(Ns.conv), srcConv))
      .otherwise(lit(Ns.kg + "graph/uber"))
    val edges = t.filter(col("obj_is_iri"))
      .select(srcGraph.as("g"), col("subj"), col("obj_value").as("dst"))
      .distinct()
      .localCheckpoint() // feeds every frontier hop — same self-union rule
    // HOME-GRAPH PRUNING (pure narrow filter, no join): the graph label is
    // a FUNCTION of the subject, so a node n with graphOf(n) == g already
    // has ALL its triples in g — copying them is a no-op under the final
    // set-distinct, and n's outgoing targets are already level-0 frontier
    // members of g (its triples ARE g's quads), so expanding n adds
    // nothing either. Dropping such (g, n) pairs everywhere kills the
    // dominant fan-out: conv-local context/activity/event nodes never
    // expand or copy; only genuinely cross-graph references (persons,
    // places, works) do. Provably output-identical to the unpruned BFS —
    // the DuckDB oracle runs the unpruned definition and hashes equal.
    val nodeConv = graft.functions.Fns.convOf(col("subj"))
    val homeGraph = when(nodeConv =!= "", concat(lit(Ns.conv), nodeConv))
      .otherwise(lit(Ns.kg + "graph/uber"))
    def pruneHome(f: DataFrame): DataFrame = f.filter(col("graph") =!= homeGraph)
    // Each level's frontier feeds TWO consumers (the next hop AND the
    // reached union) — Catalyst shares no subtrees across them, so without
    // per-level materialization level 1 was computed 3×, level 2 2× (each
    // recompute replaying its distinct shuffles and edge joins; visible as
    // duplicated subtrees in the r6 before-plan). Checkpointing each slim
    // (graph, subj) frontier runs every hop exactly once.
    var frontier = pruneHome(edges
      .select(col("g").as("graph"), col("dst").as("subj"))).distinct()
      .localCheckpoint()
    var reached = frontier
    for (_ <- 1 to 2) { // levels 2 and 3 start from level 1's frontier
      frontier = pruneHome(frontier.join(edges, "subj")
        .select(col("graph"), col("dst").as("subj"))).distinct()
        .localCheckpoint()
      reached = reached.unionAll(frontier)
    }
    // The copy join's left side (distinct reached (graph, node) pairs) is
    // orders of magnitude smaller than the triple table — broadcast it
    // while it is provably bounded so the FULL triple table is never
    // shuffled+sorted for this join (the before-plan's SortMergeJoin moved
    // all 3.1M rows); beyond the bound fall back to the shuffle join —
    // the 10^12-turn-scale path, where `reached` grows with the graph.
    // The count is read from the just-materialized checkpoint — no extra
    // pass over anything upstream.
    val reachedCk = reached.distinct().localCheckpoint()
    val reachedSmall =
      if (reachedCk.count() <= 3000000L) broadcast(reachedCk) else reachedCk
    val copied = reachedSmall.join(t, "subj")
      .select(col("graph"), col("subj"), col("pred"), col("obj_value"),
        col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))
    // NO final set-distinct — it is provably a no-op here, and over the
    // full multi-million-row output it was the single largest shuffle of
    // this export: (1) `quads` rows all have graph == homeGraph(subj)
    // while every `copied` row has graph != homeGraph(subj) (reached is
    // home-pruned), so the two sides are DISJOINT; (2) within `copied`,
    // `reached` is distinct on (graph, subj) and the triple table is
    // dup-free by the pipeline's routing-around-distinct invariant, so
    // the join cannot fabricate duplicates; (3) `quads` inherits the same
    // dup-freedom. The oracle runs the textbook DISTINCT-union definition
    // and hashes equal — if a future edit ever broke the dup-free
    // invariant, this query's oracle gate is what would catch it.
    quads.unionAll(copied)
  }
}
