package graft.io

import graft.functions.Fns
import graft.model.Ns
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** K4 — quad export for visualization (`Huviz/huvizQuads.py:119-140`): the
  * reference regroups its context-centric triples into SUBJECT-CENTRIC
  * named graphs (a ConjunctiveGraph quad per triple, graph = the entity the
  * statement is about). Graft: the graph label of a triple is the
  * conversation whose URIs its subject embeds (conv/context/activity nodes
  * all carry the conv id); triples about global entities (sameAs edges,
  * works) land in the uber graph — the same per-person-file vs uber-file
  * split the reference serializes. `bfs` replays the reference's 3-level
  * BFS copy of neighbor subgraphs on top of that.
  *
  * Scale: `export` is a pure projection over the triple table — zero
  * shuffle.
  */
object Quads {

  /** The named graph of a subject: its conversation's graph when the URI
    * embeds a conv id (`Fns.convOf`, no regex), else the uber graph. */
  private def graphOf(subj: Column): Column = {
    val conv = Fns.convOf(subj)
    when(conv =!= "", concat(lit(Ns.conv), conv))
      .otherwise(lit(Ns.kg + "graph/uber"))
  }

  /** Triple table → (graph, subj, pred, obj_value, obj_is_iri, obj_lang,
    * obj_dtype), graph = `graphOf(subj)`. */
  def export(triples: DataFrame): DataFrame =
    triples.select(graphOf(col("subj")).as("graph"),
      col("subj"), col("pred"), col("obj_value"),
      col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))

  /** The Huviz 3-level BFS neighbor copy (`Huviz/huvizQuads.py:119-140`):
    * every graph additionally receives the triples of resources reachable
    * from its objects in ≤3 hops (the nested predicate_objects loops),
    * realized as 3 ITERATED equi-joins frontier⋈triples on subj — each
    * level is a plain shuffle join on the subject key, no recursion state
    * on the driver beyond the loop counter. Output: original quads ∪ the
    * copied levels, set semantics.
    *
    * INPUT CONTRACT: `triples` is read THREE times (the quad base, the edge
    * set and the copy join). Pass a frame that re-scans cheaply: a parquet
    * stage, a checkpoint or a persisted frame. An unmaterialized plan
    * is rebuilt once per reader. */
  def bfs(triples: DataFrame): DataFrame = {
    val quads = export(triples)
    // Frontier expansion factors through the DISTINCT IRI edge set: level
    // k+1's frontier = distinct (graph, obj) of frontier_k ⋈ triples, which
    // equals frontier_k ⋈ edges — so expand over the slim (subj, dst) edge
    // relation (O(distinct entity links), a fraction of the triple table)
    // and join the FULL triple table exactly ONCE at the end to copy the
    // statements of every reached node. Replaces 3 wide 7-column
    // frontier⋈triples joins with 2 slim 2-column hops + 1 copy join.
    // Edges carry the source's graph label (`graphOf(subj)` — same
    // distinct cardinality as the edges), so level-0 derives from the
    // slim DISTINCT edge set instead of re-scanning + re-shuffling the
    // full IRI-triple projection a second time (the former frontier-0
    // distinct was its own full-width pass over the triple table).
    val edges = triples.filter(col("obj_is_iri"))
      .select(graphOf(col("subj")).as("g"), col("subj"),
        col("obj_value").as("dst"))
      .distinct()
      .localCheckpoint() // read by level 1 and both hops
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
    def pruneHome(f: DataFrame): DataFrame =
      f.filter(col("graph") =!= graphOf(col("subj")))
    // a frontier is read by the next hop and by the reached union
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
    // orders of magnitude smaller than the triple table: broadcast while
    // small (`Caches.broadcastIfSmall`), so the FULL triple table is not
    // shuffled+sorted for this join (a SortMergeJoin moved all 3.1M rows).
    // reached is read by its row count (observed by the job that
    // materializes it), which sizes the broadcast, and by the copy join.
    val rows = Observation()
    val reachedCk = reached.distinct()
      .observe(rows, count(lit(1)).as("rows")).localCheckpoint()
    val copied = graft.Caches.broadcastIfSmall(reachedCk,
      rows.get("rows").asInstanceOf[Long]).join(triples, "subj")
      .select(col("graph"), col("subj"), col("pred"), col("obj_value"),
        col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))
    // NO final set-distinct — it is provably a no-op here, and over the
    // full multi-million-row output it was the single largest shuffle of
    // this export: (1) `quads` rows all have graph == graphOf(subj)
    // while every `copied` row has graph != graphOf(subj) (reached is
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
