package graft.operators

import graft.Caches
import graft.model.Ns
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** sameAs canonicalization (SURVEY.md §2.3 J7): the reference only rewrites
  * identities through PERSON_MAP (`Utils/utilities.py:289-304`) and leaves
  * transitive closure to consumers; the north_rule mandates a real closure.
  *
  * Algorithm: connected components, each node labelled with the least name
  * (`String.compareTo`) of its component, in one shuffle:
  *
  *  1. each input partition runs a union-find over its own edges and emits
  *     (node, least node of its local component). A task holds at most
  *     `UnionFindNodeCap` nodes: past it, it emits its labels and restarts
  *     with an empty forest;
  *  2. one hash shuffle by node gathers each node's distinct local labels.
  *     The least is the node's label; every other label l gives a boundary
  *     edge (l, least), which links two local components. The job that
  *     materializes the labels also counts the nodes and the boundary.
  *
  * The boundary size picks the finish:
  *  - no boundary edge: every local component is a whole component, and
  *    the labels are the map;
  *  - up to `DriverClosureCap` boundary edges: the driver collects them,
  *    closes them with a union-find and broadcasts the label → canon map,
  *    which remaps the labels lazily;
  *  - more: alternating large-star / small-star rounds over pair RDDs
  *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
  *    SoCC 2014) close the boundary alone, and their map is joined back.
  *    The rounds grow with the log of the component's diameter whatever
  *    the order of the names: scrambled-name chains of 100 / 400 / 5,000 /
  *    100,000 nodes close in 6–7 / 8 / 11–12 / 14–15 rounds over three name
  *    orders. Each round is one Spark job; per-node minima are combinable
  *    `reduceByKey`s and edges stream against a per-partition hash map of
  *    them, so a hub's neighbour list is never held in memory at once.
  *
  * A boundary is small when each component's edges sit in few partitions
  * (the 101,000-edge perfbench identity input, written cluster by cluster,
  * leaves 2 boundary edges; the same edges in random order, as 2 files,
  * leave 11,381).
  */
object SameAs {

  /** Driver finish bound: a boundary of up to this many edges is collected
    * and closed on the driver; past it, the star rounds close it in Spark.
    * The driver never holds more boundary edges than this. */
  val DriverClosureCap = 100000L

  /** Nodes one task's local union-find holds at most before it emits its
    * labels and restarts; a restart only adds boundary edges. */
  val UnionFindNodeCap = 500000

  /** Round cap of the iterative closure: a guard against a defect, not a
    * limit real inputs reach. Rounds grow by about 3 per 10× of chain
    * length (11–12 at 5,000 nodes), so 40 rounds cover a 10¹²-node
    * chain. */
  val MaxClosureRounds = 40

  /** edges(a, b) → (node, canon): every node of the edge set mapped to the
    * lexicographic min of its connected component. The map reads the
    * persisted labels, so it stays readable without a recompute until its
    * owner frees the session's blocks (`Caches`). It is hinted by its exact
    * node count (`Caches.broadcastIfSmall`); `canonicalize` joins it as
    * given. Spark jobs: one for the labels, one more for the driver finish,
    * one per round for the star finish. */
  def closure(edges: DataFrame): DataFrame =
    close(edges, DriverClosureCap, UnionFindNodeCap).map

  /** A closure's map, its node count, its boundary size and the finish
    * that closed the boundary: "none", "driver" or "star". */
  private[graft] final case class Closed(map: DataFrame, nodes: Long,
                                         boundary: Long, finish: String)

  /** `closure` with its two bounds as arguments. */
  private[graft] def close(edges: DataFrame, driverCap: Long,
                           nodeCap: Int): Closed = {
    val spark = edges.sparkSession
    import spark.implicits._
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val local = edges.select(col("a"), col("b")).queryExecution.toRdd
      .mapPartitions { rows =>
        val uf = new UnionFind
        // drain before a union could take the forest past `nodeCap`
        rows.flatMap { r =>
          val out =
            if (uf.size > nodeCap - 2) uf.drain() else Array.empty[(String, String)]
          uf.union(r.getUTF8String(0).toString, r.getUTF8String(1).toString)
          out
        } ++ uf.drain()
      }
    // each task emits a node once per forest, so there is nothing to
    // combine before the shuffle
    val labels = local.combineByKey[Array[String]](Array(_),
        (ls, l) => if (ls.contains(l)) ls else ls :+ l,
        (x, y) => x ++ y.filterNot(x.contains), part, mapSideCombine = false)
      .map { case (node, ls) =>
        val label = ls.min
        (node, label, ls.filter(_ != label))
      }
      .persist(StorageLevel.MEMORY_AND_DISK) // filled by the fold below
    val (nodes, boundary) = labels
      .map { case (_, _, others) => (1L, others.length.toLong) }
      .fold((0L, 0L)) { case ((n1, b1), (n2, b2)) => (n1 + n2, b1 + b2) }
    def boundaryEdges = labels.flatMap { case (_, label, others) =>
      others.iterator.map((_, label)) }
    def nodeLabels = labels.map { case (node, label, _) => (node, label) }
    val (map, finish) =
      if (boundary == 0) (nodeLabels.toDF("node", "canon"), "none")
      else if (boundary <= driverCap) {
        val uf = new UnionFind
        boundaryEdges.collect().foreach { case (a, b) => uf.union(a, b) }
        val canon = spark.sparkContext.broadcast(uf.drain().toMap)
        (labels.map { case (node, label, _) =>
          (node, canon.value.getOrElse(label, label)) }.toDF("node", "canon"),
          "driver")
      } else {
        val star = starClosure(boundaryEdges.toDF("a", "b"))._1
          .toDF("label", "label_canon")
        (nodeLabels.toDF("node", "label")
          .join(star, Seq("label"), "left")
          .select(col("node"), coalesce(col("label_canon"), col("label")).as("canon")),
          "star")
      }
    Closed(Caches.broadcastIfSmall(map, nodes), nodes, boundary, finish)
  }

  /** The large-star/small-star closure and the rounds it took. The state
    * is the undirected edge set as (hi, lo) pairs, hi > lo; each round is a
    * large star then a small star, and its output edges carry a "changed"
    * flag. The count of changed edges materializes the round (one job:
    * the round's three shuffles are its stages) and decides convergence:
    * a round that changes no edge leaves a star forest whose centres are
    * the components' least nodes. Only the latest round stays persisted;
    * the result is locally checkpointed, so it does not hold the rounds'
    * lineage. Throws once `maxRounds` rounds still change edges — the cap
    * is never silent.
    *
    * This is `closure`'s finish for a boundary past `DriverClosureCap`,
    * kept equivalence-tested against an independent union-find
    * (Round4OpsSpec). `edges` is read three times (twice by the first
    * round, once for the final node list), so pass a frame that re-scans
    * cheaply: `closure` passes the boundary of its persisted labels. */
  private[graft] def starClosure(edges: DataFrame,
      maxRounds: Int = MaxClosureRounds): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val part = new HashPartitioner(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val input = edges.select(col("a"), col("b")).rdd
      .map(r => (r.getString(0), r.getString(1)))
    // self-loops join no two nodes: only the final node list keeps them
    var es: RDD[(String, String)] = input.flatMap { case (a, b) =>
      if (a > b) Some((a, b)) else if (b > a) Some((b, a)) else None }
    var held: RDD[_] = null
    def free(): Unit = if (held != null) held.unpersist(blocking = false)
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      val next = smallStar(largeStar(es, part), part)
        .persist(StorageLevel.MEMORY_AND_DISK) // filled by the count below
      changed = next.filter(_._2._2).count()
      // the superseded round is dead once `next` is materialized: free it
      // now, not at GC time — a 10⁹-entity closure holds one round, not all
      free()
      held = next
      es = next.mapValues(_._1)
      rounds += 1
    }
    if (changed > 0) {
      free()
      throw new IllegalStateException(s"sameAs closure did not converge: " +
        s"$changed edges still changed after $rounds rounds")
    }
    // every node of the input, self-loops included, maps to the least of
    // itself and its star centre
    val canon = es
      .union(input.flatMap { case (a, b) => Iterator((a, a), (b, b)) })
      .reduceByKey(part, least)
    // read by the count below and by the map's joins; the checkpoint also
    // cuts the rounds' lineage off the result
    canon.localCheckpoint()
    val nodes = canon.count()
    free()
    import spark.implicits._
    (Caches.broadcastIfSmall(canon.toDF("node", "canon"), nodes), rounds)
  }

  private val least = (x: String, y: String) => if (x < y) x else y

  /** Large star: every node's larger neighbours re-attach to the least of
    * the node and its neighbours. An edge (v, u), v > u, becomes
    * (v, m(u)), m(u) = min(u, u's lower neighbours); it changed iff
    * m(u) ≠ u. */
  private def largeStar(es: RDD[(String, String)],
                        part: Partitioner): RDD[(String, (String, Boolean))] = {
    val lows = es.reduceByKey(part, least) // hi → its least lower neighbour
    es.map(_.swap).partitionBy(part).zipPartitions(lows) { (edges, mins) =>
      val m = mins.toMap
      edges.map { case (u, v) =>
        val mu = m.getOrElse(u, u)
        (v, (mu, mu != u))
      }
    }
  }

  /** Small star: every node and its lower neighbours re-attach to the least
    * of them, m(u). An edge (u, w) with w ≠ m(u) becomes (w, m(u)),
    * changed; each node keeps (u, m(u)), unchanged iff some copy of that
    * edge came through the large star unchanged. */
  private def smallStar(ls: RDD[(String, (String, Boolean))],
                        part: Partitioner): RDD[(String, (String, Boolean))] = {
    val byHi = ls.partitionBy(part)
    // no shuffle: byHi already has `part`
    val lows = byHi.reduceByKey(part, (x, y) =>
      if (x._1 < y._1) x else if (y._1 < x._1) y else (x._1, x._2 && y._2))
    byHi.zipPartitions(lows) { (edges, mins) =>
      val m = mins.toMap
      edges.flatMap { case (u, (w, _)) =>
        val mu = m(u)._1
        if (w != mu) Some((w, (mu, true))) else None
      } ++ m.iterator
    }
  }

  /** Union-find with path halving. A union links the larger root under
    * the smaller, so every root is its component's least node. */
  private final class UnionFind {
    private val parent = new java.util.HashMap[String, String]

    def size: Int = parent.size

    def union(a: String, b: String): Unit = {
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra) else if (rb < ra) parent.put(ra, rb)
    }

    private def find(x0: String): String = {
      var x = x0
      var p = parent.get(x)
      while (p != x) {
        val g = parent.get(p)
        parent.put(x, g) // path halving
        x = g
        p = parent.get(x)
      }
      x
    }

    /** Every node with its root; the forest is empty afterwards. */
    def drain(): Array[(String, String)] = {
      val out = parent.keySet.toArray(Array.empty[String]).map(n => (n, find(n)))
      parent.clear()
      out
    }
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
    * The map is joined as given: `closure` has hinted it or not.
    *
    * INPUT CONTRACT: `triples` is read TWICE (candidate + bypass branches
    * of one union). Pass a frame that re-scans cheaply: a parquet stage
    * (Run), a localCheckpoint, or a persisted frame (on Spark 4.1.2 both
    * branches of the self-union read its cache — `SameAsSpec` pins this).
    * An unmaterialized plan is rebuilt once per branch.
    */
  val canonDomain: Seq[String] = Seq(Ns.person, Ns.viaf)

  def canonicalize(triples: DataFrame, canon: DataFrame): DataFrame = {
    def inDomain(c: org.apache.spark.sql.Column) =
      canonDomain.map(c.startsWith(_)).reduce(_ || _)
    val isCand = inDomain(col("subj")) ||
      (col("obj_is_iri") && inDomain(col("obj_value")))
    val bypass = triples.filter(!isCand)
    val facts = triples.filter(isCand)
    val cs = canon.withColumnRenamed("node", "s_node")
      .withColumnRenamed("canon", "s_canon")
    val co = canon.withColumnRenamed("node", "o_node")
      .withColumnRenamed("canon", "o_canon")
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
