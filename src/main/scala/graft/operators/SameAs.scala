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
  * of its component. Edge sets up to `DriverClosureCap` are closed with a
  * union-find on the driver; larger ones with alternating large-star /
  * small-star rounds over pair RDDs (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC 2014), which rewire every component into
  * a star around its least node. The rounds grow with the log of the
  * component's diameter whatever the order of the names: scrambled-name
  * chains of 100 / 400 / 5,000 / 100,000 nodes close in 6–7 / 8 / 11–12 /
  * 14–15 rounds over three name orders. Each round is one Spark job;
  * per-node minima are combinable `reduceByKey`s and edges stream against
  * a per-partition hash map of them, so a hub's neighbour list is never
  * held in memory at once.
  */
object SameAs {

  /** Driver fast-path bound: identity-edge sets up to this size are
    * closed with an in-memory union-find (one collect, zero iterative
    * Spark jobs — the per-round job overhead dominates the iterative
    * closure at small scale). Beyond it the large-star/small-star rounds
    * below run — the 10⁹-entity scale path. Both produce the identical
    * (node, min-of-component) map. */
  val DriverClosureCap = 100000L

  /** Round cap of the iterative closure: a guard against a defect, not a
    * limit real inputs reach. Rounds grow by about 3 per 10× of chain
    * length (11–12 at 5,000 nodes), so 40 rounds cover a 10¹²-node
    * chain. */
  val MaxClosureRounds = 40

  /** edges(a, b) → (node, canon): every node of the edge set mapped to the
    * lexicographic min of its connected component.
    *
    * Dispatch is a single limit(cap+1) collect: it both answers "is it
    * small?" and, when yes, IS the edge set the union-find consumes. The
    * collect is a CollectLimit, which scans one partition and then scales
    * up (`spark.sql.limit.scaleUpFactor`) until it holds cap+1 rows or has
    * read every partition, so it costs one Spark job or more: 3 on a
    * ≈104 k-edge input, as many as the rounds that close it. Either path
    * hints the map by its exact node count (`Caches.broadcastIfSmall`);
    * `canonicalize` joins it as given. */
  def closure(edges: DataFrame): DataFrame = {
    val probe = edges.select(col("a"), col("b"))
      .limit((DriverClosureCap + 1).toInt).collect()
    if (probe.length <= DriverClosureCap)
      closureOnDriver(edges.sparkSession,
        probe.map(r => (r.getString(0), r.getString(1))))
    else starClosure(edges)._1
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
    * This is the big-edge-set path of `closure`, kept equivalence-tested
    * against the driver union-find (Round4OpsSpec). `edges` is read three
    * times (twice by the first round, once for the final node list), so
    * pass a frame that re-scans cheaply. */
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

  /** Union-find (path-halving) closure over an already-collected edge set.
    * A union links the larger root under the smaller, so every root is its
    * component's lexicographic min and canon = find(n) — the same map as
    * the large-star/small-star fixpoint. */
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
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val nodes = es.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    val canon = nodes.toSeq.sorted.map(n => (n, find(n))).toDF("node", "canon")
    Caches.broadcastIfSmall(canon, nodes.size)
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
