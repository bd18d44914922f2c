package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Per-operator specs: closure shapes and the BASELINE per-row invariant
  * (SURVEY.md §5 items 2-3). */
class SameAsSpec extends SparkSpec {
  import spark.implicits._

  test("closure handles chains (length ≥ 3) and star merges") {
    val edges = Seq(
      ("b", "a"), ("c", "b"), ("d", "c"), ("e", "d"), // chain e-d-c-b-a
      ("x", "y"), ("y", "z"),                         // chain x-y-z
      ("q", "q2")                                     // pair
    ).toDF("a", "b")
    val canon = SameAs.closure(edges).as[(String, String)].collect().toMap
    assert(Seq("a", "b", "c", "d", "e").forall(canon(_) == "a"))
    assert(Seq("x", "y", "z").forall(canon(_) == "x"))
    assert(canon("q2") == "q")
  }

  test("closure ≡ driver-side union-find on 500 random edges (seeded)") {
    val rnd = new scala.util.Random(7)
    val n = 200
    val edges = Seq.fill(500)((s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}"))
      .filter { case (a, b) => a != b }
    // reference implementation: classic union-find with min-label canon
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edges.foreach { case (a, b) => union(a, b) }
    val got = SameAs.closure(edges.toDF("a", "b"))
      .as[(String, String)].collect().toMap
    // every node present in an edge maps to its component's min label
    assert(got.keySet == edges.flatMap(e => Seq(e._1, e._2)).toSet)
    got.foreach { case (k, v) => assert(v == find(k), s"canon($k)") }
  }

  test("two-cluster merge via a bridging edge") {
    val before = SameAs.closure(Seq(("a", "b"), ("m", "n")).toDF("a", "b"))
      .as[(String, String)].collect().toMap
    assert(before("n") == "m" && before("b") == "a")
    val after = SameAs.closure(Seq(("a", "b"), ("m", "n"), ("b", "n")).toDF("a", "b"))
      .as[(String, String)].collect().toMap
    assert(Seq("a", "b", "m", "n").forall(after(_) == "a"))
  }
}

/** BASELINE.json per-row invariant: per-turn text equality under stable
  * (conv_id, turn_idx) ordering — robust to physical partitioning. */
class TextInvariantSpec extends SparkSpec {
  import spark.implicits._

  test("per-turn text round-trips byte-identically under repartitioning") {
    val tr = Pipeline.transcripts(spark, sfDir)
    val a = tr.orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    val b = tr.repartition(13).orderBy("conv_id", "turn_idx")
      .select("conv_id", "turn_idx", "text").as[(String, Int, String)].collect()
    assert(a.sameElements(b))
    assert(a.map(r => (r._1, r._2)).distinct.length == a.length, "(conv, turn) must be unique")
  }

  test("ordinals are stable under repartitioning (never partition-order dependent)") {
    val p = new Pipeline(spark, sfDir)
    val l = p.linked
    val base = p.ordinals
      .select("conv_id", "kind", "turn_idx", "midx", "ordinal")
      .as[(String, String, Int, Int, Int)].collect().toSet
    val emitting = l.repartition(17)
      .filter(!col("kind").isin("place", "place_left") || col("matched"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("conv_id"), col("kind"))
      .orderBy(col("turn_idx"), col("midx"))
    val re = emitting.select(col("conv_id"), col("kind"), col("turn_idx"),
      col("midx"), row_number().over(w).as("ordinal"))
      .as[(String, String, Int, Int, Int)].collect().toSet
    assert(base == re)
  }

  test("triple emission is idempotent (set semantics, bio_extraction.py:78)") {
    val t = new Pipeline(spark, sfDir).triples
    assert(t.count() == t.distinct().count())
    assert(t.unionAll(t).distinct().count() == t.count())
  }

  test("triple set is invariant under input permutation (full pipeline)") {
    import graft.operators.{Emit, Link, Mentions}
    val tr = Pipeline.transcripts(spark, sfDir)
    val want = new Pipeline(spark, sfDir).triples.as[graft.model.Triple]
      .collect().toSet
    // same rows, adversarial partitioning/order
    val shuffled = tr.repartition(7).sortWithinPartitions(col("text"))
    val got = Emit.allTriples(spark, sfDir, shuffled,
      Link.linkAll(spark, sfDir, Mentions.extract(shuffled)))
      .as[graft.model.Triple].collect().toSet
    assert(got == want)
  }
}
