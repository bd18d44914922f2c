package perfbench

import graft.model.Ns
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. It writes only the program's input tables into
  * a directory; the program under test receives that directory and nothing
  * else. The same seed always gives the same rows.
  *
  * Transcript inputs are the `events` table plus the dictionary tables
  * (`nation`, `region`, `customer`, `supplier`) in the layout
  * `graft.sources.Tables` reads: `<dir>/<name>.parquet`. The seed picks a
  * base `event_id` offset (a multiple of 20, so conversations stay whole)
  * and salts the per-row hash that draws `event_type`, `ts`, `user_id`.
  * Every `event_id` stays below 2·10^7, the width the program's six-digit
  * `conv_id` padding can hold.
  *
  * The identity input is a sameAs edge list whose clusters are known by
  * construction, plus a triple table over the same nodes.
  */
object Gen {

  /** One past the largest event_id the program's conv_id can encode. */
  val EventIdLimit = 20000000L

  /** 64-bit mix of (seed, salt) — SplitMix64's finalizer. */
  def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def baseEventId(seed: Long, turns: Long): Long = {
    val slots = (EventIdLimit - turns) / 20
    require(slots > 0, s"$turns turns do not fit below $EventIdLimit")
    20L * java.lang.Math.floorMod(mix(seed, 1), slots)
  }

  /** Writes events (`files` parquet files) and the dictionaries. */
  def transcripts(spark: SparkSession, dir: String, seed: Long, turns: Long,
                  files: Int): Unit = {
    events(spark, dir, seed, turns, files)
    dictionaries(spark, dir, seed)
  }

  def events(spark: SparkSession, dir: String, seed: Long, turns: Long, files: Int): Unit = {
    val base = baseEventId(seed, turns)
    val h = (salt: Int) => xxhash64(col("id"), lit(seed), lit(salt))
    val types = array(Seq("purchase", "click", "view", "signup", "error").map(lit): _*)
    spark.range(base, base + turns, 1, files)
      .select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 37000000L +
          pmod(h(1), lit(37000000L))).as("ts"),
        pmod(h(2), lit(1500L)).as("user_id"),
        element_at(types, pmod(h(3), lit(5L)).cast("int") + 1).as("event_type"),
        (pmod(h(4), lit(20000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}"))
          .as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** Dictionary tables with the key columns the linker reads; sizes follow
    * the sf0.1 fixture (15 000 customers, 1 000 suppliers). */
  def dictionaries(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    regions.zipWithIndex.map { case (n, k) => (k, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
    (0 until 25).map(k => (k, s"NATION_$k", k % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val segs = array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY").map(lit): _*)
    spark.range(0, 15000, 1, 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(seed), lit(11)), lit(25L)).cast("int").as("c_nationkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(12)), lit(1000000L)) / 100.0).as("c_acctbal"),
      element_at(segs, pmod(xxhash64(col("id"), lit(seed), lit(13)), lit(5L)).cast("int") + 1)
        .as("c_mktsegment"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    spark.range(0, 1000, 1, 1).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pmod(xxhash64(col("id"), lit(seed), lit(21)), lit(25L)).cast("int").as("s_nationkey"),
      (pmod(xxhash64(col("id"), lit(seed), lit(22)), lit(1000000L)) / 100.0).as("s_acctbal"))
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
  }

  /** Identity graph, built from Spark expressions over node numbers so
    * that every node's cluster is known by construction.
    *
    * Clusters are trees (a cluster of n nodes has n-1 edges). Cluster 0 is
    * the hot one: a star holding `hotShare` of the edges (the skew case).
    * Every other cluster c owns the node slots [6c, 6c + size_c) with a
    * seeded size of 2..6; clusters of up to 4 nodes are chains, larger ones
    * stars, so no cluster's diameter exceeds 3. Node names are person or VIAF URIs
    * with seeded numbers, so a cluster's canonical (least) name is not its
    * first node's.
    *
    * Writes `edges` (a, b), `expected` (node, canon: the least name of the
    * node's cluster) and `triples` (the program's triple schema, distinct
    * rows: half are facts between identity nodes, which canonicalization can
    * collapse, half are context rows with literal objects). */
  def identity(spark: SparkSession, dir: String, seed: Long, edges: Int,
               hotShare: Double, triplesPerNode: Int): Unit = {
    val hot = (edges * hotShare).toLong            // hot edges = hot nodes - 1
    val clusters = ((edges - hot) / 3.0 * 1.03).toLong // mean size 4 → 3 edges each
    val salt = math.abs(mix(seed, 3) % 1000000L)
    def h(c: org.apache.spark.sql.Column, s: Int) = xxhash64(c, lit(seed), lit(s))
    def size(c: org.apache.spark.sql.Column) = pmod(h(c, 41), lit(5L)) + 2
    // node number → URI; hot nodes are numbered after every cluster slot
    def uri(n: org.apache.spark.sql.Column) = {
      val k = (n * 7919L % 10000019L + lit(salt * 10000019L)).cast("string")
      when(pmod(h(n, 43), lit(3L)) === 0, concat(lit(Ns.viaf), k))
        .otherwise(concat(lit(Ns.person), k))
    }
    val hotBase = 6L * (clusters + 1)
    val slots = spark.range(6L, hotBase, 1, 8)
      .select(col("id").as("n"), (col("id") / 6).cast("long").as("c"), pmod(col("id"), lit(6L)).as("j"))
      .filter(col("j") < size(col("c")))
    val hotNodes = spark.range(0, hot + 1, 1, 8).select((col("id") + hotBase).as("n"),
      lit(0L).as("c"), col("id").as("j"))
    val nodes = slots.unionAll(hotNodes).withColumn("uri", uri(col("n")))
    // parent slot: hot star → its hub, chain → previous slot, star → slot 0
    val parent = when(col("c") === 0, lit(hotBase))
      .when(size(col("c")) <= 4, col("n") - 1)
      .otherwise(col("c") * 6)
    val es = nodes.filter(col("j") > 0)
      .select(uri(col("n")).as("a"), uri(parent).as("b"))
    es.write.mode("overwrite").parquet(s"$dir/edges.parquet")
    // a cluster's canon is the least name among its slots; the hot star's,
    // among its ten thousand nodes, is aggregated once
    val hotCanon = hotNodes.select(min(uri(col("n")))).head().getString(0)
    val slotNames = (0 until 6).map(j => when(lit(j.toLong) < size(col("c")), uri(col("c") * 6 + j)))
    nodes.select(col("uri").as("node"),
        when(col("c") === 0, lit(hotCanon)).otherwise(least(slotNames: _*)).as("canon"))
      .write.mode("overwrite").parquet(s"$dir/expected.parquet")
    // triples: a random node is a random cluster plus a slot below its size
    def pick(salt: Int) = {
      val c = pmod(h(col("id"), salt), lit(clusters)) + 1
      c * 6 + pmod(h(col("id"), salt + 1), size(c))
    }
    val nodeCount = 4 * clusters + hot + 1 // expected: mean cluster size 4
    val r = spark.range(0, nodeCount * triplesPerNode, 1, 8)
    val facts = r.filter(col("id") % 2 === 0)
      .select(uri(pick(31)).as("subj"),
        concat(lit(Ns.pred + "rel"), pmod(col("id"), lit(5L)).cast("string")).as("pred"),
        uri(when(pmod(col("id"), lit(10L)) === 0, pmod(h(col("id"), 33), lit(hot + 1)) + hotBase)
          .otherwise(pick(35))).as("obj_value"),
        lit(true).as("obj_is_iri"), lit("").as("obj_lang"), lit("").as("obj_dtype"))
    // context rows carry the literal shapes the exporters escape and type:
    // quotes, backslashes, language tags, datatypes. Control characters
    // are left out: JsonLd.export's domain is free of them.
    val k = pmod(col("id"), lit(4L))
    val ctx = r.filter(col("id") % 2 === 1)
      .select(concat(lit(Ns.ctx), (col("id") / 8).cast("long").cast("string")).as("subj"),
        concat(lit(Ns.pred + "note"), pmod(col("id"), lit(8L)).cast("string")).as("pred"),
        when(k === 0, concat(lit("note \"q\" "), col("id").cast("string")))
          .when(k === 1, concat(lit("path C:\\n"), col("id").cast("string"), lit("\\end")))
          .when(k === 2, date_format(timestamp_seconds(col("id") * 86400L % 2000000000L), "yyyy-MM-dd"))
          .otherwise(concat(lit("note "), col("id").cast("string"))).as("obj_value"),
        lit(false).as("obj_is_iri"),
        when(k === 0, lit("en")).otherwise(lit("")).as("obj_lang"),
        when(k === 2, lit("http://www.w3.org/2001/XMLSchema#date")).otherwise(lit("")).as("obj_dtype"))
    facts.unionAll(ctx).distinct()
      .write.mode("overwrite").parquet(s"$dir/triples.parquet")
  }
}
