package perfbench

import graft.io.{JsonLd, NTriples, Turtle, TurtleParse}
import graft.operators.SameAs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one timed rep produced: output triples and the bytes it wrote. */
final case class RepOut(rows: Long, bytes: Long)

/** One benchmark workload. `generate` writes the inputs (it runs several
  * times during set-up, each time into a fresh directory); `rep` is the
  * timed call and writes under `out`; `checkRep` (after every rep) and
  * `finalChecks` (once, after the last rep) verify outputs outside the
  * timed reps. `layerFacts` gives the traced run's counters that come from
  * a rep's outputs rather than from Spark's listener events. */
abstract class Workload(val name: String) {
  def generate(spark: SparkSession, dir: String, seed: Long): Unit
  def rep(spark: SparkSession, out: String): Unit
  /** Output triples and bytes on disk of a finished rep (untimed). */
  def measure(spark: SparkSession, out: String): RepOut
  def checkRep(spark: SparkSession, r: RepOut, out: String): Option[String]
  def finalChecks(spark: SparkSession, scratch: String): Seq[(String, Boolean)]
  def layerFacts(spark: SparkSession, out: String): Map[String, Double]
}

object Workloads {

  /** Runs `f`, logging its wall time to stderr. */
  def timed[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"[perfbench]   $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  /** Staged input: 500 conversations of 20 turns, as one parquet file. */
  val StagedTurns = 10000L
  /** Files of the staged input's copy that the reference plan reads: more
    * than the cores, so the scan keeps its layout (no repartition). */
  val CopyFiles = 16
  /** Identity edges: above `SameAs.DriverClosureCap`, so the closure
    * iterates in Spark. */
  val IdentityEdges = 101000

  val tripleCols = Seq("subj", "pred", "obj_value", "obj_is_iri", "obj_lang", "obj_dtype")

  /** Order-independent (rows, checksum) of a triple table: the sum of the
    * low 32 bits of each row's xxhash64, which cannot overflow a long. */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(tripleCols.map(col): _*).bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def files(dir: String): Seq[java.nio.file.Path] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toSeq
      finally s.close()
    }
  }

  /** Bytes of the regular, non-hidden files under `dir` (Spark's `.crc`
    * side files are hidden). */
  def dirBytes(dir: String): Long = files(dir).map(java.nio.file.Files.size).sum

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    for (f <- files(from)) {
      val dst = java.nio.file.Paths.get(to).resolve(src.relativize(f))
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.copy(f, dst)
    }
  }

  /** Data files (parquet or text parts) under `dir`. */
  def dataFiles(dir: String): Long =
    files(dir).count(_.getFileName.toString.startsWith("part-")).toLong

  def all: Seq[Workload] = Seq(new Staged, new Identity)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))

  /** The batch job: cold `graft.Run.execute`, every stage written. */
  class Staged extends Workload("staged") {
    var in: String = _
    var seed = 0L
    var canonRows = 0L
    val canonSums = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]

    def generate(spark: SparkSession, dir: String, s: Long): Unit = {
      seed = s
      Gen.transcripts(spark, dir, s, StagedTurns, files = 1)
      in = dir
    }

    def rep(spark: SparkSession, out: String): Unit = {
      canonRows = Spans.around("run")(graft.Run.execute(spark, in, s"$out/kg", resume = false))._2
    }

    def measure(spark: SparkSession, out: String): RepOut = RepOut(canonRows, dirBytes(out))

    def checkRep(spark: SparkSession, r: RepOut, out: String): Option[String] = {
      val sum = timed("canon checksum")(checksum(spark.read.parquet(s"$out/kg/canon")))
      canonSums += sum
      val convs = timed("conversations")(
        spark.read.parquet(s"$out/kg/transcripts").select("conv_id").distinct().count())
      if (sum._1 != r.rows) Some(s"canon stage has ${sum._1} rows, Run returned ${r.rows}")
      else if (convs != StagedTurns / 20) Some(s"$convs conversations, generated ${StagedTurns / 20}")
      else None
    }

    def finalChecks(spark: SparkSession, scratch: String): Seq[(String, Boolean)] = {
      // a second plan over a second layout: the compute-only canon query on
      // a 16-file copy of the same input (the scan keeps its files)
      val copy = s"$scratch/copy"
      timed("16-file copy")(Gen.events(spark, copy, seed, StagedTurns, files = CopyFiles))
      for (t <- Seq("nation", "region", "customer", "supplier"))
        copyTree(s"$in/$t.parquet", s"$copy/$t.parquet")
      val kept = !Trace.repartitions(graft.Pipeline.transcripts(spark, copy))
      val ref = timed("reference canon")(checksum(graft.Pipeline.canonTriples(spark, copy)))
      Seq(
        "staged canon stage equals Pipeline.canonTriples on a 16-file copy (rows, checksum)" ->
          canonSums.forall(_ == ref),
        "staged 16-file copy is scanned without a repartition" -> kept)
    }

    def layerFacts(spark: SparkSession, out: String): Map[String, Double] = {
      import graft.operators.{Emit, Mentions}
      val tr = spark.read.parquet(s"$out/kg/transcripts")
      val linked = spark.read.parquet(s"$out/kg/linked")
      val triples = spark.read.parquet(s"$out/kg/triples").drop("bucket")
      val turns = tr.count().toDouble
      val mentions = Mentions.extract(tr).count()
      val m = linked.agg(count(lit(1)), sum(col("matched").cast("long"))).head()
      val pre = Emit.skeleton(tr).unionAll(Emit.mentionTriples(linked))
        .unionAll(Emit.spatialRelTriples(linked))
        .unionAll(Emit.sameAsTriples(spark, in, linked)).count()
      val post = Emit.factTriples(spark, in, tr, linked).count()
      val canonIn = triples.count()
      val canonOut = spark.read.parquet(s"$out/kg/canon").count()
      Map(
        "closure.edges" -> SameAs.edgesOf(triples).count().toDouble,
        "mentions.per_turn" -> mentions / turns,
        "link.hit_rate" -> m.getLong(1).toDouble / m.getLong(0),
        "emit.fact_rows_pre_distinct" -> pre.toDouble,
        "emit.dup_ratio" -> (1.0 - post.toDouble / pre),
        "manifest.files" -> dataFiles(s"$out/kg").toDouble,
        "canonicalize.collapsed_rows" -> (canonIn - canonOut).toDouble) ++
        Identity.clusterFacts(SameAs.closure(SameAs.edgesOf(triples))) ++
        Identity.candidateShare(triples)
    }
  }

  object Identity {
    /** closure.clusters and closure.largest_cluster of a (node, canon) map. */
    def clusterFacts(canon: DataFrame): Map[String, Double] = {
      val sizes = canon.groupBy("canon").count()
      val r = sizes.agg(count(lit(1)), max("count")).head()
      Map("closure.clusters" -> r.getLong(0).toDouble,
        "closure.largest_cluster" -> Option(r.get(1)).fold(0.0)(_.toString.toDouble))
    }

    /** Share of rows whose subject or IRI object is in the identity
      * namespaces — the rows canonicalize rewrites. */
    def candidateShare(t: DataFrame): Map[String, Double] = {
      def inDomain(c: org.apache.spark.sql.Column) =
        SameAs.canonDomain.map(c.startsWith(_)).reduce(_ || _)
      val cand = inDomain(col("subj")) || (col("obj_is_iri") && inDomain(col("obj_value")))
      val r = t.agg(count(lit(1)), sum(cand.cast("long"))).head()
      Map("canonicalize.candidate_share" -> r.getLong(1).toDouble / math.max(1L, r.getLong(0)))
    }
  }

  /** Identity graph above the driver-closure cap: iterative
    * `SameAs.closure`, then `SameAs.canonicalize` of a triple table,
    * written as parquet, then that table serialized as N-Triples, Turtle
    * and JSON-LD text. */
  class Identity extends Workload("identity") {
    var in: String = _
    var closureOut: DataFrame = _

    def generate(spark: SparkSession, dir: String, s: Long): Unit = {
      Gen.identity(spark, dir, s, IdentityEdges, hotShare = 0.1, triplesPerNode = 1)
      in = dir
    }

    def rep(spark: SparkSession, out: String): Unit = {
      val canon = Spans.around("closure")(SameAs.closure(spark.read.parquet(s"$in/edges.parquet")))
      closureOut = canon
      Spans.around("canonicalize")(
        SameAs.canonicalize(spark.read.parquet(s"$in/triples.parquet"), canon)
          .write.parquet(s"$out/canon"))
      val kg = spark.read.parquet(s"$out/canon")
      Spans.around("exports.nt")(NTriples.export(kg).write.text(s"$out/nt"))
      Spans.around("exports.ttl")(Turtle.export(kg).write.text(s"$out/ttl"))
      Spans.around("exports.jsonld")(JsonLd.export(kg).write.text(s"$out/jsonld"))
    }

    def measure(spark: SparkSession, out: String): RepOut =
      RepOut(spark.read.parquet(s"$out/canon").count(), dirBytes(out))

    /** The canonicalized table computed from the generated clusters, not
      * from the program's closure. */
    private def expectedCanon(spark: SparkSession): DataFrame = {
      val m = spark.read.parquet(s"$in/expected.parquet")
      val t = spark.read.parquet(s"$in/triples.parquet")
      val s = m.select(col("node").as("s_node"), col("canon").as("s_canon"))
      val o = m.select(col("node").as("o_node"), col("canon").as("o_canon"))
      t.join(broadcast(s), t("subj") === s("s_node"), "left")
        .join(broadcast(o), t("obj_is_iri") && t("obj_value") === o("o_node"), "left")
        .select(coalesce(col("s_canon"), col("subj")).as("subj"), col("pred"),
          coalesce(col("o_canon"), col("obj_value")).as("obj_value"),
          col("obj_is_iri"), col("obj_lang"), col("obj_dtype"))
        .distinct()
    }
    private var expected: (Long, Long) = _

    def checkRep(spark: SparkSession, r: RepOut, out: String): Option[String] = {
      val exp = spark.read.parquet(s"$in/expected.parquet")
      val wrong = exp.join(closureOut, Seq("node"), "full_outer")
        .filter(exp("canon").isNull || closureOut("canon").isNull ||
          exp("canon") =!= closureOut("canon"))
        .count()
      if (expected == null) expected = timed("expected rewrite")(checksum(expectedCanon(spark)))
      val kg = spark.read.parquet(s"$out/canon")
      val got = timed("canon checksum")(checksum(kg))
      val subjects = kg.select("subj").distinct().count()
      val nt = spark.read.text(s"$out/nt").count()
      val ttl = spark.read.text(s"$out/ttl").count()
      val jl = timed("line counts")(spark.read.text(s"$out/jsonld").count())
      val ntBack = timed("N-Triples round trip")(
        checksum(NTriples.parse(spark.read.text(s"$out/nt").toDF("line"))))
      val ttlBack = timed("Turtle round trip")(
        checksum(TurtleParse.parse(spark.read.text(s"$out/ttl").toDF("line"))))
      if (wrong != 0) Some(s"$wrong nodes whose canon is not their cluster's least node")
      else if (got != expected) Some(s"canonicalized table $got differs from the clusters' rewrite $expected")
      else if (nt != got._1) Some(s"$nt N-Triples lines for ${got._1} triples")
      else if (ttl != subjects + Turtle.headerLines.size) Some(s"$ttl Turtle lines for $subjects subjects")
      else if (jl != subjects) Some(s"$jl JSON-LD lines for $subjects subjects")
      else if (ntBack != got) Some("N-Triples round trip differs from the canonicalized table")
      else if (ttlBack != got) Some("Turtle round trip differs from the canonicalized table")
      else None
    }

    def finalChecks(spark: SparkSession, scratch: String): Seq[(String, Boolean)] = Seq.empty

    def layerFacts(spark: SparkSession, out: String): Map[String, Double] = {
      val t = spark.read.parquet(s"$in/triples.parquet")
      val canonOut = spark.read.parquet(s"$out/canon").count()
      Map("closure.edges" -> spark.read.parquet(s"$in/edges.parquet").count().toDouble,
        "canonicalize.collapsed_rows" -> (t.count() - canonOut).toDouble) ++
        Identity.clusterFacts(closureOut) ++ Identity.candidateShare(t)
    }
  }
}
