package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Run metrics — the analog of the reference's mapping-failure histograms,
  * sorted into a top-k report (`Biography/culturalForm.py:546-638`,
  * `Utils/place.py:100-113`), and of its run statistics
  * (`Biography/bio_extraction.py:84-90`). These are emitted
  * as queryable DataFrames (and persisted next to the output by the sink)
  * instead of log lines.
  */
object Metrics {

  /** A4: per-(kind, surface) counts of unmapped values. */
  def unmappedHistogram(linked: DataFrame): DataFrame =
    linked.filter(!col("matched"))
      .groupBy(col("kind"), col("surface"))
      .agg(count(lit(1)).as("n"))

  /** O3: the `k` most frequent unmapped values as a deterministic top-k
    * report (`culturalForm.py:626` sorts fails desc): full tie-break
    * (n desc, kind, surface) so LIMIT is reproducible. */
  def topUnmapped(linked: DataFrame, k: Int = 5): DataFrame =
    unmappedHistogram(linked)
      .orderBy(col("n").desc, col("kind"), col("surface"))
      .limit(k)

  /** A3: triples-per-conversation statistics (total/max/min/avg), one row.
    * The conv of a triple is read off its subject URI (`Fns.convOf`: one
    * instr + substr per row, no regex); identity triples (person/viaf
    * subjects) are out of scope like the reference's per-file stats. avg is
    * computed as an explicit double division so the oracle reproduces it
    * bit-for-bit.
    */
  def convStats(triples: DataFrame): DataFrame = {
    val withConv = triples
      .withColumn("conv", graft.functions.Fns.convOf(col("subj")))
      .filter(col("conv") =!= "")
    val per = withConv.groupBy("conv").agg(count(lit(1)).as("n"))
    per.agg(
      count(lit(1)).as("n_convs"),
      sum("n").as("total_triples"),
      max("n").as("max_per_conv"),
      min("n").as("min_per_conv"),
      (sum("n").cast("double") / count(lit(1))).as("avg_per_conv"))
  }

  /** Ontology-term validation (`extraction_validation/verify_terms.py:
    * 73-112`: every cwrc term used must exist and not be deprecated in the
    * ontology). Graft: every emitted predicate and rdf:type object is
    * checked against the Ns vocabulary; output is the distinct term
    * inventory with a known flag — a non-empty, fully-comparable report
    * whose `known=false` rows are the violations (expected: none). */
  def termValidation(triples: DataFrame): DataFrame = {
    import graft.model.Ns
    // single pass: each row contributes its predicate role and — for
    // rdf:type rows — its type role, exploded from one per-row array: one
    // read of the triple frame where a union of two selects reads it
    // twice; set-identical under the trailing distinct.
    val predRT = struct(lit("predicate").as("role"), col("pred").as("term"))
    val typeRT = struct(lit("type").as("role"), col("obj_value").as("term"))
    triples.select(explode(when(col("pred") === Ns.rdfType,
        array(predRT, typeRT)).otherwise(array(predRT))).as("rt"))
      .select(col("rt.role").as("role"), col("rt.term").as("term"))
      .distinct()
      .withColumn("known", col("term").isin(Vocabulary.terms: _*))
  }

  /** Vocabulary-label lookup (`Biography/reviewTerms.py:35-63`): collect
    * every URI the data graph uses in the vocabulary namespaces — SUBJECT
    * and OBJECT positions, like get_unique_uris — and join the vocabulary
    * graph's English labels onto them; URIs without a vocab label are the
    * reference's warn path and emit nothing (here: occupation-namespace
    * terms, absent from the enumerated vocabulary). A broadcast semi-join
    * over the distinct URI set — the data side aggregates to its distinct
    * vocabulary URIs before any join. */
  def labelLookup(triples: DataFrame): DataFrame = {
    import graft.model.{Ns, Triple}
    val namespaces = Seq(Ns.kg + "type/", Ns.occ)
    def inNs(c: org.apache.spark.sql.Column) =
      namespaces.map(ns => c.startsWith(ns)).reduce(_ || _)
    // single pass over both URI positions (explode of the per-row hits)
    // instead of a subj-select ∪ obj-select union — one read of the
    // triple frame, as in termValidation above; set-identical under the
    // distinct. The pre-filter repeats the two startsWith tests so
    // the overwhelming majority of rows (no vocab URI in either slot)
    // skip the per-row array allocation + explode entirely — rows it
    // drops contributed an empty array, so the output set is unchanged.
    val uris = triples
      .filter(inNs(col("subj")) || (col("obj_is_iri") && inNs(col("obj_value"))))
      .select(explode(filter(array(
        when(inNs(col("subj")), col("subj")),
        when(col("obj_is_iri") && inNs(col("obj_value")), col("obj_value"))),
        x => x.isNotNull)).as("uri"))
      .distinct()
    val spark = triples.sparkSession
    import spark.implicits._
    val vocab = broadcast(Vocabulary.labels.toDF("uri", "label"))
    uris.join(vocab, Seq("uri"))
      .select(Triple.cols(col("uri"), Ns.rdfsLabel, col("label"),
        isIri = false, lang = "en"): _*)
  }
}

/** The engine's fixed term vocabulary — the ontology the validator checks
  * against (the reference loads the CWRC ontology graph; ours is the Ns
  * registry, enumerated so additions must be deliberate). */
object Vocabulary {
  import graft.model.Ns
  val terms: Seq[String] = Seq(
    Ns.rdfType, Ns.rdfsLabel, Ns.owlSameAs, Ns.hasTarget, Ns.hasSnippet,
    Ns.mentionsPlace, Ns.leftPlace, Ns.spatialRel, Ns.knowsPerson,
    Ns.memberOf, Ns.hasOccupation, Ns.hasEducation, Ns.hasTimeSpan,
    Ns.atSomeTimeWithin, Ns.beginOfBegin, Ns.endOfEnd, Ns.hasCertainty,
    Ns.hasGenre, Ns.authoredBy, Ns.relatedWork,
    // childrenCount is emitted by Families.childrenCounts, outside
    // Pipeline.triples
    Ns.pred + "childrenCount",
    Ns.tPerson, Ns.tContext, Ns.tActivity, Ns.tTimeSpan, Ns.tEvent, Ns.tWork)

  /** English vocabulary labels (the analog of the reviewTerms vocab ttl
    * files): the camelCase-split local name of each term. */
  val labels: Seq[(String, String)] = terms.map { t =>
    (t, t.split("[/#]").last.replaceAll("([a-z])([A-Z])", "$1 $2"))
  }
}
