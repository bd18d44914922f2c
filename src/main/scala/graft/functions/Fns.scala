package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar column expressions mirroring the reference's string/URI/date
  * helpers (SURVEY.md §2.8). Everything here is a pure Catalyst Column
  * expression — no UDFs — so the whole extraction path stays inside
  * whole-stage codegen and predicate pushdown keeps working.
  *
  * Each function cites the reference code whose semantics it reproduces.
  */
object Fns {

  /** The synthetic event id of a turn, recovered from its keys: the conv
    * number (conv_id's digits — NO length cap, so the derivation agrees
    * with the oracle's `substr(conv_id, 6)` for conv numbers of ANY digit
    * count) × 20 + turn_idx. Every arithmetic family attribute (relation
    * index, marital tags, birth position, CF families, …) derives from
    * this ONE shared column. */
  def eidCol: Column =
    expr("substring(conv_id, 6)").cast("long") * 20 + col("turn_idx")

  /** The conv id embedded in a minted URI, or "" when the URI carries none
    * (person/viaf/work subjects). A minted URI ends its conv id with "_"
    * or the URI's end, so the id is all before the second "_" from "conv_"
    * on. Value-identical to `regexp_extract(c, "(conv_[0-9]+)", 1)` on
    * every URI the engine mints (the oracle keeps that regex spelling), at
    * instr+substr cost instead of a regex per row: Run's metrics_stats
    * stage wall dropped 7.0 s → 2.4 s when the regex went. */
  def convOf(c: Column): Column = {
    val i = instr(c, "conv_")
    when(i > 0, substring_index(c.substr(i, length(c)), "_", 2))
      .otherwise(lit(""))
  }

  /** `clean_term` — the cultural-form variant of the reference's term
    * normalizer (`Biography/culturalForm.py:513-521`):
    * lowercase → "-"→" " → strip → remove spaces → drop trailing "s" →
    * drop trailing "ism"/"ist"/"ing" → drop trailing "er".
    * Applied to BOTH sides of every dictionary link (J1 in SURVEY.md §2.3).
    */
  def cleanTerm(c: Column): Column = {
    // Each stage references its predecessor exactly ONCE (anchored regex
    // replace ≡ the conditional-substr formulation): the previous
    // when/substr pyramid re-expanded each stage ~4-5×, compounding to an
    // ~80× textual blow-up of the normalize chain — which pushed the
    // linking stage's generated code past janino's 64 KB method limit and
    // silently disabled whole-stage codegen for the ENTIRE extract+link
    // plan (the hot path of every kg query).
    // Literal-pattern stages use replace() (UTF8String scan, no regex
    // engine); only the anchored suffix strips need a regex.
    val t0 = replace(trim(replace(lower(c), lit("-"), lit(" "))), lit(" "), lit(""))
    val t1 = regexp_replace(t0, "s$", "") // drop ONE trailing s
    // a 3-char suffix can only match when length >= 3, so the old length
    // guard is implied ("ism" itself strips to "")
    val t2 = regexp_replace(t1, "(ism|ist|ing)$", "")
    regexp_replace(t2, "er$", "")
  }

  /** The simple normalizer variant used by occupation/birth-death linking
    * (`Biography/occupation.py:184-186`, `birthDeath.py:24-26`):
    * only lowercase + strip hyphens/whitespace, no suffix stemming.
    */
  def cleanTermSimple(c: Column): Column =
    replace(trim(replace(lower(c), lit("-"), lit(" "))), lit(" "), lit(""))

  /** `remove_punctuation` + space→underscore + special folds
    * (`Utils/utilities.py:221-235`). Feeds URI minting, so it must be
    * deterministic and byte-stable. The reference keeps "-" (its v2
    * comment at utilities.py:311), strips other ASCII punctuation, maps
    * " "→"_", "¾"→"3-4", "©"→"c", "Ã"→"A", then unidecode-folds.
    * We implement the punctuation strip + an explicit fold table covering
    * Latin-1/Latin-Extended-A accents, ligatures, and unidecode-style
    * Cyrillic + Greek transliteration; scripts beyond these (CJK) pass
    * through, declared in SURVEY §2.0.1.
    */
  /** Accent-fold pairs, built pairwise so from/to can never misalign.
    * Covers Latin-1 Supplement AND Latin Extended-A. */
  private val foldPairs: Seq[(Char, Char)] =
    ("ÃA ÀA ÁA ÂA ÄA àa áa âa äa ÈE ÉE ÊE ËE èe ée êe ëe ÌI ÍI ÎI ÏI ìi íi îi ïi " +
     "ÒO ÓO ÔO ÖO òo óo ôo öo ÙU ÚU ÛU ÜU ùu úu ûu üu ÑN ñn ÇC çc ØO øo ÅA åa ÝY ýy ÿy " +
     "ÐD ðd " + // Latin-1 eth
     "ĀA āa ĂA ăa ĄA ąa ĆC ćc ĈC ĉc ĊC ċc ČC čc ĎD ďd ĐD đd " +
     "ĒE ēe ĔE ĕe ĖE ėe ĘE ęe ĚE ěe ĜG ĝg ĞG ğg ĠG ġg ĢG ģg " +
     "ĤH ĥh ĦH ħh ĨI ĩi ĪI īi ĬI ĭi ĮI įi İI ıi ĴJ ĵj ĶK ķk ĸk " +
     "ĹL ĺl ĻL ļl ĽL ľl ĿL ŀl ŁL łl ŃN ńn ŅN ņn ŇN ňn ŊN ŋn " +
     "ŌO ōo ŎO ŏo ŐO őo ŔR ŕr ŖR ŗr ŘR řr ŚS śs ŜS ŝs ŞS şs ŠS šs " +
     "ŢT ţt ŤT ťt ŦT ŧt ŨU ũu ŪU ūu ŬU ŭu ŮU ůu ŰU űu ŲU ųu " +
     "ŴW ŵw ŶY ŷy ŸY ŹZ źz ŻZ żz ŽZ žz")
      .split(" ").toSeq.map(p => (p(0), p(1)))

  /** Unidecode-style MULTI-char transliterations (one-to-many maps can't
    * ride `translate`): ligatures, Cyrillic digraph letters (GOST-style,
    * the rows unidecode emits for Russian), and Greek digraph letters.
    * Config-sized, so the regexp_replace chain stays plan-bounded; the
    * 1:1 bulk rides a single `translate` below. */
  private val multiFolds: Seq[(String, String)] = Seq(
    "¾" -> "3-4", "©" -> "c", "œ" -> "oe", "Œ" -> "OE",
    "æ" -> "ae", "Æ" -> "AE", "ß" -> "ss",
    "Ĳ" -> "IJ", "ĳ" -> "ij", "Þ" -> "Th", "þ" -> "th", "ŉ" -> "'n",
    // Cyrillic digraphs (upper then lower)
    "Ж" -> "Zh", "ж" -> "zh", "Х" -> "Kh", "х" -> "kh", "Ц" -> "Ts",
    "ц" -> "ts", "Ч" -> "Ch", "ч" -> "ch", "Ш" -> "Sh", "ш" -> "sh",
    "Щ" -> "Shch", "щ" -> "shch", "Ю" -> "Iu", "ю" -> "iu",
    "Я" -> "Ia", "я" -> "ia",
    // Greek digraphs
    "Θ" -> "Th", "θ" -> "th", "Φ" -> "Ph", "φ" -> "ph",
    "Ψ" -> "Ps", "ψ" -> "ps", "Χ" -> "Kh", "χ" -> "kh")
  /** One-to-one transliterations ride the same `translate` as the accent
    * folds. Hard/soft signs (\u044a/\u044c/\u042a/\u042c) are DELETED
    * (translate drops chars of `from` beyond `to`'s length, so they sit at
    * the tail of the from-string). */
  private val cyrGreekPairs: Seq[(Char, Char)] =
    ("\u0410A \u0430a \u0411B \u0431b \u0412V \u0432v \u0413G \u0433g \u0414D \u0434d " +
     "\u0415E \u0435e \u0401E \u0451e \u0417Z \u0437z \u0418I \u0438i \u0419I \u0439i " +
     "\u041aK \u043ak \u041bL \u043bl \u041cM \u043cm \u041dN \u043dn \u041eO \u043eo " +
     "\u041fP \u043fp \u0420R \u0440r \u0421S \u0441s \u0422T \u0442t \u0423U \u0443u " +
     "\u0424F \u0444f \u042bY \u044by \u042dE \u044de " +
     "\u0391A \u03b1a \u0392B \u03b2b \u0393G \u03b3g \u0394D \u03b4d \u0395E \u03b5e " +
     "\u0396Z \u03b6z \u0397E \u03b7e \u0399I \u03b9i \u039aK \u03bak \u039bL \u03bbl " +
     "\u039cM \u03bcm \u039dN \u03bdn \u039eX \u03bex \u039fO \u03bfo \u03a0P \u03c0p " +
     "\u03a1R \u03c1r \u03a3S \u03c3s \u03c2s \u03a4T \u03c4t \u03a5U \u03c5u \u03a9O \u03c9o " +
     "\u03aca \u03ade \u03aee \u03afi \u03cco \u03cdu \u03ceo \u03cai \u03cbu \u0390i \u03b0u " +
     "\u0386A \u0388E \u0389E \u038aI \u038cO \u038eU \u038fO \u03aaI \u03abU")
      .split(" ").toSeq.map(p => (p(0), p(1)))
  private val delChars = "\u044a\u044c\u042a\u042c" // hard/soft signs, deleted

  def removePunctuation(c: Column): Column = {
    // every multi-fold pattern is a literal — replace() (UTF8String scan,
    // returns the input untouched on no-match) instead of 31 chained regex
    // matchers per row on the URI-minting hot path
    val chained = multiFolds.foldLeft(c) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to)) }
    val folded2 = translate(chained,
      foldPairs.map(_._1).mkString + cyrGreekPairs.map(_._1).mkString + delChars,
      foldPairs.map(_._2).mkString + cyrGreekPairs.map(_._2).mkString)
    val noPunct = regexp_replace(folded2, """[!"#$%&'()*+,./:;<=>?@\[\\\]^`{|}~_]""", "")
    replace(noPunct, lit(" "), lit("_"))
  }

  /** `strip_all_whitespace` (`Utils/utilities.py:210-212`). */
  def stripAllWhitespace(c: Column): Column = regexp_replace(c, "\\s+", "")

  /** `split_by_casing` (`Utils/utilities.py:215-216`): camelCase → words. */
  def splitByCasing(c: Column): Column =
    array_join(regexp_extract_all(c, lit("^[a-z]+|[A-Z][^A-Z]*"), lit(0)), " ")

  /** `limit_words(s, n)` (`Utils/utilities.py:242-263`, has doctests):
    * collapse whitespace, keep first n words, append "..." if truncated.
    */
  def limitWords(c: Column, n: Int): Column = {
    val wordsArr = split(trim(regexp_replace(c, "\\s+", " ")), " ")
    val kept = array_join(slice(wordsArr, 1, n), " ")
    when(size(wordsArr) > n, concat(kept, lit("..."))).otherwise(kept)
  }

  /** Snippet builder (`Utils/context.py:256-281` F7), replayed in the
    * reference's exact step order: (1) sentence budget via
    * limit_to_full_sentences (context.py:264), (2) the date→"date: "
    * insertion is skipped — transcript text carries no inline DATE tags,
    * (3) "\n"→" ", (4) "."→". ", (5) "  "→" ", (6) strip
    * (context.py:277-281). All replaces are single left-to-right passes,
    * matching Python str.replace semantics. Order matters for parity.
    */
  val SnippetMaxWords = 12
  def snippet(c: Column, maxWords: Int = SnippetMaxWords): Column = {
    // literal replaces ride replace() — same left-to-right all-occurrence
    // semantics as str.replace/regexp_replace, no regex engine per row
    // (this runs once per context row, the widest emission branch)
    val budgeted = limitToFullSentences(c, maxWords)
    val s1 = replace(budgeted, lit("\n"), lit(" "))
    val s2 = replace(s1, lit("."), lit(". "))
    val s3 = replace(s2, lit("  "), lit(" "))
    trim(s3)
  }

  /** `limit_to_full_sentences(s, max)` (`Utils/utilities.py:266-281`):
    * split on '.', accumulate whole sentences while the accumulated text
    * has fewer than `max` spaces, re-append '.', then collapse the ".  ."
    * artifact — replayed exactly, quirks included.
    */
  def limitToFullSentences(c: Column, maxWords: Int): Column = {
    // The fold state carries (text, space-count): the reference recomputes
    // the accumulated text's word count per sentence (split of the whole
    // accumulator each step — O(words²) per row); counting spaces
    // incrementally is provably identical (size(split(s," "))-1 == number
    // of ' ' chars in s; concat adds none, the appended '.' adds none, so
    // the count composes) and makes the row cost linear. Runs per context
    // row — the widest emission branch.
    val s = trim(c)
    val acc = aggregate(split(s, "\\."),
      struct(lit("").as("s"), lit(0).as("n")),
      (acc, x) => {
        val t = trim(x)
        val candidate = concat(acc.getField("s"), t)
        val withDot = when(candidate.endsWith("."), candidate)
          .otherwise(concat(candidate, lit(".")))
        when(acc.getField("n") < maxWords,
          struct(withDot.as("s"),
            (acc.getField("n") + size(split(t, " ")) - 1).as("n")))
          .otherwise(acc)
      },
      a => a.getField("s"))
    when(s === "", s).otherwise(replace(acc, lit(".  ."), lit(". ")))
  }

  /** `format_date` length-dispatch (`Utils/activity.py:52-73`,
    * `Utils/event.py:90-110`): the reference tags the literal's datatype by
    * the LEXICAL LENGTH of the date string (19→dateTime, 10→date,
    * 7→gYearMonth, 4/5→gYear) and never normalizes partial dates (its
    * `normalize=False` comment at event.py:90-99). Returns a struct
    * (lexical, dtype).
    */
  def formatDate(lex: Column): Column = {
    import graft.model.Ns
    val dtype = when(length(lex) === 19, lit(Ns.xsdDateTime))
      .when(length(lex) === 10, lit(Ns.xsdDate))
      .when(length(lex) === 7, lit(Ns.xsdGYearMon))
      .when(length(lex) === 4 || length(lex) === 5, lit(Ns.xsdGYear))
      .otherwise(lit(Ns.xsdString))
    struct(lex.as("lexical"), dtype.as("dtype"))
  }

  /** Date-certainty map — the FULL reference certainty_map
    * (`Utils/activity.py:216-229`): CERT/FROM → high; C/BY/AFTER/TO/BOTH/
    * NEITHER → medium; ROUGHLYDATED (alone) → low; UNKNOWN/None → unknown. */
  def dateCertainty(c: Column): Column =
    when(c.isin("CERT", "FROM"), "highCertainty")
      .when(c.isin("C", "BY", "AFTER", "TO", "BOTH", "NEITHER"),
        "mediumCertainty")
      .when(c === "ROUGHLYDATED", "lowCertainty")
      .otherwise("unknownCertainty")
}
