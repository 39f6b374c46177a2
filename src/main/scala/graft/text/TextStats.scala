package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis column builders for large-scale training-data pipelines:
  * token counting, quality scoring, fingerprinting. All are pure Catalyst
  * expression trees over builtins — codegen'd, no UDFs, so they run inside
  * whole-stage codegen at the scan at 100 TB.
  */
object TextStats {

  /** Whitespace tokenization (the baseline tokenizer; BPE-ish regex variant
    * below).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish word/number/punctuation token extraction: alphabetic runs,
    * digit runs, or single non-space symbols.
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"), lit(0))

  def regexTokenCount(text: Column): Column = size(regexTokens(text))

  /** Minimal English-ish stopword list used for quality ratios. */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  def stopwordCount(text: Column): Column =
    size(filter(split(trim(lower(text)), "\\s+"),
      t => t.isInCollection(stopwords)))

  /** Characters that are neither lowercase alphanumerics nor whitespace. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[a-z0-9\\s]", ""))

  /** Composite document-quality score in [0,1]: stopword presence, sane
    * length band, low punctuation density (reference-style heuristics for
    * pretraining corpus filtering).
    */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text)
    val stopRatio = stopwordCount(text) / nTok
    val punctRatio = punctCount(text) / length(text)
    lit(0.5) * stopRatio +
      lit(0.3) * when(nTok.between(10, 1000), 1.0).otherwise(0.0) +
      lit(0.2) * (lit(1.0) - punctRatio)
  }

  /** Marker-token profiles for the n-gram/stopword language-ID heuristic
    * (tiny closed-class word lists per language).
    */
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "de", "et", "est", "les", "une", "dans"))

  /** Language-ID heuristic: count marker tokens per language profile,
    * argmax with deterministic tie-break (lang asc); "und" when no marker
    * hits. Declarative (sort_array over (score, lang) structs) — codegen'd,
    * no UDF.
    */
  def langId(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, markers) =>
      struct(
        (-size(filter(toks, t => t.isInCollection(markers)))).as("neg"),
        lit(lang).as("lang"))
    }
    val best = sort_array(array(scored: _*)).getItem(0)
    when(best.getField("neg") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** Token-repetition metrics for quality filtering (the word-level
    * analog of Gopher-style repetition rules): the duplicate-token
    * fraction 1 - |distinct|/|tokens| and the most-frequent-token
    * fraction max_count/|tokens|. High values mean degenerate,
    * boilerplate, or loop-generated text.
    *
    * Pure array expressions over one tokenization — codegen'd, no
    * explode, no shuffle: repetition scoring at 100 TB is a map-only
    * pass over the scan.
    */
  def dupTokenFrac(text: Column): Column = {
    val toks = tokens(lower(text))
    lit(1.0) - size(array_distinct(toks)).cast(DoubleType) /
      size(toks).cast(DoubleType)
  }

  /** Fraction of tokens taken by the single most frequent token.
    * Sort the token array, then one aggregate() pass tracks the longest
    * run of equal adjacent tokens — O(t·log t) comparisons per doc.
    * (The direct formulation — per distinct token, count occurrences
    * via size(filter(...)) — is O(distinct·t) interpreted-lambda
    * evaluations; the run-length form cut the sf0.1 corpus pass 2×.)
    */
  def topTokenFrac(text: Column): Column = {
    val toks = tokens(lower(text))
    val zero = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("best"))
    val best = aggregate(
      sort_array(toks), zero,
      (acc, t) => {
        val run = when(t === acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    best.cast(DoubleType) / size(toks).cast(DoubleType)
  }

  /** PII scrubbing patterns (email addresses and NANP-style phone
    * numbers) — deliberately simple, RE2/Java-regex-portable patterns so
    * the scrub is reproducible across engines.
    */
  val emailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val phonePattern = "\\+1-555-[0-9]{4}"

  /** Replace email/phone PII with typed placeholder tags. Codegen'd
    * regexp_replace — map-only at any scale. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>")

  def emailCount(text: Column): Column = regexp_count(text, lit(emailPattern))

  def phoneCount(text: Column): Column = regexp_count(text, lit(phonePattern))

  /** Exact content fingerprint (hex md5) — the dedup key. */
  def fingerprintMd5(text: Column): Column = md5(text.cast(BinaryType))

  // ---------------------------------------------------------------------
  // Fused one-pass profile (round-8): queries that stack several of the
  // tokenizing stats above re-split the same text once PER STAT (plus
  // interpreted higher-order filter/aggregate lambdas that never enter
  // codegen) — the text family was tokenize-bound at sf1. `profile`
  // computes every integer primitive in one native codegen'd scan
  // (functions.TextProfile); the *From helpers below derive the SAME
  // values as their declarative twins from the struct with cheap
  // arithmetic — bit-identical by construction (same Divide/when shapes
  // over the same integers), property-tested in TextProfileSpec.
  // ---------------------------------------------------------------------

  /** One-pass struct of per-document primitives: n_tokens, stop_count,
    * punct_count, n_chars, n_distinct, top_count, de/en/es/fr marker
    * hits, regex_tokens.
    */
  def profile(text: Column): Column =
    graft.functions.TextProfile.text_profile(text)

  /** [[tokenCount]] from a [[profile]] struct. */
  def tokenCountFrom(p: Column): Column = p.getField("n_tokens")

  /** [[stopwordCount]] from a [[profile]] struct. */
  def stopwordCountFrom(p: Column): Column = p.getField("stop_count")

  /** [[regexTokenCount]] from a [[profile]] struct. */
  def regexTokenCountFrom(p: Column): Column = p.getField("regex_tokens")

  /** [[qualityScore]] from a [[profile]] struct — identical expression
    * shape (int/int Divide, same literals, same order) over the same
    * integers.
    */
  def qualityScoreFrom(p: Column): Column = {
    val nTok = p.getField("n_tokens")
    val stopRatio = p.getField("stop_count") / nTok
    val punctRatio = p.getField("punct_count") / p.getField("n_chars")
    lit(0.5) * stopRatio +
      lit(0.3) * when(nTok.between(10, 1000), 1.0).otherwise(0.0) +
      lit(0.2) * (lit(1.0) - punctRatio)
  }

  /** [[langId]] from a [[profile]] struct — same (neg, lang) struct-sort
    * argmax over the same marker counts.
    */
  def langIdFrom(p: Column): Column = {
    val scored = langProfiles.keys.toSeq.sorted.map { lang =>
      struct((-p.getField(lang)).as("neg"), lit(lang).as("lang"))
    }
    val best = sort_array(array(scored: _*)).getItem(0)
    when(best.getField("neg") === 0, lit("und"))
      .otherwise(best.getField("lang"))
  }

  /** [[dupTokenFrac]] from a [[profile]] struct. */
  def dupTokenFracFrom(p: Column): Column =
    lit(1.0) - p.getField("n_distinct").cast(DoubleType) /
      p.getField("n_tokens").cast(DoubleType)

  /** [[topTokenFrac]] from a [[profile]] struct (max token multiplicity
    * == the longest equal-run of the sorted token array).
    */
  def topTokenFracFrom(p: Column): Column =
    p.getField("top_count").cast(DoubleType) /
      p.getField("n_tokens").cast(DoubleType)
}
