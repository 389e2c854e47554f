package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis functions for large-scale training-data curation, all pure
  * `Column` expressions (whole-stage codegen, no UDFs): token counting,
  * quality scoring, n-gram language-ID heuristic, shingling, fingerprinting.
  */
object Text {

  /** Whitespace token count. Native codegen'd kernel
    * ([[expressions.TextExprs.tokenCountNat]]) — value-identical to
    * `when(length(trim(text)) = 0, 0).otherwise(size(split(trim(text),
    * "\\s+")))`, the formulation it replaced (TextNativeStatsSpec pins
    * that formulation's values).
    */
  def tokenCount(text: Column): Column =
    expressions.TextExprs.tokenCountCol(text)

  /** BPE-ish subword count estimate: word-boundary pieces + digit runs +
    * punctuation, the usual ~chars/4 regex proxy for tokenizer load.
    */
  def tokenCountBpeish(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,6}|\\d{1,3}|[^\\sA-Za-z\\d]"), lit(0)))

  /** Punctuation ratio ∈ [0,1] (native kernel). */
  def punctRatio(text: Column): Column =
    expressions.TextExprs.punctRatioCol(text)

  /** Alphabetic-character ratio ∈ [0,1] (native kernel). */
  def alphaRatio(text: Column): Column =
    expressions.TextExprs.alphaRatioCol(text)

  /** Mean token length in characters (native kernel). */
  def meanTokenLen(text: Column): Column =
    expressions.TextExprs.meanTokenLenCol(text)

  /** Fraction of tokens that are common English stopwords. Native kernel —
    * the HOF formulation it replaced evaluated an interpreted
    * filter × array_contains(18) per token inside every quality-filter pass
    * (measured: quality_keep ~90 µs/row, dominated here — guide §4).
    */
  def stopwordRatio(text: Column): Column =
    expressions.TextExprs.stopwordRatioCol(text)

  /** Composite quality score ∈ [0,1]: favors mid-length docs with sane
    * punctuation, some stopwords, mostly-alpha text (C4/Gopher-rule style
    * length+punct+stopword heuristics).
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(64.0), lit(1.0))
    val punctOk = when(punctRatio(text) < 0.25, lit(1.0)).otherwise(lit(0.5))
    val stopOk = when(stopwordRatio(text) > 0.05, lit(1.0)).otherwise(lit(0.6))
    round(lenScore * lit(0.5) + punctOk * lit(0.25) + stopOk * lit(0.25), 6)
  }

  /** n-gram heuristic language ID over a tiny built-in profile: scores a few
    * high-frequency function words / character patterns per language; returns
    * the argmax label. Deterministic, expression-only.
    */
  def langIdHeuristic(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def hits(words: Seq[String]): Column =
      words.map(w => when(t.contains(s" $w "), 1).otherwise(0))
        .reduce(_ + _)
    val en = hits(Seq("the", "and", "of", "is", "with"))
    val es = hits(Seq("el", "la", "los", "que", "con"))
    val fr = hits(Seq("le", "les", "des", "est", "avec"))
    val de = hits(Seq("der", "die", "und", "ist", "mit"))
    // CJK: any Han codepoint dominates.
    val zh = when(t.rlike("[\\u4e00-\\u9fff]"), lit(10)).otherwise(lit(0))
    val scores = map(
      lit("en"), en, lit("es"), es, lit("fr"), fr, lit("de"), de, lit("zh"), zh)
    // argmax by (score, label) — deterministic tie-break on label.
    val entries = map_entries(scores)
    val best = array_max(transform(entries, e => struct(e.getField("value").as("s"),
      e.getField("key").as("l"))))
    best.getField("l")
  }

  /** Character shingles (overlapping n-grams) of the normalized text. */
  def charShingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    when(length(norm) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(norm) - (n - 1)),
        i => substring(norm, i, lit(n))))
  }

  /** Word shingles (n-token windows joined by space). */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  /** Rolling-hash document fingerprint: min-of-md5 over word 3-shingles —
    * a deterministic 1-permutation MinHash usable as a near-dup bucket key.
    */
  def fingerprint(text: Column, n: Int = 3): Column =
    array_min(transform(wordShingles(text, n), s => md5(s)))

  /** Fraction of word n-gram occurrences that repeat an earlier occurrence
    * within the same document — `1 - distinct/total` over [[wordShingles]]
    * (0 for docs with fewer than n tokens). The Gopher repetition-filter
    * family (Rae et al. 2021, appendix A1.1) restated over whitespace
    * tokens; n=1 is the duplicate-word fraction. Pure per-row expressions:
    * runs shuffle-free inside the scan's codegen stage at any scale.
    */
  def dupNgramFrac(text: Column, n: Int): Column = {
    val grams = wordShingles(text, n)
    when(size(grams) <= 0, lit(0.0))
      .otherwise((size(grams) - size(array_distinct(grams))).cast("double") /
        size(grams).cast("double"))
  }

  /** Names of the repetition rules a document FAILS (empty array = keep):
    * Gopher-style thresholds on the duplicate 2-gram / 3-gram fractions —
    * the intra-document repetition filter that catches boilerplate and
    * degenerate generations exact/near dedup cannot (those compare ACROSS
    * documents; this one looks inside a single document).
    */
  def repetitionFailReasons(text: Column,
      maxDup2gramFrac: Double = 0.20,
      maxDup3gramFrac: Double = 0.18): Column = {
    val rules: Seq[(String, Column)] = Seq(
      "high_dup_2grams" -> (dupNgramFrac(text, 2) > maxDup2gramFrac),
      "high_dup_3grams" -> (dupNgramFrac(text, 3) > maxDup3gramFrac))
    filter(
      array(rules.map { case (name, failed) =>
        when(failed, lit(name)).otherwise(lit(null).cast("string"))
      }: _*),
      x => x.isNotNull)
  }

  /** Keep/drop decision: true iff no repetition rule fails. */
  def repetitionKeep(text: Column,
      maxDup2gramFrac: Double = 0.20,
      maxDup3gramFrac: Double = 0.18): Column =
    size(repetitionFailReasons(text, maxDup2gramFrac, maxDup3gramFrac)) === 0

  /** PII redaction for training-data scrubbing: emails → `<EMAIL>`, IPv4
    * literals → `<IP>`, phone-like digit runs → `<PHONE>`. Pure codegen'd
    * regexp_replace chain; patterns stay inside the RE2 ∩ java.util.regex
    * common dialect so external engines (the DuckDB oracle) mirror them
    * bit-for-bit. Order matters: emails first (their digits must not be
    * eaten as phones), then IPs, then the greedy phone run.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\+?[0-9][0-9 ()-]{6,}[0-9]", "<PHONE>")
  }

  /** Names of the Gopher/C4-style quality rules a document FAILS, in rule
    * order (empty array = keep). Each rule is a pure expression over the
    * primitives above, so the whole filter stays in whole-stage codegen and
    * is mirrorable in ANSI SQL.
    */
  def qualityFailReasons(text: Column): Column = {
    val nTok = tokenCount(text)
    val mean = meanTokenLen(text)
    val rules: Seq[(String, Column)] = Seq(
      "too_few_tokens" -> (nTok < 5),
      "too_many_tokens" -> (nTok > 5000),
      "bad_mean_token_len" -> (mean < 2.0 || mean > 12.0),
      "low_alpha" -> (alphaRatio(text) < 0.5),
      "high_punct" -> (punctRatio(text) >= 0.25),
      "no_stopwords" -> (stopwordRatio(text) <= 0.02))
    filter(
      array(rules.map { case (name, failed) =>
        when(failed, lit(name)).otherwise(lit(null).cast("string"))
      }: _*),
      x => x.isNotNull)
  }

  /** Composite keep/drop decision: true iff no quality rule fails. */
  def qualityKeep(text: Column): Column = size(qualityFailReasons(text)) === 0
}
