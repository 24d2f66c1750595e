package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All pure
  * built-in expression compositions (codegen-friendly, no UDFs) — each is a
  * narrow per-row transformation that scales embarrassingly at 100 TB.
  */
object TextFns {

  /** Whitespace tokens of cleaned text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** NULL-propagating array size: with ANSI off, `size(NULL)` is -1, which
    * would leak -1 counts (and -1/-1 = 1.0 ratios) for NULL documents where
    * the DuckDB oracle yields NULL. */
  private def sizeOrNull(arr: Column): Column = when(arr.isNotNull, size(arr))

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = sizeOrNull(tokens(c))

  /** BPE-ish subword count: a GPT2-style pre-tokenizer regex (letters /
    * digits / punctuation runs with optional leading space). An upper bound
    * proxy for LLM token cost without shipping a merges table. */
  val bpePattern = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
  def bpeishCount(c: Column): Column =
    sizeOrNull(regexp_extract_all(lower(c), lit(bpePattern), lit(0)))

  /** Punctuation count, a quality-scoring signal. Single-char class counts
    * use the length-difference form: `regexp_extract_all` materializes an
    * array element per match (an allocation per punctuation character —
    * megabytes of boxed strings on a long document), while replace-and-
    * subtract counts the same matches allocation-free. NULL in -> NULL out
    * either way. */
  private def charClassCount(c: Column, singleCharClass: String): Column =
    length(c) - length(regexp_replace(c, singleCharClass, ""))
  def punctCount(c: Column): Column = charClassCount(lower(c), "[^a-z0-9\\s]")

  /** Stopword tables for the language-ID heuristic (top function words). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "que", "por"))

  /** Word tokens under regex \b semantics: maximal [a-z0-9_] runs. Counting
    * members of a word set over these tokens is EXACTLY equivalent to
    * counting `\b(w1|w2|...)\b` regex matches (\b fires at word/non-word
    * transitions, and word chars are [a-zA-Z0-9_]) — but a split is one
    * linear pass and set membership is an O(1) InSet hash probe, where the
    * alternation regex costs O(len x branches) with backtracking. The
    * text_langid / text_quality oracles keep the regex formulation and
    * still hash-match, which pins the equivalence. */
  private def wordTokens(c: Column): Column = split(lower(c), "[^a-z0-9_]+")

  def stopwordCount(c: Column, lang: String): Column =
    sizeOrNull(filter(wordTokens(c), x => x.isin(stopwords(lang): _*)))

  /** [[stopwordCount]] off a materialized [[stopwordHits]] column —
    * filter(hits, lang) == filter(wordTokens, lang) because the hit array
    * is pre-filtered by the all-language stopword SUPERSET, so callers that
    * already pay the hits pass for language ID get per-language counts
    * without re-tokenizing the document. */
  def stopwordCountFromHits(hits: Column, lang: String): Column =
    sizeOrNull(filter(hits, x => x.isin(stopwords(lang): _*)))

  private val langIdLangs = Seq("en", "de", "fr", "es")

  /** Every stopword occurrence (any language) in one tokenize + InSet pass
    * — the expensive half of language ID, factored out so callers can
    * materialize it ONCE as a projection column. Higher-order-function
    * subtrees are excluded from both whole-stage codegen and common-
    * subexpression elimination, so referencing this expression k times
    * re-tokenizes the document k times; as a named column it is computed
    * once (CollapseProject refuses to inline a non-cheap alias with
    * multiple references — the two-stage shape survives optimization). */
  def stopwordHits(c: Column): Column = {
    val allWords = langIdLangs.flatMap(stopwords).distinct
    filter(wordTokens(c), x => x.isin(allWords: _*))
  }

  /** Language-ID argmax over a materialized [[stopwordHits]] column: CJK
    * charset probe first, then most stopword hits with a fixed tie-break
    * order (en > de > fr > es), 'und' when no stopword matches. `hits` is
    * referenced ~2 per language times, but it is a short pre-filtered list
    * (stopword occurrences only), so the repeated filters are cheap. */
  def langIdFrom(c: Column, hits: Column): Column = {
    val scores = langIdLangs.map { l =>
      l -> size(filter(hits, x => x.isin(stopwords(l): _*)))
    }
    val best = greatest(scores.map(_._2): _*)
    // fold from the last language so earlier languages win ties
    val ordered = scores.reverse.foldLeft(lit("und")) { case (alt, (l, s)) =>
      when(s === best && best > 0, lit(l)).otherwise(alt)
    }
    when(c.isNull, lit(null))
      .when(c.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .otherwise(ordered)
  }

  /** Single-expression convenience form. For hot paths prefer
    * `.withColumn("hits", stopwordHits(text))` + [[langIdFrom]] — see
    * [[stopwordHits]] for why the one-expression form re-tokenizes. */
  def langId(c: Column): Column = langIdFrom(c, stopwordHits(c))

  /** PII scrubbing — the standard pre-training redaction pass. Starter
    * pattern set (URL, email, a fixed-shape intl phone), written with
    * explicit character classes so Java regex (engine) and RE2 (DuckDB
    * oracle) agree; extend the list per corpus. Order matters: URLs are
    * redacted first so an email inside a URL path cannot leave a partial
    * match, and the replacement tags themselves match no pattern. */
  val urlRe = "https?://[^\\s]+"
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+[0-9]{2} [0-9]{2} [0-9]{4,5}-[0-9]{4}"

  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, urlRe, "<URL>"),
        emailRe, "<EMAIL>"),
      phoneRe, "<PHONE>")

  def patternCount(c: Column, pattern: String): Column =
    sizeOrNull(regexp_extract_all(c, lit(pattern), lit(0)))

  /** Document fingerprint: rolling polynomial hash of the character stream,
    * mod 1e9+7 (stays in Long range; identical arithmetic is expressible in
    * the DuckDB oracle). Whitespace-insensitive via pre-cleaning. */
  def fingerprint(c: Column): Column = {
    val codes = transform(split(Fns.cleanText(c), ""), ch => ascii(ch).cast(LongType))
    aggregate(codes, lit(0L), (acc, x) => (acc * 31 + x) % 1000000007L)
  }

  /** Distinct word n-gram shingles: contiguous n-token windows joined by a
    * single space; empty when fewer than n tokens (native expression). */
  def wordShingles(c: Column, n: Int): Column =
    TextExprs.wordShingles(tokens(c), n)
}
