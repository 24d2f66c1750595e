package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.functions.{FixedLog, TextFns}
import graft.operators.{Cluster, Reshape, Similarity}
import graft.sources.Tables
import graft.gates.Artifacts._

/** Text operators: tokenizers, quality scores, language ID, retrieval
  * and ranking. */
object TextGates {

  val gates: Seq[Gate] = Seq(
    // ===== extensions: LLM training-data pipeline operators =====

    // ----- token counting: whitespace + BPE-ish subword proxy
    Gate("text_tokens", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFns.tokenCount(col("text")).as("n_tokens"),
        TextFns.bpeishCount(col("text")).as("n_bpe"),
        length(col("text")).as("n_chars_obs"))
        .orderBy(col("doc_id")),
      s"""SELECT doc_id,
         |  len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens,
         |  len(regexp_extract_all(lower(text), '${TextFns.bpePattern}')) AS n_bpe,
         |  length(text) AS n_chars_obs
         |FROM documents ORDER BY doc_id""".stripMargin),

    // ----- quality-scoring signals; the token array is staged once as a
    // column (same HOF/CSE rationale as text_langid — TextFns.stopwordHits)
    Gate("text_quality", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__toks", TextFns.tokens(col("text")))
        .withColumn("__n", when(col("__toks").isNotNull, size(col("__toks"))))
        .select(col("doc_id"),
          col("__n").as("n_tokens"),
          TextFns.punctCount(col("text")).as("n_punct"),
          (when(col("__toks").isNotNull, size(array_distinct(col("__toks"))))
            .cast("double") / col("__n")).as("uniq_ratio"),
          (length(regexp_replace(trim(col("text")), "\\s+", ""))
            .cast("double") / col("__n")).as("mean_token_len"),
          (TextFns.stopwordCount(col("text"), "en").cast("double") / col("__n"))
            .as("stopword_ratio"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
        |  len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS n_punct,
        |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS uniq_ratio,
        |  CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS mean_token_len,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is|it|that|for)\b')) AS DOUBLE)
        |    / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ----- Gopher-style repetition quality signals (top-token fraction,
    // duplicate-bigram fraction, symbol ratio, repetitive flag)
    Gate("quality_repetition", (s, dir) =>
      graft.operators.Repetition.signals(
        Tables.documents(s, dir).select(col("doc_id"), col("text")))
        .orderBy(col("doc_id")),
      """WITH toks AS (
        |  SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS t FROM documents
        |), topc AS (
        |  SELECT doc_id, MAX(c) AS top_cnt FROM (
        |    SELECT doc_id, tok, COUNT(*) AS c
        |    FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        |    GROUP BY doc_id, tok
        |  ) GROUP BY doc_id
        |), sig AS (
        |  SELECT k.doc_id,
        |    len(k.t) AS n_toks,
        |    CAST(tc.top_cnt AS DOUBLE) / len(k.t) AS top_tok_frac,
        |    CAST(len(k.t) - 1 - len(list_distinct(list_transform(range(1, len(k.t)),
        |        i -> array_to_string(k.t[i:i+1], ' ')))) AS DOUBLE)
        |      / NULLIF(len(k.t) - 1, 0) AS dup_bigram_frac,
        |    CAST(len(regexp_extract_all(lower(k.text), '[^a-z0-9\s]')) AS DOUBLE)
        |      / NULLIF(length(k.text), 0) AS symbol_ratio
        |  FROM toks k LEFT JOIN topc tc ON k.doc_id = tc.doc_id
        |)
        |SELECT doc_id, n_toks, top_tok_frac, dup_bigram_frac, symbol_ratio,
        |  (top_tok_frac > 0.2 OR dup_bigram_frac > 0.3) AS repetitive
        |FROM sig ORDER BY doc_id""".stripMargin),

    // ----- FUSED quality pass (r12 judge stretch 8): Gopher drop rules +
    // repetition + token entropy off ONE tokenize and ONE gram aggregate,
    // replacing three separate corpus scans (each of which re-tokenized
    // text); the measured speedup vs the three gates summed is in SCALE.md
    Gate("quality_fused", (s, dir) =>
      graft.operators.Repetition.fusedSignals(
        Tables.documents(s, dir).select(col("doc_id"), col("text"))),
      graft.operators.Repetition.fusedOracleSql()),

    // ----- language-ID heuristic (stopword argmax + CJK charset probe);
    // hits materialized once as a column — see TextFns.stopwordHits
    Gate("text_langid", (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("__hits", TextFns.stopwordHits(col("text")))
        .select(col("doc_id"),
          TextFns.langIdFrom(col("text"), col("__hits")).as("lang_pred"))
        .orderBy(col("doc_id")),
      {
        val scoreExprs = TextFns.stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
          s"len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS s_$l"
        }.mkString(",\n  ")
        """WITH scored AS (
          |SELECT doc_id, text,
          |  SCORES
          |FROM documents
          |)
          |SELECT doc_id,
          |  CASE WHEN text IS NULL THEN NULL
          |       WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
          |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
          |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
          |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
          |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
          |       ELSE 'es' END AS lang_pred
          |FROM scored ORDER BY doc_id""".stripMargin.replace("SCORES", scoreExprs)
      }),

    // ----- language-ID evaluation: confusion matrix of the detector
    // against the ground-truth lang column, with per-truth-class recall
    // in exact millis — the eval a pipeline runs before trusting langid
    // for routing/filtering. |langs|^2-bounded output; one corpus scan
    Gate("text_langid_confusion", (s, dir) => {
      val pred = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .withColumn("__hits", TextFns.stopwordHits(col("text")))
        .select(col("lang"),
          TextFns.langIdFrom(col("text"), col("__hits")).as("lang_pred"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      pred.groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__cls", sum(col("n")).over(w))
        .select(col("lang"), col("lang_pred"), col("n"),
          expr("(1000 * n) div __cls").as("recall_milli"))
        .orderBy(col("lang"), col("lang_pred"))
    },
      {
        val scoreExprs = TextFns.stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
          s"len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS s_$l"
        }.mkString(",\n  ")
        """WITH scored AS (
          |SELECT lang, text,
          |  SCORES
          |FROM documents WHERE text IS NOT NULL
          |), pred AS (
          |SELECT lang,
          |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
          |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
          |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
          |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
          |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
          |       ELSE 'es' END AS lang_pred
          |FROM scored
          |), cells AS (
          |SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
          |FROM pred GROUP BY lang, lang_pred
          |)
          |SELECT lang, lang_pred, n,
          |  (1000 * n) // CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT)
          |    AS recall_milli
          |FROM cells ORDER BY lang, lang_pred""".stripMargin
          .replace("SCORES", scoreExprs)
      }),

    // ----- vocabulary build: explode tokens -> corpus-wide top-k by freq
    Gate("text_vocab_topk", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(TextFns.tokens(lower(col("text")))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(100),
      """SELECT token, freq FROM (
        |  SELECT token, COUNT(*) AS freq
        |  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
        |        FROM documents)
        |  WHERE token <> ''
        |  GROUP BY token)
        |ORDER BY freq DESC, token LIMIT 100""".stripMargin),

    // ----- document fingerprint: rolling polynomial hash
    Gate("text_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        TextFns.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(
        |        string_split(regexp_replace(trim(text), '\s+', ' ', 'g'), ''),
        |        x -> CAST(ascii(x) AS BIGINT))),
        |    (a, x) -> (a * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ----- Flesch reading-ease quality signal (Flesch 1948): syllables
    // approximated as vowel-group runs, sentences as [.!?] runs — all
    // collapse-and-count string expressions, scan-bound at any scale.
    // Pre-existing '#' is scrubbed so the count marker is unambiguous
    // (the Bpe delimiter discipline); floors guard zero sentences.
    Gate("quality_readability", (s, dir) => {
      def runs(c: Column, pattern: String) = {
        val collapsed = regexp_replace(c, pattern, "#")
        (length(collapsed) -
          length(call_function("replace", collapsed, lit("#"), lit(""))))
          .cast("double")
      }
      val t = regexp_replace(lower(col("text")), "#", "")
      val words = size(split(trim(t), "\\s+")).cast("double")
      val syllables = runs(t, "[aeiouy]+")
      val sentences = greatest(runs(t, "[.!?]+"), lit(1.0))
      Tables.documents(s, dir)
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"),
          round(lit(206.835) - lit(1.015) * (words / sentences) -
            lit(84.6) * (syllables / words), 6).as("flesch"))
        .orderBy(col("doc_id"))
    },
      // same collapse-and-count features, same left-to-right arithmetic
      """WITH base AS (
        |  SELECT doc_id, replace(lower(text), '#', '') AS t
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), feat AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(t), '\s+')) AS DOUBLE) AS words,
        |    CAST(length(regexp_replace(t, '[aeiouy]+', '#', 'g')) -
        |         length(replace(regexp_replace(t, '[aeiouy]+', '#', 'g'), '#', ''))
        |         AS DOUBLE) AS syl,
        |    GREATEST(
        |      CAST(length(regexp_replace(t, '[.!?]+', '#', 'g')) -
        |           length(replace(regexp_replace(t, '[.!?]+', '#', 'g'), '#', ''))
        |           AS DOUBLE), 1.0) AS sents
        |  FROM base
        |)
        |SELECT doc_id,
        |  ROUND(206.835 - 1.015 * (words / sents) - 84.6 * (syl / words), 6)
        |    AS flesch
        |FROM feat ORDER BY doc_id""".stripMargin),

    // ----- composite Gopher-style rule battery (Rae et al. 2021, "Scaling
    // Language Models: Methods, Analysis & Insights from Training Gopher",
    // App. A): word-count bounds, mean word length, symbol-to-word ratio,
    // bullet/ellipsis line fractions, alphabetic-word fraction, stopword
    // presence — the document-level drop rules production pretraining
    // pipelines apply BEFORE any model-based scoring. Every signal is a
    // narrow per-row expression (one scan, no shuffle before the output
    // sort); `pass` is computed from the unrounded doubles in both engines
    // so the emitted rounded columns can't flip the flag.
    Gate("quality_gopher_rules", (s, dir) => {
      // the three tokenizations materialize ONCE as projection columns:
      // higher-order-function subtrees are excluded from whole-stage
      // codegen AND common-subexpression elimination (TextFns.stopwordHits
      // scaladoc), so referencing an inline `split` from every signal
      // would re-split the document per signal — measured 3.2 s -> sub-1 s
      // at sf0.1 for this entry. CollapseProject keeps non-cheap aliases
      // with multiple references, so the staged shape survives the
      // optimizer.
      val staged = Tables.documents(s, dir)
        .filter(col("text").isNotNull && trim(col("text")) =!= "")
        .select(col("doc_id"), col("text"),
          split(trim(lower(col("text"))), "\\s+").as("__words"),
          split(lower(col("text")), "[^a-z0-9_]+").as("__toks"),
          split(col("text"), "\n").as("__lines"))
      val nWords = size(col("__words")).cast("double")
      val meanLen =
        length(regexp_replace(trim(col("text")), "\\s+", "")).cast("double") /
          nWords
      val nSym =
        (length(col("text")) -
          length(call_function("replace", col("text"), lit("#"), lit(""))))
          .cast("double") +
        (length(col("text")) -
          length(call_function("replace", col("text"), lit("..."), lit("")))) / 3
      val symbolRatio = nSym / nWords
      val bulletFrac =
        size(filter(col("__lines"), l => l.rlike("^\\s*[-*•]"))).cast("double") /
          size(col("__lines"))
      val ellipsisFrac =
        size(filter(col("__lines"), l => l.rlike("\\.\\.\\.\\s*$")))
          .cast("double") / size(col("__lines"))
      val alphaFrac =
        size(filter(col("__words"), w => w.rlike("[a-z]"))).cast("double") /
          nWords
      val gopherStops =
        Seq("the", "be", "to", "of", "and", "that", "have", "with")
      val stopHits = size(filter(array(gopherStops.map(lit): _*),
        sw => array_contains(col("__toks"), sw)))
      // Gopher's canonical stopword rule is >= 2 of the 8; the synthetic
      // corpus vocabulary contains only {the, a} as function words (every
      // other battery word has zero corpus hits), so the composite here
      // requires >= 1 to keep the rule discriminative (76% of docs carry
      // 'the'); consumers wanting the canonical cut apply stop_hits >= 2
      val minStopHits = 1
      staged
        .select(col("doc_id"),
          size(col("__words")).cast("bigint").as("n_words"),
          round(meanLen, 6).as("mean_word_len"),
          round(symbolRatio, 6).as("symbol_ratio"),
          round(bulletFrac, 6).as("bullet_frac"),
          round(ellipsisFrac, 6).as("ellipsis_frac"),
          round(alphaFrac, 6).as("alpha_frac"),
          stopHits.cast("bigint").as("stop_hits"),
          (nWords >= 50 && nWords <= 100000 &&
            meanLen >= 3 && meanLen <= 10 &&
            symbolRatio <= 0.1 && bulletFrac <= 0.9 &&
            ellipsisFrac <= 0.3 && alphaFrac >= 0.8 &&
            stopHits >= minStopHits).as("pass"))
        .orderBy(col("doc_id"))
    },
      // the Spark side computes `pass` from the same unrounded doubles; the
      // '...' replace is non-overlapping left-to-right in both engines and
      // the diff is always a multiple of 3, so /3 is exact
      """WITH d AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(lower(text)), '\s+') AS words,
        |    string_split_regex(lower(text), '[^a-z0-9_]+') AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS DOUBLE) AS n_words,
        |    CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |      / CAST(len(words) AS DOUBLE) AS mean_word_len,
        |    (CAST(length(text) - length(replace(text, '#', '')) AS DOUBLE)
        |      + (length(text) - length(replace(text, '...', ''))) / 3)
        |      / CAST(len(words) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(lines,
        |        l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS bullet_frac,
        |    CAST(len(list_filter(lines,
        |        l -> regexp_matches(l, '\.\.\.\s*$'))) AS DOUBLE)
        |      / CAST(len(lines) AS DOUBLE) AS ellipsis_frac,
        |    CAST(len(list_filter(words,
        |        w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |      / CAST(len(words) AS DOUBLE) AS alpha_frac,
        |    len(list_filter(['the','be','to','of','and','that','have','with'],
        |        sw -> list_contains(toks, sw))) AS stop_hits
        |  FROM d
        |)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  ROUND(mean_word_len, 6) AS mean_word_len,
        |  ROUND(symbol_ratio, 6) AS symbol_ratio,
        |  ROUND(bullet_frac, 6) AS bullet_frac,
        |  ROUND(ellipsis_frac, 6) AS ellipsis_frac,
        |  ROUND(alpha_frac, 6) AS alpha_frac,
        |  CAST(stop_hits AS BIGINT) AS stop_hits,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3 AND mean_word_len <= 10
        |    AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
        |    AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
        |    AND stop_hits >= 1) AS pass
        |FROM m ORDER BY doc_id""".stripMargin),

    // ----- character-entropy quality signal: low-entropy docs are
    // boilerplate/repetition, high-entropy ones binary debris — the
    // cheap complement of the LM filter. Per-term decimal carrier makes
    // the per-doc sum merge-order invariant (LangModel's discipline).
    // The per-term p·ln(p) goes through [[FixedLog]] — with one quantized
    // term per (doc, char-class) a libm-ulp flip at a 0.5e-6 boundary is
    // an expected-count event at corpus scale (the DSIR r10–r11 lesson),
    // so the ln must be engine-exact, not margin-argued: p = c/n with
    // integer c, n, hence p·ln(p) = -(c·(fixedLn(n)-fixedLn(c)))/n, all
    // integer ops until the final 1e-6 quantization.
    Gate("quality_entropy", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull && length(col("text")) > 0)
      val chars = docs
        .select(col("doc_id"), length(col("text")).cast("long").as("n"),
          explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "") // Java split(..., -1) trailing empty
      val counts = chars.groupBy(col("doc_id"), col("n"), col("ch"))
        .agg(count(lit(1)).as("c"))
      // the fixed-point ln chain (~12 decimal mul/div steps) runs on the
      // SMALL frames — ln(n) per doc, ln(c) per DISTINCT count value —
      // and broadcast-joins back, not once per (doc, char) row (measured:
      // the per-row chain cost 4.1 s at sf0.1; this shape restores the
      // pre-retrofit cost with identical values by construction)
      val nLn = broadcast(FixedLog.withLn(
        docs.select(col("doc_id"), length(col("text")).cast("long").as("__nv")),
        "__nv", "__lnn").select(col("doc_id"), col("__lnn")))
      val cLn = broadcast(FixedLog.withLn(
        counts.select(col("c")).distinct(), "c", "__lnc"))
      val fixed = counts.join(nLn, Seq("doc_id")).join(cLn, Seq("c"))
        .withColumn("__pos12", col("__lnn") - col("__lnc")) // -ln(p)·1e12 ≥ 0
        .withColumn("__t12", expr(
          "CAST((CAST(c AS DECIMAL(38,0)) * __pos12) div n AS BIGINT)"))
      FixedLog.withS12ToDec6(fixed, "__t12", "__tq")
        .withColumn("__t", (-col("__tq")).cast("decimal(18,6)"))
        .groupBy(col("doc_id"))
        .agg(max(col("n")).cast("bigint").as("n_chars"),
          round(-sum(col("__t")).cast("double") / lit(0.6931471805599453), 6)
            .as("entropy"))
        .orderBy(col("doc_id"))
    },
      // per-char term through [[FixedLog]] integer arithmetic (p·ln(p) =
      // -(c·(fixedLn(n)-fixedLn(c)))//n at scale 12, quantized to 1e-6 by
      // integer rounding), ln(2) as an exact literal on both engines — no
      // libm anywhere in the value path
      s"""WITH docs AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE text IS NOT NULL AND length(text) > 0
        |), chars AS (
        |  SELECT doc_id, n, substring(text, CAST(i AS INTEGER), 1) AS ch
        |  FROM docs, unnest(range(1, n + 1)) AS t(i)
        |), counts AS (
        |  SELECT doc_id, n, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, n, ch
        |), terms AS (
        |  SELECT doc_id, n, -(${FixedLog.duckS12ToDec6("__t12")}) AS t
        |  FROM (
        |    SELECT doc_id, n, c,
        |      ${FixedLog.duckLnItems("n", "__lnn").mkString(",\n      ")},
        |      ${FixedLog.duckLnItems("c", "__lnc").mkString(",\n      ")},
        |      __lnn - __lnc AS __pos12,
        |      CAST((CAST(c AS HUGEINT) * __pos12) // CAST(n AS HUGEINT)
        |        AS BIGINT) AS __t12
        |    FROM counts)
        |)
        |SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_chars,
        |  ROUND(-CAST(SUM(t) AS DOUBLE) / 0.6931471805599453, 6) AS entropy
        |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ----- rule-based sentence segmentation: terminator-delimited spans
    // via ONE regexp_extract_all (the pattern avoids lookbehind, which
    // RE2 — DuckDB's engine — lacks), trimmed and re-indexed densely.
    // Narrow generate, no shuffle; the upstream step text_chunk's
    // window/stride chunking composes after it
    Gate("text_sentence_split", (s, dir) =>
      // the fixture corpus is punctuation-free, so the gate first derives
      // a punctuated variant (a '.' after every 'table'/'value' token —
      // deterministic, mirrored in the oracle) and segments THAT; on
      // unpunctuated input the splitter correctly yields one span
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          regexp_replace(col("text"), "\\b(table|value)\\b", "$1.")
            .as("__t"))
        .select(col("doc_id"),
          posexplode(filter(
            transform(
              regexp_extract_all(col("__t"), lit("[^.!?]+[.!?]*"), lit(0)),
              x => trim(x)),
            x => length(x) > 0)).as(Seq("sent_idx", "sentence")))
        .withColumn("n_chars", length(col("sentence")))
        .orderBy(col("doc_id"), col("sent_idx")),
      // the same RE2-safe pattern; DuckDB lists are 1-based, sent_idx 0-based
      """WITH p AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '\b(table|value)\b', '\1.', 'g') AS t
        |  FROM documents WHERE text IS NOT NULL
        |), s AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_extract_all(t, '[^.!?]+[.!?]*'), x -> trim(x)),
        |      x -> length(x) > 0) AS sents
        |  FROM p
        |), i AS (
        |  SELECT doc_id, sents,
        |    CAST(unnest(range(1, len(sents) + 1)) AS INTEGER) AS idx
        |  FROM s
        |)
        |SELECT doc_id, idx - 1 AS sent_idx, sents[idx] AS sentence,
        |  CAST(length(sents[idx]) AS INTEGER) AS n_chars
        |FROM i ORDER BY doc_id, sent_idx""".stripMargin),

    // ----- context-window chunking: 64-token windows, stride 48 (16-token
    // overlap) — narrow generate, no shuffle; short tails kept
    Gate("text_chunk", (s, dir) =>
      Reshape.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
          window = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx")),
      // window=64 stride=48; DuckDB lists are 1-based like Spark slice
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents
        |  WHERE text IS NOT NULL AND trim(text) <> ''
        |), counted AS (
        |  SELECT doc_id, t,
        |    CAST((GREATEST(len(t) - 64, 0) + 47) // 48 AS INTEGER) + 1 AS n_chunks
        |  FROM toks
        |), exploded AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
        |    array_to_string(t[(i*48 + 1):(i*48 + 64)], ' ') AS chunk_text
        |  FROM counted, unnest(range(0, n_chunks)) AS u(i)
        |)
        |SELECT doc_id, chunk_idx, chunk_text,
        |  len(string_split_regex(chunk_text, '\s+')) AS n_tokens
        |FROM exploded
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // ----- PII scrubbing over a corpus with planted contact strings
    // (fixtures carry no PII, so every 5th doc gets a deterministic
    // synthetic contact block — the planted-input pattern the dedup
    // queries use); output = redacted text + per-category counts
    Gate("text_scrub", (s, dir) => {
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 5 === 0,
          concat(lit(" Contact user"), col("doc_id"),
            lit("@example.com via https://site"), col("doc_id"),
            lit(".example/page?ref=1 or +55 11 91234-5678")))
          .otherwise(lit(""))).as("text"))
      planted.select(col("doc_id"),
        TextFns.redactPii(col("text")).as("texto_limpo"),
        TextFns.patternCount(col("text"), TextFns.urlRe).as("n_urls"),
        TextFns.patternCount(col("text"), TextFns.emailRe).as("n_emails"),
        TextFns.patternCount(col("text"), TextFns.phoneRe).as("n_phones"))
        .orderBy(col("doc_id"))
    },
      {
        val url = "https?://[^\\s]+"
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+[0-9]{2} [0-9]{2} [0-9]{4,5}-[0-9]{4}"
        s"""WITH planted AS (
           |  SELECT doc_id,
           |    text || CASE WHEN doc_id % 5 = 0
           |      THEN ' Contact user' || doc_id || '@example.com via https://site'
           |           || doc_id || '.example/page?ref=1 or +55 11 91234-5678'
           |      ELSE '' END AS text
           |  FROM documents
           |)
           |SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '$url', '<URL>', 'g'),
           |    '$email', '<EMAIL>', 'g'),
           |    '$phone', '<PHONE>', 'g') AS texto_limpo,
           |  len(regexp_extract_all(text, '$url')) AS n_urls,
           |  len(regexp_extract_all(text, '$email')) AS n_emails,
           |  len(regexp_extract_all(text, '$phone')) AS n_phones
           |FROM planted ORDER BY doc_id""".stripMargin
      }),

    // ----- subword token budgets: BPE token counting as a chain of
    // codegen'd string expressions — no UDF, no explode, scan-bound at any
    // scale (Bpe scaladoc); the oracle restates the identical merge chain
    // ----- BPE merge TRAINING (Sennrich 2016): learn the merge table from
    // the corpus — one corpus pass builds the word-frequency dictionary,
    // each round is a pair-count aggregate + argmax over the dictionary
    // only (Bpe.trainMerges scaladoc); the oracle unrolls the identical
    // rounds with data-dependent replaces. 8 rounds keeps the unrolled
    // oracle readable while exercising multi-level merges (later ranks
    // consume earlier ranks' products).
    Gate("text_bpe_train", (s, dir) => {
      import s.implicits._
      graft.functions.Bpe.trainMerges(Tables.documents(s, dir), rounds = 8)
        .zipWithIndex
        .map { case ((a, b, n), i) => (i + 1, a, b, n) }
        .toDF("merge_rank", "lhs", "rhs", "n")
        .orderBy(col("merge_rank"))
    },
      graft.functions.Bpe.trainOracleSql(8)),

    // ----- unigram-LM tokenizer training, one hard-EM step (Kudo 2018 —
    // the SentencePiece family next to BPE's merge training): substring
    // seed model -> Viterbi segmentation of the DISTINCT-word frame ->
    // re-estimated subword probabilities. Exact micro-nat DP in a native
    // expression; the oracle unrolls the identical DP over positions
    // (Unigram scaladoc)
    Gate("text_unigram_step", (s, dir) =>
      graft.operators.Unigram.emStep(Tables.documents(s, dir)),
      graft.operators.Unigram.emStepOracleSql()),

    // ----- the EM loop iterated (2 rounds, kmeans_converged pairing):
    // model re-estimates from round-1 counts with the add-1 character
    // floor (Kudo's alphabet-closure requirement), then re-segments
    Gate("text_unigram_em", (s, dir) =>
      graft.operators.Unigram.emTrain(Tables.documents(s, dir), rounds = 2),
      graft.operators.Unigram.emTrainOracleSql(rounds = 2)),

    // ----- APPLY the EM-trained unigram tokenizer: per-document token
    // counts under the 2-round model — train and apply now both gated
    // (the BPE family's tokenCount/bpeTrain pairing). Distinct words
    // segment once; documents join multiplicities back (Unigram
    // .tokenCounts scaladoc); oracle reads counts off the final round's
    // backtrack hops
    Gate("text_unigram_tokens", (s, dir) =>
      graft.operators.Unigram.tokenCounts(
        Tables.documents(s, dir), "doc_id", "text", rounds = 2),
      graft.operators.Unigram.tokenCountsOracleSql(rounds = 2)),

    Gate("text_bpe_tokens", (s, dir) =>
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.Bpe.tokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy(col("doc_id")),
      graft.functions.Bpe.oracleSql),

    // ----- tokenizer fertility audit: tokens-per-word (fertility) and
    // chars-per-token (compression) per language — the standard check
    // that a tokenizer doesn't tax some languages with 3x the sequence
    // length (Rust et al., ACL 2021). One corpus scan, map-side partial
    // aggregation into ~|langs| groups; ratios as exact integer millis
    // (positive-long `div` == DuckDB `//`, no float divergence channel)
    Gate("tokenizer_fertility", (s, dir) => {
      val perDoc = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("lang"),
          graft.functions.Bpe.tokenCount(col("text")).cast("long").as("bpe"),
          TextFns.tokenCount(col("text")).cast("long").as("words"),
          length(col("text")).cast("long").as("chars"))
      perDoc.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("bpe")).as("bpe_tokens"),
          sum(col("words")).as("words"),
          sum(col("chars")).as("chars"))
        .select(col("lang"), col("n_docs"), col("bpe_tokens"), col("words"),
          col("chars"),
          expr("(bpe_tokens * 1000) div words").as("fertility_milli"),
          expr("(chars * 1000) div bpe_tokens").as("chars_per_token_milli"))
        .orderBy(col("lang"))
    },
      graft.functions.Bpe.fertilityOracleSql),

    // ----- WordPiece (BERT-style) greedy MaxMatch segmentation — the
    // third tokenizer family next to BPE and the unigram LM. Segments
    // DISTINCT words only (cost ∝ corpus vocabulary, not corpus size),
    // joins word frequencies back for piece counts (functions/WordPiece
    // scaladoc; the oracle replays the greedy fold as a recursive CTE)
    Gate("text_wordpiece", (s, dir) =>
      graft.functions.WordPiece.pieceCounts(
        Tables.documents(s, dir), "text", k = 40),
      graft.functions.WordPiece.pieceCountsOracleSql()),

    // ----- BM25 ranked retrieval (corpus search next to the ANN family):
    // narrow per-doc tf columns, one broadcast stats row, top-k — no
    // corpus-wide token explode/shuffle (Retrieval scaladoc)
    Gate("text_bm25_topk", (s, dir) =>
      graft.operators.Retrieval.bm25TopK(Tables.documents(s, dir),
          "doc_id", "text", terms = Seq("vector", "join", "stream"), k = 20)
        .orderBy(col("score_r").desc, col("doc_id")),
      graft.operators.Retrieval.bm25OracleSql(
        "doc_id", "text", "documents", terms = Seq("vector", "join", "stream"),
        k = 20)),

    // ----- dedup-aware retrieval: the serving-time composition of ranked
    // search and near-dup resolution — top-k results that never show two
    // near-duplicates (one representative per cluster, the best-scored
    // one). BM25 candidates (k=40) joined to the connected-components
    // cluster reps; rank-1 per cluster survives; final top-10. Everything
    // composes from driver-green machinery (bm25TopK, the spooled
    // verified pairs, Cluster.connectedComponents); the candidate frame
    // is k rows, so the window and join cost nothing at any corpus scale
    Gate("text_dedup_topk", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val perturbed = docs.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
      val scored = graft.operators.Retrieval.bm25TopK(
          docs.unionByName(perturbed), "doc_id", "text",
          terms = Seq("vector", "join", "stream"), k = 40)
        .select(col("doc_id"), col("score_r"))
      // staged CC labels (clusterRepsSpool) — dedup_cluster measures CC
      val reps = s.read.parquet(clusterRepsSpool(s, dir))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("rep"))
        .orderBy(col("score_r").desc, col("doc_id"))
      scored.join(reps, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("rep").as("cluster_rep"), col("score_r"))
        .orderBy(col("score_r").desc, col("doc_id"))
        .limit(10)
    },
      // the cc recursion defines `corpus` (the planted near-dup corpus);
      // the nested bm25 statement's FROM resolves to that same outer CTE,
      // so ranking and clustering see the identical relation by construction
      {
        val bm25 = graft.operators.Retrieval.bm25OracleSql("doc_id", "text",
          "corpus", terms = Seq("vector", "join", "stream"), k = 40)
        s"""${graft.functions.SketchOracleSql.ccChain(0.6)},
           |scored AS (SELECT doc_id, score_r FROM ($bm25)),
           |ranked AS (
           |  SELECT s.doc_id, s.score_r,
           |    COALESCE(c.cluster_rep, s.doc_id) AS cluster_rep,
           |    ROW_NUMBER() OVER (PARTITION BY COALESCE(c.cluster_rep, s.doc_id)
           |      ORDER BY s.score_r DESC, s.doc_id) AS rn
           |  FROM scored s LEFT JOIN cc c ON c.doc_id = s.doc_id
           |)
           |SELECT doc_id, cluster_rep, score_r FROM ranked WHERE rn = 1
           |ORDER BY score_r DESC, doc_id LIMIT 10""".stripMargin
      },
      Seq(clusterRepsSpool)),

    // ----- passage retrieval (the RAG serving shape): BM25 over CHUNKS
    // instead of whole documents — a long document's one relevant passage
    // outranks a short document's diffuse mentions, and the result carries
    // (doc_id, chunk_idx) provenance for citation. Chunking and scoring
    // compose from the gated text_chunk + text_bm25_topk machinery; the
    // synthetic chunk_id (doc_id * 10^6 + chunk_idx) gives BM25 its total
    // tie-break order and splits back losslessly (chunk counts are
    // window/stride-bounded far below 10^6)
    Gate("rag_chunk_topk", (s, dir) => {
      val chunks = Reshape.chunkTokens(Tables.documents(s, dir),
          "doc_id", "text", window = 64, stride = 48)
        .select((col("doc_id") * 1000000L + col("chunk_idx")).as("chunk_id"),
          col("chunk_text"))
      graft.operators.Retrieval.bm25TopK(chunks, "chunk_id", "chunk_text",
          terms = Seq("vector", "join", "stream"), k = 20)
        .select(col("chunk_id"),
          expr("chunk_id div 1000000").as("doc_id"),
          expr("chunk_id % 1000000").as("chunk_idx"),
          col("dl"), col("tf_vector"), col("tf_join"), col("tf_stream"),
          col("score_r"))
        .orderBy(col("score_r").desc, col("chunk_id"))
    },
      {
        val chunkCtes =
          """ragtoks AS (
            |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
            |  FROM documents
            |  WHERE text IS NOT NULL AND trim(text) <> ''
            |), ragcounted AS (
            |  SELECT doc_id, t,
            |    CAST((GREATEST(len(t) - 64, 0) + 47) // 48 AS INTEGER) + 1 AS n_chunks
            |  FROM ragtoks
            |), chunks AS (
            |  SELECT doc_id * 1000000 + CAST(i AS BIGINT) AS chunk_id,
            |    array_to_string(t[(i*48 + 1):(i*48 + 64)], ' ') AS chunk_text
            |  FROM ragcounted, unnest(range(0, n_chunks)) AS u(i)
            |)""".stripMargin
        val bm25 = graft.operators.Retrieval.bm25OracleSql(
          "chunk_id", "chunk_text", "chunks",
          terms = Seq("vector", "join", "stream"), k = 20,
          preludeCtes = chunkCtes)
        s"""SELECT chunk_id,
           |  chunk_id // 1000000 AS doc_id,
           |  chunk_id % 1000000 AS chunk_idx,
           |  dl, tf_vector, tf_join, tf_stream, score_r
           |FROM (
           |$bm25
           |)
           |ORDER BY score_r DESC, chunk_id""".stripMargin
      }),

    // ----- hybrid retrieval: reciprocal-rank fusion (Cormack 2009) of
    // the BM25 lexical top-20 and the cosine-ANN semantic top-20 for one
    // query (terms + vec 0) — the serving-side merge of the two ranking
    // families this engine already gates separately. Ranks are recomputed
    // over the ROUNDED lexical score (deterministic tie-break by id), the
    // fusion is exact rank arithmetic (Retrieval.rrfFuse scaladoc).
    Gate("text_hybrid_rrf", (s, dir) => {
      val lex = graft.operators.Retrieval.bm25TopK(Tables.documents(s, dir),
          "doc_id", "text", terms = Seq("vector", "join", "stream"), k = 20)
        .select(col("doc_id"), row_number().over(
            Window.orderBy(col("score_r").desc, col("doc_id")))
          .as("lex_rank"))
      val embs = Tables.embeddings(s, dir)
      val sem = Similarity.bruteForceTopK(embs,
          embs.filter(col("vec_id") === 0)
            .select(col("vec_id").as("query_id"),
              col("embedding").as("q_embedding")), k = 20)
        .select(col("vec_id").as("doc_id"), col("rank").as("sem_rank"))
      graft.operators.Retrieval.rrfFuse(lex, sem, "doc_id",
          "lex_rank", "sem_rank", k = 10)
        .orderBy(col("rrf").desc, col("doc_id"))
    },
      graft.operators.Retrieval.hybridRrfOracleSql(
        terms = Seq("vector", "join", "stream"))),

    // ----- PMI collocations (Church & Hanks 1990): top multiword
    // expressions by pointwise mutual information with a support floor —
    // vocabulary-bounded aggregates, TakeOrdered top-k (Retrieval scaladoc)
    Gate("text_collocations", (s, dir) =>
      graft.operators.Retrieval.collocationsTopK(
        Tables.documents(s, dir), "doc_id", "text", minCount = 5, k = 30),
      graft.operators.Retrieval.collocationsOracleSql(
        "doc_id", "text", "documents", minCount = 5, k = 30)),

    // ----- bigram-LM quality scoring (CCNet-style perplexity filter):
    // add-k smoothed corpus model, per-doc avg negative log likelihood
    Gate("quality_lm_nll", (s, dir) =>
      graft.operators.LangModel.bigramNll(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      graft.operators.LangModel.bigramNllOracleSql()),

    // ----- Zipf-law fit of the token-frequency curve (corpus-health
    // screen: s ≈ 1 for natural language): OLS of ln(freq) on ln(rank)
    // over the top-256 vocab rows, FixedLog integer logs, exact BIGINT
    // moments, one mirrored IEEE emission tree
    Gate("text_zipf_fit", (s, dir) =>
      graft.operators.LangModel.zipfFit(Tables.documents(s, dir)),
      graft.operators.LangModel.zipfOracleSql()),

    // ----- fastText-style hashed linear quality classifier: token ->
    // hash bucket -> broadcast weight row, score = sigmoid(mean weight).
    // The weight table is a deterministic stand-in for trained params —
    // swapping in a real model is a parquet read of the same schema
    Gate("quality_classifier", (s, dir) =>
      graft.operators.TextClassifier.hashedLinearScore(Tables.documents(s, dir))
        .orderBy(col("doc_id")),
      graft.operators.TextClassifier.hashedLinearScoreOracleSql()),

    // ----- TRAIN the classifier's bucket weights: 3 rounds of full-batch
    // gradient descent on hashed bag-of-words features, lang='en' labels —
    // the missing half of quality_classifier's stand-in weight table.
    // Elliott fast-sigmoid link keeps every intermediate probability
    // rational (bit-identical cross-engine); z and gradient sums ride the
    // decimal carrier, so training is partition-order invariant
    // (TextClassifier.train scaladoc; oracle unrolls the rounds)
    Gate("quality_classifier_train", (s, dir) =>
      graft.operators.TextClassifier.train(Tables.documents(s, dir)),
      graft.operators.TextClassifier.trainOracleSql()),

    // ----- serve with the TRAINED model (train→apply composition, the
    // pack_sequences_bpe_learned pattern): per-doc score under the
    // full-precision trained weights via the SAME rational Elliott link
    // as training (a measured 1-ulp libm exp divergence flips the
    // 6-decimal rounding on ~0.6% of docs — monotone either way, so
    // rankings translate). Weights are memoized per dataset (training is
    // deterministic, so values are identical on every call): training
    // cost is measured by quality_classifier_train; THIS gate measures
    // serving, which is the production split
    Gate("quality_classifier_trained_score", (s, dir) =>
      graft.operators.TextClassifier.scoreWith(Tables.documents(s, dir),
        trainedClassifierWeights(s, dir).toSeq),
      graft.operators.TextClassifier.trainedScoreOracleSql(),
      Seq(trainedClassifierWeights)),

    // ----- calibration audit over the trained classifier: the decile
    // reliability table behind expected calibration error — per
    // confidence bin, count / positives / exact confidence mass in
    // micro-units (the score's own DECIMAL(18,6) carrier, a lossless
    // double round-trip, so every measure is an integer). The audit an
    // ML-data pipeline runs before trusting classifier thresholds for
    // corpus filtering. Bins are MILLI-sized (floor(score·1000) on the
    // identical double both engines produced, clamped so score = 1.0
    // joins the top bin): the 3-round model's scores concentrate near
    // 0.5, and decile bins would collapse the whole table to one row
    Gate("quality_calibration_ece", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.TextClassifier.scoreWith(docs,
          trainedClassifierWeights(s, dir).toSeq)
        .join(docs.select(col("doc_id"),
          // when/otherwise, not a bare cast: (lang === 'en') is NULL for
          // null-lang docs and sum() would skip them, while the oracle's
          // CASE ... ELSE 0 counts them as 0 — a bin holding only
          // null-lang docs would emit n_pos NULL vs the oracle's 0
          when(col("lang") === "en", lit(1L)).otherwise(lit(0L)).as("y")),
          Seq("doc_id"))
        .withColumn("bin",
          least(floor(col("score") * lit(1000)).cast("long"), lit(999L)))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          (sum(col("score").cast("decimal(18,6)")) * lit(1000000L))
            .cast("long").as("conf_micro"))
        .orderBy(col("bin"))
    },
      graft.operators.TextClassifier.calibrationOracleSql(),
      Seq(trainedClassifierWeights)),

    // ----- token-distribution KL drift between corpus slices (even vs odd
    // doc ids stand in for week-over-week crawls): add-1 smoothing over
    // the union vocabulary, decimal-carrier sums, both directions
    Gate("quality_kl_drift", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.operators.LangModel.tokenKlDivergence(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
    },
      graft.operators.LangModel.klDriftOracleSql),

    // ----- TF-IDF keyword extraction: top-3 terms per document by
    // tf x ln((N+1)/(df+1)), ranked on the ROUNDED score with a term-name
    // tiebreak so the order is engine-independent. Corpus stats flow
    // through one (doc,term) aggregation; df is a second metadata-sized
    // agg; N rides a broadcast 1-row frame (no driver action). The top-3
    // rank plans as WindowGroupLimit — per-partition pruning before the
    // shuffle
    Gate("text_tfidf_topk", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      // the (doc, term) frame feeds BOTH the df aggregate and the scored
      // join; the cut makes the tokenize+explode+agg subtree run ONCE
      // instead of once per consumer (uncut, a driver bench showed a
      // bimodal 1.6 s / 19 s profile: the subtree re-planned, and its
      // broadcast rebuilt, per run)
      val tf = Seam.cut(docs
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      // idf = ln((N+1)/(df+1)) over INTEGER operands → [[FixedLog]]: the
      // per-term 6-decimal score is produced by integer arithmetic both
      // engines compute identically (ranking happens on the emitted
      // rounded value, so a libm-ulp idf flip would reorder ranks)
      // the ln chain runs on the 1-row totals frame and the vocab-sized
      // document-frequency frame, NOT per (doc, term) row (measured: the
      // per-row chain cost 4.5 s at sf0.1; identical values by
      // construction, and the tf⋈df join was already there)
      val nLn = FixedLog.withLn(
        n.withColumn("__np1", (col("n_docs") + lit(1)).cast("long")),
        "__np1", "__lnn")
      val dfLn = FixedLog.withLn(
        dfreq.withColumn("__dfp1", (col("df") + lit(1)).cast("long")),
        "__dfp1", "__lnd")
      val scored1 = tf.join(dfLn, Seq("term"))
        .crossJoin(broadcast(nLn))
        .withColumn("__s12", expr(
          "CAST(tf AS DECIMAL(38,0)) * (__lnn - __lnd)"))
      FixedLog.withS12ToDec6(scored1, "__s12", "__tq")
        .select(col("doc_id"), col("term"),
          col("__tq").cast("double").as("tfidf"))
        .withColumn("term_rank", row_number().over(w))
        .filter(col("term_rank") <= 3)
        .select(col("doc_id"), col("term_rank"), col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("term_rank"))
    },
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
        |), df AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        |), n AS (
        |  SELECT COUNT(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT doc_id, term,
        |    CAST(${FixedLog.duckS12ToDec6("__s12")} AS DOUBLE) AS tfidf
        |  FROM (
        |    SELECT tf.doc_id, tf.term, tf.tf,
        |      ${FixedLog.duckLnItems("n.n_docs + 1", "__lnn")
          .mkString(",\n      ")},
        |      ${FixedLog.duckLnItems("df.df + 1", "__lnd")
          .mkString(",\n      ")},
        |      CAST(tf.tf AS HUGEINT) * (__lnn - __lnd) AS __s12
        |    FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        |), ranked AS (
        |  SELECT doc_id, term, tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, term ASC) AS term_rank
        |  FROM scored
        |)
        |SELECT doc_id, term_rank, term, tfidf FROM ranked
        |WHERE term_rank <= 3
        |ORDER BY doc_id, term_rank""".stripMargin),

    // ----- Unicode canonicalization (UAX #15): NFC composition + accent
    // folding as native expressions over PLANTED composed/decomposed
    // variants (the fixtures are ASCII, so the multilingual inputs are
    // planted deterministically like f12's dirty cells) — the step that
    // makes byte equality match visual equality before hashing/dedup
    // (UnicodeFns scaladoc). nfc_len < raw_len proves real composition.
    Gate("text_unicode_normalize", (s, dir) => {
      import graft.functions.UnicodeFns
      val planted = Tables.documents(s, dir)
        .filter(col("doc_id") < 200)
        .select(col("doc_id"),
          element_at(array(
            lit("cafe\u0301 cliente"), // decomposed: e + combining acute
            lit("a\u0327c\u0327a\u0303o"), // decomposed cedillas + tilde
            lit("a\u00e7\u00e3o \u00e1gua"), // pre-composed
            lit("plain ascii")), (pmod(col("doc_id"), lit(4)) + 1).cast("int"))
            .as("raw"))
      planted.select(col("doc_id"),
        length(col("raw")).as("raw_len"),
        UnicodeFns.nfc(col("raw")).as("nfc"),
        length(UnicodeFns.nfc(col("raw"))).as("nfc_len"),
        UnicodeFns.stripAccents(col("raw")).as("folded"))
        .orderBy(col("doc_id"))
    },
      // chr(769)=U+0301 combining acute, chr(807)=U+0327 cedilla,
      // chr(771)=U+0303 tilde — the same planted variants, byte-for-byte
      """WITH planted AS (
        |  SELECT doc_id,
        |    (['cafe' || chr(769) || ' cliente',
        |      'a' || chr(807) || 'c' || chr(807) || 'a' || chr(771) || 'o',
        |      'ação água',
        |      'plain ascii'])[CAST(doc_id % 4 + 1 AS INTEGER)] AS raw
        |  FROM documents WHERE doc_id < 200
        |)
        |SELECT doc_id, length(raw) AS raw_len,
        |  nfc_normalize(raw) AS nfc,
        |  length(nfc_normalize(raw)) AS nfc_len,
        |  strip_accents(raw) AS folded
        |FROM planted ORDER BY doc_id""".stripMargin),

    // ----- TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    // over the word-adjacency graph, top-k by rank — a pure composition
    // of the token pass with Cluster.pagerank; per-round cost bounded by
    // the VOCABULARY graph, not the corpus (TextRank scaladoc)
    Gate("text_textrank", (s, dir) =>
      graft.operators.TextRank.keywords(Tables.documents(s, dir), k = 50),
      graft.functions.SketchOracleSql.textrankOracleSql()),

    // ----- RAKE keyphrase extraction (Rose et al. 2010): stopword-free
    // token runs scored by summed deg/freq word scores in exact integer
    // millis — the multi-word companion to text_textrank (TextRank.rake)
    Gate("text_keyphrase_rake", (s, dir) =>
      graft.operators.TextRank.rake(Tables.documents(s, dir),
        stop = TextFns.stopwords("en"), k = 20),
      graft.operators.TextRank.rakeOracleSql(
        stop = graft.functions.TextFns.stopwords("en"), k = 20)),

    // ----- per-language percentile calibration of a quality score: raw
    // token-diversity ratios are not comparable across languages, their
    // within-language percent_rank is — the normalization step before a
    // single corpus-wide quality threshold. One window shuffle on lang
    Gate("quality_rank_norm", (s, dir) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("uniq_ratio"), col("doc_id"))
      Tables.documents(s, dir)
        .withColumn("__toks", TextFns.tokens(col("text")))
        .select(col("doc_id"), col("lang"),
          (size(array_distinct(col("__toks"))).cast("double") /
            when(col("__toks").isNotNull, size(col("__toks"))))
            .as("uniq_ratio"))
        .withColumn("q_norm", round(percent_rank().over(w), 6))
        .select(col("doc_id"), col("lang"),
          round(col("uniq_ratio"), 6).as("uniq_ratio"), col("q_norm"))
        .orderBy(col("doc_id"))
    },
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
        |      / len(string_split_regex(trim(text), '\s+')) AS uniq_ratio
        |  FROM documents
        |)
        |SELECT doc_id, lang, ROUND(uniq_ratio, 6) AS uniq_ratio,
        |  ROUND(percent_rank() OVER (PARTITION BY lang
        |    ORDER BY uniq_ratio, doc_id), 6) AS q_norm
        |FROM scored
        |ORDER BY doc_id""".stripMargin)
  )
}
