package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{FixedLog, TextExprs, TextFns}

/** Repetition-based quality signals — the Gopher repetition filters (Rae et
  * al., "Scaling Language Models: ... Gopher", 2021, table A1): documents
  * dominated by one token or by repeated n-grams are boilerplate/spam-like
  * and get filtered before pre-training.
  *
  * Signals per document:
  *  - `top_tok_frac`   — occurrences of the single most frequent token /
  *    total tokens;
  *  - `dup_bigram_frac` — fraction of bigram OCCURRENCES that are repeats
  *    of an earlier bigram: `(total - distinct) / total` with
  *    `total = n_tokens - 1` (NULL when the doc has < 2 tokens);
  *  - `symbol_ratio`   — non-alphanumeric, non-whitespace characters /
  *    total characters (NULL for empty docs);
  *  - `repetitive`     — `top_tok_frac > topThresh OR dup_bigram_frac >
  *    dupBiThresh` (three-valued: NULL signals propagate as in SQL).
  *
  * Scale shape: the only token-level wide work is the top-token mode —
  * explode → partial-aggregated count per (doc, token) → max per doc. Both
  * aggregations map-side combine, and the shuffle key (doc_id, token)
  * cannot skew beyond one document's vocabulary. The bigram and symbol
  * signals are narrow per-row array expressions (no explode at all); the
  * final join is doc_id-to-doc_id on two frames already hashed by doc_id.
  */
object Repetition {

  /** Bind `x`'s VALUE to a lambda variable and evaluate `body` over it —
    * `transform(array(x), v -> body(v))[0]`. Catalyst's CollapseProject
    * inlines a projected column's defining expression into every
    * downstream reference, and a reference INSIDE a higher-order-function
    * lambda re-evaluates that whole subtree per array ELEMENT — a sorted
    * token array referenced in a filter lambda re-tokenized and re-sorted
    * the document once per token (quadratic; measured: quality_fused
    * 0.3 s → 12 s at sf0.01). A lambda variable is a bound value, never
    * a subtree, so `body` and any lambdas nested in it can reference `v`
    * freely at zero recompute cost. */
  private def let(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** Run-length multiplicities of `toks` (array<string>, non-null
    * elements): sorts once, then three linear element-lambda array ops —
    * break flags against the shifted-by-one neighbor (the trailing NULL
    * neighbor closes the last run), 1-based end positions, and adjacent
    * position differences. Every token-count statistic of a document
    * (mode count, distinct count, entropy moments) reads off this array
    * without exploding the corpus. */
  def runLengths(toks: Column): Column =
    let(array_sort(toks)) { s =>
      val nxt = concat(slice(s, lit(2), size(s) - 1),
        array(lit(null).cast("string")))
      val brk = zip_with(s, nxt,
        (a, b) => when(a <=> b, lit(0)).otherwise(lit(1)))
      val pos = filter(
        transform(brk, (f, i) => when(f === 1, i + 1).otherwise(lit(-1))),
        p => p =!= -1)
      let(pos) { b =>
        zip_with(b, concat(array(lit(0)), slice(b, lit(1), size(b) - 1)),
          (e, st) => (e - st).cast("long"))
      }
    }

  def signals(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text", topThresh: Double = 0.2,
              dupBiThresh: Double = 0.3): DataFrame = {
    // tokens materialized ONCE as a column: higher-order/array subtrees are
    // excluded from CSE, so inlining this expression per signal would
    // re-tokenize the document per reference
    val base = docs
      .withColumn("__toks", TextFns.tokens(col(textCol)))
      .withColumn("__n", when(col("__toks").isNotNull, size(col("__toks"))))
      .withColumn("__dbi", when(col("__toks").isNotNull,
        size(TextExprs.wordShingles(col("__toks"), 2))))
    val top = base
      .select(col(idCol), explode(col("__toks")).as("__tok"))
      .groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol)).agg(max(col("__c")).as("__top_cnt"))
    val nBi = col("__n") - 1
    base.join(top, Seq(idCol), "left")
      .select(
        col(idCol),
        col("__n").as("n_toks"),
        (col("__top_cnt").cast("double") / col("__n")).as("top_tok_frac"),
        ((nBi - col("__dbi")).cast("double") /
          when(nBi === 0, lit(null)).otherwise(nBi)).as("dup_bigram_frac"),
        (TextFns.punctCount(col(textCol)).cast("double") /
          when(length(col(textCol)) === 0, lit(null))
            .otherwise(length(col(textCol)))).as("symbol_ratio"))
      .withColumn("repetitive",
        col("top_tok_frac") > topThresh || col("dup_bigram_frac") > dupBiThresh)
  }

  /** The FUSED document-quality pass (r12 judge stretch 8): the Gopher
    * drop-rule signals, the repetition signals, and an entropy signal off
    * ONE tokenization and ONE gram aggregation, instead of three separate
    * corpus scans each re-tokenizing `text`.
    *
    * Shape: one scan projects the token array once; (a) the narrow per-row
    * signals (mean word length, punct ratio, alphabetic fraction, stopword
    * hits) evaluate inline with no shuffle; (b) ONE explode emits unigrams
    * and bigrams tagged into a single gram stream (`u:tok` / `b:a b`), one
    * (doc, gram) count aggregate feeds top-token fraction, duplicate-bigram
    * fraction, AND token-level Shannon entropy — the entropy here is over
    * the TOKEN distribution (the fused tokenize is the point); the
    * char-level signal stays available in `quality_entropy`. The ln chain
    * runs on the distinct-count frame (bounded) and the per-doc totals
    * (doc-sized), never per (doc, gram) row — the [[FixedLog]] placement
    * rule. H = ln(n) - Σ c·ln(c)/n, all integer scale-12 until the one
    * DECIMAL(18,6) quantization, engine-exact by construction.
    *
    * `repetitive` mirrors [[signals]]; `pass` is the Gopher-style composite
    * drop decision over the UNROUNDED doubles (word-count bounds, mean
    * length bounds, punct ratio, alphabetic fraction, stopword presence,
    * not repetitive). */
  def fusedSignals(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", topThresh: Double = 0.2,
                   dupBiThresh: Double = 0.3): DataFrame = {
    // Every signal this operator emits is a per-DOCUMENT statistic, so
    // the wide work stays in the row: tokenize once, fold the token
    // array's run-length multiplicities per row (runLengths), and reduce
    // bigram repetition to size/array_distinct of the in-row bigram
    // array: no token-scale frame ever crosses an exchange or a seam.
    val base = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .withColumn("__toks", split(trim(lower(col(textCol))), "\\s+"))
      .withColumn("__runs", Repetition.runLengths(col("__toks")))
    val nWords = size(col("__toks")).cast("double")
    val gopherStops =
      Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val bigrams = when(size(col("__toks")) >= 2, zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    // ONE corpus scan into a compact per-doc frame (scalars + the
    // multiplicity longs — no text, no token strings), cut for its THREE
    // consumers (the emitted row, the entropy explode, the ln table's
    // distinct counts); without it each consumer re-scans and
    // re-tokenizes the corpus
    val perDoc = graft.Seam.cut(base.select(
      col(idCol),
      size(col("__toks")).cast("bigint").as("n_words"),
      (length(regexp_replace(trim(col(textCol)), "\\s+", "")).cast("double")
        / nWords).as("mean_word_len"),
      (TextFns.punctCount(col(textCol)).cast("double") /
        when(length(col(textCol)) === 0, lit(null))
          .otherwise(length(col(textCol)))).as("symbol_ratio"),
      (size(filter(col("__toks"), w => w.rlike("[a-z]"))).cast("double")
        / nWords).as("alpha_frac"),
      size(filter(array(gopherStops.map(lit): _*),
        sw => array_contains(col("__toks"), sw))).cast("bigint")
        .as("stop_hits"),
      array_max(col("__runs")).as("__top"),
      size(bigrams).cast("bigint").as("__nbi"),
      size(array_distinct(bigrams)).cast("bigint").as("__dbi"),
      col("__runs")))
    val narrow = perDoc.drop("__runs")
    // entropy is the one signal that still leaves the row: Σ c·ln(c)
    // needs the scale-12 integer ln, and the FixedLog placement rule
    // runs the ln chain on the BOUNDED distinct-count frame, never per
    // token row. Explode the (doc, multiplicity) pairs — bare BIGINTs,
    // no gram strings — broadcast-join the ln table, and fold per doc:
    // map-side combine collapses each doc inside its partition, so the
    // one exchange here moves O(docs) rows, not O(tokens).
    val exploded = perDoc.select(col(idCol),
      col("n_words").as("__n"), explode(col("__runs")).as("c"))
    val cLn = broadcast(FixedLog.withLn(
      exploded.select(col("c")).distinct(), "c", "__lnc"))
    val rolled = exploded
      .join(cLn, Seq("c"))
      .groupBy(col(idCol))
      .agg(
        max(col("__n")).as("__n"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * __lnc")).as("__s12"))
    val ent = FixedLog.withS12ToDec6(
      FixedLog.withLn(rolled, "__n", "__lnn")
        .withColumn("__h12", col("__lnn") - expr("CAST(__s12 div __n AS BIGINT)")),
      "__h12", "__entq")
    val topFrac = col("__top").cast("double") / col("n_words")
    val dupFrac = (col("__nbi") - col("__dbi")).cast("double") /
      when(col("__nbi") === 0L, lit(null)).otherwise(col("__nbi"))
    val repetitive = topFrac > topThresh || dupFrac > dupBiThresh
    // LEFT join, though ent covers every narrow doc (both sides derive
    // from perDoc and every kept doc has >= 1 run): semantically
    // identical here, but a left join against an aggregate with unique
    // keys is one Catalyst CAN eliminate when a consumer never reads the
    // entropy column — a composite that only aggregates pass/repetitive
    // (curate_report) then skips the explode+ln branch entirely
    narrow.join(ent, Seq(idCol), "left")
      .select(col(idCol), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("alpha_frac"), col("stop_hits"),
        topFrac.as("top_tok_frac"), dupFrac.as("dup_bigram_frac"),
        col("__entq").cast("double").as("entropy_nats"),
        repetitive.as("repetitive"),
        (col("n_words") >= 50L && col("n_words") <= 100000L &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") <= 0.1 && col("alpha_frac") >= 0.8 &&
          col("stop_hits") >= 1L && !coalesce(repetitive, lit(false)))
          .as("pass"))
      .orderBy(col(idCol))
  }

  /** DuckDB mirror of [[fusedSignals]] over the `documents` fixture. */
  def fusedOracleSql(topThresh: Double = 0.2,
                     dupBiThresh: Double = 0.3): String = {
    val lnc = FixedLog.duckLnItems("c", "__lnc").mkString(",\n    ")
    val lnn = FixedLog.duckLnItems("n", "__lnn").mkString(",\n      ")
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |    string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
       |), narrow AS (
       |  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_words,
       |    CAST(length(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', '', 'g'))
       |      AS DOUBLE) / len(t) AS mean_word_len,
       |    CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 \\t\\n\\x0B\\f\\r]'))
       |      AS DOUBLE) / NULLIF(length(text), 0) AS symbol_ratio,
       |    CAST(len(list_filter(t, w -> regexp_matches(w, '[a-z]')))
       |      AS DOUBLE) / len(t) AS alpha_frac,
       |    CAST(len(list_filter(['the','be','to','of','and','that','have',
       |      'with'], sw -> list_contains(t, sw))) AS BIGINT) AS stop_hits
       |  FROM base
       |), grams AS (
       |  SELECT doc_id, 'u:' || tok AS g
       |  FROM (SELECT doc_id, unnest(t) AS tok FROM base)
       |  UNION ALL
       |  SELECT doc_id, 'b:' || bg AS g FROM (
       |    SELECT doc_id, concat(t[pos], ' ', t[pos + 1]) AS bg
       |    FROM (SELECT doc_id, t,
       |            CAST(unnest(range(1, len(t))) AS INTEGER) AS pos
       |          FROM base WHERE len(t) >= 2))
       |), counts AS (
       |  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
       |), clnd AS (
       |  SELECT c, __lnc FROM (
       |    SELECT c,
       |    $lnc
       |    FROM (SELECT DISTINCT c FROM counts))
       |), rolled AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN starts_with(g, 'u:') THEN c ELSE 0 END)
       |      AS BIGINT) AS n,
       |    MAX(CASE WHEN starts_with(g, 'u:') THEN c END) AS top,
       |    CAST(SUM(CASE WHEN starts_with(g, 'u:') THEN 0 ELSE c END)
       |      AS BIGINT) AS nbi,
       |    COUNT(CASE WHEN starts_with(g, 'u:') THEN NULL ELSE 1 END) AS dbi,
       |    SUM(CASE WHEN starts_with(g, 'u:')
       |      THEN CAST(c AS HUGEINT) * __lnc ELSE 0 END) AS s12
       |  FROM counts JOIN clnd USING (c) GROUP BY doc_id
       |), ent AS (
       |  SELECT doc_id, n, top, nbi, dbi,
       |    ${FixedLog.duckS12ToDec6("__h12")} AS entq
       |  FROM (
       |    SELECT doc_id, n, top, nbi, dbi,
       |      $lnn,
       |      __lnn - CAST(s12 // n AS BIGINT) AS __h12
       |    FROM rolled)
       |), sig AS (
       |  SELECT w.doc_id, w.n_words, w.mean_word_len, w.symbol_ratio,
       |    w.alpha_frac, w.stop_hits,
       |    CAST(e.top AS DOUBLE) / w.n_words AS top_tok_frac,
       |    CAST(e.nbi - e.dbi AS DOUBLE) / NULLIF(e.nbi, 0)
       |      AS dup_bigram_frac,
       |    CAST(e.entq AS DOUBLE) AS entropy_nats
       |  FROM narrow w JOIN ent e USING (doc_id)
       |)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac,
       |  stop_hits, top_tok_frac, dup_bigram_frac, entropy_nats,
       |  (top_tok_frac > $topThresh OR dup_bigram_frac > $dupBiThresh)
       |    AS repetitive,
       |  (n_words >= 50 AND n_words <= 100000 AND mean_word_len >= 3
       |    AND mean_word_len <= 10 AND symbol_ratio <= 0.1
       |    AND alpha_frac >= 0.8 AND stop_hits >= 1
       |    AND NOT COALESCE(top_tok_frac > $topThresh
       |      OR dup_bigram_frac > $dupBiThresh, FALSE)) AS pass
       |FROM sig ORDER BY doc_id""".stripMargin
  }
}
