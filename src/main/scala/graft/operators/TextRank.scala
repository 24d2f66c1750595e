package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TextRank keyword extraction (Mihalcea & Tarau, "TextRank: Bringing
  * Order into Text", EMNLP 2004): build the word co-occurrence graph
  * (window = adjacent tokens), run PageRank over it, keep the top-k
  * words — the unsupervised keyword signal a curation pipeline uses for
  * topic tagging and index-term extraction. The original filters
  * candidates by part-of-speech; with no POS tagger in a pure-Spark
  * engine the deterministic stand-in is a minimum token length
  * (documented deviation, same role: drop function words).
  *
  * Pure composition — the graph machinery IS [[Cluster.pagerank]] (fixed
  * synchronous rounds, decimal-carrier mass sums, oracle-unrollable), fed
  * by one narrow token-adjacency pass; the composition inherits its scale
  * shape: per-round cost is one shuffle join over the WORD graph (bounded
  * by vocabulary, not corpus size) after the single corpus scan that
  * builds the distinct edge set. */
object TextRank {

  /** Top-`k` keywords of the corpus: `(word, deg, pr)` ordered by rank
    * desc, word asc. */
  def keywords(docs: DataFrame, k: Int = 50, iters: Int = 3,
               minLen: Int = 3, textCol: String = "text"): DataFrame = {
    require(k >= 1 && iters >= 1 && minLen >= 1,
      "TextRank.keywords: k, iters, minLen must be >= 1")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val adj = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(toks.as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(explode(zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(length(col("a")) >= minLen && length(col("b")) >= minLen &&
        col("a") =!= col("b"))
    Cluster.pagerank(adj, aCol = "a", bCol = "b", iters = iters,
        idOut = "word")
      .orderBy(col("pr").desc, col("word"))
      .limit(k)
  }

  /** RAKE keyphrase extraction (Rose, Engel, Cramer & Cowley, "Automatic
    * Keyword Extraction from Individual Documents", in Text Mining 2010)
    * — the MULTI-WORD companion to [[keywords]]: candidate phrases are
    * maximal stopword-free token runs (capped at `maxLen`), each word
    * scores deg/freq over the candidate co-occurrence graph, and a
    * phrase scores the sum of its words. The classic cheap keyphrase
    * extractor for corpus tagging.
    *
    * Quantization: the word score is `(1000 * deg) div freq` — exact
    * integer millis (positive-long div == DuckDB //), so phrase scores
    * are BIGINT sums with no float channel (documented deviation from
    * the paper's real-valued deg/freq; rankings only compress at the
    * milli granularity).
    *
    * Scale shape: one corpus scan -> token explode; the run-id is a
    * running stopword count per document (window partitioned by doc —
    * thousands of narrow per-doc streams, no global window); word stats
    * are a vocabulary-bounded aggregate; phrase scores join candidate
    * members (corpus-bounded, narrow) to the broadcast-sized word-score
    * frame. Returns the top-`k` distinct phrases:
    * `(phrase, n_occurrences, score_milli)`. */
  def rake(docs: DataFrame, stop: Seq[String], k: Int = 20, maxLen: Int = 4,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(stop.nonEmpty && k >= 1 && maxLen >= 1, "TextRank.rake: bad args")
    val toks = split(trim(lower(col(textCol))), "\\s+")
    val pos = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), posexplode(toks).as(Seq("pos", "tok")))
      .withColumn("st", col("tok").isin(stop: _*).cast("int"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    // feeds cands + stats + scores
    val members = graft.Seam.cut(pos.withColumn("g", sum(col("st")).over(w))
      .filter(col("st") === 0)
      .select(col(idCol), col("g"), col("pos"), col("tok")))
    val cands = members.groupBy(col(idCol), col("g"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ").as("phrase"),
        count(lit(1)).as("len"))
      .filter(col("len") <= maxLen)
    val kept = members
      .join(cands.select(col(idCol), col("g"), col("len")), Seq(idCol, "g"))
    val wscore = kept.groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .select(col("tok"), expr("(1000 * deg) div freq").as("wscore"))
    val pscores = kept.join(broadcast(wscore), Seq("tok"))
      .groupBy(col(idCol), col("g"))
      .agg(sum(col("wscore")).as("score_milli"))
    cands.join(pscores, Seq(idCol, "g"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("score_milli")).as("score_milli"))
      .orderBy(col("score_milli").desc, col("phrase"))
      .limit(k)
  }

  /** DuckDB mirror of [[rake]] over `documents`. */
  def rakeOracleSql(stop: Seq[String], k: Int = 20, maxLen: Int = 4): String = {
    val stopList = stop.map(s => s"'$s'").mkString(", ")
    s"""WITH rtoks AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS t
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
       |), rpos AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, t[i] AS tok,
       |    CASE WHEN t[i] IN ($stopList) THEN 1 ELSE 0 END AS st
       |  FROM rtoks, unnest(range(1, len(t) + 1)) AS r(i)
       |), members AS (
       |  SELECT doc_id, g, pos, tok FROM (
       |    SELECT *, SUM(st) OVER (PARTITION BY doc_id ORDER BY pos) AS g
       |    FROM rpos
       |  ) WHERE st = 0
       |), cands AS (
       |  SELECT doc_id, g,
       |    array_to_string(list(tok ORDER BY pos), ' ') AS phrase,
       |    CAST(COUNT(*) AS BIGINT) AS len
       |  FROM members GROUP BY doc_id, g HAVING COUNT(*) <= $maxLen
       |), kept AS (
       |  SELECT m.doc_id, m.g, m.tok, c.len
       |  FROM members m JOIN cands c ON c.doc_id = m.doc_id AND c.g = m.g
       |), wsc AS (
       |  SELECT tok,
       |    (1000 * CAST(SUM(len) AS BIGINT)) // CAST(COUNT(*) AS BIGINT)
       |      AS wscore
       |  FROM kept GROUP BY tok
       |), pscores AS (
       |  SELECT k.doc_id, k.g, CAST(SUM(w.wscore) AS BIGINT) AS score_milli
       |  FROM kept k JOIN wsc w ON w.tok = k.tok GROUP BY k.doc_id, k.g
       |)
       |SELECT c.phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  CAST(MIN(p.score_milli) AS BIGINT) AS score_milli
       |FROM cands c JOIN pscores p ON p.doc_id = c.doc_id AND p.g = c.g
       |GROUP BY c.phrase
       |ORDER BY score_milli DESC, phrase LIMIT $k""".stripMargin
  }
}
