package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftGlue
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding token counting — subword token budgets for packing
  * and cost estimation (the reference has no tokenizer; a training-data
  * pipeline budgets in subword tokens, not whitespace words).
  *
  * Algorithm: BPE *application* in merge-table order — one left-to-right,
  * non-overlapping merge pass per merge rank, never revisiting earlier
  * ranks (the subword-nmt / Sennrich et al., "Neural Machine Translation
  * of Rare Words with Subword Units", ACL 2016 application order). For a
  * consistently-trained merge table (each merge's operands are produced by
  * earlier merges or are single characters) this matches the min-rank
  * iteration GPT-2's encoder uses.
  *
  * Plan shape: the whole tokenization is a chain of narrow, codegen'd
  * string expressions — symbols are delimited inline (`⟨c⟩`), each merge
  * rank is ONE `replace` call, and the token count falls out of a length
  * difference. No UDF, no explode, no shuffle: tokenizing 100 TB is
  * scan-bound, and the identical `replace` chain restates in any engine
  * (which is what lets DuckDB verify it exactly).
  *
  * Delimiter soundness: every symbol is wrapped `⟨sym⟩`, so a merge
  * pattern `⟨a⟩⟨b⟩` can only match two complete adjacent symbols — never
  * across a word boundary (the inter-word space is unwrapped) and never a
  * symbol suffix. Left-to-right non-overlapping `replace` resumes AFTER
  * the inserted text, which is exactly BPE's greedy left-to-right merge of
  * one rank (`a a a` merges to `[aa, a]`, not `[a, aa]`).
  */
object Bpe {

  /** A small English merge table in rank order. Hand-written from classic
    * high-frequency English adjacencies (the shape of GPT-2's first
    * published merges); each merge's operands are single characters or
    * products of earlier ranks, so table-order application is well-formed.
    * Kept deliberately small: the gate proves the machinery, not the
    * vocabulary — a production table (e.g. GPT-2's 50k merges) drops in as
    * data. */
  val merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"),
    ("o", "r"), ("e", "s"), ("t", "o"), ("i", "s"), ("o", "u"),
    ("a", "l"), ("in", "g"), ("e", "d"), ("a", "r"), ("o", "f"),
    ("s", "t"), ("i", "t"), ("l", "e"), ("c", "o"))

  private val L = "⟨" // U+27E8/27E9: absent from the ASCII fixtures by
  private val R = "⟩" // construction (and scrubbed below for safety)

  /** Normalized symbol string: lowercase, whitespace collapsed, every
    * non-space char wrapped as `⟨c⟩`. */
  private def wrapped(text: Column): Column = {
    val clean = regexp_replace(
      regexp_replace(trim(lower(text)), s"[$L$R]", ""), "\\s+", " ")
    regexp_replace(clean, "([^ ])", s"$L$$1$R")
  }

  /** Symbol string after applying every merge rank in table order. */
  private def merged(text: Column): Column =
    merges.foldLeft(wrapped(text)) { case (s, (a, b)) =>
      call_function("replace", s, lit(s"$L$a$R$L$b$R"), lit(s"$L$a$b$R"))
    }

  /** One left-to-right, non-overlapping merge pass of rank (a, b) over a
    * symbol sequence — resumes AFTER a merge, exactly like a string
    * `replace` over the delimited form. Shared by the native expression;
    * package-visible for the spec. */
  private[functions] def mergePass(syms: java.util.ArrayList[String],
                                   a: String, b: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String](syms.size)
    var i = 0
    val n = syms.size
    while (i < n) {
      if (i + 1 < n && syms.get(i) == a && syms.get(i + 1) == b) {
        out.add(a + b); i += 2
      } else { out.add(syms.get(i)); i += 1 }
    }
    out
  }

  /** Native single-pass BPE token counter: per word, one in-memory merge
    * pass per rank — the same left-to-right resume-after-merge semantics
    * as the `replace` chain (BpeSpec pins the equivalence on the fixture),
    * without 2×|merges| whole-document string rewrites (measured ~10× on
    * the documents fixture). Evaluation is per-row and allocation-light;
    * at 100 TB this is the difference between a scan-bound pass and a
    * regex-bound one. */
  case class BpeCount(child: Expression, mergeList: Seq[(String, String)])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case o => TypeCheckResult.TypeCheckFailure(s"bpe_count expects string, got $o")
    }
    private lazy val mergeA: Array[String] = mergeList.map(_._1).toArray
    private lazy val mergeB: Array[String] = mergeList.map(_._2).toArray
    override def nullSafeEval(input: Any): Any =
      bpeCountOf(input.asInstanceOf[UTF8String], mergeA, mergeB)
    override protected def doGenCode(ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
                                     ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
      val a = ctx.addReferenceObj("bpeMergeA", mergeA, "java.lang.String[]")
      val b = ctx.addReferenceObj("bpeMergeB", mergeB, "java.lang.String[]")
      defineCodeGen(ctx, ev, c => s"graft.functions.Bpe.bpeCountOf($c, $a, $b)")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Static twin for generated code: [[BpeCount]]'s per-row loop — one
    * in-memory merge pass per rank over each word's code points. String
    * (not UTF8String) workspace: merges are code-point-level and the
    * per-row garbage is bounded by the document size. */
  final def bpeCountOf(input: UTF8String, mergeA: Array[String],
                       mergeB: Array[String]): Long = {
    val text = input.toString
      .toLowerCase(java.util.Locale.ROOT)
      .replace(L, "").replace(R, "")
      .trim
    if (text.isEmpty) 0L
    else {
      var total = 0L
      text.split("\\s+").foreach { w =>
        var syms = new java.util.ArrayList[String](w.length)
        // code points, matching the oracle's regex '.' semantics
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          syms.add(new String(Character.toChars(cp)))
          i += Character.charCount(cp)
        }
        var r = 0
        while (r < mergeA.length) {
          syms = mergePass(syms, mergeA(r), mergeB(r)); r += 1
        }
        total += syms.size
      }
      total
    }
  }

  /** BPE token count of a document (native expression). NULL text -> NULL. */
  def tokenCount(text: Column): Column =
    GraftGlue.toColumn(BpeCount(GraftGlue.toExpression(text), merges))

  /** [[tokenCount]] as the pure built-in `replace` chain — the form the
    * DuckDB oracle restates verbatim; kept as the reference semantics the
    * native expression is spec-pinned against. */
  def tokenCountBuiltin(text: Column): Column =
    (length(merged(text)) -
      length(call_function("replace", merged(text), lit(L), lit(""))))
      .cast("bigint")

  /** The merged symbol string, for inspection/tests: tokens joined by one
    * space (`⟨⟩` stripped). */
  def tokens(text: Column): Column =
    split(regexp_replace(regexp_replace(merged(text), s"$R$L", " "),
      s"[$L$R]", ""), " ")

  /** DuckDB expression for the merged symbol string of `textExpr` — the
    * wrap -> per-rank replace chain the oracles count delimiters of. */
  private def wrappedSqlOf(textExpr: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace(trim(lower($textExpr)),
       |  '[$L$R]', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), '([^ ])', '$L\\1$R', 'g')""".stripMargin

  def mergedSql(textExpr: String): String =
    merges.foldLeft(wrappedSqlOf(textExpr)) { case (s, (a, b)) =>
      s"replace($s, '$L$a$R$L$b$R', '$L$a$b$R')"
    }

  /** [[tokenCount]] under a caller-supplied merge table — the
    * training→application composition: [[trainMerges]] output (ranks in
    * learned order, operands products of earlier ranks by construction)
    * feeds straight in. */
  def tokenCountWith(text: Column, table: Seq[(String, String)]): Column =
    GraftGlue.toColumn(BpeCount(GraftGlue.toExpression(text), table))

  /** DuckDB restatement over relation `documents(doc_id, text)`: the same
    * wrap -> per-rank replace chain -> delimiter count. */
  def oracleSql: String =
    s"""SELECT doc_id,
       |  CAST(length(m) - length(replace(m, '$L', '')) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, ${mergedSql("text")} AS m FROM documents WHERE text IS NOT NULL)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB count expression over a column named `m` holding [[mergedSql]]
    * output — for oracles that reuse the count inside a larger query. */
  def countOfMergedSql: String =
    s"CAST(length(m) - length(replace(m, '$L', '')) AS BIGINT)"

  /** DuckDB mirror of the `tokenizer_fertility` gate: per-language BPE
    * fertility (tokens per whitespace word) and compression (chars per
    * token), exact integer milli ratios — `//` floors like Spark's `div`
    * on the all-positive sums; every SUM is cast to BIGINT before the
    * divide so no HUGEINT reaches the driver's pandas as float. */
  def fertilityOracleSql: String =
    s"""SELECT lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
       |  CAST(SUM(words) AS BIGINT) AS words,
       |  CAST(SUM(chars) AS BIGINT) AS chars,
       |  CAST((CAST(SUM(bpe) AS BIGINT) * 1000) // CAST(SUM(words) AS BIGINT) AS BIGINT) AS fertility_milli,
       |  CAST((CAST(SUM(chars) AS BIGINT) * 1000) // CAST(SUM(bpe) AS BIGINT) AS BIGINT) AS chars_per_token_milli
       |FROM (
       |  SELECT lang, $countOfMergedSql AS bpe,
       |    CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS words,
       |    CAST(length(text) AS BIGINT) AS chars
       |  FROM (SELECT lang, text, ${mergedSql("text")} AS m
       |        FROM documents WHERE text IS NOT NULL)
       |)
       |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- training

  /** Distributed BPE merge TRAINING (Sennrich et al., "Neural Machine
    * Translation of Rare Words with Subword Units", ACL 2016 §3.2): learn
    * the merge table from the corpus instead of applying a fixed one.
    *
    * Scale shape — the classic dictionary trick: ONE corpus-wide
    * aggregation builds the word-frequency vocabulary (at 100 TB that is
    * the only pass over the data; vocabularies are bounded — millions of
    * distinct words, not terabytes), and every training round then runs
    * over the checkpointed vocab only: a narrow pair-explode weighted by
    * word count, one small aggregate, and a `LIMIT 1` argmax collected to
    * the driver (per-round driver state = one merge pair, like the k-means
    * loop's centroids). Applying learned merges re-uses the delimited
    * `replace` chain, so round r costs r narrow string ops over the vocab
    * — never a re-scan of the corpus.
    *
    * Determinism: the argmax tie-breaks on (count DESC, lhs ASC, rhs ASC)
    * — a total order both engines state identically (binary string
    * collation), so the learned table is a pure function of the corpus and
    * [[trainOracleSql]] can restate the identical unrolled rounds.
    *
    * Returns the learned merges in rank order: (lhs, rhs, pairCount). */
  def trainMerges(docs: org.apache.spark.sql.DataFrame, rounds: Int,
                  textCol: String = "text"): Seq[(String, String, Long)] = {
    require(rounds >= 1, s"trainMerges: rounds must be >= 1, got $rounds")
    val normalized = regexp_replace(
      regexp_replace(trim(lower(col(textCol))), s"[$L$R]", ""), "\\s+", " ")
    val vocab = graft.Seam.cut(docs.filter(col(textCol).isNotNull)
      .select(explode(split(normalized, " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(regexp_replace(col("w"), "(.)", s"$L$$1$R").as("d"), col("n")))
    try {
      var learned = Vector.empty[(String, String, Long)]
      var words = vocab
      var r = 0
      while (r < rounds) {
        val toks = split(
          regexp_replace(col("d"), s"^$L(.*)$R$$", "$1"), s"$R$L")
        val pairs = zip_with(
          slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("lhs"), b.as("rhs")))
        val top = words
          .select(col("n"), explode(pairs).as("p"))
          .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
          .agg(sum(col("n")).as("cnt"))
          .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
          .limit(1).collect()
        require(top.nonEmpty,
          s"trainMerges: corpus exhausted after ${learned.size} merges " +
            s"(every word is a single token); asked for $rounds")
        val row = top.head
        val (a, b) = (row.getString(0), row.getString(1))
        learned :+= ((a, b, row.getLong(2)))
        words = words.select(
          call_function("replace", col("d"),
            lit(s"$L$a$R$L$b$R"), lit(s"$L$a$b$R")).as("d"), col("n"))
        r += 1
      }
      learned
    } finally {
      // vocab is the loop's only cut; its blocks die with training
      graft.Seam.release(vocab)
    }
  }

  /** DuckDB restatement of [[trainMerges]] over `documents(text)`: the
    * identical unrolled rounds — vocab CTE, then per round a lateral
    * adjacent-pair unnest weighted by word count, the same
    * (count DESC, lhs, rhs) argmax, and a data-dependent `replace` using
    * the argmax row (cross join on the 1-row CTE). Output matches the
    * engine's (merge_rank, lhs, rhs, n). */
  def trainOracleSql(rounds: Int): String =
    s"""WITH ${trainCtesSql(rounds)}
       |${(1 to rounds)
        .map(r => s"SELECT $r AS merge_rank, lhs, rhs, CAST(cnt AS BIGINT) AS n FROM best_$r")
        .mkString("\n  UNION ALL\n  ")}
       |ORDER BY merge_rank""".stripMargin

  /** The vocab + per-round argmax CTE body shared by [[trainOracleSql]]
    * and [[packLearnedOracleSql]] (best_1..best_rounds one-row CTEs). */
  private def trainCtesSql(rounds: Int): String = {
    val vocabCte =
      s"""vocab AS (
         |  SELECT regexp_replace(w, '(.)', '$L\\1$R', 'g') AS d,
         |         CAST(COUNT(*) AS BIGINT) AS n
         |  FROM (
         |    SELECT unnest(string_split(regexp_replace(regexp_replace(
         |      trim(lower(text)), '[$L$R]', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'), ' ')) AS w
         |    FROM documents WHERE text IS NOT NULL
         |  ) WHERE w <> '' GROUP BY w
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val src = if (r == 1) "vocab" else s"words_$r"
      val next =
        if (r == rounds) ""
        else
          s""", words_${r + 1} AS (
             |  SELECT replace(w.d, '$L' || b.lhs || '$R$L' || b.rhs || '$R',
             |                 '$L' || b.lhs || b.rhs || '$R') AS d, w.n
             |  FROM $src w, best_$r b
             |)""".stripMargin
      s"""best_$r AS (
         |  SELECT lhs, rhs, SUM(n) AS cnt FROM (
         |    SELECT t[i] AS lhs, t[i + 1] AS rhs, n FROM (
         |      SELECT string_split(regexp_replace(d, '^$L(.*)$R$$', '\\1'), '$R$L') AS t,
         |             n, unnest(range(1, len(string_split(
         |               regexp_replace(d, '^$L(.*)$R$$', '\\1'), '$R$L')))) AS i
         |      FROM $src)
         |  ) GROUP BY lhs, rhs ORDER BY cnt DESC, lhs, rhs LIMIT 1
         |)$next""".stripMargin
    }.mkString(", ")
    s"$vocabCte, $roundCtes"
  }

  /** Oracle for packing under the LEARNED merge table: the training CTEs,
    * then each document's symbol string pushed through the learned replace
    * chain (rank patterns taken from the one-row `best_r` relations via
    * cross joins — data-dependent replaces), then the same
    * exclusive-prefix binning as `pack_sequences_bpe`. */
  def packLearnedOracleSql(rounds: Int, budget: Int): String = {
    val chain = (1 to rounds).foldLeft(wrappedSqlOf("d.text")) { (s, r) =>
      s"replace($s, '$L' || b$r.lhs || '$R$L' || b$r.rhs || '$R'," +
        s" '$L' || b$r.lhs || b$r.rhs || '$R')"
    }
    val crossJoins = (1 to rounds).map(r => s"best_$r b$r").mkString(", ")
    s"""WITH ${trainCtesSql(rounds)},
       |docm AS (
       |  SELECT d.source, d.doc_id, $chain AS m
       |  FROM documents d, $crossJoins
       |), toks AS (
       |  SELECT source, doc_id, $countOfMergedSql AS n_toks FROM docm
       |), binned AS (
       |  SELECT source, doc_id, n_toks,
       |    COALESCE(SUM(n_toks) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // $budget
       |      AS bin
       |  FROM toks
       |)
       |SELECT source, CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
       |  CAST(SUM(n_toks) AS BIGINT) AS bin_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM binned GROUP BY source, bin ORDER BY source, bin""".stripMargin
  }
}
