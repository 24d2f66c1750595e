package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram language-model tokenizer training — one hard-EM (Viterbi-EM)
  * estimation step of the SentencePiece unigram model (Kudo, "Subword
  * Regularization: Improving Neural Network Translation Models with
  * Multiple Subword Candidates", ACL 2018): seed subword probabilities
  * from corpus substring frequencies, segment every word into its
  * maximum-likelihood subword sequence under the seed model (the E-step,
  * Viterbi instead of full forward-backward marginals — the deterministic
  * hard-EM variant), then re-estimate probabilities from the chosen
  * segmentations (the M-step). The companion to [[graft.functions.Bpe]]'s
  * merge training: BPE grows a vocabulary bottom-up by merging, unigram
  * starts from all substrings and lets EM concentrate mass — the two
  * tokenizer-training families a pipeline chooses between. Kudo's full
  * recipe iterates EM + prunes the lowest-contribution tail; this
  * operator pins the estimation step the loop repeats (the `kmeans_step`
  * discipline — gate the step, compose the loop).
  *
  * Scale shape:
  *  - ALL per-word work happens on the DISTINCT-word frame with
  *    occurrence counts — corpus size only enters through one token
  *    explode + count; Viterbi runs once per distinct word, not per
  *    occurrence (Heaps' law makes this the difference between corpus
  *    scale and vocabulary scale);
  *  - seed enumeration is a narrow nested-`transform` lambda over that
  *    frame (no window, no extra shuffle); subword counts are a
  *    vocabulary-bounded aggregate;
  *  - the seed model is collected to the driver and shipped inside the
  *    segmentation expression (broadcast-codebook discipline), with a
  *    fail-fast vocabulary cap — same contract as the dim-key ranking
  *    collect in IdaMart.
  *
  * Determinism: seed log-probs are quantized ONCE through the
  * DECIMAL(18,6) carrier; the Viterbi DP then runs in exact integer
  * micro-nats (scaled longs), so path scores, comparisons, and the
  * smallest-split-first tie-break are bit-identical at any partitioning —
  * and restatable: the oracle unrolls the identical DP over string
  * positions as CTEs with DECIMAL sums and a `ROW_NUMBER (score DESC,
  * t ASC)` argmax. */
object Unigram {

  val MaxTok = 4 // max subword length enumerated by the seed model

  /** Viterbi segmentation of a word under a fixed quantized-log-prob
    * subword table (micro-nats). Chooses the max-score split; exact ties
    * keep the SMALLEST last-token length. Returns the subword sequence
    * left-to-right; null if some character has no table entry (cannot
    * happen when the table seeds from the same corpus). */
  case class ViterbiSeg(child: Expression, subs: Seq[String],
                        lpMicros: Seq[Long])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    // null on a table miss even over non-null input (foreign corpus)
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"viterbiSeg expects string, got $other")
    }
    @transient private lazy val table: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](subs.size * 2)
      var i = 0
      while (i < subs.size) { m.put(subs(i), lpMicros(i)); i += 1 }
      m
    }
    override def nullSafeEval(input: Any): Any =
      viterbiSegOf(input.asInstanceOf[UTF8String], table)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
      // the quantized model table rides the references array; the DP loop
      // itself is the shared static helper
      val t = ctx.addReferenceObj("viterbiTable", table, "java.util.HashMap")
      nullSafeCodeGen(ctx, ev, c => {
        val r = ctx.freshName("seg")
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData $r =
           |  graft.operators.Unigram.viterbiSegOf($c, $t);
           |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(c: Expression): ViterbiSeg =
      copy(child = c)
  }

  /** Static twin for generated code: the exact-integer Viterbi DP of
    * [[ViterbiSeg]]. Returns null on a table miss. */
  final def viterbiSegOf(input: UTF8String,
                         table: java.util.HashMap[String, java.lang.Long]): ArrayData = {
    val w = input.toString
    val n = w.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val score = new Array[Long](n + 1)
    val choice = new Array[Int](n + 1)
    var j = 1
    while (j <= n) {
      var best = Long.MinValue
      var bt = -1
      var t = 1
      val tMax = math.min(MaxTok, j)
      while (t <= tMax) {
        val lp = table.get(w.substring(j - t, j))
        if (lp != null) {
          val cand = score(j - t) + lp.longValue()
          if (cand > best) { best = cand; bt = t } // strict: ties keep min t
        }
        t += 1
      }
      if (bt < 0) return null // char missing from table — foreign corpus
      score(j) = best
      choice(j) = bt
      j += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    var p = n
    while (p > 0) { val t = choice(p); out += UTF8String.fromString(
      w.substring(p - t, p)); p -= t }
    new GenericArrayData(out.reverse.toArray[Any])
  }

  import org.apache.spark.sql.GraftGlue
  def viterbiSeg(c: Column, subs: Seq[String], lpMicros: Seq[Long]): Column =
    GraftGlue.toColumn(ViterbiSeg(GraftGlue.toExpression(c), subs, lpMicros))

  private def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))

  /** Quantized model (token -> micro-nat logp) from a `(token, c)` count
    * frame: ln(c/total) = fixedLn(c) - fixedLn(total) through
    * [[graft.functions.FixedLog]] integer arithmetic, quantized to micro-
    * nats by integer rounding (the oracle restates the identical integer
    * steps — no libm, so the Viterbi DP's micro-nat comparisons are
    * engine-exact by construction), then collected behind the fail-fast
    * vocabulary cap. */
  private def quantizedModel(counts: DataFrame, tokCol: String, cCol: String,
                             maxVocab: Int): Array[(String, Long)] = {
    val tot = counts.agg(sum(col(cCol)).as("tot"))
    val base = counts.crossJoin(broadcast(tot))
      .withColumn("__c", col(cCol).cast("long"))
    val fixed = graft.functions.FixedLog.withLn(
        graft.functions.FixedLog.withLn(base, "__c", "__lnc"), "tot", "__lnt")
      .withColumn("__lp12", col("__lnc") - col("__lnt"))
    val rows = graft.functions.FixedLog.withS12ToDec6(fixed, "__lp12", "lp")
      .select(col(tokCol), col("lp"))
      .collect()
    require(rows.length <= maxVocab,
      s"Unigram: vocabulary ${rows.length} exceeds $maxVocab — raise " +
        "maxVocab or pre-filter the corpus (driver-side model)")
    rows.map(r => r.getString(0) ->
      r.getDecimal(1).movePointRight(6).longValueExact())
  }

  /** Per-token occurrence counts of the Viterbi segmentation of the
    * distinct-word frame under `model`. */
  private def segmentCounts(words: DataFrame,
                            model: Array[(String, Long)]): DataFrame =
    words.select(col("cnt"),
      viterbiSeg(col("w"), model.map(_._1).toSeq, model.map(_._2).toSeq)
        .as("toks"))
      .select(explode(col("toks")).as("token"), col("cnt"))
      .groupBy(col("token")).agg(sum(col("cnt")).as("n"))

  /** One hard-EM estimation step: `(token, n, logp_r)` for every subword
    * surviving the Viterbi segmentations, ordered by token. `maxVocab`
    * fail-fasts the driver-side seed-model collect. */
  def emStep(docs: DataFrame, textCol: String = "text",
             maxVocab: Int = 262144): DataFrame =
    emTrain(docs, textCol, rounds = 1, maxVocab)

  /** `rounds` hard-EM iterations — the iterative twin of [[emStep]] (the
    * kmeans_step / kmeans_converged pairing). Between rounds the model
    * re-estimates from the previous segmentation's token counts PLUS an
    * always-retained single-character floor (add-1 on every length-1
    * corpus substring): Kudo's closure requirement — the character
    * alphabet must never leave the vocabulary, or a later Viterbi pass
    * could find a word with no feasible segmentation. */
  def emTrain(docs: DataFrame, textCol: String = "text", rounds: Int = 2,
              maxVocab: Int = 262144): DataFrame = {
    val (words, model) = fitModel(docs, textCol, rounds, maxVocab)
    val tokCounts = segmentCounts(words, model)
    val ntot = tokCounts.agg(sum(col("n")).as("nt"))
    // logp_r via [[graft.functions.FixedLog]] — engine-exact integer path
    // (ROUND(ln(n/nt), 6) was a libm-ulp quantization-flip site)
    val fixed = graft.functions.FixedLog.withLn(
        graft.functions.FixedLog.withLn(
          tokCounts.crossJoin(broadcast(ntot)), "n", "__lnn"), "nt", "__lnt")
      .withColumn("__lp12", col("__lnn") - col("__lnt"))
    graft.functions.FixedLog.withS12ToDec6(fixed, "__lp12", "__lpq")
      .select(col("token"), col("n"),
        col("__lpq").cast("double").as("logp_r"))
      .orderBy(col("token"))
  }

  /** The EM loop without the final emission: returns the (persisted)
    * distinct-word frame and the model the FINAL Viterbi pass runs under —
    * shared by [[emTrain]] (which emits that pass's token counts) and
    * [[tokenCounts]] (which applies the trained tokenizer to documents).
    *
    * Memoized PER DATASET (keyed by the canonicalized logical plan of the
    * input plus the fit parameters — the trainedClassifierWeights-per-dir
    * discipline): training is deterministic, so the fitted model is
    * value-identical on every call, and a bench sweep that scores the
    * same corpus repeatedly re-runs only the serving join, never the EM
    * loop. This replaces the former JVM-global single-slot word-frame
    * registry, which (a) unpersisted the cached frame backing any
    * still-live DataFrame a prior call returned (correct but silently
    * recomputing), and (b) thrashed under two interleaved callers on
    * different datasets. Entries live for the driver session — bounded at
    * one distinct-word frame + one ≤maxVocab model per distinct corpus
    * fit, the same lifetime contract as the other per-dir caches. */
  // keys hold the canonicalized PLAN OBJECT, not its string: plan
  // case-class equality covers everything `sameResult` does — including
  // LocalRelation's in-memory rows, which the tree STRING omits, so two
  // same-schema local test corpora would string-collide
  private val wordsCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String),
    DataFrame]()
  private val modelCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, Int,
      Int), Array[(String, Long)]]()

  private def fitModel(docs: DataFrame, textCol: String, rounds: Int,
                       maxVocab: Int): (DataFrame, Array[(String, Long)]) = {
    val plan = docs.queryExecution.logical.canonicalized
    // the word frame depends only on the corpus, so rounds=1 and rounds=2
    // fits over the same documents share ONE persisted frame
    val words = wordsCache.computeIfAbsent((plan, textCol), _ =>
      wordCounts(docs, textCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val model = modelCache.computeIfAbsent(
      (plan, textCol, rounds, maxVocab),
      _ => fitModelUncached(words, rounds, maxVocab))
    (words, model)
  }

  private def fitModelUncached(words: DataFrame, rounds: Int,
                               maxVocab: Int): Array[(String, Long)] = {
    require(rounds >= 1, s"Unigram: rounds must be >= 1, got $rounds")
    // every substring occurrence of length 1..MaxTok, corpus-weighted
    val subs = words.select(col("cnt"),
      explode(flatten(transform(
        sequence(lit(1), length(col("w"))),
        p => transform(
          sequence(lit(1), least(lit(MaxTok), length(col("w")) - p + 1)),
          l => col("w").substr(p, l))))).as("sub"))
      .groupBy(col("sub")).agg(sum(col("cnt")).as("c"))
    // the character alphabet (kept in-model every round, see above)
    val chars = subs.filter(length(col("sub")) === 1)
      .select(col("sub").as("token"))
    var model = quantizedModel(subs, "sub", "c", maxVocab)
    var r = 1
    while (r < rounds) {
      val tokCounts = segmentCounts(words, model)
      val floored = tokCounts.join(chars, Seq("token"), "full_outer")
        .select(col("token"),
          (coalesce(col("n"), lit(0L)) +
            when(length(col("token")) === 1, 1L).otherwise(0L)).as("c"))
      model = quantizedModel(floored, "token", "c", maxVocab)
      r += 1
    }
    model
  }

  /** APPLY the trained tokenizer: per-document subword token counts under
    * the `rounds`-round EM model — the budget column packing and cost
    * estimation consume. Segmentation runs once per DISTINCT word (the
    * same corpus-vocabulary bound as training); documents join their word
    * multiplicities back, so the per-doc count is one narrow join +
    * aggregate away and no document is ever re-segmented. */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text", rounds: Int = 2,
                  maxVocab: Int = 262144): DataFrame = {
    val (words, model) = fitModel(docs, textCol, rounds, maxVocab)
    val perWord = words.select(col("w"),
      size(viterbiSeg(col("w"), model.map(_._1).toSeq,
        model.map(_._2).toSeq)).cast("long").as("k"))
    val docWords = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("w"))
    docWords.join(perWord, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_tokens"))
      .orderBy(col(idCol))
  }

  /** One round's Viterbi-DP + backtrack CTE chain under log-prob table
    * `lpName(sub, lp)`: emits `s<tag>0..maxLen`, `sall<tag>`,
    * `h<tag>0..maxLen`, and `newc<tag>(token, n)`. Every step is
    * MATERIALIZED — the DP references each predecessor up to MaxTok times
    * and inlining would re-derive chains exponentially. */
  private def dpCtes(tag: String, lpName: String, maxLen: Int): String = {
    val dp = (1 to maxLen).map { j =>
      val cands = (1 to math.min(MaxTok, j)).map { t =>
        s"""SELECT p.w AS w, CAST(p.score + l.lp AS DECIMAL(28,6)) AS score,
           |      $t AS t
           |    FROM s$tag${j - t} p JOIN $lpName l
           |      ON l.sub = substr(p.w, ${j - t + 1}, $t)
           |    WHERE length(p.w) >= $j""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      s"""s$tag$j AS MATERIALIZED (
         |  SELECT w, score, t FROM (
         |    SELECT w, score, t,
         |      ROW_NUMBER() OVER (PARTITION BY w ORDER BY score DESC, t) AS rn
         |    FROM (
         |    $cands
         |    )) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    val sall = (1 to maxLen).map(j =>
      s"SELECT w, $j AS pos, t FROM s$tag$j").mkString("\n  UNION ALL\n  ")
    val hops = (1 to maxLen).map { k =>
      s"""h$tag$k AS MATERIALIZED (
         |  SELECT b.w, b.cnt, substr(b.w, b.pos - s.t + 1, s.t) AS tok,
         |    b.pos - s.t AS pos
         |  FROM h$tag${k - 1} b JOIN sall$tag s ON s.w = b.w AND s.pos = b.pos
         |  WHERE b.pos > 0
         |)""".stripMargin
    }.mkString(",\n")
    val tokStream = (1 to maxLen).map(k =>
      s"SELECT cnt, tok FROM h$tag$k").mkString("\n  UNION ALL\n  ")
    s"""s${tag}0 AS MATERIALIZED (
       |  SELECT w, CAST(0 AS DECIMAL(28,6)) AS score, 0 AS t FROM words),
       |$dp,
       |sall$tag AS MATERIALIZED (
       |  $sall
       |),
       |h${tag}0 AS (SELECT w, cnt, CAST(length(w) AS INTEGER) AS pos
       |       FROM words WHERE length(w) > 0),
       |$hops,
       |tokstream$tag AS (
       |  $tokStream
       |), newc$tag AS MATERIALIZED (
       |  SELECT tok AS token, CAST(SUM(cnt) AS BIGINT) AS n
       |  FROM tokstream$tag GROUP BY tok
       |)""".stripMargin
  }

  /** DuckDB mirror of [[emStep]] — [[emTrainOracleSql]] at one round. */
  def emStepOracleSql(table: String = "documents", textCol: String = "text",
                      maxLen: Int = 16): String =
    emTrainOracleSql(table, textCol, rounds = 1, maxLen)

  /** DuckDB mirror of [[emTrain]]: the identical DP unrolled over string
    * positions 1..`maxLen` (fixture words are <= 8 chars; headroom doubles
    * that) ONCE PER ROUND, DECIMAL path sums, ROW_NUMBER argmax with the
    * same smallest-last-token tie-break, unrolled backtracks, and the
    * add-1 single-character floor between rounds. */
  def emTrainOracleSql(table: String = "documents", textCol: String = "text",
                       rounds: Int = 2, maxLen: Int = 16): String =
    s"""WITH ${trainCtes(table, textCol, rounds, maxLen)},
       |ntot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM newcr$rounds)
       |SELECT token, n,
       |  CAST(${graft.functions.FixedLog.duckS12ToDec6("__lp12")} AS DOUBLE)
       |    AS logp_r
       |FROM (
       |  SELECT token, n,
       |    ${graft.functions.FixedLog.duckLnItems("n", "__lnn")
        .mkString(",\n    ")},
       |    ${graft.functions.FixedLog.duckLnItems("nt", "__lnt")
        .mkString(",\n    ")},
       |    __lnn - __lnt AS __lp12
       |  FROM newcr$rounds CROSS JOIN ntot)
       |ORDER BY token""".stripMargin

  /** DuckDB mirror of [[tokenCounts]]: the identical training CTE chain,
    * then per-word token counts read off the FINAL round's backtrack hops
    * (one `h` row per emitted token), joined back to each document's word
    * occurrences. */
  def tokenCountsOracleSql(table: String = "documents",
                           idCol: String = "doc_id",
                           textCol: String = "text", rounds: Int = 2,
                           maxLen: Int = 16): String = {
    val hopUnion = (1 to maxLen)
      .map(k => s"SELECT w FROM hr$rounds$k").mkString("\n  UNION ALL\n  ")
    s"""WITH ${trainCtes(table, textCol, rounds, maxLen)},
       |wordtoks AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS k FROM (
       |  $hopUnion
       |  ) GROUP BY w
       |), dwords AS (
       |  SELECT $idCol,
       |    unnest(string_split_regex(trim(lower($textCol)), '[ \\t\\n\\x0B\\f\\r]+')) AS w
       |  FROM $table WHERE $textCol IS NOT NULL AND trim($textCol) <> ''
       |)
       |SELECT $idCol, CAST(SUM(k) AS BIGINT) AS n_tokens
       |FROM dwords JOIN wordtoks USING (w)
       |GROUP BY $idCol ORDER BY $idCol""".stripMargin
  }

  /** The shared training CTE list (no leading WITH): corpus words, seed
    * substring model, and `rounds` unrolled DP/backtrack/count rounds —
    * ending at `newcr<rounds>` under model `lpr<rounds>`. */
  private def trainCtes(table: String, textCol: String,
                        rounds: Int, maxLen: Int): String = {
    require(rounds >= 1, s"emTrainOracleSql: rounds >= 1, got $rounds")
    val laterRounds = (2 to rounds).map { r =>
      s"""m$r AS (
         |  SELECT COALESCE(nc.token, ch.token) AS token,
         |    COALESCE(nc.n, 0) +
         |      CASE WHEN length(COALESCE(nc.token, ch.token)) = 1
         |           THEN 1 ELSE 0 END AS c
         |  FROM newcr${r - 1} nc FULL OUTER JOIN chars ch
         |    ON nc.token = ch.token
         |), mtot$r AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM m$r),
         |lpr$r AS MATERIALIZED (
         |  SELECT sub, ${graft.functions.FixedLog.duckS12ToDec6("__lp12")}
         |    AS lp
         |  FROM (
         |    SELECT token AS sub,
         |      ${graft.functions.FixedLog.duckLnItems("c", "__lnc")
          .mkString(",\n      ")},
         |      ${graft.functions.FixedLog.duckLnItems("tot", "__lnt")
          .mkString(",\n      ")},
         |      __lnc - __lnt AS __lp12
         |    FROM m$r CROSS JOIN mtot$r)
         |),
         |${dpCtes(s"r$r", s"lpr$r", maxLen)}""".stripMargin
    }.mkString(",\n")
    val tail = if (rounds >= 2) s",\n$laterRounds" else ""
    s"""toks AS (
       |  SELECT unnest(string_split_regex(trim(lower($textCol)), '[ \\t\\n\\x0B\\f\\r]+')) AS w
       |  FROM $table WHERE $textCol IS NOT NULL AND trim($textCol) <> ''
       |), words AS MATERIALIZED (
       |  SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
       |), subp AS (
       |  SELECT w, cnt,
       |    CAST(unnest(range(1, length(w) + 1)) AS INTEGER) AS p
       |  FROM words
       |), subpl AS (
       |  SELECT w, cnt, p,
       |    CAST(unnest(range(1, least($MaxTok, length(w) - p + 1) + 1))
       |      AS INTEGER) AS l
       |  FROM subp
       |), subsx AS (
       |  SELECT substr(w, p, l) AS sub, cnt FROM subpl
       |), subc AS (
       |  SELECT sub, CAST(SUM(cnt) AS BIGINT) AS c FROM subsx GROUP BY sub
       |), subtot AS (SELECT CAST(SUM(c) AS BIGINT) AS tot FROM subc),
       |chars AS MATERIALIZED (
       |  SELECT sub AS token FROM subc WHERE length(sub) = 1
       |),
       |lpr1 AS MATERIALIZED (
       |  SELECT sub, ${graft.functions.FixedLog.duckS12ToDec6("__lp12")}
       |    AS lp
       |  FROM (
       |    SELECT sub,
       |      ${graft.functions.FixedLog.duckLnItems("c", "__lnc")
        .mkString(",\n      ")},
       |      ${graft.functions.FixedLog.duckLnItems("tot", "__lnt")
        .mkString(",\n      ")},
       |      __lnc - __lnt AS __lp12
       |    FROM subc CROSS JOIN subtot)
       |),
       |${dpCtes("r1", "lpr1", maxLen)}$tail""".stripMargin
  }
}
