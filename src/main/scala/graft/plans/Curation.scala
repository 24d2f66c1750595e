package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Seam
import graft.functions.{Fns, HashExprs, TextFns}
import graft.operators.{Decontaminate, Dedup, Packing, Sampling}

/** End-to-end LLM training-data curation — the composed form of the
  * engine's text operators, in the order a production pipeline runs them:
  *
  *  1. PII scrub ([[TextFns.redactPii]]) — narrow, first so every later
  *     stage (hashes, grams) sees canonical text;
  *  2. exact dedup keeping the min doc id per cleaned content (the
  *     rank-1 window form: WindowGroupLimit prunes losers map-side);
  *  3. benchmark decontamination ([[Decontaminate.overlap]], broadcast
  *     bench grams) — contaminated docs dropped via left-anti;
  *  4. language filter (en, [[TextFns.langIdFrom]] over a materialized
  *     stopword-hits column);
  *  5. quality filter (min token count + min unique-token ratio);
  *  6. context-window packing ([[Packing.packStats]], shard-partitioned).
  *
  * Stage order is also the cost order: each narrow filter shrinks the
  * corpus before the next wider stage, and the only shuffles in the whole
  * plan are the dedup hash partition, the decontamination hit count, and
  * the per-shard packing window. Filters that need only cheap columns run
  * before anything tokenizes twice.
  */
object Curation {

  /** Returns the packed-bin stats of the curated corpus:
    * `(source, bin, n_docs, bin_tokens, first_doc, last_doc)`. */
  def curate(docs: DataFrame, benchMod: Int = 97, nGram: Int = 3,
             minTokens: Int = 10, minUniq: Double = 0.3,
             budget: Int = 512): DataFrame = {
    val scrubbed = docs.select(col("doc_id"), col("source"),
      TextFns.redactPii(col("text")).as("text"))
    val bench = scrubbed.filter(col("doc_id") % benchMod === 0)
    val corpus = scrubbed.filter(col("doc_id") % benchMod =!= 0)
    // deduped feeds two subtrees (the decontamination gram scan and the
    // surviving-docs main path), so the scrub+dedup prefix executes twice.
    // Measured at sf0.1: persisting it here is a net LOSS (2.9 s vs 2.6 s
    // — cache materialization costs more than the narrow re-scan saves),
    // and r17 re-measured an eager localCheckpoint of the SCRUB output as
    // exactly neutral (2.48 s both ways — the checkpoint write cancels
    // the saved regex re-scan at this scale). At cluster scale the call
    // is the pipeline operator's, not this library's: stage the dedup
    // output to storage between stages when the corpus re-scan dominates.
    val deduped = corpus
      .withColumn("__h", md5(Fns.cleanText(col("text"))))
      .withColumn("__rn",
        row_number().over(Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .drop("__h", "__rn")
    // contamination is a PER-DOCUMENT property, so the gram probe runs on
    // the pre-dedup corpus: the anti-join below only consults flags for
    // docs that survived dedup, and a doc's flag does not depend on which
    // other docs exist — identical result, but this subtree skips the
    // md5+rank-1 dedup shuffle that the main path already pays (the plan
    // previously executed the whole scrub+dedup prefix twice)
    val contaminated = Decontaminate.overlap(corpus, bench, n = nGram)
    val decontam = deduped.join(contaminated.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val english = decontam
      .withColumn("__hits", TextFns.stopwordHits(col("text")))
      .filter(TextFns.langIdFrom(col("text"), col("__hits")) === lit("en"))
      .drop("__hits")
    val quality = english
      .withColumn("__toks", TextFns.tokens(col("text")))
      .withColumn("__n", when(col("__toks").isNotNull, size(col("__toks"))))
      .filter(col("__n") >= minTokens &&
        (size(array_distinct(col("__toks"))).cast("double") / col("__n")) >= minUniq)
      .drop("__toks")
    // `__n` IS tokenCount(text) for every survivor (computed once for the
    // quality filter above); reusing it as the packing budget unit removes
    // a second tokenize pass over the curated corpus from the plan.
    Packing.packStats(quality, budget = budget, tokenCount = _ => col("__n"))
  }

  /** The FULL crawl-to-shards curation chain — the artifact a 100-TB
    * training-data pipeline actually ships, every stage an individually
    * gated operator, composed in production order:
    *
    *  1. PII scrub ([[TextFns.redactPii]], crawl AND benchmark);
    *  2. boilerplate line strip ([[Dedup.boilerplateLines]], doc-frequency
    *     >= 10 lines dropped, text rebuilt in line order);
    *  3. EXACT dedup (min-id keeper per cleaned content, rank-1 window);
    *  4. NEAR dedup ([[Dedup.minhashNearDupsCapped]] at `nearThreshold`,
    *     mega-bucket guard at `maxBucketWidth`, dropped buckets itemized
    *     in the second output of [[curateToShardsWithReport]]):
    *     greedy min-id survivor rule — any doc appearing as the LARGER id
    *     of a verified pair drops. Greedy-per-pair, not per-component:
    *     deterministic, one anti-join, and a chain a→b→c keeps a (b and c
    *     both pair with a smaller id). Full component-wise survivor
    *     selection is the gated dedup_cluster_survivors operator;
    *  5. language filter (en) + quality filter (min tokens, min
    *     unique-token ratio) — the curate() rules;
    *  6. benchmark decontamination ([[Decontaminate.overlap]], word
    *     `nGram`-grams against the scrubbed bench split, left-anti);
    *  7. curriculum staging ([[Sampling.curriculumStages]] over the
    *     integer-milli quality score — stop-hit and unique-token rates);
    *  8. context-window packing per stage ([[Packing.packStats]],
    *     `budget` tokens per bin);
    *  9. shard manifest: each packed bin lands in shard
    *     `fnv1a64("shard|stage|bin") pmod nShards` — the deterministic
    *     file-assignment a trainer's data loader reads.
    *
    * Returns one manifest row per packed bin:
    * `(stage, bin, n_docs, bin_tokens, first_doc, last_doc, shard)`.
    * Scale shape: stages 1–2 are one narrow pass + one line-frequency
    * aggregate; 3 is one hash-partitioned window; 4 is the
    * sketch→band→verify pipeline (never all-pairs) + one anti-join; 5 is
    * narrow; 6 is one broadcast-gram probe; 7–8 are doc-sized joins and
    * one per-stage window; 9 is a projection. Every corpus-wide shuffle
    * is keyed by content hash, bucket, or (stage) — no collects. */
  def curateToShards(crawl: DataFrame, bench: DataFrame, nGram: Int = 3,
                     minTokens: Int = 10, minUniq: Double = 0.3,
                     nearThreshold: Double = 0.6, stages: Int = 4,
                     budget: Int = 512, nShards: Int = 16,
                     maxBucketWidth: Int = 1024): DataFrame =
    curateToShardsWithReport(crawl, bench, nGram, minTokens, minUniq,
      nearThreshold, stages, budget, nShards, maxBucketWidth)._1

  /** [[curateToShards]] with the near-dedup stage's mega-bucket guard
    * surfaced: returns `(shard manifest, dropped-bucket report (band,
    * bucket, width, pairs_dropped))`. The report is the composite's
    * second output, NEVER silent: on clean corpora it is empty (the cap
    * must not eat real pairs — `curate_to_shards_dropped` gates that on
    * every driver run), and when a viral boilerplate family trips the
    * guard, each dropped bucket is itemized so the operator of a 100-TB
    * run can route that family to the exact tier or component-wise
    * survivor selection instead of an O(w²) pair explosion. */
  def curateToShardsWithReport(crawl: DataFrame, bench: DataFrame,
                               nGram: Int = 3, minTokens: Int = 10,
                               minUniq: Double = 0.3,
                               nearThreshold: Double = 0.6, stages: Int = 4,
                               budget: Int = 512, nShards: Int = 16,
                               maxBucketWidth: Int = 1024)
      : (DataFrame, DataFrame) = {
    val (staged, report) = curateStagedWithReport(crawl, bench, nGram,
      minTokens, minUniq, nearThreshold, stages, maxBucketWidth)
    (shardManifest(staged, budget, nShards), report)
  }

  /** Stages 1–7 of [[curateToShards]]: surviving docs with their
    * curriculum stage — `(doc_id, source, text, score_milli, stage,
    * shuffle_bucket)`. Public for the diagnostic gate (the
    * bisectable-at-birth rule: a red composite must name its stage). */
  def curateStaged(crawl: DataFrame, bench: DataFrame, nGram: Int = 3,
                   minTokens: Int = 10, minUniq: Double = 0.3,
                   nearThreshold: Double = 0.6, stages: Int = 4,
                   maxBucketWidth: Int = 1024): DataFrame =
    curateStagedWithReport(crawl, bench, nGram, minTokens, minUniq,
      nearThreshold, stages, maxBucketWidth)._1

  /** [[curateStaged]] plus the near-dedup mega-bucket report (see
    * [[curateToShardsWithReport]]). */
  def curateStagedWithReport(crawl: DataFrame, bench: DataFrame,
                             nGram: Int = 3, minTokens: Int = 10,
                             minUniq: Double = 0.3,
                             nearThreshold: Double = 0.6, stages: Int = 4,
                             maxBucketWidth: Int = 1024)
      : (DataFrame, DataFrame) = {
    val benchScrubbed = bench.select(col("doc_id"),
      TextFns.redactPii(col("text")).as("text"))
    val (exactDeduped, nearPairs, report) =
      curateDedupStages(crawl, nearThreshold, maxBucketWidth)
    val nearDeduped = exactDeduped.join(
      nearPairs.select(col("b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    // An extra cut AFTER the lang/quality/score chain: cutting `scored`
    // means the near-dedup anti-join (whose right side is the
    // sketch→band→verify pipeline) and the tokenize-scale scoring chain
    // run exactly ONCE — the decontamination gram probe reads the
    // materialized seam instead of re-deriving the survivor frame as a
    // second branch of the curriculum cut's plan. Value-identical:
    // contamination is a per-document property, so probing the scored
    // subset equals probing the pre-filter frame after the anti-join
    // (decontamAndStage scaladoc). The curriculum's own seam stays — its
    // removal was measured SLOWER (curate_to_shards 5.66 → 6.84 s at 32c)
    // — so the trade is one more driver round trip for strictly-once
    // stage execution.
    val scored = Seam.cut(scoreSurvivors(nearDeduped, minTokens, minUniq))
    (decontamAndStage(scored, scored, benchScrubbed, nGram, stages), report)
  }

  /** Stages 1–4 of [[curateToShards]] — PII scrub, boilerplate line strip,
    * exact dedup, CAPPED near-dedup pair derivation — exposed so the
    * survivor-rule diagnostic gate views the EXACT pair frame the
    * composite consumes (not a restatement that could drift). Returns
    * `(exactDeduped(doc_id, source, text), verified near pairs
    * (a, b, jaccard), dropped-bucket report)`. */
  def curateDedupStages(crawl: DataFrame, nearThreshold: Double = 0.6,
                        maxBucketWidth: Int = 1024)
      : (DataFrame, DataFrame, DataFrame) = {
    // cuts at the two fan-out seams: the PII scrub's three heavy regexes
    // would otherwise re-run per consumer (boilerplateLines reads its input three times,
    // plus the source join), and the strip+window prefix would re-run
    // for each of the near-dedup subtrees. A production pipeline stages
    // exactly these two frames to storage between stages.
    val scrubbed = Seam.cut(crawl.select(col("doc_id"), col("source"),
      TextFns.redactPii(col("text")).as("text")))
    val stripped = Dedup.boilerplateLines(scrubbed, minDocFreq = 10)
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(scrubbed.select(col("doc_id"), col("source")), Seq("doc_id"))
    val exactDeduped = Seam.cut(stripped
      .withColumn("__h", md5(Fns.cleanText(col("text"))))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__h")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1)
      .drop("__h", "__rn"))
    // CAPPED near-dedup (r16 verdict #1): the boilerplate-strip stage
    // above reduces but does not eliminate the viral-template hazard
    // (strip needs docFreq >= 10 per LINE; template families survive
    // paraphrase), and exact dedup only removes IDENTICAL copies — a
    // surviving mega-family would turn the bucket self-join quadratic.
    // Buckets wider than maxBucketWidth are excluded from pair
    // generation and itemized in the report.
    val (nearPairs, report) = Dedup.minhashNearDupsCapped(
      exactDeduped.select(col("doc_id"), col("text")),
      threshold = nearThreshold, maxBucketWidth = maxBucketWidth)
    (exactDeduped, nearPairs, report)
  }

  /** Stages 5–7 of the chain — language filter, quality filter, benchmark
    * decontamination, curriculum scoring + staging — shared by the
    * one-shot composite and [[curateIncrement]] so the two forms cannot
    * drift. Input: surviving docs `(doc_id, source, text)` + the SCRUBBED
    * bench split; output: the staged frame (doc_id, source, text,
    * score_milli, stage, shuffle_bucket). */
  /** Stage 5 + the curriculum score: language filter, quality filter, and
    * the integer-milli score — ONE tokenize pass per signal family (guide
    * §1.2: don't compute things you already have): the stopword-hit array
    * feeds language ID AND the curriculum score's en-stop count; the token
    * array feeds the quality filter AND the score's n/uniq terms AND
    * (carried through as `__ntoks`) the packing stage's budget unit. The
    * r16 shape re-ran the whole english+quality chain per decontamination
    * subtree and re-tokenized the survivors twice more (score + pack) —
    * five tokenize-scale passes where two suffice. Values: filter(hits,
    * en) == filter(wordTokens, en) because the hit array is pre-filtered
    * by the all-language superset, and `__ntoks` equals tokenCount(text)
    * for every surviving doc by construction. */
  private def scoreSurvivors(docs: DataFrame, minTokens: Int,
                             minUniq: Double): DataFrame = {
    val english = docs
      .withColumn("__hits", TextFns.stopwordHits(col("text")))
      .filter(TextFns.langIdFrom(col("text"), col("__hits")) === lit("en"))
    // curriculum score: the corpus_curriculum gate's integer-milli chain
    // ((1000*stop) div n + (1000*uniq) div n) over the survivor text
    english
      .withColumn("__toks", TextFns.tokens(col("text")))
      .withColumn("__ntoks",
        when(col("__toks").isNotNull, size(col("__toks"))))
      .withColumn("__uniq", size(array_distinct(col("__toks"))))
      .filter(col("__ntoks") >= minTokens &&
        (col("__uniq").cast("double") / col("__ntoks")) >= minUniq)
      .filter(col("__ntoks") > 0)
      .withColumn("__stop", TextFns.stopwordCountFromHits(col("__hits"), "en"))
      .withColumn("score_milli", expr(
        "(1000 * cast(__stop as bigint)) div cast(__ntoks as bigint) + " +
          "(1000 * cast(__uniq as bigint)) div cast(__ntoks as bigint)"))
      .select(col("doc_id"), col("source"), col("text"),
        col("score_milli"), col("__ntoks"))
  }

  /** Stages 6–7: benchmark decontamination (gram probe over `probeDocs`,
    * anti-joined from `scored`) + curriculum staging. `probeDocs` may be
    * any superset of `scored`'s docs carrying the same text — contamination
    * is a per-document property, so the anti-join result is identical for
    * every choice of superset; callers pick whichever frame avoids
    * re-running upstream chains (both composites probe their
    * already-materialized scored seam). */
  private def decontamAndStage(probeDocs: DataFrame, scored: DataFrame,
                               benchScrubbed: DataFrame, nGram: Int,
                               stages: Int): DataFrame = {
    val decontaminated = scored.join(
      Decontaminate.overlap(probeDocs, benchScrubbed, n = nGram)
        .select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    Sampling.curriculumStages(decontaminated, keyCol = "doc_id",
      scoreCol = "score_milli", stages = stages)
  }

  /** Stages 8–9: context-window packing per curriculum stage + the
    * deterministic shard assignment — the manifest a trainer's data
    * loader reads. */
  private def shardManifest(staged: DataFrame, budget: Int,
                            nShards: Int): DataFrame =
    // `__ntoks` (= tokenCount(text), carried from the scoring pass) is the
    // packing budget unit — value-identical to the default tokenCount
    // without a third tokenize pass over the staged corpus.
    Packing.packStats(staged, shardCol = "stage", budget = budget,
        tokenCount = _ => col("__ntoks"))
      .withColumn("shard",
        pmod(HashExprs.fnv1a64Col(concat_ws("|", lit("shard"),
          col("stage"), col("bin"))), lit(nShards.toLong)).cast("int"))

  /** Incremental crawl-to-shards (the operator a continuously-fed 100-TB
    * pipeline runs per batch): curate a NEW crawl batch against an
    * EXISTING curated corpus, where re-running the one-shot composite
    * over corpus ∪ batch would re-pay the whole corpus every day.
    *
    * Batch docs are dropped when (a) their exact cleaned-content hash
    * already exists in the corpus, or (b) their best corpus near-match
    * reaches `nearThreshold` ([[Dedup.incrementalNearDups]] — the
    * asymmetric batch-vs-corpus band join: NO self-join, so per-batch
    * cost scales with the batch, and the corpus side's shingles/band
    * buckets are a precomputable offline artifact). Survivors then run
    * the stage 5–9 chain of [[curateToShards]]
    * ([[scoreSurvivors]] + [[decontamAndStage]] + [[shardManifest]] —
    * shared code,
    * so the two forms cannot drift). Intra-batch duplication is the
    * batch artifact's own one-shot run's concern; this operator gates
    * NOVELTY against the corpus. The asymmetric band join needs no
    * mega-bucket cap: a corpus-side bucket of width w meets only the
    * batch's members of that bucket, so fan-out is bounded by the batch,
    * not w².
    *
    * Contract: `corpus(doc_id, text)` is already curated (scrubbed,
    * deduped); `batch(doc_id, source, text)` is raw and gets the PII
    * scrub here.
    *
    * Returns `(shard manifest, novelty verdicts)`. Verdicts carry one
    * row per batch doc — `(doc_id, verdict ∈ dup_exact | dup_near |
    * novel, match_id, jaccard)` — the bisectable-at-birth diagnostic: a
    * red manifest with green verdicts isolates to the filter chain; red
    * verdicts point at the novelty gate itself. */
  def curateIncrement(batch: DataFrame, corpus: DataFrame, bench: DataFrame,
                      nGram: Int = 3, minTokens: Int = 10,
                      minUniq: Double = 0.3, nearThreshold: Double = 0.6,
                      stages: Int = 4, budget: Int = 512,
                      nShards: Int = 16): (DataFrame, DataFrame) = {
    val (h, b, sh) = noveltyArtifacts(corpus)
    curateIncrementFromArtifacts(batch, h, b, sh, bench, nGram, minTokens,
      minUniq, nearThreshold, stages, budget, nShards)
  }

  /** [[curateIncrement]] from STORED corpus novelty artifacts (see
    * [[noveltyArtifacts]]) — the per-batch production form: the corpus
    * side's hash/band/shingle stores are maintained offline (the
    * band-index append discipline) and each batch pays only its own
    * sketch plus keyed probes against the stores. Value-identical to
    * [[curateIncrement]] on the same corpus (the artifacts are pure
    * deterministic functions of the corpus text — the
    * `dedup_incremental_indexed` equivalence, extended to the exact
    * tier's hash store). */
  def curateIncrementFromArtifacts(batch: DataFrame, corpusHashes: DataFrame,
                                   corpusBands: DataFrame,
                                   corpusShingleHashes: DataFrame,
                                   bench: DataFrame, nGram: Int = 3,
                                   minTokens: Int = 10, minUniq: Double = 0.3,
                                   nearThreshold: Double = 0.6,
                                   stages: Int = 4, budget: Int = 512,
                                   nShards: Int = 16)
      : (DataFrame, DataFrame) = {
    val benchScrubbed = bench.select(col("doc_id"),
      TextFns.redactPii(col("text")).as("text"))
    val (novel, verdicts) = incrementNoveltyFromArtifacts(batch,
      corpusHashes, corpusBands, corpusShingleHashes, nearThreshold)
    // The stage 5-7 cut sits AFTER the lang/quality/score chain: the
    // scored seam is the narrowest frame that still carries everything
    // every downstream consumer needs (text for the gram probe, score for
    // the histogram, __ntoks for packing), and cutting it means the
    // expensive NEAR probe (band join + verify) runs exactly once AND the
    // decontamination gram probe reads materialized rows instead of
    // re-tokenizing the pre-filter batch as a second plan branch.
    // Value-identical: a doc's contamination flag depends only on its own
    // text, so probing the scored subset equals probing the pre-filter
    // batch after the anti-join (decontamAndStage scaladoc).
    val scored = Seam.cut(scoreSurvivors(novel, minTokens, minUniq))
    val staged = decontamAndStage(scored, scored, benchScrubbed, nGram,
      stages)
    (shardManifest(staged, budget, nShards), verdicts)
  }

  /** The NOVELTY gate of [[curateIncrement]] alone: scrub the batch, drop
    * exact corpus matches, drop near corpus matches, and explain every
    * batch doc. Returns `(novel survivors (doc_id, source, text),
    * verdicts)`. Public so the diagnostic gate can read verdicts without
    * paying the stage 5–9 tail (whose curriculum checkpoint runs EAGERLY
    * at construction). */
  def incrementNovelty(batch: DataFrame, corpus: DataFrame,
                       nearThreshold: Double = 0.6)
      : (DataFrame, DataFrame) = {
    val (h, b, sh) = noveltyArtifacts(corpus)
    incrementNoveltyFromArtifacts(batch, h, b, sh, nearThreshold)
  }

  /** The corpus side's THREE novelty stores, derived inline — what a
    * production pipeline materializes offline and maintains by append
    * (the band-index discipline): the exact tier's `(__h,
    * __exact_match = min doc_id)` hash store, the MinHash band index,
    * and the xxhash64-hashed shingle sets (the verify-side artifact).
    * The shingle frame feeds the band and verify artifacts, so it is
    * persisted (the [[Dedup.minhashNearDups]] two-probe rule). Every
    * artifact is a pure deterministic function of the corpus text, so
    * probing stored copies is value-identical to this inline form. */
  def noveltyArtifacts(corpus: DataFrame, shingleLen: Int = 3, k: Int = 64,
                       bands: Int = 16)
      : (DataFrame, DataFrame, DataFrame) = {
    val hashes = corpus
      .select(md5(Fns.cleanText(col("text"))).as("__h"), col("doc_id"))
      .groupBy(col("__h")).agg(min(col("doc_id")).as("__exact_match"))
    val sh = corpus.select(col("doc_id"),
        TextFns.wordShingles(col("text"), shingleLen).as("__sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandIdx = Dedup.minhashBandBuckets(sh, "doc_id", "__sh", k, bands)
    val shHashes = sh.select(col("doc_id"),
      transform(col("__sh"), x => xxhash64(x)).as("sh"))
    (hashes, bandIdx, shHashes)
  }

  /** [[incrementNovelty]] from STORED corpus artifacts (see
    * [[noveltyArtifacts]]): the batch pays its own scrub + sketch plus
    * one hash anti-probe, one asymmetric band join and one verify join
    * against the stores — the corpus text is never touched. */
  def incrementNoveltyFromArtifacts(batch: DataFrame,
                                    corpusHashes: DataFrame,
                                    corpusBands: DataFrame,
                                    corpusShingleHashes: DataFrame,
                                    nearThreshold: Double = 0.6)
      : (DataFrame, DataFrame) = {
    // one cut at the fan-out seam: the scrubbed batch feeds the exact
    // probe, the near probe, the verdict join and the survivor path —
    // without the cut the three PII regexes re-run per consumer
    val scrubbed = Seam.cut(batch.select(col("doc_id"), col("source"),
        TextFns.redactPii(col("text")).as("text")))
    // exact tier: batch hash ∈ corpus hash store (min corpus id reported
    // as the match)
    val exact = scrubbed
      .withColumn("__h", md5(Fns.cleanText(col("text"))))
      .join(corpusHashes, Seq("__h"))
      .select(col("doc_id"), col("__exact_match"))
    val afterExact = scrubbed.join(exact.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val near = Dedup.incrementalNearDupsFromArtifacts(
      afterExact.select(col("doc_id"), col("text")), corpusBands,
      corpusShingleHashes, threshold = nearThreshold)
    val novel = afterExact.join(
      near.select(col("batch_id").as("doc_id")), Seq("doc_id"), "left_anti")
    val verdicts = scrubbed.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near.select(col("batch_id").as("doc_id"),
        col("match_id").as("__near_match"), col("jaccard")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact_match").isNotNull, lit("dup_exact"))
          .when(col("__near_match").isNotNull, lit("dup_near"))
          .otherwise(lit("novel")).as("verdict"),
        coalesce(col("__exact_match"), col("__near_match")).as("match_id"),
        when(col("__exact_match").isNull, col("jaccard")).as("jaccard"))
    (novel, verdicts)
  }
}
