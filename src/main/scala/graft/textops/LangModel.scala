package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gfunctions._

/**
 * N-gram language-model perplexity scoring — the CCNet-style quality
 * signal (Wenzek et al., "CCNet: Extracting High Quality Monolingual
 * Datasets from Web Crawl Data", LREC 2020†): fit an n-gram LM on a
 * trusted reference corpus, score every crawl document's perplexity
 * under it, and bucket the corpus into head/middle/tail for curation.
 * The reference engine (fgregg/dedupe-api) has no analog — this is a
 * beyond-survey corpus-curation operator, same family as q_decontaminate
 * / q_repetition_stats.
 *
 * Model: Lidstone (add-alpha) smoothed conditional n-gram LM over
 * lowercased unicode tokens —
 *   P(w | ctx) = (c(ctx·w) + alpha) / (c(ctx) + alpha · V)
 * with c(ctx) = sum over w of c(ctx·w) (so the conditional normalizes
 * exactly) and V = |reference unigram vocabulary| + 1 (one shared
 * out-of-vocabulary mass slot, the classic closed-vocabulary fix†).
 * A production CCNet run uses a KenLM Kneser-Ney model; Lidstone keeps
 * every probability a ratio of exact integer counts, which is what makes
 * the whole operator checkable bit-for-bit against a DuckDB twin
 * (q_lm_perplexity) — the smoothing choice changes the constant, not the
 * pipeline shape.
 *
 * Determinism contract (the BM25 pattern, `Retrieval.bm25TopK`): every
 * per-gram contribution tf·ln(P) is a pure function of exact integers
 * (+ the alpha literal), so it is bit-identical up to `ln`'s 1-ulp
 * licence; the per-document SUM of doubles would still be summation-
 * order-dependent under AQE re-plans, so contributions are quantized to
 * 1e-6 micro-units (bigint) and summed as exact integers. Cross-entropy
 * and perplexity derive from that one exact integer.
 *
 * Scale shape (100 TB): [[fit]] is one explode + two map-side-combined
 * hash aggregates over the REFERENCE corpus (which is the small, trusted
 * side — CCNet's is Wikipedia). [[crossEntropy]] aggregates per-doc gram
 * tfs map-side, then equi-joins the LM on the gram key and the context
 * key — two shuffles bounded by the doc-gram volume, no window, no
 * driver collect; AQE skew-split covers the zipf head. `minCount`
 * pruning (KenLM's singleton pruning†) shrinks the LM table without
 * touching context totals, so smoothing stays coherent. The join keys
 * are the gram and context strings, which the DuckDB twin compares
 * directly.
 */
object LangModel {

  /** Fitted LM handle. `grams` = (gram, cnt) with cnt ≥ minCount;
    * `contexts` = (ctx, ctx_cnt) UNPRUNED (sum of all gram counts sharing
    * the context — pruning the numerator table must not shrink the
    * denominator or P(·|ctx) would stop normalizing); `vocab` = 1-row
    * (vocab: long) carrying V = distinct reference unigrams + 1. */
  final case class NgramLm(grams: DataFrame, contexts: DataFrame,
      vocab: DataFrame, n: Int)

  private def docTokens(textCol: Column): Column = tokens(lower(textCol))

  /** Context key of a space-joined token n-gram = the gram minus its last
    * token. Tokens contain no spaces (the tokenizer splits on every
    * non-alphanumeric), so the anchored regex is exact — and it is the
    * same pattern string in Java regex and RE2, so the DuckDB twin can
    * reuse it verbatim. */
  private def ctxOf(gram: Column): Column =
    regexp_replace(gram, " [^ ]+$", "")

  /** Fit the LM: gram census, context totals, vocabulary size. All three
    * outputs are plain DataFrames — persist them to parquet to reuse one
    * fit across scoring runs (the KenLM-artifact lifecycle). */
  def fit(ref: DataFrame, textCol: String, n: Int = 3,
          minCount: Long = 1L): NgramLm = {
    require(n >= 2, s"n-gram LM needs n >= 2, got $n")
    // materialize the census once: grams AND contexts derive from it, and
    // without the cut each downstream join would re-run the reference
    // tokenize+shingle+aggregate lineage inside one scoring action
    val census = graft.cluster.Checkpoints.checkpointed(
      ref.select(explode(token_shingles(docTokens(col(textCol)), n)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("cnt")),
      ref.sparkSession)
    val contexts = census
      .groupBy(ctxOf(col("gram")).as("ctx")).agg(sum("cnt").as("ctx_cnt"))
    val grams = census.filter(col("cnt") >= minCount)
    val vocab = ref
      .select(explode(docTokens(col(textCol))).as("w"))
      .agg((count_distinct(col("w")) + lit(1L)).as("vocab"))
    NgramLm(grams, contexts, vocab, n)
  }

  /**
   * Per-document cross-entropy and perplexity under a fitted LM:
   * `(id, n_grams, logprob_micros, ce, ppl)`. Documents shorter than n
   * tokens have no grams — they come back with NULL metrics (row census
   * stable through the op; curation decides their fate separately).
   * ce = −logprob_micros / (1e6 · n_grams) nats/gram, ppl = exp(ce);
   * both derive from one exact integer, rounded to 6 decimals so the
   * final doubles survive engine-libm 1-ulp differences.
   */
  def crossEntropy(docs: DataFrame, idCol: String, textCol: String,
                   lm: NgramLm, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0, "Lidstone smoothing needs alpha > 0")
    val docGrams = docs
      .select(col(idCol).as("__id"),
        explode(token_shingles(docTokens(col(textCol)), lm.n)).as("gram"))
      .select(col("__id"), col("gram"), ctxOf(col("gram")).as("ctx"))
      .groupBy("__id", "gram", "ctx").agg(count(lit(1)).as("tf"))
    val p = (coalesce(col("cnt"), lit(0L)) + lit(alpha)) /
      (coalesce(col("ctx_cnt"), lit(0L)) + lit(alpha) * col("vocab"))
    val scored = docGrams
      .join(lm.grams, Seq("gram"), "left")
      .join(lm.contexts, Seq("ctx"), "left")
      .crossJoin(broadcast(lm.vocab))
      .groupBy("__id").agg(
        sum("tf").as("n_grams"),
        sum(round(col("tf") * log(p) * lit(1e6), 0).cast("long"))
          .as("logprob_micros"))
    val ceExpr = -col("logprob_micros") / (lit(1e6) * col("n_grams"))
    docs.select(col(idCol).as("__id")).distinct()
      .join(scored, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("n_grams"), col("logprob_micros"),
        round(ceExpr, 6).as("ce"), round(exp(ceExpr), 6).as("ppl"))
  }

  /** CCNet's head/middle/tail bucketing by perplexity cutoffs (theirs are
    * per-language percentiles computed offline; pass them in as
    * literals). NULL ce (short doc) → NULL bucket. */
  def pplBucket(ce: Column, headCut: Double, midCut: Double): Column = {
    require(headCut <= midCut, "head cutoff must not exceed middle cutoff")
    when(ce.isNull, lit(null).cast("string"))
      .when(ce < headCut, lit("head"))
      .when(ce < midCut, lit("middle"))
      .otherwise(lit("tail"))
  }
}
