package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gfunctions.{tokens, token_shingles}
import graft.cluster.Checkpoints

/**
 * DSIR-style data selection via importance resampling (Xie et al.,
 * "Data Selection for Language Models via Importance Resampling",
 * NeurIPS 2023†): estimate hashed-n-gram feature distributions p (a
 * small trusted TARGET corpus, e.g. Wikipedia) and q (the RAW crawl
 * corpus), weight every raw document by its log importance ratio
 * log w(x) = Σ_g c_g(x) · (log p_g − log q_g), and keep the
 * highest-weight documents — the data-MIXING counterpart of the
 * engine's quality filters (LangModel perplexity measures fluency
 * under the target; DSIR measures distributional closeness TO the
 * target). The reference engine (fgregg/dedupe-api) has no analog —
 * this is a beyond-survey corpus-curation operator, same family as
 * q_lm_perplexity / q_budget_sample.
 *
 * Features: the paper's unigram+bigram bag over lowercased unicode
 * tokens. Both distributions are Laplace(alpha)-smoothed over the
 * shared union vocabulary, so p and q assign mass to exactly the same
 * support and the ratio is always finite.
 *
 * Determinism contract (the LangModel/BM25 pattern): each side's
 * per-gram log-probability is a pure function of exact integer counts
 * (+ the alpha literal), quantized independently to 1e-6 micro-units
 * — the idiom q_lm_perplexity proved engine-portable — so a gram's
 * log-ratio weight is an exact integer difference, a document's log
 * importance weight is an exact integer SUM (summation-order-
 * independent under AQE re-plans), and top-k selection under the
 * (weight desc, id asc) total order is reproducible bit-for-bit.
 * The paper resamples with Gumbel noise; that needs an RNG, which
 * breaks the engine's reproducibility contract, so selection here is
 * the paper's deterministic top-k variant ("top-k heuristic" in their
 * ablations†), with the length-normalized per-gram average offered
 * alongside because raw Σ c_g·lw_g rewards sheer length.
 *
 * Scale shape (100 TB): the two censuses are explode + map-side-
 * combined hash aggregates; the TARGET side is small by construction
 * (DSIR's point is cheap selection toward a modest trusted set). The
 * weight table is vocabulary-sized with raw grams — or hard-bounded
 * at 2^bits with [[hashGrams]] (the paper's actual estimator), which
 * makes it broadcastable at ANY corpus scale, so scoring is one
 * broadcast join + one id-keyed map-side-combinable sum: the raw
 * corpus is never shuffled. No window, no driver collect; top-k is a
 * TakeOrdered, not a global sort.
 */
object Dsir {

  private def docToks(textCol: Column): Column = tokens(lower(textCol))

  /** Per-doc feature bag `(id, gram, c)`: unigrams + space-joined
    * bigrams of lowercased unicode tokens (the DSIR paper's feature
    * space†). Docs with no tokens contribute no rows — [[score]]
    * restores them with NULL metrics (row census stable). */
  def gramFeatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), docToks(col(textCol)).as("ts"))
    val uni = toks.select(col("id"), explode(col("ts")).as("gram"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col("id"), explode(token_shingles(col("ts"), 2)).as("gram"))
    uni.unionByName(bi).groupBy("id", "gram").agg(count(lit(1)).as("c"))
  }

  /** Hash grams into 2^bits buckets (the paper's hashed estimator†):
    * the weight table gets a hard size bound, so it broadcasts at any
    * corpus scale. Collisions fold features together — the estimator
    * the paper analyzes. Non-oracle path (xxhash64; DuckDB has no
    * twin), parity-pinned by DsirSpec on a collision-free fixture. */
  def hashGrams(feats: DataFrame, bits: Int = 16): DataFrame =
    feats.select(col("id"),
        pmod(xxhash64(col("gram")), lit(1L << bits)).cast("string").as("gram"),
        col("c"))
      .groupBy("id", "gram").agg(sum("c").as("c"))

  /** Fitted model. `weights` = (gram, lw_micros) over the UNION
    * vocabulary; `unseen` = 1-row (unseen_micros) — the weight of a
    * gram neither corpus saw (both counts 0), needed only when the
    * scored corpus is not a subset of the raw corpus. Both are plain
    * DataFrames — persist to parquet to reuse one fit across runs. */
  final case class DsirModel(weights: DataFrame, unseen: DataFrame,
      bits: Option[Int])

  /** log-probability of a count under Laplace(alpha) smoothing, in
    * 1e-6 micro-units: round(1e6 · ln((cnt+α)/(tot+α·V))). Quantizing
    * each SIDE separately (rather than the ratio) keeps every rounded
    * quantity textually identical to the proven q_lm_perplexity
    * idiom, so the DuckDB twin reproduces it bit-for-bit. */
  private def lpMicros(cnt: Column, tot: Column, v: Column, alpha: Double): Column =
    round(log((cnt + lit(alpha)) / (tot + lit(alpha) * v)) * lit(1e6), 0)
      .cast("long")

  /** Fit log-ratio weights from a trusted `target` slice vs the `raw`
    * corpus. `bits` switches both censuses to hashed-bucket features. */
  def fit(target: DataFrame, raw: DataFrame, idCol: String, textCol: String,
          alpha: Double = 0.1, bits: Option[Int] = None): DsirModel = {
    def prep(df: DataFrame) = {
      val f0 = gramFeatures(df, idCol, textCol)
      bits.map(b => hashGrams(f0, b)).getOrElse(f0)
    }
    fitFromFeatures(prep(target), prep(raw), alpha, bits)
  }

  /** [[fit]] over PRECOMPUTED per-doc gram features ([[gramFeatures]],
    * already [[hashGrams]]-bucketed when `bits` is set) — a caller that
    * also scores the same corpus computes the explode+census pass ONCE
    * and reuses it here (round-6: fit+score used to run gramFeatures
    * three times per query; filtering a full-corpus feature frame to the
    * target ids is identical to gramFeatures over the filtered corpus,
    * because the (id, gram) grouping is per-document). */
  def fitFromFeatures(targetFeats: DataFrame, rawFeats: DataFrame,
      alpha: Double = 0.1, bits: Option[Int] = None): DsirModel = {
    require(alpha > 0.0, "Laplace smoothing needs alpha > 0")
    def census(f: DataFrame, as: String) =
      f.groupBy("gram").agg(sum("c").as(as))
    // materialize once: weights AND totals derive from the joined census,
    // and without the cut each downstream action re-runs both censuses
    val joined = Checkpoints.checkpointed(
      census(targetFeats, "tc").join(census(rawFeats, "rc"), Seq("gram"), "full")
        .select(col("gram"), coalesce(col("tc"), lit(0L)).as("tc"),
          coalesce(col("rc"), lit(0L)).as("rc")),
      targetFeats.sparkSession)
    val totals = joined.agg(sum("tc").as("tt"), sum("rc").as("rt"),
      count(lit(1)).as("v"))
    def lw(tc: Column, rc: Column): Column =
      (lpMicros(tc, col("tt"), col("v"), alpha) -
        lpMicros(rc, col("rt"), col("v"), alpha)).as("lw_micros")
    val weights = joined.crossJoin(broadcast(totals))
      .select(col("gram"), lw(col("tc"), col("rc")))
    val unseen = totals
      .select(lw(lit(0L), lit(0L)).as("unseen_micros"))
    DsirModel(weights, unseen, bits)
  }

  /** Score documents: `(id, n_grams, lw_micros, lw_per_gram)` where
    * lw_micros = Σ_g c_g · lw_g (exact bigint log importance weight)
    * and lw_per_gram = its length-normalized nats/gram average,
    * rounded to 6 decimals. Docs with no grams → NULL metrics. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: DsirModel): DataFrame = {
    val f0 = gramFeatures(docs, idCol, textCol)
    scoreFromFeatures(docs, idCol,
      model.bits.map(b => hashGrams(f0, b)).getOrElse(f0), model)
  }

  /** [[score]] over PRECOMPUTED gram features (same feature space as the
    * model: [[hashGrams]]-bucketed iff the model was fit with `bits`). */
  def scoreFromFeatures(docs: DataFrame, idCol: String, feats: DataFrame,
      model: DsirModel): DataFrame = {
    val f = feats
    val w = if (model.bits.isDefined) broadcast(model.weights) else model.weights
    val scored = f.join(w, Seq("gram"), "left")
      .crossJoin(broadcast(model.unseen))
      .groupBy("id").agg(
        sum("c").as("n_grams"),
        sum(col("c") * coalesce(col("lw_micros"), col("unseen_micros")))
          .as("lw_micros"))
    docs.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"), col("lw_micros"),
        round(col("lw_micros") / (lit(1e6) * col("n_grams")), 6)
          .as("lw_per_gram"))
  }

  /** Keep the k most target-like documents under a strict total order
    * — (metric desc, id asc), so the selected SET is deterministic.
    * orderBy+limit plans as TakeOrdered (per-partition top-k + driver
    * merge of k-row heaps), never a global sort. The metric is the
    * length-normalized `lw_per_gram`, not the raw sum (the raw
    * log-weight of a long document dominates regardless of fit). */
  def selectTopK(scored: DataFrame, idCol: String, k: Int): DataFrame =
    scored.filter(col("lw_per_gram").isNotNull)
      .orderBy(col("lw_per_gram").desc, col(idCol).asc).limit(k)
}
