package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.gfunctions._
import graft.pairs.PairGen

/**
 * Training-data pipeline operators over a documents table
 * (doc_id, text, lang, ...) — the large-scale corpus-curation toolkit the
 * engine adds beyond the reference's own operator set (builder brief):
 * exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup, language ID,
 * quality scoring, token counting, fingerprinting.
 *
 * All column functions are built-ins or graft Catalyst expressions —
 * no Scala UDFs — so they fuse into scan-side codegen and push down.
 */
object TextOps {

  // ---------- text analysis (scalar, SQL-expressible for the oracle) ----

  /**
   * HTML → text extraction over the raw-table `html: binary` column
   * (BASELINE.json:15) as a pure codegen'd column chain — no UDF, no
   * external parser: UTF-8 decode → drop `<script>`/`<style>` blocks
   * (lazy, case-insensitive, dotall) → drop comments → every remaining
   * tag → one space → decode the five standard character entities
   * (`&amp;` LAST, so double-escapes like `&amp;lt;` decode to the
   * literal `&lt;` per the HTML unescape order) → collapse whitespace
   * runs and trim. The DuckDB oracle (q_html_extract) runs the
   * IDENTICAL pattern strings, so the patterns avoid every known
   * Java-regex/RE2 semantic divergence, not just syntax: case folding
   * is spelled as explicit `[sS]`-style classes (Java `(?i)` folds
   * ASCII-only, RE2 folds Unicode — `<ſcript>` would diverge) and
   * whitespace as the explicit class `[ \t\n\r\f\x0B]` (Java `\s`
   * includes `\x0B`, RE2's excludes it). Only `(?s)` dotall + lazy
   * quantifiers remain, which the engines agree on.
   *
   * Round-trip invariant: PagesGen wraps whitespace-canonical text in
   * `<html><body>…</body></html>`, so extraction recovers the north
   * star's "byte-identical extracted text per url" on those rows —
   * asserted in TextOpsSpec (whitespace-noise variants match after
   * canonical collapse). Regex-over-string is the honest scale shape
   * here: per-row, scan-fused, no shuffle; a production DOM parser
   * would slot in behind the same Column signature. Like any
   * regex-level extractor it is lossy on text whose BODY contains
   * literal markup-shaped bytes: a bare `<x then y>` in prose is
   * stripped as a tag and a literal `&amp;` in prose is decoded —
   * acceptable for crawl text whose writers escape `<`/`&`, and
   * exactly where a DOM parser would slot in.
   */
  def extractHtmlText(html: Column): Column = {
    val sc = "[sS][cC][rR][iI][pP][tT]"
    val st = "[sS][tT][yY][lL][eE]"
    val s0 = decode(html, "UTF-8")
    val s1 = regexp_replace(s0, s"(?s)<$sc[^>]*>.*?</$sc>", " ")
    val s2 = regexp_replace(s1, s"(?s)<$st[^>]*>.*?</$st>", " ")
    val s3 = regexp_replace(s2, "(?s)<!--.*?-->", " ")
    val s4 = regexp_replace(s3, "(?s)<[^>]*>", " ")
    val ent = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(s4) { case (c, (k, v)) => replace(c, lit(k), lit(v)) }
    trim(regexp_replace(ent, "[ \\t\\n\\r\\f\\x0B]+", " "))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: letter runs, digit runs, single punct marks.
    * A cheap, deterministic proxy for subword token budgeting. */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "de", "y", "es", "un", "una", "en", "por"))

  /** Count of tokens belonging to a fixed stopword list. */
  def stopwordCount(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isInCollection(stopwords(lang))))

  /**
   * Language ID — stopword-vote heuristic (n-gram-free variant keeps it
   * SQL-expressible): the language whose stopword list hits the most
   * tokens wins; "und" (undetermined) when no list hits.
   * Ties break by fixed language order (de, en, es, fr — lexicographic).
   */
  def langId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scored = stopwords.toSeq.sortBy(_._1).map { case (l, _) =>
      struct(stopwordCount(toks, l).as("hits"), lit(l).as("lang"))
    }
    // array_max on struct orders by first field (hits) then lang; with the
    // DESC-by-hits requirement we use greatest(); lang tiebreak: because
    // greatest compares (hits, lang) lexicographically, equal hits pick the
    // lexicographically LARGEST lang — deterministic either way; we flip to
    // smallest by negating nothing and documenting the rule instead.
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /**
   * Quality score in [0,1]: weighted blend of
   *  - alpha ratio (letters / non-space chars),
   *  - non-punct ratio,
   *  - English-stopword hit ratio (fluency proxy),
   *  - length band (50..2000 chars full credit).
   * Deterministic arithmetic only — SQL-expressible for the oracle.
   */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast("double")
    val nNonSpace = greatest(length(regexp_replace(text, "\\s", "")).cast("double"), lit(1.0))
    val nAlpha = length(regexp_replace(text, "[^A-Za-z]", "")).cast("double")
    val nPunct = length(regexp_replace(text, "[^.,;:!?'\"()]", "")).cast("double")
    val toks = tokens(lower(text))
    val nToks = greatest(size(toks).cast("double"), lit(1.0))
    val stopRatio = stopwordCount(toks, "en").cast("double") / nToks
    val alphaRatio = nAlpha / nNonSpace
    val punctPenalty = lit(1.0) - least(nPunct / nNonSpace * 5.0, lit(1.0))
    val lenScore = least(nChars / 50.0, lit(1.0)) *
      (lit(1.0) - least(greatest(nChars - 2000.0, lit(0.0)) / 8000.0, lit(1.0)))
    round(
      lit(0.35) * alphaRatio + lit(0.25) * punctPenalty +
      lit(0.2) * least(stopRatio * 4.0, lit(1.0)) + lit(0.2) * lenScore, 6)
  }

  /**
   * Named projection of the one-pass repetition kernel
   * (gfunctions.repetition_stats — Gopher repetition-removal family, Rae
   * et al. 2021†): five per-document fractions, rounded to 6 for stable
   * cross-engine compares. Use with `df.select(col("doc_id"),
   * repetitionStats(col("text")).as("r")).select("doc_id", "r.*")`.
   */
  def repetitionStats(text: Column): Column = {
    val r = repetition_stats(text)
    struct(
      round(r.getItem(0), 6).as("dup_line_frac"),
      round(r.getItem(1), 6).as("dup_line_char_frac"),
      round(r.getItem(2), 6).as("top2_frac"),
      round(r.getItem(3), 6).as("top3_frac"),
      round(r.getItem(4), 6).as("dup5_frac"))
  }

  /**
   * Gopher-style repetition keep/drop decision: true when the document
   * passes every repetition threshold. Defaults follow the published
   * Gopher cutoffs for the line metrics (0.30 / 0.20) and the published
   * n-gram cutoffs re-used on the word-occurrence variant (top-2 0.20,
   * top-3 0.18, dup-5 0.15) — callers tune per corpus.
   */
  def repetitionKeep(text: Column, maxDupLine: Double = 0.30,
      maxDupLineChar: Double = 0.20, maxTop2: Double = 0.20,
      maxTop3: Double = 0.18, maxDup5: Double = 0.15): Column = {
    // one kernel evaluation per row: filter predicates get no common-
    // subexpression elimination, so five getItem references would run
    // the O(len) kernel five times — zip against the threshold array
    // instead and fold with forall
    val thr = array(lit(maxDupLine), lit(maxDupLineChar), lit(maxTop2),
      lit(maxTop3), lit(maxDup5))
    forall(zip_with(repetition_stats(text), thr, (v, t) => v <= t), x => x)
  }

  /**
   * Gopher quality-rule battery (Rae et al. 2021 Appendix A1.1† — public
   * thresholds): the per-document heuristics Gopher applies alongside the
   * repetition filters ([[repetitionStats]]), each exposed as its measured
   * statistic plus the conjunction of the published cutoffs as `keep`:
   *
   *  - 50 ≤ word count ≤ 100 000 (whitespace words),
   *  - 3 ≤ mean word length ≤ 10,
   *  - hash-symbol-to-word ratio ≤ 0.1 and ellipsis-to-word ratio ≤ 0.1
   *    (`...` counted non-overlapping, `…` per character),
   *  - ≤ 90% of lines start with a bullet (`- `, `• `, `* `),
   *  - ≤ 30% of lines end with an ellipsis,
   *  - ≥ 80% of words contain at least one alphabetic character,
   *  - ≥ 2 distinct hits from Gopher's stop-list
   *    {the, be, to, of, and, that, have, with}.
   *
   * Pure built-in column algebra (splits, higher-order filters, replace
   * censuses) — scan-fused, no shuffle, no UDF; fractions rounded to 6
   * for stable cross-engine compares (oracle: q_gopher_rules).
   */
  def gopherRules(text: Column): Column = {
    val lines = split(text, "\n")
    val nLines = greatest(size(lines).cast("double"), lit(1.0))
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    val nWords = size(words).cast("long")
    val nWordsD = greatest(size(words).cast("double"), lit(1.0))
    val sumLen = aggregate(transform(words, w => length(w).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val meanWordLen = sumLen.cast("double") / nWordsD
    // replace-census symbol counts: '…' is one char, '...' counted
    // non-overlapping via the length delta of a global replace
    val hashCount = (length(text) -
      length(replace(text, lit("#"), lit("")))).cast("double")
    val ellCount = ((length(text) -
      length(replace(text, lit("..."), lit("")))) / 3 +
      (length(text) - length(replace(text, lit("…"), lit(""))))).cast("double")
    val bulletLineFrac =
      size(filter(lines, l => l.rlike("^[-•*] "))).cast("double") / nLines
    val ellLineFrac =
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))).cast("double") / nLines
    val alphaWordFrac =
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWordsD
    val stopList = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val lowered = transform(words, w => lower(w))
    val stopHits = size(filter(array(stopList.map(lit): _*),
      sw => array_contains(lowered, sw))).cast("long")
    val hashRatio = hashCount / nWordsD
    val ellRatio = ellCount / nWordsD
    val keep = nWords.between(50L, 100000L) &&
      meanWordLen >= 3.0 && meanWordLen <= 10.0 &&
      hashRatio <= 0.1 && ellRatio <= 0.1 &&
      bulletLineFrac <= 0.9 && ellLineFrac <= 0.3 &&
      alphaWordFrac >= 0.8 && stopHits >= 2L
    struct(
      nWords.as("n_words"),
      round(meanWordLen, 6).as("mean_word_len"),
      round(hashRatio, 6).as("hash_ratio"),
      round(ellRatio, 6).as("ellipsis_ratio"),
      round(bulletLineFrac, 6).as("bullet_line_frac"),
      round(ellLineFrac, 6).as("ellipsis_line_frac"),
      round(alphaWordFrac, 6).as("alpha_word_frac"),
      stopHits.as("stop_hits"),
      keep.as("keep"))
  }

  /**
   * C4 heuristic-filter battery (Raffel et al. 2020 §2.2† — public rules):
   * line-level cleaning plus page-level drop signals, exposed as the
   * cleaned text (lines with ≥ `minLineWords` words AND terminal
   * punctuation, rejoined in order), the integer censuses behind each
   * rule, and the page-level `keep` conjunction:
   *
   *  - kept-line census (terminal `.`/`!`/`?`/`"` AND ≥ 5 words),
   *  - sentence count ≥ 3 over the CLEANED text (terminal-punct census),
   *  - no "lorem ipsum", no `{` (code), no "javascript" word
   *    (case-insensitive page-level signals).
   *
   * Same scale shape as [[gopherRules]]: per-row column algebra only.
   */
  def c4Filters(text: Column, minLineWords: Int = 5): Column = {
    val lines = split(text, "\n")
    val nLines = size(lines).cast("long")
    def lineKept(l: Column): Column =
      l.rlike("[.!?\"]$") &&
        size(filter(split(l, "\\s+"), w => length(w) > 0)) >= minLineWords
    val kept = filter(lines, lineKept _)
    val cleaned = array_join(kept, "\n")
    // sentence census: terminal-punct occurrences in the cleaned text
    val nSentences = (length(cleaned) -
      length(regexp_replace(cleaned, "[.!?]", ""))).cast("long")
    val lowerText = lower(text)
    val hasLorem = lowerText.contains("lorem ipsum")
    val hasBrace = text.contains("{")
    val hasJs = lowerText.rlike("(^|[^a-z])javascript([^a-z]|$)")
    val keep = nSentences >= 3L && !hasLorem && !hasBrace && !hasJs
    struct(
      nLines.as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      nSentences.as("n_sentences"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      hasJs.as("has_js"),
      keep.as("keep"),
      cleaned.as("clean_text"))
  }

  /**
   * Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003, the
   * MOSS scheme — public algorithm): hash every k-char gram, slide a
   * window of `window` consecutive gram hashes, keep each window's
   * minimum, dedupe. Guarantees any shared substring of length
   * >= k + window - 1 contributes at least one shared fingerprint, so
   * partial overlap (quotation, boilerplate reuse) is detectable from the
   * fingerprint sets alone. Pure built-ins — scan-side codegen, no UDF.
   */
  def winnowFingerprints(text: Column, k: Int = 5, window: Int = 4): Column = {
    val n = length(text)
    // Column.substr takes Column positions (the substring() builtin needs
    // literals, useless inside the positional transform)
    val grams = when(n >= k,
      transform(sequence(lit(1), n - k + 1), i => xxhash64(text.substr(i, lit(k)))))
      .otherwise(array(xxhash64(text)))
    val ng = size(grams)
    val mins = when(ng >= window,
      transform(sequence(lit(1), ng - window + 1),
        i => array_min(slice(grams, i, lit(window)))))
      .otherwise(array(array_min(grams)))
    // null text → null fingerprints, NOT [xxhash64 seed]: xxhash64 skips
    // null children, so without the guard every extraction-failed page
    // would share one fingerprint and score 1.0 against every other
    when(text.isNotNull, array_sort(array_distinct(mins)))
      .otherwise(lit(null).cast("array<bigint>"))
  }

  /** Winnowing overlap similarity = |A ∩ B| / |A ∪ B| over fingerprint
    * sets (set Jaccard via built-ins; robust to partial overlap). */
  def winnowSimilarity(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  // ---------- dedup family -------------------------------------------

  /** Exact dedup (hash-groupBy): per text-hash group pick min-id rep.
    * Output: (id, rep, is_dup). Scale: one hash aggregate, no strings
    * shuffled — only (hash, id). Null-text rows are DROPPED scan-side —
    * xxhash64 maps every null to the seed, so without the filter all
    * extraction-failed pages would collapse into one dup group (the null
    * aliasing [[dedupeAgainstCorpus]] documents); dropping also matches
    * the DuckDB twin, whose JOIN USING (text) never matches NULL. */
  def exactDupes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), xxhash64(col(textCol)).as("th"))
    val reps = h.groupBy("th").agg(min("id").as("rep"), count("*").as("n"))
    h.join(reps, "th")
      .select(col("id"), col("rep"), (col("id") =!= col("rep")).as("is_dup"))
  }

  /**
   * Per-cluster best-representative selection — curation keeps the
   * HIGHEST-QUALITY member of each duplicate/group cluster, not the
   * smallest id: one map-side-combined max_by aggregate keyed by the
   * cluster columns, ordered by (score desc, id asc) via the
   * overflow-free bitwise-not trick (~id is monotone decreasing and
   * bijective on Long, unlike -id which overflows at Long.MinValue).
   * No window, ONE exchange carrying a single candidate struct per
   * input row after map-side partial reduction (plan-asserted). Spark
   * plans a struct-buffer declarative aggregate as SortAggregate — a
   * per-partition sort by the CLUSTER KEY on both sides, not a
   * window's single-partition global sort; the partial side still
   * collapses each map partition to one candidate per cluster before
   * the shuffle, which is the property that matters at 10^12 rows.
   * Output: one row per cluster — (clusterCols..., idCol, scoreCol).
   * Requires an integral idCol; unique ids within a cluster make the
   * pick total-order deterministic.
   */
  def keepBest(df: DataFrame, clusterCols: Seq[String], scoreCol: String,
      idCol: String): DataFrame = {
    require(clusterCols.nonEmpty, "keepBest needs at least one cluster column")
    val ord = struct(col(scoreCol), bitwise_not(col(idCol)))
    val w = struct(col(idCol), col(scoreCol))
    df.groupBy(clusterCols.map(col): _*)
      .agg(max_by(w, ord).as("__kb_w"))
      .select(clusterCols.map(col) :+ col(s"__kb_w.$idCol") :+
        col(s"__kb_w.$scoreCol"): _*)
  }

  /**
   * Incremental exact dedup of a new crawl batch AGAINST an existing
   * corpus — the "append 1 TB to a 100 TB corpus" shape, where rescanning
   * or reshuffling the corpus per batch is unaffordable. Returns every
   * batch row WITH NON-NULL TEXT (null-text rows are dropped scan-side on
   * both sides, matching prepare's null-url drop: a null page has no
   * dedup identity, and the two hash engines disagree on null — sha2
   * yields a null join key that would vanish silently, xxhash64 aliases
   * all nulls together) as (idCol, in_corpus, rep, keep): `in_corpus` = the text
   * already exists in the corpus; `rep` = min-id representative of the
   * text within the batch; `keep` = survives both gates (not in corpus
   * AND batch representative), so callers can audit each rejection reason
   * separately.
   *
   * Scale shape (default broadcast path): the corpus contributes ONE
   * hash-projection scan probed by a BROADCAST LEFT SEMI join on the
   * batch's distinct hashes — no corpus-sized exchange exists anywhere;
   * the only data that leaves the corpus scan is the batch∩corpus hash
   * intersection (bounded by the batch), and the only shuffles in the
   * whole plan carry (hash, id) — text never enters an exchange on
   * either side (plan-asserted in PlanSpec). Set
   * broadcastBatchHashes=false when the batch's distinct-hash set is
   * itself too big to broadcast (hundreds of millions of docs): the
   * membership probe then degrades to distinct + shuffled semi join —
   * still hash-only, and with the corpus hash index pre-materialized
   * bucketed on the hash (TableIO.writeBucketed seam) even that shuffle
   * disappears on the corpus side.
   *
   * strongHash=true (default) hashes with SHA-256 kept as 32-byte
   * binary: at 10^12 docs a 64-bit hash expects ~3·10^4 birthday
   * collisions, each silently dropping a unique page; 256 bits expects
   * none. strongHash=false uses xxhash64 (8 bytes, 4× less shuffle
   * weight) for modest corpora — same documented 2^-64-per-pair caveat
   * as [[exactDupes]].
   *
   * corpusBloom (from [[corpusTextBloom]]) prefilters the batch's
   * distinct hashes map-side before the membership probe: bloom-negative
   * hashes are DEFINITIVELY absent from the corpus (a bloom has no false
   * negatives), so the broadcast/semi-join side shrinks from
   * |batch-distinct| to |batch∩corpus| + fpp·|batch| — the regime where
   * the batch itself is broadcast-hostile but its corpus-overlap is not.
   * Bloom false positives are eliminated by the unchanged exact hash
   * semi-join behind the gate, so the output is bit-identical with and
   * without the bloom (asserted in TextOpsSpec; both twinned by the same
   * DuckDB oracle, q_incr_dedup[_bloom]). VALIDITY CONTRACT: the
   * no-false-negative guarantee holds only for a bloom covering the
   * corpus state actually passed — after appending a batch's kept docs to
   * the corpus, extend the bloom too ([[CorpusBloom.merge]] with the
   * batch's own bloom, or rebuild); probing corpus@t+1 with bloom@t
   * silently re-ingests duplicates of the appended docs. The bloom also
   * carries its hash mode and this method fails loudly on a mismatch —
   * mismatched key domains would make every probe a false negative.
   */
  def dedupeAgainstCorpus(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      broadcastBatchHashes: Boolean = true,
      strongHash: Boolean = true,
      corpusBloom: Option[CorpusBloom] = None,
      // the corpus side never contributes anything but hashes, so callers
      // maintaining a persistent hash index (streaming.StreamIngest) name
      // its PRECOMPUTED th ([[textHash]]) column here and the full-text
      // corpus never rescans; the batch side still hashes its own textCol.
      // PRECONDITION for both hash-col seams: drop null-TEXT rows BEFORE
      // hashing (StreamIngest does) — with strongHash=false a null text
      // hashes to the xxhash64 seed, which is non-null and undetectable
      // here, and every null page would alias into one dedup group; the
      // isNotNull guard below can only catch strongHash=true, where
      // sha2(null) stays null
      corpusHashCol: Option[String] = None,
      // likewise for the batch side: a PRECOMPUTED th column the caller
      // has already pinned (localCheckpoint/snapshot) — hashing and the
      // multi-consumer snapshot below are then the caller's job, so text
      // hashes exactly once even across several operator calls
      batchHashCol: Option[String] = None): DataFrame = {
    corpusBloom.foreach(cb => require(cb.strongHash == strongHash,
      s"corpusBloom was built with strongHash=${cb.strongHash} but this " +
        s"dedupe uses strongHash=$strongHash: the bloom key domains " +
        "differ, every probe would be a silent false negative"))
    def th(c: Column) = textHash(c, strongHash)
    // bh feeds three consumers (winner groupBy, distinct broadcast, final
    // probe): snapshot so the full-text hash scan runs once, not 3×
    val bh = batchHashCol match {
      case Some(hc) => batch.filter(col(hc).isNotNull)
        .select(col(idCol).as("id"), col(hc).as("th"))
      case None => graft.io.Snapshot(
        batch.filter(col(textCol).isNotNull)
          .select(col(idCol).as("id"), th(col(textCol)).as("th")),
        "incr_dedup_batch")
    }
    val ch = corpusHashCol match {
      case Some(hc) => corpus.filter(col(hc).isNotNull).select(col(hc).as("th"))
      case None => corpus.filter(col(textCol).isNotNull)
        .select(th(col(textCol)).as("th"))
    }
    val reps = bh.groupBy("th").agg(min("id").as("rep"))
    // probe side: the batch's distinct hashes, bloom-prefiltered when a
    // corpus bloom is supplied (negatives are truly absent — skipping
    // them cannot change in_corpus; positives still face the exact join)
    val probe = corpusBloom match {
      case Some(cb) => bh.select("th").distinct()
        .filter(org.apache.spark.sql.GraftBridge.bloomMightContain(
          cb.filter, xxhash64(col("th"))))
      case None => bh.select("th").distinct()
    }
    // hashes present in BOTH batch and corpus; distinct because the
    // corpus may itself hold duplicate texts and this feeds a left join
    val hits =
      if (broadcastBatchHashes)
        ch.join(broadcast(probe), Seq("th"), "left_semi")
          .distinct()                  // batch-bounded, partial-agg'd map-side
      else ch.distinct().join(probe, Seq("th"), "left_semi")
    val flagSide = hits.withColumn("in_corpus", lit(true))
    bh.join(reps, "th")
      .join(if (broadcastBatchHashes) broadcast(flagSide) else flagSide,
        Seq("th"), "left")
      .select(col("id").as(idCol),
        coalesce(col("in_corpus"), lit(false)).as("in_corpus"),
        col("rep"),
        (!coalesce(col("in_corpus"), lit(false)) && col("id") === col("rep"))
          .as("keep"))
  }

  /** THE text-hash encoding of the incremental-dedup family — the single
    * definition [[dedupeAgainstCorpus]], [[corpusTextBloom]] and
    * streaming.StreamIngest's persistent hash index all share. Any
    * divergence between producers and probers of these hashes is a
    * silent-false-negative factory, so there is exactly one copy. */
  def textHash(c: Column, strongHash: Boolean): Column =
    if (strongHash) unhex(sha2(c, 256)) else xxhash64(c)

  /** A serialized corpus bloom filter TAGGED with the hash mode it was
    * built under, so [[dedupeAgainstCorpus]] can reject a mismatched
    * probe loudly instead of returning silent false negatives. */
  case class CorpusBloom(filter: Array[Byte], strongHash: Boolean) {
    /** OR-merge with a bloom built over appended texts (same strongHash
      * AND the same expectedItems/fpp sizing, so the bit arrays line up —
      * the sketch library rejects incompatible layouts loudly). This is
      * how the filter tracks a growing corpus without a rebuild: bloom
      * bits only ever turn on, so the merge preserves no-false-negatives
      * over the union. */
    def merge(other: CorpusBloom): CorpusBloom = {
      require(other.strongHash == strongHash,
        "cannot merge blooms built under different hash modes")
      import org.apache.spark.util.sketch.BloomFilter
      val a = BloomFilter.readFrom(filter)
      a.mergeInPlace(BloomFilter.readFrom(other.filter))
      val out = new java.io.ByteArrayOutputStream()
      a.writeTo(out)
      CorpusBloom(out.toByteArray, strongHash)
    }
  }

  /**
   * One-pass corpus bloom filter over text hashes for
   * [[dedupeAgainstCorpus]]'s bloom gate. The filter key is
   * xxhash64(th(text)) — derived from the SAME th the exact join uses, so
   * the two stay consistent for either strongHash setting (and the
   * returned [[CorpusBloom]] records which one). Sized by
   * expectedItems/fpp via the sketch library's own optimal-bits formula;
   * at 10^9 corpus texts and 1% fpp that is ~1.2 GB — at that point build
   * per-partition-range blooms instead, but the driver-literal shape here
   * matches how Spark ships its own runtime join filters. The aggregate
   * is a map-side TypedImperativeAggregate: the corpus scan emits one
   * serialized filter per partition and the merge ORs bit vectors — no
   * row ever shuffles.
   *
   * Two silent-degradation modes of the raw Catalyst aggregate are closed
   * here: (a) it Math.min-caps items/bits at
   * spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
   * (defaults 4M items / 8 MB) — a 10^9-item request would silently
   * saturate to fpp≈1 and the gate would degrade to pure overhead, so the
   * confs are raised to the requested size for the build and restored
   * after; (b) it returns NULL over an empty corpus — callers persisting
   * the filter would NPE later, so an empty corpus yields a valid empty
   * filter (every probe negative: correct, nothing is in the corpus).
   */
  def corpusTextBloom(corpus: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01,
      strongHash: Boolean = true): CorpusBloom =
    corpusTextBloomImpl(corpus, textCol, expectedItems, fpp, strongHash,
      identityTh = false)

  private def corpusTextBloomImpl(corpus: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double, strongHash: Boolean,
      identityTh: Boolean): CorpusBloom = {
    def th(c: Column) = if (identityTh) c else textHash(c, strongHash)
    import org.apache.spark.util.sketch.BloomFilter
    val numBits = BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val conf = corpus.sparkSession.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oldItems, oldBits) = (conf.get(itemsKey), conf.get(bitsKey))
    val bytes = try {
      conf.set(itemsKey, math.max(oldItems.toLong, expectedItems).toString)
      conf.set(bitsKey, math.max(oldBits.toLong, numBits).toString)
      corpus.filter(col(textCol).isNotNull)
        .select(org.apache.spark.sql.GraftBridge.bloomAgg(
          xxhash64(th(col(textCol))), expectedItems, numBits).as("bf"))
        .head().getAs[Array[Byte]](0)
    } finally {
      conf.set(itemsKey, oldItems)
      conf.set(bitsKey, oldBits)
    }
    val safe = if (bytes != null) bytes else {
      val empty = BloomFilter.create(expectedItems, fpp)
      val out = new java.io.ByteArrayOutputStream()
      empty.writeTo(out)
      out.toByteArray
    }
    CorpusBloom(safe, strongHash)
  }

  /** [[corpusTextBloom]] over a PRECOMPUTED hash column (the th encoding
    * of the given strongHash mode) instead of raw text — the restart path
    * of a persistent hash index: the bloom key xxhash64(th) is identical,
    * so a filter rebuilt here merges with / substitutes for one built
    * from the original texts. */
  def hashBloom(hashes: DataFrame, thCol: String,
      expectedItems: Long, fpp: Double = 0.01,
      strongHash: Boolean = true): CorpusBloom = {
    val renamed = hashes.filter(col(thCol).isNotNull)
      .select(col(thCol).as("__bloom_th"))
    // reuse the hardened builder (conf raise, empty-corpus fallback) by
    // treating the hash column as the "text" with an identity th
    corpusTextBloomImpl(renamed, "__bloom_th", expectedItems, fpp,
      strongHash, identityTh = true)
  }

  /**
   * MinHash-LSH near-dup candidate pairs + exact-Jaccard verification:
   * shingle(3 tokens) → k minhashes → `bands` bands → bucket join →
   * verify with exact shingle-set Jaccard ≥ threshold.
   * The LSH recall/precision knobs are (k, bands); verification makes the
   * output exact w.r.t. Jaccard, so LSH only affects recall.
   * The signature frame is snapshotted AT CALL TIME: it feeds the block
   * census, both legs of the grid self-join and the verify attach —
   * without it the CPU-heavy signature computation re-executes per
   * consumer (~4×).
   */
  def minhashDupePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, jaccardThreshold: Double = 0.7,
      maxBucketSize: Int = 200): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val sigs = df.select(
        col(idCol).as("id"),
        token_shingles(tokens(lower(col(textCol))), 3).as("shingles"))
      .withColumn("sig", minhash(col("shingles"), k))
    val shingled = graft.io.Snapshot(sigs, "minhash_sigs", widen = true)
    // band keys via THE shared definition (minhashBandKeys), so the
    // incremental index and the batch operator cannot desynchronize
    val blocks = minhashBandKeys(shingled, k, bands)
    val pairs = PairGen.candidatePairs(blocks, maxBucketSize)
    PairGen.attachFields(pairs, shingled.select(col("id"), col("shingles")), "id", Seq("shingles"))
      .withColumn("jaccard", jaccard(col("shingles_1"), col("shingles_2")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * (id, sig) MinHash signatures — the PERSISTABLE unit of the
   * incremental near-dup index. A signature is k longs = 8k bytes per
   * document regardless of length, so a 10^12-document corpus index is
   * ~0.5 PB at k=64 where the shingle sets it summarizes are unbounded
   * (the whole reason [[neardupAgainstCorpus]] verifies on signature
   * agreement, not exact Jaccard). Shingling matches [[minhashDupePairs]]
   * exactly: lowercase → tokens → distinct 3-token shingles.
   *
   * One row per input row; `sig` is NULL when the text is NULL or
   * yields no shingle (< 3 tokens). A null, NOT the kernel's untouched
   * all-Long.MaxValue sentinel: under the sentinel every shingle-less
   * document carries the IDENTICAL signature, so any two short pages
   * ("ok thanks" vs "error 404") would band together and estimate
   * Jaccard 1.0. [[minhashDupePairs]] tolerates that aliasing because
   * its exact-Jaccard verify kills the pairs; the incremental path has
   * no shingles to verify with, so the aliasing must die at signature
   * time.
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int = 64): DataFrame = {
    val sh = token_shingles(tokens(lower(col(textCol))), 3)
    df.select(col(idCol).as("id"),
      when(size(sh) > 0, minhash(sh, k)).as("sig"))
  }

  /**
   * Banded LSH keys over signatures: (id, block_key) rows — the
   * corpus-side index table of the incremental near-dup family. Callers
   * persist this partitioned/bucketed by `block_key` so a batch probe is
   * a key-pruned scan, and append the novel rows of each batch back into
   * it. This is the SINGLE band-key definition — [[minhashDupePairs]]
   * calls it too — so an index built here finds exactly the pairs the
   * batch-mode operator would; any edit changes both sides together.
   *
   * NULL signatures ([[minhashSignatures]] on shingle-less text) emit no
   * key rows: xxhash64(NULL slice) would return the seed, handing every
   * signature-less document one shared bogus bucket per band.
   *
   * `carrySig = true` adds the `sig` column to every key row (~16× the
   * index bytes at the default banding) so a probe can score matches
   * from the probed rows alone — the single-corpus-scan layout
   * [[neardupAgainstCorpus]] builds when deriving keys on the fly.
   */
  def minhashBandKeys(sigs: DataFrame, k: Int = 64, bands: Int = 16,
      carrySig: Boolean = false): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val width = k / bands
    val keys = (0 until bands).map { b =>
      concat(lit(s"$b#"), xxhash64(slice(col("sig"), b * width + 1, width)))
    }
    val withKey = sigs.filter(col("sig").isNotNull)
      .withColumn("block_key", explode(array(keys: _*)))
    if (carrySig) withKey.select("id", "sig", "block_key")
    else withKey.select("id", "block_key")
  }

  /**
   * Incremental near-dup: classify a (small) batch of new documents
   * against a persisted corpus signature index — the continuous-crawl
   * analogue of [[dedupeAgainstCorpus]] for NEAR duplicates. Returns one
   * row per batch document: (id, near_dup, dup_of, est_jaccard, keep)
   * where `dup_of` is the best-matching corpus id, `est_jaccard` the
   * fraction of agreeing MinHash components (the unbiased Jaccard
   * estimator†, Broder 1997 — exact shingles are NOT stored at corpus
   * scale, see [[minhashSignatures]]) and `keep = !near_dup`. EVERY
   * batch row comes back — NULL-text and shingle-less (< 3 tokens)
   * documents have no signature to match with and return as novel —
   * so callers can append exactly the `keep` ids' band keys to the
   * index for the next batch. A signature-less corpus row likewise
   * never matches anything (see [[minhashBandKeys]] on the sentinel
   * aliasing both guards kill).
   *
   * Scale shape — everything is batch-bounded except one key-pruned
   * index scan:
   *   1. batch signatures snapshot once (multi-consumer);
   *   2. the corpus index is probed with a BROADCAST semi-join on the
   *      batch's distinct band keys — no corpus-side shuffle, a
   *      block_key-partitioned index prunes the scan itself, and the
   *      probed rows (batch-bounded) snapshot once for their three
   *      consumers below. Index rows carry the corpus signature
   *      (carrySig layout), so this is the ONLY corpus access: scoring
   *      reads signatures off the probed rows. A caller-supplied
   *      (id, block_key)-only index works too, at the cost of a second
   *      corpus access — an id-keyed signature lookup that stays cheap
   *      only if the signature table is bucketed by id
   *      (io.TableIO.writeBucketed);
   *   3. hot-bucket guard: probed keys whose corpus frequency exceeds
   *      `maxBucketSize` (boilerplate bands) are dropped AFTER the probe,
   *      so the census aggregates only the batch-hit subset — never the
   *      full index;
   *   4. candidate (corpus id, batch id) pairs attach the batch
   *      signature by broadcast — every non-corpus side is
   *      batch-bounded by the operator's contract (a crawl batch vs a
   *      10^12-doc corpus), so the hints are structural, not tuning;
   *   5. per-batch-id best match is a map-side `max_by` aggregate.
   */
  def neardupAgainstCorpus(batch: DataFrame, corpusSigs: DataFrame,
      idCol: String, textCol: String,
      k: Int = 64, bands: Int = 16, estThreshold: Double = 0.7,
      maxBucketSize: Int = 200,
      // a pre-built minhashBandKeys(corpusSigs) table (the persisted
      // index), with or without the carrySig column; derived from
      // corpusSigs (carrySig layout) when absent. MUST have been built
      // with the same k/bands.
      corpusIndex: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val bSigs = graft.io.Snapshot(minhashSignatures(batch, idCol, textCol, k),
      "incr_neardup_batch")
    val bKeys = minhashBandKeys(bSigs, k, bands)
      .withColumnsRenamed(Map("id" -> "bid"))
    val cKeys = corpusIndex.getOrElse(
      minhashBandKeys(corpusSigs, k, bands, carrySig = true))
    // (2) probe — the one corpus access; snapshot the (batch-bounded)
    // result so the census, candidate build and scoring don't re-run it
    val probed = graft.io.Snapshot(
      cKeys.join(broadcast(bKeys.select("block_key").distinct()),
        Seq("block_key")),
      "incr_neardup_probe")
    // (3) census over the PROBED subset only, then the hot-bucket filter
    val coldKeys = probed.groupBy("block_key").count()
      .filter(col("count") <= maxBucketSize).select("block_key")
    val cold = probed.join(broadcast(coldKeys), Seq("block_key"))
    // candidate pairs; sig is functionally dependent on the corpus id,
    // so distinct-ing it alongside changes nothing but keeps it attached
    val cands =
      if (cold.columns.contains("sig"))
        cold.join(broadcast(bKeys), Seq("block_key"))
          .select(col("bid"), col("id").as("cid"), col("sig")).distinct()
      else {
        // signature-less index layout: second corpus access (id-keyed
        // signature lookup — bucket-prunable when the sig table is
        // bucketed by id; see scaladoc)
        val thin = cold.join(broadcast(bKeys), Seq("block_key"))
          .select(col("bid"), col("id").as("cid")).distinct()
        corpusSigs.join(broadcast(thin), col("id") === col("cid"))
          .select(col("bid"), col("cid"), col("sig"))
      }
    // (4) attach the batch signature, estimate agreement
    val scored = cands.join(broadcast(bSigs.withColumnsRenamed(
        Map("id" -> "bid", "sig" -> "bsig"))), Seq("bid"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig"), col("bsig"),
            (a, b) => (a === b).cast("int")),
          lit(0), (acc, v) => acc + v).cast("double") / k)
      .filter(col("est_jaccard") >= estThreshold)
    // (5) best corpus match per batch doc; largest corpus id breaks
    // est ties deterministically (no numeric assumption on the id type)
    val best = scored.groupBy("bid").agg(
      max_by(col("cid"), struct(col("est_jaccard"), col("cid"))).as("dup_of"),
      max(col("est_jaccard")).as("est_jaccard"))
    bSigs.select(col("id")).join(broadcast(best), col("id") === col("bid"), "left")
      .select(col("id").as(idCol),
        col("dup_of").isNotNull.as("near_dup"),
        col("dup_of"),
        round(col("est_jaccard"), 6).as("est_jaccard"),
        col("dup_of").isNull.as("keep"))
  }

  /**
   * Train/eval n-gram decontamination — the benchmark-leak check a
   * training-data pipeline runs before shipping a corpus (the n-gram
   * overlap methodology published with GPT-2/GPT-3 and PaLM†: flag a
   * training document when it shares enough distinct token n-grams with
   * any eval-set document). Returns (train_id, eval_id, hits) for every
   * cross-corpus pair sharing >= minHits DISTINCT token n-grams.
   *
   * Scale shape (the 100 TB path): each side explodes to distinct
   * (gram, id) rows — a narrow projection off the scan — then the zipf
   * head is removed BEFORE the cross join: grams present in more than
   * maxTrainDocFreq train documents are boilerplate (licence lines,
   * navigation chrome); they carry no contamination evidence and are
   * exactly the keys whose join fan-out is quadratic. What remains
   * equi-joins on the gram and hash-aggregates per pair. The keys are
   * the gram strings, which the DuckDB twin of the contract query
   * compares directly.
   */
  def ngramOverlap(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, n: Int = 13, minHits: Long = 1L,
      maxTrainDocFreq: Long = 1000L): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
          explode(token_shingles(tokens(lower(col(textCol))), n)).as("gram"))
        .distinct()
    val tg = grams(train, "train_id")
    // self-contained doc-frequency census over the train side; the hot
    // set is the zipf head (small by construction), so the anti join
    // broadcasts under AQE once its true size is known
    val hot = tg.groupBy("gram").agg(count(lit(1)).as("gram_df"))
      .filter(col("gram_df") > maxTrainDocFreq).select("gram")
    tg.join(hot, Seq("gram"), "left_anti")
      .join(grams(evalDf, "eval_id"), "gram")
      .groupBy("train_id", "eval_id").agg(count(lit(1)).as("hits"))
      .filter(col("hits") >= minHits)
  }

  /**
   * Corpus-level boilerplate-line removal (the RefinedWeb / C4 line-dedup
   * step†): a line occurring in more than `maxLineDf` DISTINCT documents
   * is chrome (nav, footers, cookie banners), and every occurrence is
   * stripped; document text is reassembled with line order preserved.
   * Lines shorter than `minLineLen` chars are never removal-eligible
   * (blank separators and one-word lines would otherwise vanish
   * corpus-wide). Documents that lose every line survive with "" text —
   * the row census is stable through the op.
   *
   * Scale shape: one narrow posexplode off the scan; the census
   * aggregates (line, doc) — two-phase count-distinct, no raw-text
   * shuffle beyond the line strings themselves; the hot set is the zipf
   * head (small), so the anti join broadcasts under AQE; reassembly is
   * one groupBy(id) whose payload is bounded by document size.
   */
  def dedupeLines(df: DataFrame, idCol: String, textCol: String,
      maxLineDf: Long, minLineLen: Int = 5): DataFrame = {
    val others = df.columns.filter(c => c != idCol && c != textCol)
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("idx", "line")))
    val hot = lines.filter(length(col("line")) >= minLineLen)
      .groupBy("line").agg(count_distinct(col(idCol)).as("line_df"))
      .filter(col("line_df") > maxLineDf).select("line")
    val rebuilt = lines
      .join(hot, Seq("line"), "left_anti")
      .groupBy(idCol)
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("idx"), col("line")))),
          x => x.getField("line"))).as(textCol))
    df.select(col(idCol) +: others.map(col): _*)
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol) +: coalesce(col(textCol), lit("")).as(textCol) +:
        others.map(col): _*)
  }

  // Lossless run decomposition: every char of the input is in exactly one
  // maximal run — a token run ([\p{L}\p{N}]+, the shared `tokens` class)
  // or a separator run ([^\p{L}\p{N}]+) — so concat(runs) == text byte-
  // for-byte, and a splice can drop token runs while preserving the
  // original casing/punctuation/line structure of everything kept.
  private val runPattern = "[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}]+"

  /**
   * Cross-document duplicated-span removal — the token-level "exact
   * substring dedup" of the published training-data dedup recipe† (long
   * verbatim passages repeated across crawl pages: licenses, TOS,
   * templated product text), re-expressed relationally for Spark. Any
   * k-token window (over lowercased tokens) whose gram occurs in >=
   * `minDocs` DISTINCT documents is a duplicated span; every occurrence
   * is SPLICED OUT of the original text EXCEPT in the keeper document —
   * the smallest id per gram, which retains its text untouched
   * (including any intra-document repeats of the span: cross-document
   * dedup leaves within-document repetition to the repetition filter).
   * Overlapping duplicated windows merge naturally (position-set
   * union). Untouched documents come back byte-identical — the per-row
   * text invariant holds across this stage for every row with
   * n_removed == 0. A removed token takes its trailing separator run
   * with it, so an elided span collapses to the single separator that
   * preceded it. Output: (idCol, textCol spliced, n_removed tokens);
   * the row census is stable.
   *
   * Scale shape: the run decomposition and gram build are per-row
   * expressions off one scan (snapshotted — the census, splice, and
   * token-count consumers reuse it instead of re-tokenizing); the gram
   * census is a two-phase count-distinct groupBy; duplicated
   * occurrences explode k positions each (bounded by k * duplicated-
   * token volume, not corpus volume); the splice is one posexplode +
   * per-document windows + one groupBy(id), all bounded by document
   * size. The census/join key is the raw gram, so the DuckDB twin of
   * the contract query is hash-free.
   */
  def spanDedupe(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minDocs: Int = 2): DataFrame = {
    require(k > 0 && minDocs >= 2, s"need k > 0, minDocs >= 2: $k, $minDocs")
    import org.apache.spark.sql.expressions.Window
    val isTok = (r: Column) => r.rlike("^[\\p{L}\\p{N}]")
    val base0 = df.select(col(idCol).as("id"),
      regexp_extract_all(col(textCol), lit(runPattern), lit(0)).as("runs"))
      .withColumn("ts", transform(
        filter(col("runs"), r => isTok(r)), r => lower(r)))
    val base = graft.io.Snapshot(base0, "span_runs", widen = true)
    // one gram per starting token position; docs shorter than k emit none
    val gramArr = when(size(col("ts")) < k, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(col("ts")) - k),
        i => array_join(slice(col("ts"), i + 1, lit(k)), " ")))
    val grams = base.select(col("id"), posexplode(gramArr).as(Seq("i", "gram")))
    val census = grams.groupBy("gram")
      .agg(count_distinct(col("id")).as("nd"), min(col("id")).as("keeper"))
      .filter(col("nd") >= minDocs)
    val dupOcc = grams.join(census, Seq("gram"))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"), col("i"))
    val removed = dupOcc
      .select(col("id"), explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct()
    // splice: explode runs, assign each token run its token index, flag
    // removed tokens, drop the separator run immediately after a removed
    // token, reassemble in run order with no added separator
    val byRun = Window.partitionBy(col("id")).orderBy(col("rpos"))
    val runRows = base
      .select(col("id"), posexplode(col("runs")).as(Seq("rpos", "run")))
      .withColumn("is_tok", isTok(col("run")))
      // token index = count of token runs up to and including this one, -1
      .withColumn("ti",
        sum(col("is_tok").cast("long")).over(byRun) - 1)
    val flagged = runRows
      .join(removed.withColumn("hit", lit(true)),
        runRows("is_tok") && runRows("id") === removed("id") &&
          runRows("ti") === removed("pos"), "left")
      .select(runRows("id"), col("rpos"), col("run"), col("is_tok"),
        coalesce(col("hit"), lit(false)).as("cut"))
      .withColumn("cut_prev",
        coalesce(lag(col("cut"), 1).over(byRun), lit(false)))
      .filter(!col("cut") && !(!col("is_tok") && col("cut_prev")))
    val rebuilt = flagged.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rpos"), col("run")))),
          x => x.getField("run")), "").as("text2"),
        sum(col("is_tok").cast("long")).as("n_kept"))
    base.select(col("id"), size(col("ts")).as("n_toks"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("text2"), lit("")).as(textCol),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /**
   * Deterministic token-budget sharding — the corpus-packing step before
   * training: walk documents in id order and cut a new shard every
   * `targetTokens` tokens, so shard s holds the docs whose running token
   * offset falls in [s*target, (s+1)*target). Output: (idCol, nTokCol,
   * shard). Deterministic given UNIQUE NON-NEGATIVE ids (unique: the
   * cumsum order must be total; non-negative: `div` truncates toward
   * zero, so negative ids would fold buckets -0 and +0 together): the
   * assignment depends only on (id, n_tok), never on partitioning.
   *
   * Scale shape — a distributed prefix sum, NO global window: ids are
   * bucketed by range (`bucket = id div bucketWidth`); per-bucket token
   * sums are a map-side-combined groupBy whose result is one row per
   * bucket — bounded by idRange/bucketWidth (~10k rows at 10^10 docs
   * with the default width), so the exclusive bucket-offset scan runs
   * on the driver (same bounded-collect contract as Threshold/Training)
   * and rejoins as a broadcast; the within-bucket prefix is a window
   * PARTITIONED by bucket, each partition capped at bucketWidth rows.
   * Oracle equality with a single global cumsum (the DuckDB twin)
   * proves the decomposition exact.
   */
  def packShards(df: DataFrame, idCol: String, nTokCol: String,
      targetTokens: Long, bucketWidth: Long = 1L << 20): DataFrame = {
    require(targetTokens > 0 && bucketWidth > 0,
      s"need positive targetTokens/bucketWidth: $targetTokens, $bucketWidth")
    import org.apache.spark.sql.expressions.Window
    // snapshot: the census job and the final join both consume this
    // projection, so without it the (possibly expensive — q_pack_shards
    // tokenizes every document) upstream lineage would execute twice
    val b = graft.io.Snapshot(
      df.select(col(idCol).as("id"), col(nTokCol).cast("long").as("n_tok"))
        .withColumn("bucket", expr(s"id div ${bucketWidth}L")),
      "pack_shards_in")
    // the census also carries the null-input guard: a null id shows up
    // as a null bucket row, a null token count as n_null > 0 — both are
    // rejected with a clear message instead of a driver-side NPE or a
    // silently-null shard
    // exclusive prefix over the (bounded) bucket census — the shared
    // recipe in Dedupe.exclusiveBucketOffsets
    val (offDf, sums) = graft.pipeline.Dedupe.exclusiveBucketOffsets(
      b, "bucket", sum("n_tok"),
      Seq(sum(when(col("n_tok").isNull, 1L).otherwise(0L)).as("n_null")))
    require(sums.forall(r => !r.isNullAt(0)),
      s"packShards: id column '$idCol' contains nulls")
    require(sums.forall(r => r.getLong(2) == 0L),
      s"packShards: token-count column '$nTokCol' contains nulls")
    val w = Window.partitionBy(col("bucket")).orderBy(col("id"))
    b.join(broadcast(offDf), Seq("bucket"))
      .withColumn("cum", col("boff") + sum(col("n_tok")).over(w))
      .withColumn("shard", expr(s"(cum - n_tok) div ${targetTokens}L"))
      .select(col("id").as(idCol), col("n_tok").as(nTokCol), col("shard"))
  }

  /**
   * Per-group token-budget sampling — the data-MIXING op: fill each
   * group's token budget (a target mixture ratio expressed in tokens,
   * e.g. per lang or per source) with its highest-quality documents.
   * Greedy prefix of the (score desc, id asc) total order: a doc is kept
   * iff the cumulative tokens of the docs ranked BEFORE it are under
   * budget — so the doc that crosses the line is kept (every non-empty
   * group keeps >= 1 doc) and everything after it is dropped. Output:
   * the kept rows plus `cum_tokens` (inclusive running total within the
   * group, in the kept order).
   *
   * Scale shape — same salted two-stage as UrlOps.domainCap, adapted
   * from top-k to prefix sums: stage 1 computes the running sum within
   * (group, salt-of-id) shards and prunes rows whose SHARD preceding sum
   * already reaches the budget — exact, because a row's true preceding
   * sum is >= its shard preceding sum (the shard order is a suborder of
   * the group order, tokens are non-negative), so a pruned row could
   * never have been kept. Survivors are bounded per shard by the budget,
   * so the stage-2 exact window sorts at most salts × (budget-filling
   * prefix) rows per group — no single-reducer sort of a hot group's
   * full membership. Oracle equality with the single-window rebuild
   * (q_budget_sample's DuckDB twin) proves the decomposition exact.
   */
  def budgetSample(df: DataFrame, groupCols: Seq[String], nTokCol: String,
      score: Column, idCol: String, budgetTokens: Long,
      salts: Int = 16): DataFrame = {
    require(groupCols.nonEmpty, "budgetSample needs at least one group column")
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val clash = Seq("cum_tokens", "_shard_cum").filter(df.columns.contains)
    require(clash.isEmpty,
      s"budgetSample adds ${clash.mkString(", ")}; input already has it — " +
        "rename or drop it first")
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(score.desc, col(idCol).asc)
    // the two-stage prune proof requires NON-NULL, NON-NEGATIVE tokens
    // (a negative count could pull a later global prefix back under
    // budget after the shard already pruned, making output salts-
    // dependent; a null silently vanishes from sums) — token COUNTS
    // satisfy this by construction, but the public API can't assume it:
    // fail loudly in-plan, one codegen'd branch per row
    val raw = col(nTokCol).cast("long")
    val toks = when(assert_true(raw.isNotNull && raw >= 0,
      lit(s"budgetSample: token column '$nTokCol' must be non-null and " +
        "non-negative")).isNull, raw)
    val pruned = if (salts > 1) {
      val shard = Window
        .partitionBy((groupCols.map(col) :+
          pmod(xxhash64(col(idCol)), lit(salts))): _*)
        .orderBy(ord: _*)
      df.withColumn("_shard_cum", sum(toks).over(shard))
        .filter(col("_shard_cum") - toks < budgetTokens)
        .drop("_shard_cum")
    } else df
    val global = Window.partitionBy(groupCols.map(col): _*).orderBy(ord: _*)
    pruned.withColumn("cum_tokens", sum(toks).over(global))
      .filter(col("cum_tokens") - toks < budgetTokens)
  }

  // PII patterns kept deliberately ASCII-simple so Java regex (Spark) and
  // RE2 (DuckDB oracle) agree token-for-token: \d and \b are ASCII in
  // both engines on ASCII text; no lookarounds (RE2 has none).
  private[graft] val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val phoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private[graft] val ipRe = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"

  /**
   * PII redaction — the scrub a corpus runs before training: replaces
   * email addresses, NNN-NNN-NNNN phone numbers, and dotted-quad IPs
   * with stable placeholder tokens. Deliberately conservative patterns
   * (high precision, documented recall limits) — the point at corpus
   * scale is a cheap, deterministic, codegen-fused scrub, not NER.
   * Order: emails first (their local part may contain digit runs),
   * then phones, then IPs.
   */
  def redactPii(text: Column, emailToken: String = "<EMAIL>",
      phoneToken: String = "<PHONE>", ipToken: String = "<IP>"): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, emailToken),
        phoneRe, phoneToken),
      ipRe, ipToken)

  /** Per-document PII census (emails, phones, IPs) from the same
    * patterns — audit counts for a scrub report. */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(emailRe), lit(0))).cast("long").as("n_email"),
    size(regexp_extract_all(text, lit(phoneRe), lit(0))).cast("long").as("n_phone"),
    size(regexp_extract_all(text, lit(ipRe), lit(0))).cast("long").as("n_ip"))

  /** Exact set Jaccard over two array<string> columns (direct kernel). */
  def jaccard(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.SetJaccardExpr(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /** Character n-gram Jaccard similarity between two string columns.
    * Direct kernel expression — the compositional
    * `jaccard(char_ngrams(a,n), char_ngrams(b,n))` allocates intermediate
    * arrays per pair and was 10x slower on 47M pairs. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.NGramJaccardExpr(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b), n))

  /**
   * SimHash near-dup pairs: banded 64-bit simhash keys → candidate pairs →
   * hamming-distance verification ≤ maxHamming. Two docs within hamming d
   * of each other collide on ≥1 of `bands` bands when d < bands (pigeonhole)
   * — recall is structural, not probabilistic, for d < bands. The
   * signatures are snapshotted at call time, as in [[minhashDupePairs]] —
   * simhash over full text is the dominant per-row cost here.
   */
  def simhashDupePairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int = 4, maxHamming: Int = 3, maxBucketSize: Int = 1000,
      // combo banding (Manku WWW '07†, see Blocking.simhashComboKeys):
      // key on every (comboBlocks - maxHamming)-subset of comboBlocks hash
      // blocks instead of plain bands — same structural recall for
      // hamming <= maxHamming, but >=31-bit keys kill the O(n²/2^16)
      // chance-collision candidate component plain 16-bit bands carry.
      // THE CRAWL-SCALE CONFIGURATION (measured: plain banding's collision
      // pairs turn superlinear at megadoc corpora — BASELINE.md volume
      // curves). 0 = plain banding; a value > max(1, maxHamming) enables
      // combo with k = max(1, maxHamming) (maxHamming = 0 still needs
      // k >= 1 blocks of guarantee; the hamming filter keeps the output
      // exact). Values <= that floor fall back to plain banding.
      // `bands` is ignored when combo is on; 2k blocks is the sweet spot.
      comboBlocks: Int = 0): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      simhash64(tokens(lower(col(textCol)))).as("sh"))
    hammingNearDupPairs(graft.io.Snapshot(sigs, "simhash_sigs", widen = true),
      bands, maxHamming, maxBucketSize, comboBlocks)
  }

  /**
   * Banded Hamming near-dup join over ANY 64-bit signature table
   * `sigs(id, sh)` — the hash-agnostic kernel under [[simhashDupePairs]]
   * (text) and image dHash near-dup (`Media.imageHashTable` output,
   * renamed to (id, sh)). Candidates from band-key equality (plain
   * `bands` bands, or Manku combination banding when
   * `comboBlocks > max(1, maxHamming)`), then exact hamming ≤
   * `maxHamming` verification — so the OUTPUT is exact whenever the
   * banding's structural-recall condition holds (plain: maxHamming <
   * bands by pigeonhole; combo: k = max(1, maxHamming) differing blocks
   * leave one clean key subset), and the banding choice only moves the
   * candidate count, never the result.
   */
  def hammingNearDupPairs(sigs: DataFrame, bands: Int = 4,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      comboBlocks: Int = 0): DataFrame = {
    val comboK = math.max(1, maxHamming)
    val bandCols = if (comboBlocks > comboK)
      graft.block.Blocking.simhashComboKeys(col("sh"), comboBlocks, comboK)
    else (0 until bands).map { b =>
      // width computed HERE, not before the branch: `bands` is documented
      // as ignored under combo, so bands=0 with combo on must not divide
      val width = 64 / bands
      concat(lit(s"$b#"),
        shiftrightunsigned(col("sh"), b * width).bitwiseAND(
          // JVM shifts are mod 64: bands=1 -> width=64 -> (1L<<64)-1 would
          // be 0, masking every hash to one degenerate bucket (same guard
          // as Blocking's simhash predicate)
          lit(if (width >= 64) -1L else (1L << width) - 1)))
    }
    val blocks = sigs.select(col("id"), explode(array(bandCols: _*)).as("block_key"))
    val pairs = PairGen.candidatePairs(blocks, maxBucketSize)
    PairGen.attachFields(pairs, sigs, "id", Seq("sh"))
      .withColumn("hamming", hamming64(col("sh_1"), col("sh_2")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }
}
