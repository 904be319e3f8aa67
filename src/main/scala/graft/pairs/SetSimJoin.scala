package graft.pairs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.gfunctions

/**
 * Exact set-similarity self-join via prefix filtering (beyond the
 * reference; Chaudhuri et al. ICDE 2006†, Bayardo et al. WWW 2007
 * "all-pairs"†, MapReduce formulation Vernica et al. SIGMOD 2010†;
 * SURVEY.md §2.4 J7). Finds EVERY pair of records whose token-set
 * Jaccard similarity reaches θ — no LSH recall loss — without the O(n²)
 * comparison the naive theta-join implies.
 *
 * The filter: order the token universe by ascending document frequency
 * (rarest first; ties on the token itself, so the order is total and
 * engine-independent). If J(a,b) ≥ θ, then the first
 * |a| − ⌈θ·|a|⌉ + 1 tokens of a and the first |b| − ⌈θ·|b|⌉ + 1 tokens
 * of b (in that global order) must share at least one token — so
 * equi-joining on PREFIX tokens only is a complete candidate generator†.
 * Prefixes favor rare tokens, so candidate blocks are structurally
 * small; residual hot prefixes still ride the engine's skew-proof grid
 * self-join ([[PairGen.candidatePairs]]) rather than a plain key join.
 *
 * θ is a rational p/q and every decision — prefix length, length
 * filter, final verification — runs in EXACT INTEGER arithmetic
 * (q·|∩| ≥ p·(|a|+|b|−|∩|)), which is what makes the full output
 * DuckDB-oracle-checkable against a brute-force twin (no floating
 * Jaccard on either engine; boundary pairs cannot flip).
 *
 * Scale shape: one explode + df aggregate (shuffle on token), one
 * per-record sort of a SMALL array, prefix explode, grid self-join on
 * prefix tokens, then pair-level verification over attached sorted
 * arrays. Nothing is quadratic in the corpus; the only quadratic term
 * is per-block and grid-decomposed. Records with empty token sets are
 * excluded (Jaccard against anything is 0 except the degenerate
 * empty-empty pair, which a similarity join has no business emitting).
 */
object SetSimJoin {

  /**
   * All pairs with token-set Jaccard ≥ p/q, exactly.
   *
   * @param toks (id, toks) — toks an array<string> of DISTINCT tokens
   * @param thetaP/thetaQ θ = thetaP/thetaQ, 0 < θ ≤ 1
   * @return (id1, id2, inter, len1, len2), id1 < id2, all longs
   */
  def jaccardSelfJoin(toks: DataFrame, thetaP: Int, thetaQ: Int,
      chunkTarget: Int = 256): DataFrame = {
    require(thetaP > 0 && thetaQ > 0 && thetaP <= thetaQ,
      s"theta must be in (0,1]: $thetaP/$thetaQ")
    val p = lit(thetaP.toLong); val q = lit(thetaQ.toLong)

    val nonEmpty = toks.filter(size(col("toks")) > 0)
    val exploded = nonEmpty.select(col("id"), explode(col("toks")).as("tok"))
    val dfreq = exploded.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-record global ordering: sort each record's OWN (df, tok) pairs —
    // a bounded per-row array_sort, NOT a global rank (no partition-less
    // window anywhere; the order is still globally consistent because the
    // (df, tok) key is)
    // `sorted` feeds THREE consumers (the prefix explode + both sides of
    // attachFields) and the census inside the grid join re-reads blocks —
    // snapshot once
    val sorted = graft.io.Snapshot(
      exploded.join(dfreq, "tok")
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("df"), col("tok")))),
          x => x.getField("tok")).as("stoks"))
        .withColumn("len", size(col("stoks")).cast("long")),
      "ssjoin_sorted", widen = true)
    // prefix length |t| − ⌈θ|t|⌉ + 1, ⌈⌉ in integer arithmetic
    val prefixLen = (col("len") - floor((p * col("len") + q - lit(1L)) / q) + lit(1L))
      .cast("int")
    val blocks = sorted
      .select(col("id"), explode(slice(col("stoks"), lit(1), prefixLen)).as("block_key"))
    // complete by the prefix-filtering theorem†, so no block cap: dropping
    // an oversized prefix block would silently lose true pairs. Hot
    // prefixes are grid-decomposed instead.
    val cands = PairGen.candidatePairs(blocks,
      maxBlockSize = Int.MaxValue, chunkTarget = chunkTarget)
    val attached = PairGen.attachFields(cands, sorted, "id", Seq("stoks", "len"))
    attached
      // length filter†: J ≥ p/q is infeasible unless p·max ≤ q·min
      .filter(p * greatest(col("len_1"), col("len_2")) <=
        q * least(col("len_1"), col("len_2")))
      .withColumn("inter", gfunctions.set_intersect_count(col("stoks_1"), col("stoks_2")))
      // verification: q·|∩| ≥ p·(|a|+|b|−|∩|) ⟺ J ≥ p/q, exact integers
      .filter(q * col("inter") >= p * (col("len_1") + col("len_2") - col("inter")))
      .select(col("id1"), col("id2"), col("inter"),
        col("len_1").as("len1"), col("len_2").as("len2"))
  }
}
