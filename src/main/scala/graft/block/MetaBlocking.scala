package graft.block

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pairs.PairGen

/**
 * Meta-blocking (Papadakis et al., TKDE 2014†; distributed in SparkER,
 * EDBT 2019†): prune the candidate-comparison set BEFORE any comparator
 * runs, using only the structure of the blocking map itself. Blocking on
 * crawl-scale text over-generates — redundant (same pair in many blocks)
 * and superfluous (pairs sharing only huge, low-information blocks)
 * comparisons dominate — and every pruned pair is a Jaro-Winkler /
 * Levenshtein evaluation that never happens. The published pipeline:
 *
 *  1. block filtering ([[filterBlocks]]): each record keeps only its
 *     `ratio` smallest blocks — big blocks carry the least evidence;
 *  2. comparison weighting ([[weightedPairs]]): weight each surviving
 *     pair by how many blocks it co-occurs in (CBS — Common Blocks
 *     Scheme†);
 *  3. weighted node pruning ([[wnpPrune]]): keep a pair iff its weight
 *     reaches the mean weight of EITHER endpoint's comparisons.
 *
 * Everything is DataFrame-native and oracle-checkable (counts and exact
 * integer arithmetic — no hashes in any decision), and the weighting
 * rides the SAME skew-proof grid self-join the engine scores with
 * (PairGen.perBlockPairs), so hot blocks parallelize here too.
 */
object MetaBlocking {

  /**
   * Block filtering†: each record keeps only its ceil(ratio × #blocks)
   * SMALLEST blocks (size ties break on the block key, so the kept set
   * is deterministic and engine-independent). The per-record window is
   * bounded by the number of blocking predicates × keys per field — a
   * small constant — so the window partition never skews.
   */
  def filterBlocks(blocks: DataFrame, ratio: Double = 0.8): DataFrame = {
    require(ratio > 0 && ratio <= 1, s"ratio must be in (0,1]: $ratio")
    val sizes = Blocking.blockStats(blocks) // THE block-size census
    val byId = Window.partitionBy("id")
    blocks.join(sizes, "block_key")
      .withColumn("rk", row_number().over(
        byId.orderBy(col("block_size").asc, col("block_key").asc)))
      .withColumn("nb", count(lit(1)).over(byId))
      .filter(col("rk") <= ceil(col("nb") * ratio))
      .select("id", "block_key")
  }

  /**
   * CBS-weighted comparisons: (id1, id2, w) with id1 < id2 and w = the
   * number of (plural, under-cap) blocks the pair shares. Uses the
   * pre-dedup grid pair stream, so the count aggregate replaces J3's
   * distinct at identical shuffle cost — the weight is free relative to
   * plain candidate generation.
   */
  def weightedPairs(blocks: DataFrame, maxBlockSize: Int = 200,
      chunkTarget: Int = 256): DataFrame = {
    val (perBlock, cells) = PairGen.perBlockPairs(blocks, maxBlockSize, chunkTarget)
    perBlock.repartition(cells, col("id1"), col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("w"))
  }

  /**
   * Weighted node pruning (the redefined WNP†): keep (i, j) iff
   * w ≥ mean weight of i's comparisons OR of j's. The threshold compare
   * runs in exact integer arithmetic — `w · n_i ≥ s_i` instead of
   * `w ≥ s_i / n_i` — because a floating mean is summation-order
   * dependent and a boundary pair could flip between engines (the DuckDB
   * oracle runs the identical integer form). Two narrow joins against a
   * per-record (sum, count) aggregate; nothing here is quadratic.
   *
   * `weighted` feeds TWO consumers (the node-stat aggregate + the join
   * side), so it is snapshotted once (graft.io.Snapshot, AT CALL TIME)
   * instead of re-executing the full pair-stream aggregate per consumer.
   *
   * Node stats are ONE ROW PER RECORD (~24 B each): both endpoint joins
   * against the pair stream want the stats side broadcast, never the
   * pairs side. Left to AQE, the sf0.01 plan built the 468 k-row
   * WEIGHTS side of join 1 as the hashed relation and at sf0.1 both
   * joins fell back to sort-merge, shuffling the 47 M-row pair stream
   * twice — measured 46 s → the explicit-broadcast form below. The
   * stats are also snapshotted (tiny) so the aggregate runs once, and
   * the pair stream feeds it through a single scan (explode of both
   * endpoints) instead of a two-leg union = two scans. Set
   * `broadcastNodes = false` past ~10⁸ records (stats outgrow a
   * broadcast); the joins then shuffle co-partitioned on the endpoint.
   */
  def wnpPrune(weighted: DataFrame,
      broadcastNodes: Boolean = true): DataFrame = {
    val wdf = graft.io.Snapshot(weighted, "metablock_weights", widen = true)
    val nodes = graft.io.Snapshot(wdf
      .select(explode(array(col("id1"), col("id2"))).as("id"), col("w"))
      .groupBy("id").agg(sum(col("w")).as("s"), count(lit(1)).as("n")),
      "metablock_nodes")
    def side(k: String) = {
      val renamed = nodes.withColumnsRenamed(
        Map("id" -> k, "s" -> s"s${k.last}", "n" -> s"n${k.last}"))
      if (broadcastNodes) broadcast(renamed) else renamed
    }
    wdf
      .join(side("id1"), Seq("id1"))
      .join(side("id2"), Seq("id2"))
      .filter(col("w") * col("n1") >= col("s1") ||
        col("w") * col("n2") >= col("s2"))
      .select(col("id1"), col("id2"), col("w"))
  }

  /** The full published pipeline: filter → weight → prune. */
  def prune(blocks: DataFrame, ratio: Double = 0.8, maxBlockSize: Int = 200,
      chunkTarget: Int = 256, broadcastNodes: Boolean = true): DataFrame =
    wnpPrune(weightedPairs(filterBlocks(blocks, ratio), maxBlockSize, chunkTarget),
      broadcastNodes)
}
