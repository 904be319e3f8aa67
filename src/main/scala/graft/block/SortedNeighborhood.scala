package graft.block

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD 1995†): sort
 * records by a key expression, pair every record with its `window - 1`
 * successors in that order. The classic complement to predicate blocking
 * — catches near-matches that share no exact blocking key but sort
 * adjacently (typo'd prefixes, zero-padded numbers, phone digits).
 *
 * Scale shape — NO global window anywhere (the partition-less WindowExec
 * PlanSpec rejects in the ANN paths): records are range-partitioned on
 * (key, id), each partition gets a PARTITION-LOCAL row_number, and the
 * global rank is local rank + an exclusive prefix over the bounded
 * per-bucket census (the packShards recipe — driver sees one count per
 * bucket, never rows). Equal-key runs are no hot spot: ties range-split
 * by the id tiebreak, so a constant key still spreads across buckets.
 * Pair generation is an explode(1..w-1) + equi-join on rank — linear in
 * n·(w-1), rank keys unique by construction, no skew.
 *
 * Determinism: rank is the position in the total order by (key, id) —
 * independent of bucket boundaries — so the pair set is a pure function
 * of the data, and the DuckDB single-window rebuild is an exact oracle
 * (q_snm_pairs; SortedNeighborhoodSpec proves bucket-decomposition
 * equality on a hot-key fixture).
 */
object SortedNeighborhood {

  /**
   * `(id, key, rank)` with rank = 1-based position in the (key, id)
   * total order — computed with range partitioning + per-bucket windows
   * + a driver-side exclusive prefix over the bucket census (bounded:
   * one count per bucket).
   */
  def withGlobalRank(records: DataFrame, idCol: String, key: Column,
                     buckets: Int = 0): DataFrame = {
    val spark = records.sparkSession
    val np = if (buckets > 0) buckets
      else spark.sparkContext.defaultParallelism * 2
    val ranged = records
      .select(col(idCol).as("id"), key.as("key"))
      .repartitionByRange(np, col("key"), col("id"))
      .withColumn("bucket", spark_partition_id())
    // snapshot REQUIRED, not best-effort: RangePartitioner's sampled
    // bounds are not contractually stable across jobs, so the census and
    // the window below must read the SAME materialized bucket tags — the
    // cached fallback can be evicted and recomputed, and could then count
    // a boundary row in bucket k and rank it in bucket k+1, corrupting
    // every downstream rank
    val b = graft.io.Snapshot(ranged, "snm_rank_in", required = true)
    val (offDf, census) = graft.pipeline.Dedupe.exclusiveBucketOffsets(
      b, "bucket", count(lit(1)),
      Seq(sum(when(col("id").isNull, 1L).otherwise(0L)).as("null_ids"),
        sum(when(col("key").isNull, 1L).otherwise(0L)).as("null_keys")))
    // fail fast like packShards: null ids would propagate into null
    // pairs, null keys sort differently in Spark (first) vs SQL oracles
    require(census.forall(r => r.getLong(2) == 0L),
      s"sortedNeighborhood: id column '$idCol' contains nulls")
    require(census.forall(r => r.getLong(3) == 0L),
      "sortedNeighborhood: sort key contains nulls")
    val w = Window.partitionBy("bucket").orderBy(col("key"), col("id"))
    b.join(broadcast(offDf), Seq("bucket"))
      .withColumn("rank", col("boff") + row_number().over(w))
      .select(col("id"), col("key"), col("rank"))
  }

  /**
   * Candidate pairs `(id1, id2)` (id-normalized, each unordered pair
   * once) for all records within `window` positions of each other in
   * the (key, id) sort order. `window >= 2`; a record pairs with its
   * `window - 1` successors.
   */
  def pairs(records: DataFrame, idCol: String, key: Column,
            window: Int, buckets: Int = 0): DataFrame = {
    require(window >= 2, s"window must be >= 2: $window")
    // ranked feeds BOTH join branches — snapshot it once (best-effort:
    // with the rank input materialized above, a recompute is merely
    // slower, not wrong)
    val ranked = graft.io.Snapshot(withGlobalRank(records, idCol, key, buckets),
      "snm_ranked")
    val left = ranked
      .select(col("id").as("lid"), col("rank"))
      .withColumn("d", explode(sequence(lit(1), lit(window - 1))))
      .select(col("lid"), (col("rank") + col("d")).as("rank"))
    val right = ranked.select(col("id").as("rid"), col("rank"))
    left.join(right, "rank")
      .select(least(col("lid"), col("rid")).as("id1"),
        greatest(col("lid"), col("rid")).as("id2"))
  }

  /** Multi-pass sorted neighborhood (the standard recall booster†): the
    * union of single-pass pair sets over several sort keys, deduped. */
  def multiPassPairs(records: DataFrame, idCol: String,
                     keys: Seq[Column], window: Int): DataFrame = {
    require(keys.nonEmpty, "multiPassPairs needs at least one key")
    keys.map(k => pairs(records, idCol, k, window))
      .reduce(_ unionByName _)
      .dropDuplicates("id1", "id2")
  }
}
