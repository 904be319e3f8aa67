package graft.cluster

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expr.Sim

/**
 * Canonicalization (G5) + confidence (G4) — `dedupe:canonical
 * (fn getCanonicalRep)†`, `dedupe:clustering (fn confidences)†`.
 *
 * Per cluster, per field: the canonical value is the MEDOID — the value
 * minimizing summed string distance (here 1 - JaroWinkler; the reference
 * uses affine-gap†, replaced per the north rule) to the cluster's other
 * values; ties broken by the lexicographically smallest value so the
 * output is deterministic. Clusters are tiny after thresholding, so the
 * per-group O(k²) is bounded: values are capped at `maxValues` (sorted
 * first — deterministic, no silent order dependence).
 */
object Canonicalize {

  def medoid(values: Seq[String], maxValues: Int = 64,
      maxCompareLen: Int = 256): String = {
    val vs = values.filter(v => v != null && v.nonEmpty).sorted.take(maxValues)
    if (vs.isEmpty) return null
    // k ≤ 2 short-circuit: with one value it IS the medoid; with two, the
    // distance is symmetric so both tie and the tie-break picks the
    // lexicographic minimum — vs.head either way, no comparator call.
    if (vs.length <= 2) return vs.head
    // the capped multiset as sorted (value, count) pairs: the same kernel
    // canonTable runs, so both compute one medoid by construction
    medoidWeighted(vs.groupMapReduce(identity)(_ => 1L)(_ + _).toSeq.sortBy(_._1),
      maxCompareLen)
  }

  /** Weighted medoid over (value, multiplicity) pairs, values pre-sorted
    * ascending and pre-capped: cost(i) = Σ_j cnt_j · (1 − JW(v_i, v_j)) —
    * duplicate copies of a value weight its pull on every OTHER candidate
    * (its own copies contribute distance 0), matching the row-level medoid
    * over the expanded multiset. Tie → first index = lexicographic min. */
  private[cluster] def medoidWeighted(vals: Seq[(String, Long)],
      maxCompareLen: Int = 256): String = {
    if (vals.isEmpty) return null
    if (vals.length == 1) return vals.head._1
    // comparator inputs capped at a prefix: crawl-page fields are multi-KB
    // and JW over full bodies made canonicalization the pipeline's top cost
    // at scale; the first maxCompareLen chars carry the discriminating
    // signal (values identical through the prefix tie → lexicographic min,
    // still deterministic). The RETURNED value is always the full string.
    val cs = vals.map { case (v, _) =>
      if (v.length > maxCompareLen) v.substring(0, maxCompareLen) else v
    }
    var bestIdx = 0
    var bestCost = Double.MaxValue
    var i = 0
    while (i < cs.length) {
      var cost = 0.0
      var j = 0
      while (j < cs.length) {
        if (i != j) cost += vals(j)._2 * (1.0 - Sim.jaroWinkler(cs(i), cs(j)))
        j += 1
      }
      if (cost < bestCost) { bestCost = cost; bestIdx = i }
      i += 1
    }
    vals(bestIdx)._1
  }

  /**
   * One canonical row per entity.
   *
   * Scale shape: the per-entity value lists are BOUNDED BEFORE any
   * per-group collect — per (entity, field), a map-combined count
   * aggregate (exact-dup members collapse to one (value, cnt) row per
   * mapper) then a window cap keeps the `maxValues` lexicographically
   * smallest distinct values. A boilerplate cluster of millions of pages
   * reaches the medoid kernel as at most maxValues weighted values per
   * field — the previous rows.toArray per group buffered the entire
   * cluster in one task's heap (review finding).
   *
   * @param labeled records with an entity column + the fields to canonicalize
   * @return (entity, <field>... medoid values, cluster_size)
   */
  def canonTable(labeled: DataFrame, entityCol: String, fields: Seq[String],
      maxValues: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val schema = StructType(
      StructField(entityCol, LongType) +:
      fields.map(f => StructField(f, StringType)) :+
      StructField("cluster_size", LongType))
    val input = labeled.select(
      col(entityCol).cast("long").as(entityCol) +:
        fields.map(f => col(f).cast("string").as(f)): _*)
    val sizes = input.groupBy(col(entityCol))
      .agg(count(lit(1)).as("cluster_size"))
    val joined = fields.zipWithIndex.foldLeft(sizes) { case (acc, (f, fi)) =>
      val w = Window.partitionBy(col(entityCol)).orderBy(col(f))
      val capped = input.select(col(entityCol), col(f))
        .filter(col(f).isNotNull && length(col(f)) > 0)
        .groupBy(col(entityCol), col(f)).agg(count(lit(1)).as("_cnt"))
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= maxValues)
        .groupBy(col(entityCol))
        .agg(array_sort(collect_list(struct(col(f).as("v"), col("_cnt").as("c"))))
          .as(s"_vals_$fi"))
      acc.join(capped, Seq(entityCol), "left")
    }
    implicit val enc = Encoders.row(schema)
    joined.mapPartitions { it =>
      it.map { r =>
        val entity = r.getLong(0)
        val size = r.getLong(1)
        val vals = fields.indices.map { fi =>
          val arr = if (r.isNullAt(2 + fi)) Seq.empty[(String, Long)]
            else r.getSeq[Row](2 + fi).map(s => (s.getString(0), s.getLong(1)))
          medoidWeighted(arr)
        }
        Row.fromSeq(entity +: vals :+ size)
      }
    }
  }

  /**
   * Plurality-vote canonicalization — the production-common alternative
   * to [[canonTable]]'s medoid: per (entity, field), the most frequent
   * non-empty value wins; ties break to the LONGEST value (more
   * informative on truncated crawl fields), then to the
   * lexicographically largest (deterministic). One melted shuffle for
   * ALL fields (explode to (entity, field, value), count, struct-ordered
   * `max_by`), then a conditional-aggregation pivot — no window, no
   * per-group collect, so a million-member boilerplate cluster costs its
   * distinct-value count, not its row count. Fully SQL-expressible
   * (oracle: q_canon_vote, `first(v ORDER BY cnt DESC, len DESC, v
   * DESC)` twin).
   *
   * @return (entity, <field>... plurality values, cluster_size); an
   *         entity whose field values are all null/empty keeps its row
   *         with null winners — cluster bookkeeping must not drop it
   */
  def voteTable(labeled: DataFrame, entityCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "voteTable needs at least one field to vote on")
    val melted = labeled.select(
        col(entityCol).cast("long").as(entityCol),
        explode(array(fields.map(f =>
          struct(lit(f).as("_f"), col(f).cast("string").as("_v"))): _*)).as("_fv"))
      .select(col(entityCol), col("_fv._f").as("_f"), col("_fv._v").as("_v"))
      .filter(col("_v").isNotNull && length(col("_v")) > 0)
    val winners = melted
      .groupBy(col(entityCol), col("_f"), col("_v"))
      .agg(count(lit(1)).as("_cnt"))
      .groupBy(col(entityCol), col("_f"))
      .agg(max_by(col("_v"),
        struct(col("_cnt"), length(col("_v")), col("_v"))).as("_win"))
    val pivotExprs = fields.map(f =>
      first(when(col("_f") === f, col("_win")), ignoreNulls = true).as(f))
    val pivoted = winners.groupBy(col(entityCol))
      .agg(pivotExprs.head, pivotExprs.tail: _*)
    labeled.groupBy(col(entityCol).cast("long").as(entityCol))
      .agg(count(lit(1)).as("cluster_size"))
      .join(pivoted, Seq(entityCol), "left")
      .select(col(entityCol) +: fields.map(col) :+ col("cluster_size"): _*)
  }

  /**
   * Per-record confidence = mean score of the record's intra-cluster scored
   * edges; records with no surviving edge (singletons) get 1.0 — they are
   * trivially self-consistent (reference assigns unclustered rows their own
   * entity†).
   */
  def confidences(labels: DataFrame, scoredPairs: DataFrame): DataFrame = {
    val lab = labels.select(col("id"), col("component"))
    val e = scoredPairs
      .join(lab.withColumnRenamed("id", "id1").withColumnRenamed("component", "c1"), "id1")
      .join(lab.withColumnRenamed("id", "id2").withColumnRenamed("component", "c2"), "id2")
      .filter(col("c1") === col("c2"))
    // one scan, not a two-leg union: the union form evaluated the scored
    // join subtree (and the snapshot scan behind it) twice
    val incident = e.select(
        explode(array(col("id1"), col("id2"))).as("id"), col("score"))
      .groupBy("id").agg(avg("score").as("confidence"))
    lab.join(incident, Seq("id"), "left")
      .select(col("id"), col("component"),
        coalesce(col("confidence"), lit(1.0)).as("confidence"))
  }
}
