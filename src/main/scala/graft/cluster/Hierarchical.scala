package graft.cluster

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Optional per-component hierarchical refinement (SURVEY.md §2.6 G3) —
 * the reference's `dedupe:clustering (fn cluster)†` runs agglomerative
 * clustering INSIDE each connected component and cuts the dendrogram at a
 * cophenetic threshold, splitting components that transitive closure
 * over-merged (A~B, B~C strong but A~C weak).
 *
 * The north rule makes plain CC the pipeline's clustering
 * (BASELINE.json:14); this refinement is a separate operator a caller
 * applies to a run's labels. Components are small after thresholding, so
 * each group's HAC runs single-node inside `flatMapGroups` (average
 * linkage over distance = 1 - score; unobserved pairs = distance 1.0);
 * components above `maxComponentSize` pass through unrefined (logged by
 * the caller via cluster_size).
 */
object Hierarchical {

  /** Average-linkage HAC on a dense distance matrix; returns cluster ids
    * (0-based) after cutting at `cut`. Deterministic: merge order ties
    * break by (min cluster index pair).
    *
    * Lance-Williams incremental updates: after merging b into a,
    * D(a,k) = (|a|·D(a,k) + |b|·D(b,k)) / (|a|+|b|) — exactly the
    * unweighted average-linkage distance, O(n) per merge instead of
    * recomputing from member lists (the naive version was O(n³)-O(n⁴)
    * per component; one 1000-node component stalled an executor). */
  private[cluster] def hacLabels(n: Int, dist: Array[Array[Double]], cut: Double): Array[Int] = {
    val d = new Array[Double](n * n) // flat pairwise cluster distances
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { d(i * n + j) = dist(i)(j); j += 1 }
      i += 1
    }
    val size = Array.fill(n)(1)
    val alive = Array.fill(n)(true)
    val members = Array.tabulate(n)(i => scala.collection.mutable.ArrayBuffer(i))
    var nActive = n
    var continue = true
    while (continue && nActive > 1) {
      // global min over active pairs (i<j); first-in-index-order wins ties
      var best = Double.MaxValue
      var ba = -1; var bb = -1
      var x = 0
      while (x < n) {
        if (alive(x)) {
          var y = x + 1
          while (y < n) {
            if (alive(y)) {
              val dd = d(x * n + y)
              if (dd < best - 1e-12) { best = dd; ba = x; bb = y }
            }
            y += 1
          }
        }
        x += 1
      }
      if (ba >= 0 && best <= cut) {
        val sa = size(ba); val sb = size(bb)
        var k = 0
        while (k < n) {
          if (alive(k) && k != ba && k != bb) {
            val nd = (sa * d(ba * n + k) + sb * d(bb * n + k)) / (sa + sb)
            d(ba * n + k) = nd
            d(k * n + ba) = nd
          }
          k += 1
        }
        size(ba) = sa + sb
        members(ba) ++= members(bb)
        alive(bb) = false
        nActive -= 1
      } else continue = false
    }
    val out = new Array[Int](n)
    var idx = 0
    i = 0
    while (i < n) {
      if (alive(i)) { members(i).foreach(m => out(m) = idx); idx += 1 }
      i += 1
    }
    out
  }

  /**
   * @param labels (id, component) from CC
   * @param scoredPairs (id1, id2, score)
   * @param cut cophenetic distance threshold (reference default 0.5†)
   * @return (id, component) with component ids refined — sub-clusters get
   *         component = min(id of sub-cluster members) for stable ids
   */
  def refine(labels: DataFrame, scoredPairs: DataFrame, cut: Double = 0.5,
      maxComponentSize: Int = 1000): DataFrame = {
    // Intra-component edges ONLY: callers (Dedupe) pass ALL candidate
    // pairs, including sub-threshold cross-component ones; a pair
    // (a ∈ A, b ∈ B) must not pull b into A's HAC group (it would emit
    // duplicate, conflicting labels for b). Sub-threshold edges WITHIN a
    // component are kept — they carry the observed HAC distances.
    val l1 = labels.select(col("id").as("id1"), col("component"))
    val l2 = labels.select(col("id").as("id2"), col("component").as("component2"))
    val edges0 = scoredPairs.join(l1, "id1").join(l2, "id2")
      .filter(col("component") === col("component2"))
      .select(col("component"), col("id1"), col("id2"), col("score"))
    // oversized components are excluded DATAFRAME-side: the in-group
    // size guard below only fires AFTER rows.toArray has buffered the
    // whole component's edge list in one task — a giant component (the
    // exact case the cap exists for) must never reach the kernel at all;
    // its members keep their CC label via the final left-join coalesce
    val smallComps = labels.groupBy(col("component"))
      .agg(count(lit(1)).as("_csize"))
      .filter(col("_csize") <= maxComponentSize)
      .select(col("component"))
    val edges = edges0.join(smallComps, "component")
    // group all of a component's edges + members; edges already imply
    // membership of both endpoints (CC labels come from the same edges)
    val out = StructType(Seq(
      StructField("id", LongType), StructField("component", LongType)))
    implicit val enc = Encoders.row(out)
    val refined = edges
      .groupByKey(_.getLong(0))(Encoders.scalaLong)
      .flatMapGroups { (comp, rows) =>
        val es = rows.toArray
        val ids = es.flatMap(r => Seq(r.getLong(1), r.getLong(2))).distinct.sorted
        if (ids.length > maxComponentSize) {
          ids.iterator.map(i => Row(i, comp))
        } else {
          val idx = ids.zipWithIndex.toMap
          val n = ids.length
          val dist = Array.fill(n, n)(1.0)
          var i = 0
          while (i < n) { dist(i)(i) = 0.0; i += 1 }
          es.foreach { r =>
            val a = idx(r.getLong(1)); val b = idx(r.getLong(2))
            val d = 1.0 - r.getDouble(3)
            dist(a)(b) = d; dist(b)(a) = d
          }
          val sub = hacLabels(n, dist, cut)
          // stable sub-cluster id: min member id
          val subMin = sub.zipWithIndex.groupBy(_._1)
            .map { case (c, xs) => c -> xs.map(x => ids(x._2)).min }
          ids.indices.iterator.map(i => Row(ids(i), subMin(sub(i))))
        }
      }
    // singletons (no edges) keep their CC label
    labels.join(refined.withColumnRenamed("component", "refined"), Seq("id"), "left")
      .select(col("id"), coalesce(col("refined"), col("component")).as("component"))
  }
}
