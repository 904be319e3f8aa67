package graft.cluster

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Clustering-threshold sensitivity sweep.
 *
 * The reference picks ONE score threshold (recall-weighted argmax,
 * `dedupe:api (fn threshold)†`, our C11/`score.Threshold`) and clusters
 * at it. At crawl scale that single number hides the decision that
 * matters most: how violently does the entity structure move when θ
 * moves? This operator answers it — for each candidate θ, transitive
 * entities over the `score ≥ θ` edge subset, summarized as exact
 * integer statistics (node/component counts, largest component), so a
 * reviewer sees the knee of the curve before committing a threshold to
 * a 10^12-row entity_map.
 *
 * Scale shape: one pass over the scored-pair snapshot per θ (the edge
 * set only SHRINKS as θ rises — thresholding happens before any
 * shuffle), then a CC run on the surviving edges; stats are two
 * map-side-combinable aggregates over the labeling. Since score ≥ θ_hi
 * implies score ≥ θ_lo, each sweep level's components REFINE the
 * previous level's (asserted in ThresholdSweepSpec); the independent
 * runs are embarrassingly parallel across θ if a caller wants to
 * trade cluster capacity for latency.
 */
object ThresholdSweep {

  /** Transitive labels at one threshold (edge-incident nodes only). */
  def labelsAt(scoredPairs: DataFrame, theta: Double,
      scoreCol: String = "score"): DataFrame =
    ConnectedComponents.labels(
      scoredPairs.filter(col(scoreCol) >= theta).select("id1", "id2"))

  /**
   * @param scoredPairs (id1, id2, <scoreCol>) scored candidate pairs
   * @param thetas      thresholds to sweep (any order; echoed in output)
   * @return one row per θ: (theta, n_nodes, n_components, largest) —
   *         counts over edge-incident nodes; a θ killing every edge
   *         still yields its row (all zeros): "nothing clusters here"
   *         is the sweep's most useful possible answer
   */
  def sweep(scoredPairs: DataFrame, thetas: Seq[Double],
      scoreCol: String = "score"): DataFrame = {
    require(thetas.nonEmpty, "sweep needs at least one threshold")
    thetas.map { th =>
      val perComp = labelsAt(scoredPairs, th, scoreCol)
        .groupBy(col("component")).agg(count(lit(1)).as("sz"))
      perComp.agg(
        coalesce(sum(col("sz")), lit(0L)).as("n_nodes"),
        count(lit(1)).as("n_components"),
        coalesce(max(col("sz")), lit(0L)).as("largest"))
        .select(lit(th).as("theta"), col("n_nodes"),
          col("n_components"), col("largest"))
    }.reduce(_ unionByName _)
  }

  /**
   * Same contract as [[sweep]], one distributed pass instead of K
   * iterative CC runs: because components at θ_hi REFINE components at
   * θ_lo, ONE base CC at min(θ) partitions the edge set into groups that
   * never interact at ANY swept θ — so each base component sweeps every
   * θ level locally with an incremental union-find (edges added
   * score-descending, monotone node/component/largest counters
   * snapshotted at each θ boundary: O(E α) total for ALL thetas), then
   * per-θ stats sum across groups. K thetas cost one CC + one
   * stats shuffle, not K CCs over the biggest graph.
   *
   * Scale guard: base components bigger than `maxComponentEdges` edges
   * (a θ_min low enough to glue the corpus together) are diverted to the
   * per-θ [[sweep]] path — its iterative CC handles unbounded components
   * — and their stats are summed back in; everything else never buffers
   * more than the cap in one task. The kernel is allocation-lean:
   * primitive level-buckets (no per-edge sort — edges land in their
   * θ-bucket directly) and an int-indexed union-find behind an
   * open-addressing long→int intern table, so a cap-sized group costs
   * ~36 B/edge, not boxed-tuple + HashMap-entry rates. The count
   * pre-pass is a map-combined key census; the edges+labels join is
   * persisted across the census / kernel / diverted-sweep passes and the
   * K-row result is materialized before unpersist.
   *
   * Parity notes vs [[sweep]] (asserted in ThresholdSweepSpec): NaN
   * scores — Spark's `col >= θ` treats NaN as largest, so the kernel
   * maps NaN→+∞; self-loops — CC.run drops id1==id2 edges, so both
   * paths filter them before counting.
   */
  def sweepFast(scoredPairs: DataFrame, thetas: Seq[Double],
      scoreCol: String = "score", maxComponentEdges: Int = 2000000): DataFrame = {
    require(thetas.nonEmpty, "sweep needs at least one threshold")
    val spark = scoredPairs.sparkSession
    import spark.implicits._
    val thDesc = thetas.distinct.sortBy(th => -th)
    // materialize the filtered edge frame ONCE: it feeds the base CC
    // (which re-materializes only its narrow normalized projection) and
    // the component-attach join below — without the cut the (often
    // expensive) scored-pair scan behind it executed once per consumer
    val edges = Checkpoints.checkpointed(scoredPairs
      .filter(col(scoreCol) >= thetas.min && col("id1") =!= col("id2"))
      .select(col("id1").cast("long").as("id1"),
        col("id2").cast("long").as("id2"),
        col(scoreCol).cast("double").as("_s")), spark)
    val base = ConnectedComponents.labels(edges.select("id1", "id2"))
    val withComp = edges
      .join(base.withColumnRenamed("id", "id1")
        .withColumnRenamed("component", "_comp"), Seq("id1"))
      .select(col("_comp"), col("id1"), col("id2"), col("_s"))
      .as[(Long, Long, Long, Double)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bigComps = withComp.groupByKey(_._1).count()
        .filter(_._2 > maxComponentEdges.toLong).map(_._1).collect().toSet
      val (bigStats, smallInput) =
        if (bigComps.isEmpty) (None, withComp)
        else (Some(sweep(
            withComp.filter(t => bigComps.contains(t._1))
              .toDF("_comp", "id1", "id2", "_s").drop("_comp"),
            thDesc, "_s")),
          withComp.filter(t => !bigComps.contains(t._1)))
      val thArr = thDesc.toArray
      val perComp = smallInput.groupByKey(_._1).flatMapGroups { (_, it) =>
        val k = thArr.length
        // bucket each edge at the first θ level admitting it (thArr is
        // descending; the base filter guarantees a level exists) —
        // replaces the score-descending sort entirely
        val bucket = Array.fill(k)(new scala.collection.mutable.ArrayBuilder.ofLong)
        it.foreach { t =>
          val s = if (t._4.isNaN) Double.PositiveInfinity else t._4
          var j = 0
          while (j < k - 1 && thArr(j) > s) j += 1
          bucket(j) += t._2; bucket(j) += t._3
        }
        // int-indexed union-find over interned node ids
        var cap = 1 << 10
        var keys = new Array[Long](cap); var slotUsed = new Array[Boolean](cap)
        var slotIdx = new Array[Int](cap)
        var parent = new Array[Int](cap); var compSz = new Array[Long](cap)
        var nInterned = 0
        var nNodes = 0L; var nComp = 0L; var largest = 0L
        def intern(key: Long): Int = {
          if (nInterned * 2 >= cap) { // grow + rehash at 50% load
            val (ok, ou, oi) = (keys, slotUsed, slotIdx)
            cap <<= 1
            keys = new Array[Long](cap); slotUsed = new Array[Boolean](cap)
            slotIdx = new Array[Int](cap)
            parent = java.util.Arrays.copyOf(parent, cap)
            compSz = java.util.Arrays.copyOf(compSz, cap)
            var s = 0
            while (s < ok.length) {
              if (ou(s)) {
                var h = ComponentGraphs.spread(ok(s)) & (cap - 1)
                while (slotUsed(h)) h = (h + 1) & (cap - 1)
                keys(h) = ok(s); slotUsed(h) = true; slotIdx(h) = oi(s)
              }
              s += 1
            }
          }
          var h = ComponentGraphs.spread(key) & (cap - 1)
          while (slotUsed(h) && keys(h) != key) h = (h + 1) & (cap - 1)
          if (slotUsed(h)) slotIdx(h)
          else {
            val idx = nInterned; nInterned += 1
            keys(h) = key; slotUsed(h) = true; slotIdx(h) = idx
            parent(idx) = idx; compSz(idx) = 1L
            nNodes += 1; nComp += 1; if (largest < 1L) largest = 1L
            idx
          }
        }
        def find(x0: Int): Int = {
          var x = x0
          while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
          x
        }
        // Materialized strictly (K tiny): the per-level rows read shared
        // mutable union-find state, so a lazy iterator would make
        // correctness depend on in-order single consumption downstream.
        thArr.indices.toArray.map { lvl =>
          val ids = bucket(lvl).result()
          var i = 0
          while (i < ids.length) {
            val ra = find(intern(ids(i))); val rb = find(intern(ids(i + 1)))
            if (ra != rb) {
              val (hi, lo) = if (compSz(ra) >= compSz(rb)) (ra, rb) else (rb, ra)
              parent(lo) = hi
              val s = compSz(hi) + compSz(lo); compSz(hi) = s
              if (s > largest) largest = s
              nComp -= 1
            }
            i += 2
          }
          (thArr(lvl), nNodes, nComp, largest)
        }
      }.toDF("theta", "n_nodes", "n_components", "largest")
      val combined = bigStats.fold(perComp)(perComp.unionByName(_))
        .groupBy(col("theta")).agg(
          sum(col("n_nodes")).as("n_nodes"),
          sum(col("n_components")).as("n_components"),
          max(col("largest")).as("largest"))
      // every requested θ gets its row (zeros when no edge anywhere
      // survives), duplicates echoed — exactly [[sweep]]'s contract.
      // Materialized (K rows) so unpersist can't trigger a recompute.
      val out = thetas.toDF("theta").join(combined, Seq("theta"), "left")
        .select(col("theta"),
          coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
          coalesce(col("n_components"), lit(0L)).as("n_components"),
          coalesce(col("largest"), lit(0L)).as("largest"))
      val rows = out.as[(Double, Long, Long, Long)].collect().toIndexedSeq
      rows.toDF("theta", "n_nodes", "n_components", "largest")
    } finally withComp.unpersist()
  }
}
