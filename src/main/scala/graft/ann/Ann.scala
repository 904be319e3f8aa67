package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (array<float>) — brute-force
 * cosine top-k as the exact baseline, plus two scale paths:
 * random-hyperplane LSH bucketing and an IVF-style coarse quantizer.
 *
 * All dot products are pure built-ins (`zip_with` + `aggregate`) computed
 * in double after an explicit cast — keeps Spark and the DuckDB oracle on
 * identical arithmetic.
 */
object Ann {

  /** Dot product of two numeric array columns, in double. Direct kernel —
    * the zip_with+aggregate composition allocated six intermediate arrays
    * per pair (~200µs/op measured on 64-dim vectors; the kernel is ~100×
    * cheaper and IEEE-identical, see ExprKernels2.arrayDot). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.ArrayDotExpr(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** One-pass cosine (same value as dot/(norm·norm), one traversal). */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expr.ArrayCosineExpr(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  /**
   * Exact brute-force top-k: every query scored against every item.
   * The QUERY side is broadcast (queries << corpus at training-data scale);
   * the corpus is scanned once, partition-parallel, no shuffle until the
   * per-query top-k aggregation. Ties break by item id (deterministic).
   *
   * @param items   (itemId, vec) corpus
   * @param queries (queryId, vec) — must be small enough to broadcast
   */
  def bruteForceTopK(items: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val i = items.select(col(items.columns(0)).as("item_id"), col(items.columns(1)).as("ivec"))
    val q = queries.select(col(queries.columns(0)).as("query_id"), col(queries.columns(1)).as("qvec"))
    val scored = i.crossJoin(broadcast(q))
      .select(col("query_id"), col("item_id"),
        cosine(col("ivec"), col("qvec")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Window top-k with deterministic tie-break; rank column included. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("item_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("item_id"), col("cos")) // raw cos: callers round ONCE if needed
        // (rounding here then again downstream double-rounds: 0.2817947 →
        // 0.281795 → 0.28180 — a real bug caught by the DuckDB oracle)
  }

  /** Deterministic random hyperplanes: nPlanes × dim, seeded. */
  private[ann] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id of a vector under the given planes. */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /**
   * LSH-bucketed ANN: items and queries hash to sign-bit buckets under the
   * same seeded hyperplanes; candidates = same-bucket join (equi-join —
   * shuffles only bucket-matched rows); exact cosine re-rank inside.
   * Recall < 1 by construction; raise nPlanes↓/probe more buckets for more.
   */
  def lshTopK(items: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 8, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val i = items.select(col(items.columns(0)).as("item_id"), col(items.columns(1)).as("ivec"))
      .withColumn("bucket", lshBucket(col("ivec"), planes))
    val q = queries.select(col(queries.columns(0)).as("query_id"), col(queries.columns(1)).as("qvec"))
      .withColumn("bucket", lshBucket(col("qvec"), planes))
    val scored = i.join(broadcast(q), "bucket")
      .select(col("query_id"), col("item_id"), cosine(col("ivec"), col("qvec")).as("cos"))
    topKPerQuery(scored, k)
  }

  /**
   * IVF-style ANN: coarse centroids = a deterministic sample of the corpus
   * (every n/nlist-th item by id order — no kmeans dependency); each item
   * is assigned to its nearest centroid (broadcast centroid list); a query
   * probes its `nprobe` nearest centroids' inverted lists only.
   */
  def ivfTopK(items: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, lloydIters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val i = items.select(col(items.columns(0)).as("item_id"), col(items.columns(1)).as("ivec"))
    // deterministic coarse centroids: HASH-SAMPLED, partition-parallel —
    // pmod(xxhash64(id), n/nlist) == 0 keeps ~nlist rows without sorting
    // the corpus (the previous global row_number() window serialized the
    // whole corpus through one task). `limit` then trims the sample to
    // exactly nlist rows (tiny input by then; deterministic via the sort).
    // hash sampling keeps ~nlist rows only in EXPECTATION — a skewed or
    // tiny corpus can come up short (extreme: zero centroids → no
    // neighbors at all). ONE aggregate scan computes the corpus size and
    // the survivor count at every power-of-two modulus; the driver then
    // picks the coarsest modulus with >= min(nlist, n) survivors (modulus
    // 1 keeps everything, so a valid pick always exists). No per-retry
    // re-scans — the setup cost is exactly the one count the pre-fallback
    // code already paid.
    val maxJ = 40
    val aggCols = count(lit(1)).cast("long").as("n") +: (1 to maxJ).map(j =>
      sum(when(pmod(xxhash64(col("item_id")), lit(1L << j)) === 0, 1L)
        .otherwise(0L)).as(s"s$j"))
    val row = i.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val n = row.getLong(0)
    def surv(j: Int): Long =
      if (j == 0) n else Option(row.get(j)).fold(0L)(_ => row.getLong(j))
    val want = math.min(nlist.toLong, n)
    var j = math.min(maxJ,
      63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n / nlist)))
    while (j > 0 && surv(j) < want) j -= 1
    val step = 1L << j
    def sample(st: Long) = i.filter(pmod(xxhash64(col("item_id")), lit(st)) === 0)
    // assign items to nearest centroid (shared helper; cos_c not needed)
    def assign(cs: DataFrame): DataFrame =
      assignNearest(i, cs).select(col("cent_id"), col("item_id"), col("ivec"))
    var cents = sample(step)
      .sort(col("item_id")).limit(nlist)
      .select(col("item_id").as("cent_id"), col("ivec").cast("array<double>").as("cvec"))
    // Lloyd refinement (`lloydIters` > 0): k-means over cosine — reassign,
    // then element-wise mean per cluster. The mean is a posexplode +
    // (cent_id, pos) hash aggregate: map-side combine caps each mapper's
    // output at nlist×dim rows, so the corpus×dim explode never shuffles.
    // An emptied cluster keeps no row and simply drops out (its list was
    // empty anyway); ids stay the seed ids. Determinism caveat: avg() sums
    // partition partials in shuffle order, so refined centroids are
    // deterministic only up to floating-point summation order — a near-tie
    // in assignment or in a query's top-nprobe centroid ranking can flip
    // between runs, changing which inverted lists a PARTIAL probe visits.
    // The full-probe variant (and the nprobe=nlist oracle twin) is
    // centroid-invariant; seed centroids (lloydIters = 0) are bit-exact.
    for (_ <- 1 to lloydIters) {
      cents = assign(cents)
        .select(col("cent_id"), posexplode(col("ivec")).as(Seq("pos", "v")))
        .groupBy(col("cent_id"), col("pos"))
        .agg(avg(col("v")).as("m"))
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("cvec"))
        // nlist tiny rows, but the LINEAGE holds a full corpus scan per
        // iteration and cents is broadcast from three places — truncate it
        .localCheckpoint(true)
    }
    val assigned = assign(cents)
    // queries probe their nprobe nearest centroids
    val q = queries.select(col(queries.columns(0)).as("query_id"), col(queries.columns(1)).as("qvec"))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cos_c").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("cos_c", cosine(col("qvec"), col("cvec")))
      .withColumn("rc", row_number().over(wq)).filter(col("rc") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cent_id"))
    val scored = assigned.join(broadcast(probes), "cent_id")
      .select(col("query_id"), col("item_id"), cosine(col("ivec"), col("qvec")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Nearest-centroid assignment: broadcast the centroid list, then a
    * map-side-combining max_by aggregate — NOT a per-item window over the
    * corpus×k expansion (that shuffled every expanded row full-width).
    * Ties: highest cosine, then lowest cent_id (the `-cent_id` struct
    * field) — mirrored by every oracle twin's `ORDER BY cos_c DESC,
    * cent_id` window. One row per item: (cent_id, item_id, cos_c, ivec).
    * Expects the normalized column names (item_id, ivec) / (cent_id, cvec). */
  private def assignNearest(i: DataFrame, cs: DataFrame): DataFrame =
    i.crossJoin(broadcast(cs))
      .withColumn("cos_c", cosine(col("ivec"), col("cvec")))
      .groupBy(col("item_id"))
      .agg(
        max_by(struct(col("cent_id"), col("cos_c")),
          struct(col("cos_c"), -col("cent_id"))).as("best"),
        first(col("ivec")).as("ivec")) // all k copies carry the same vec
      .select(col("best").getField("cent_id").as("cent_id"), col("item_id"),
        col("best").getField("cos_c").as("cos_c"), col("ivec"))

  /**
   * SemDeDup — semantic deduplication over an embedding column (Abbas et
   * al., "SemDeDup: Data-efficient learning at web-scale through semantic
   * deduplication", arXiv 2303.09540, 2023†): assign every item to its
   * nearest centroid, compare pairs ONLY within a cluster (the global
   * O(n²) cosine matrix becomes ~O(n²/k) and each cluster's quadratic
   * expansion runs through the skew-proof grid self-join), mark pairs with
   * cosine ≥ tau as semantic duplicates, form duplicate groups by
   * connected components, and keep ONE item per group. Keeper = the
   * paper's best-performing rule (its §4 "low similarity to centroid"):
   * the group member with the LOWEST cosine to its centroid, ties broken
   * by id. Singletons (no duplicate edge) keep themselves.
   *
   * Approximation contract, inherited from the paper: a near-dup pair
   * whose members land in different clusters is never compared — recall
   * is governed by centroid count vs corpus diversity (measured on the
   * test embeddings: k=10 centroids over 500 vectors see 24 of the 59
   * global tau=0.4 pairs). Given the centroids the output is exact and
   * deterministic — oracle-checked end-to-end (q_semdedup) with
   * modulus-sampled seed centroids the DuckDB twin reproduces.
   *
   * Scale shape: centroid assignment is the IVF broadcast + map-side
   * max_by (no corpus×k shuffle); within-cluster pair generation reuses
   * [[graft.pairs.PairGen.candidatePairs]] (plural filter, size cap,
   * triangle grid — a mega-cluster parallelizes instead of serializing
   * one join group); CC runs on duplicate EDGES only (thresholded, sparse
   * by construction); the keeper window partitions by duplicate group.
   *
   * @param items     (id: long, vec: array<float|double>) corpus
   * @param centroids (cent_id: long, cvec) — must be non-empty (an empty
   *                  set would silently drop the whole corpus; rejected)
   *                  and broadcastable; callers pick k (paper: k ~
   *                  sqrt(n) order)
   * @param tau       duplicate threshold on cosine (1 - eps in the paper)
   * @param maxClusterSize clusters larger than this are dropped from pair
   *                  generation (PairGen's oversize-cap contract). Their
   *                  members come back keep=true, indistinguishable from
   *                  genuine singletons in the output — callers needing
   *                  the skipped count run [[semDedupClusterMetrics]]
   *                  (same assignment, PairGen's metrics aggregate).
   *                  Bounds the worst cluster's cost.
   * @return one row per item: (item_id, cent_id, cos_c = cosine to its
   *         centroid rounded to 5, group_id = min item id of its duplicate
   *         group, keep)
   */
  def semDedup(items: DataFrame, centroids: DataFrame, tau: Double,
      maxClusterSize: Int = 1 << 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val i = items.select(col(items.columns(0)).as("item_id"), col(items.columns(1)).as("ivec"))
    val c = centroids.select(col(centroids.columns(0)).as("cent_id"),
      col(centroids.columns(1)).cast("array<double>").as("cvec"))
    require(!c.isEmpty, "semDedup: centroids must be non-empty — an empty " +
      "set would assign nothing and silently drop every item")
    // the assignment feeds pair generation, edge scoring and the final
    // output — 3-4 corpus×k recomputes without the snapshot; reclaim it
    // with Dedupe.reclaimLibraryScratch once the result is consumed
    val assigned = graft.io.Snapshot(assignNearest(i, c), "semdedup_assigned")
    val blocks = assigned.select(
      col("cent_id").cast("string").as("block_key"), col("item_id").as("id"))
    val pairs = graft.pairs.PairGen.candidatePairs(blocks,
      maxBlockSize = maxClusterSize)
    val vecs = assigned.select(col("item_id"), col("ivec"))
    val edges = pairs
      .join(vecs.select(col("item_id").as("id1"), col("ivec").as("v1")), "id1")
      .join(vecs.select(col("item_id").as("id2"), col("ivec").as("v2")), "id2")
      .filter(cosine(col("v1"), col("v2")) >= tau)
      .select(col("id1"), col("id2"))
    val labels = graft.cluster.ConnectedComponents.labels(edges)
    val grouped = assigned
      .join(labels.select(col("id").as("item_id"), col("component")),
        Seq("item_id"), "left")
      .withColumn("group_id", coalesce(col("component"), col("item_id")))
    val w = Window.partitionBy(col("group_id"))
      .orderBy(col("cos_c").asc, col("item_id").asc)
    grouped.withColumn("keep", row_number().over(w) === 1)
      .select(col("item_id"), col("cent_id"),
        round(col("cos_c"), 5).as("cos_c"), col("group_id"), col("keep"))
  }

  /** Metrics companion to [[semDedup]] (PairGen's "never silent" cap
    * contract): the same assignment, fed to PairGen.blockMetrics —
    * cappedKeys = clusters whose dedup was skipped by `maxClusterSize`,
    * droppedRows = how many items that exempted. */
  def semDedupClusterMetrics(items: DataFrame, centroids: DataFrame,
      maxClusterSize: Int = 1 << 20): graft.pairs.PairGen.BlockMetrics = {
    val i = items.select(col(items.columns(0)).as("item_id"), col(items.columns(1)).as("ivec"))
    val c = centroids.select(col(centroids.columns(0)).as("cent_id"),
      col(centroids.columns(1)).cast("array<double>").as("cvec"))
    graft.pairs.PairGen.blockMetrics(
      assignNearest(i, c).select(
        col("cent_id").cast("string").as("block_key"), col("item_id").as("id")),
      maxBlockSize = maxClusterSize)
  }
}
