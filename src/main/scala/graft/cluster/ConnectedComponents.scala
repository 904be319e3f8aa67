package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Transitive closure over scored pairs ≥ θ — the reference's
 * `dedupe:clustering (fn connected_components)†` (in-memory union-find)
 * re-expressed as the large-star/small-star MapReduce algorithm
 * (Kiveris et al., "Connected Components in MapReduce and Beyond",
 * SoCC 2014) in pure DataFrames — no GraphFrames jar ships in
 * /opt/spark/jars (SURVEY.md §2.6 G2; BASELINE.json:6 "iterative
 * connected-components with checkpointed convergence").
 *
 * Size-adaptive: the edge set is normalized and materialized once, then
 * a graph at or under [[oneTaskEdgeCap]] edges is labeled by one
 * single-task union-find, and its round count comes from an in-task
 * replay of the loop (SparkER's rule, EDBT 2019: keep per-job overhead
 * out of small ER stages). Bigger graphs iterate: each iteration is two
 * groupBy+join rounds; convergence is O(log n) iterations on adversarial
 * graphs and 1-2 on near-clique dedupe components. Every iteration is
 * checkpointed to truncate lineage (reliable checkpoint when a checkpoint
 * dir is set — the resume contract — else localCheckpoint). Every job
 * launched here carries the job description `graft: cc`.
 */
object ConnectedComponents {

  case class CCResult(labels: DataFrame, iterations: Int)

  /** Large-star: connect every neighbor larger than u to u's min neighbor. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val minn = sym.groupBy("u").agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.filter(col("v") > col("u"))
      .join(minn, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: connect u and all smaller neighbors to the minimum. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(
      greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val minn = or.groupBy("u").agg(min(col("v")).as("m"))
    or.join(minn, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(minn.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /**
   * @param edges DataFrame with two long/numeric columns (id1, id2)
   * @return labels (id, component) for every node APPEARING IN AN EDGE;
   *         component = min node id of the component. Callers add
   *         singletons by left-joining their vertex set (component := id).
   *         `iterations` is the large-star/small-star round count, equal
   *         on both sides of the one-task cap (replayed below it).
   */
  def run(edges: DataFrame, maxIter: Int = 50): CCResult =
    runCapped(edges, maxIter, oneTaskEdgeCap)

  /** [[run]] with the one-task cap as a parameter (-1 always iterates):
    * the seam that lets a spec compare the replay with the loop. */
  private[graft] def runCapped(edges: DataFrame, maxIter: Int, cap: Long): CCResult =
    labelled(edges.sparkSession)(
      ofSimple(cut(normalize(edges)), maxIter, cap, rounds = true))

  /** Canonical simple edge frame (u < v, no self-loops, distinct) of long
    * ids — so [[run]] and [[labels]] emit one label schema whatever the
    * input's numeric type. */
  private def normalize(edges: DataFrame): DataFrame =
    edges.toDF("u", "v")
      .select(least(col("u"), col("v")).cast("long").as("u"),
        greatest(col("u"), col("v")).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()

  private def cut(e: DataFrame): DataFrame =
    Checkpoints.checkpointed(e, e.sparkSession)

  /** Every job launched in `body` carries `graft: cc`. */
  private def labelled[T](spark: SparkSession)(body: => T): T =
    graft.io.Snapshot.labelJobs(spark, "graft: cc")(body)

  /** Alternating large-star/small-star rounds until the edge-set
    * signature stops moving; returns (fixpoint edges, rounds run). */
  private def loopToFixpoint(e0: DataFrame, sig0: (Long, Long),
      spark: SparkSession, maxIter: Int): (DataFrame, Int) = {
    var e = e0
    var converged = false
    var iter = 0
    var prevSig = sig0
    while (!converged && iter < maxIter) {
      val next = Checkpoints.checkpointed(smallStar(largeStar(e)), spark)
      val sig = signature(next)
      converged = sig == prevSig
      prevSig = sig
      e = next
      iter += 1
    }
    (e, iter)
  }

  /** At fixpoint every edge is (member, root) with root = component min. */
  private def labelsFromFixpoint(e: DataFrame): DataFrame =
    e.select(col("u").as("id"), col("v").as("component"))
      .union(e.select(col("v").as("id"), col("v").as("component")))
      .distinct()

  /** Size-adaptive edge cap at or under which one task labels the graph
    * (union-find, ~40 B/edge) and replays its rounds (~40 B/edge, a
    * separate task), so the cap bounds either task at ~80 MB. Not
    * core-count-derived: the same cap is right on local[8] and on a
    * 1000-executor cluster, because it bounds per-TASK memory, not
    * parallelism. */
  private val oneTaskEdgeCap = 2000000L

  /**
   * Labels-only transitive closure — [[run]] without the round-count
   * replay: the same normalize+materialize cut, the same single-task
   * union-find at or under [[oneTaskEdgeCap]] edges and the same
   * iterative loop above it.
   */
  def labels(edges: DataFrame, maxIter: Int = 50): DataFrame =
    labelled(edges.sparkSession)(
      ofSimple(cut(normalize(edges)), maxIter, oneTaskEdgeCap, rounds = false).labels)

  /** [[labels]] over an ALREADY canonical+distinct simple edge frame
    * (two long columns, u < v) — callers that have paid the distinct
    * shuffle (ComponentGraphs.simpleEdges consumers) skip repeating
    * it. `alreadyMaterialized = true` additionally skips the
    * checkpoint when the caller hands a frame it has checkpointed
    * itself (the frame is read twice here: size probe + labeling). */
  private[cluster] def labelsOfSimple(simple: DataFrame,
      maxIter: Int = 50, alreadyMaterialized: Boolean = false): DataFrame =
    labelled(simple.sparkSession) {
      val e = simple.toDF("u", "v")
      ofSimple(if (alreadyMaterialized) e else cut(e), maxIter, oneTaskEdgeCap,
        rounds = false).labels
    }

  /** The one kernel over a materialized simple edge frame. `rounds = false`
    * skips the replay job and reports -1 iterations below the cap. */
  private def ofSimple(e0: DataFrame, maxIter: Int, cap: Long,
      rounds: Boolean): CCResult = {
    // both paths emit long labels regardless of the input's numeric type
    // (the iterative path would otherwise preserve e.g. int columns while
    // the one-task kernel casts — schema must not depend on graph size)
    val e = e0.select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
    val spark = e.sparkSession
    val sig = signature(e)
    if (sig._1 <= cap)
      CCResult(singleTaskLabels(e, sig._1),
        if (rounds) replayedRounds(e, sig._1, maxIter) else -1)
    else {
      val (fixpoint, iter) = loopToFixpoint(e, sig, spark, maxIter)
      CCResult(labelsFromFixpoint(fixpoint), iter)
    }
  }

  /** Coalesce(1): a narrow read of the materialized edge frame into one
    * task, handed `f` as the edge iterator and the known edge count. */
  private def inOneTask[T: org.apache.spark.sql.Encoder](e: DataFrame, edgeCount: Long)(
      f: (Iterator[(Long, Long)], Int) => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = e.sparkSession
    import spark.implicits._
    val m = math.toIntExact(edgeCount)
    e.as[(Long, Long)].coalesce(1).mapPartitions(it => f(it, m))
  }

  /** One-task union-find labeling (path-halving find + size union, then
    * a min-id sweep per root so labels carry the exact min-reachable-id
    * contract — the result is independent of edge order). Only reached
    * at or under [[oneTaskEdgeCap]] edges, so the arrays are bounded. */
  private def singleTaskLabels(e: DataFrame, edgeCount: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    inOneTask(e, edgeCount) { (it, m0) =>
      val m = math.max(1, m0)
      val interner = new ComponentGraphs.Interner(m)
      val parent = new Array[Int](2 * m)
      val size = new Array[Int](2 * m)
      var inited = 0
      def intern(id: Long): Int = {
        val idx = interner.intern(id)
        while (inited < interner.n) {
          parent(inited) = inited; size(inited) = 1; inited += 1
        }
        idx
      }
      def find(x0: Int): Int = {
        var x = x0
        while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
        x
      }
      it.foreach { case (u, v) =>
        val ru = find(intern(u)); val rv = find(intern(v))
        if (ru != rv) {
          val (hi, lo) = if (size(ru) >= size(rv)) (ru, rv) else (rv, ru)
          parent(lo) = hi; size(hi) += size(lo)
        }
      }
      val n = interner.n
      // min node id per root = the component label
      val minId = new Array[Long](n)
      java.util.Arrays.fill(minId, Long.MaxValue)
      var i = 0
      while (i < n) {
        val r = find(i)
        if (interner.nodeId(i) < minId(r)) minId(r) = interner.nodeId(i)
        i += 1
      }
      (0 until n).iterator.map(x => (interner.nodeId(x), minId(find(x))))
    }.toDF("id", "component")
  }

  /** The round count [[loopToFixpoint]] would report on this edge frame,
    * from one single-task job (an empty frame may have no partition, so
    * no task: its replay runs on the driver). */
  private def replayedRounds(e: DataFrame, edgeCount: Long, maxIter: Int): Int = {
    val spark = e.sparkSession
    import spark.implicits._
    inOneTask(e, edgeCount)((it, m) => Iterator.single(StarReplay.rounds(it, m, maxIter)))
      .collect().headOption.getOrElse(StarReplay.rounds(Iterator.empty, 0, maxIter))
  }

  /** Cheap fixpoint detector: (edge count, order-independent hash xor) —
    * bit_xor instead of sum: overflow-free under ANSI mode. */
  private def signature(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count("*").as("n"),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h")).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /**
   * Assign every vertex a component: edge-connected nodes get the CC label,
   * isolated ones themselves (matches the reference: unclustered records
   * keep their own entity†).
   */
  def labelAll(vertices: DataFrame, idCol: String, edges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val cc = labels(edges, maxIter)
    vertices.select(col(idCol).as("id"))
      .join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /**
   * Giant-component cap (G2 tail): the reference re-thresholds inside
   * components that exceed the size cap (`dedupe:clustering†` caps giant
   * components) — transitive closure on crawl data can chain unrelated
   * pages through weak hubs. Components larger than `cap` have their
   * internal edges re-thresholded at θ+Δ (Δ grows per round) and are
   * re-clustered; repeats until all components fit or rounds run out.
   *
   * @param labels (id, component)
   * @param scoredEdges (id1, id2, score)
   */
  def capGiantComponents(labels: DataFrame, scoredEdges: DataFrame,
      cap: Int, theta: Double, thetaStep: Double = 0.1,
      maxRounds: Int = 4): DataFrame = {
    var current = labels
    var round = 1
    var done = false
    while (!done && round <= maxRounds) {
      val oversized = current.groupBy("component")
        .agg(count("*").as("n")).filter(col("n") > cap)
        .select(col("component"))
      if (oversized.isEmpty) done = true
      else {
        val bigIds = current.join(oversized, "component").select(col("id"))
        val keep = current.join(oversized, Seq("component"), "left_anti")
        val subEdges = scoredEdges
          .join(bigIds.withColumnRenamed("id", "id1"), "id1")
          .join(bigIds.withColumnRenamed("id", "id2"), "id2")
          .filter(col("score") >= theta + round * thetaStep)
          .select(col("id1"), col("id2"))
        val relabeled = labelAll(bigIds, "id", subEdges)
        current = keep.select("id", "component")
          .unionByName(relabeled.select("id", "component"))
        round += 1
      }
    }
    current
  }

  /**
   * Incremental transitive closure: fold a NEW batch of edges into an
   * existing labeling without replaying the old edge list — the
   * crawl-update cadence at 10^12-document scale, where each snapshot
   * adds a sliver of pages/edges and re-running CC over the full
   * historical pair stream would dominate the job.
   *
   * A component is connectivity-equivalent to its star (member →
   * component root), so CC(star(CC(E₁)) ∪ E₂) = CC(E₁ ∪ E₂): the result
   * EQUALS the full recompute (IncrementalCCSpec fuzz-asserts this), at
   * the cost of one edge per previously-labeled node instead of the full
   * E₁. Labels are min-member ids, so components untouched by the new
   * batch keep their exact previous label — persistent entity ids are
   * stable across snapshots for free ([[Crosswalk]] reconciles the
   * changed ones).
   *
   * @param prevLabels (id, component) from the previous run — every
   *                   previously known node, singletons included
   * @param newEdges   (id1, id2) this batch's accepted pairs; endpoints
   *                   may be brand-new nodes
   * @return (id, component) covering prev nodes ∪ new-edge endpoints
   */
  def incrementalLabelAll(prevLabels: DataFrame, newEdges: DataFrame,
      maxIter: Int = 50): DataFrame = {
    val prev = prevLabels.toDF("id", "component")
    val ne = newEdges.toDF("id1", "id2")
    val star = prev.filter(col("id") =!= col("component"))
      .select(col("id").as("id1"), col("component").as("id2"))
    val vertices = prev.select(col("id"))
      .union(ne.select(col("id1").as("id")))
      .union(ne.select(col("id2").as("id")))
      .distinct()
    labelAll(vertices, "id", star.unionByName(ne), maxIter)
  }
}
