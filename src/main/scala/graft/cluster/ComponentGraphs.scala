package graft.cluster

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset}
import org.apache.spark.sql.functions._

/**
 * Shared scaffolding for per-component graph kernels ([[Bridges]],
 * [[Cores]]): normalize a match-edge frame to a simple undirected
 * graph, partition it by base-CC component, and hand each component to
 * a single-task primitive kernel behind one open-addressing node
 * interner. One copy of the idiom — a fix here reaches every
 * per-component analysis at once.
 */
private[cluster] object ComponentGraphs {

  /** Canonical simple graph: (id1 < id2), self-loops dropped, parallel
    * duplicates collapsed (a duplicated candidate pair is the same
    * assertion, not a second cable). ONE distinct shuffle — reuse the
    * result instead of re-normalizing per stage. */
  def simpleEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("id1"), col("id2")).cast("long").as("id1"),
        greatest(col("id1"), col("id2")).cast("long").as("id2"))
      .filter(col("id1") =!= col("id2"))
      .distinct()

  /** Base-CC labels joined back onto the simple edges, grouped by
    * component: each group is one task's kernel input. */
  def byComponent(simple: DataFrame)
      : KeyValueGroupedDataset[Long, (Long, Long, Long)] = {
    val spark = simple.sparkSession
    import spark.implicits._
    // materialize the simple edges ONCE: they feed both the base CC and
    // the labels join below — without the cut the (often expensive)
    // distinct subtree behind simpleEdges executes twice
    val s = Checkpoints.checkpointed(simple.select("id1", "id2"), spark)
    val base = ConnectedComponents.labelsOfSimple(s, alreadyMaterialized = true)
    s
      .join(base.withColumnRenamed("id", "id1")
        .withColumnRenamed("component", "_comp"), Seq("id1"))
      .select(col("_comp"), col("id1"), col("id2"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
  }

  /** Drain one component's edges into primitive arrays, failing fast
    * past the cap (feed a giant-component-capped graph, don't OOM). */
  def collectComponent(comp: Long, it: Iterator[(Long, Long, Long)],
      cap: Int, what: String): (Array[Long], Array[Long]) = {
    val ub = new scala.collection.mutable.ArrayBuilder.ofLong
    val vb = new scala.collection.mutable.ArrayBuilder.ofLong
    var m = 0
    it.foreach { t =>
      if (m >= cap) throw new IllegalStateException(
        s"component $comp exceeds maxComponentEdges=$cap — cap the " +
          s"match graph (giant-component cap) before $what")
      ub += t._2; vb += t._3; m += 1
    }
    (ub.result(), vb.result())
  }

  /** Home-slot hash of a node id for a power-of-two linear-probe table:
    * murmur3's fmix64 first, so ids that differ only in high bits (e.g.
    * `i << 16`) spread instead of piling onto a few home slots and
    * turning every probe into a scan of one long run. */
  def spread(key: Long): Int = {
    var h = key
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h.toInt
  }

  /** Open-addressing node interner sized for a component of `m` edges
    * (≤ 2m nodes, ≤ 50% load): long id → dense [0, n) index, with the
    * reverse mapping in [[nodeId]]. */
  final class Interner(m: Int) {
    private val tcap = Integer.highestOneBit(math.max(8, m * 4) - 1) << 1
    private val keys = new Array[Long](tcap)
    private val used = new Array[Boolean](tcap)
    private val idx = new Array[Int](tcap)
    val nodeId = new Array[Long](2 * math.max(m, 1))
    var n = 0
    def intern(key: Long): Int = {
      var h = spread(key) & (tcap - 1)
      while (used(h) && keys(h) != key) h = (h + 1) & (tcap - 1)
      if (used(h)) idx(h)
      else {
        keys(h) = key; used(h) = true; idx(h) = n; nodeId(n) = key
        n += 1; idx(h)
      }
    }
  }
}
