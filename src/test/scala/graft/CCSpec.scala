package graft

import org.apache.spark.sql.functions._
import graft.cluster.ConnectedComponents

/** F7 fixtures: hand-built edge lists → expected components. */
class CCSpec extends SparkSpec {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("id1", "id2")).labels
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain a-b-c is transitive") {
    val got = components(Seq((1L, 2L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("star") {
    val got = components(Seq((5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)))
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("two disjoint components") {
    val got = components(Seq((1L, 2L), (10L, 11L), (11L, 12L)))
    assert(got(1L) == 1L && got(2L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L && got(12L) == 10L)
  }

  test("long path (worst case for naive propagation)") {
    val n = 64
    val edges = (1L until n).map(i => (i, i + 1))
    val got = components(edges)
    assert(got.values.toSet == Set(1L))
    assert(got.size == n)
  }

  test("duplicate + reversed edges are harmless") {
    val got = components(Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (2L, 3L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("labelAll adds singletons") {
    val vertices = Seq(1L, 2L, 3L, 99L).toDF("id")
    val got = ConnectedComponents
      .labelAll(vertices, "id", Seq((1L, 2L)).toDF("id1", "id2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 99L -> 99L))
  }

  test("property: CC labels equal a union-find reference on 40 seeded " +
      "random graphs (varied density, self-loops, duplicates, skew)") {
    // driver-side union-find with path compression — an independent
    // implementation of the same contract (component = min member id)
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // CC.run's contract: self-loops are dropped, so a node appearing
      // ONLY in self-loops gets no label (callers left-join singletons) —
      // mirror that here
      val real = edges.filter(e => e._1 != e._2)
      real.foreach { case (a, b) => union(a, b) }
      val nodes = real.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(v => v -> find(v)).toMap
    }
    val rnd = new scala.util.Random(2026)
    for (trial <- 1 to 40) {
      val n = 2 + rnd.nextInt(60)
      val m = rnd.nextInt(3 * n)
      val skewed = rnd.nextBoolean() // hub-heavy vs uniform degree
      val edges = Seq.fill(m) {
        val a = if (skewed && rnd.nextBoolean()) 0L else rnd.nextInt(n).toLong
        val b = rnd.nextInt(n).toLong
        (a, b) // self-loops + duplicates allowed on purpose
      }.filter(e => e._1 != e._2 || rnd.nextBoolean()) // keep some self-loops
      if (edges.nonEmpty) {
        val expected = unionFind(n, edges)
        val got = components(edges)
        assert(got == expected,
          s"trial $trial (n=$n m=${edges.size} skewed=$skewed): CC diverged from union-find")
      }
    }
  }

  test("giant-component cap re-thresholds oversized components (F7)") {
    // hub chain: 1-2-3-4-5 all linked through weak 0.55 edges, plus one
    // strong pair (1,2)=0.95. cap=2 forces re-threshold at 0.5+0.1 → only
    // the strong edge survives → {1,2} stays merged, rest singletons.
    val edges = Seq(
      (1L, 2L, 0.95), (2L, 3L, 0.55), (3L, 4L, 0.55), (4L, 5L, 0.55))
      .toDF("id1", "id2", "score")
    val labels = ConnectedComponents.labelAll(
      Seq(1L, 2L, 3L, 4L, 5L).toDF("id"), "id",
      edges.filter($"score" >= 0.5).select("id1", "id2"))
    // precondition: one giant component of 5
    assert(labels.select("component").distinct().count() == 1)
    val capped = ConnectedComponents.capGiantComponents(
      labels, edges, cap = 2, theta = 0.5, thetaStep = 0.1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped(1L) == capped(2L))
    assert(Set(capped(3L), capped(4L), capped(5L)).size == 3)
    assert(capped(3L) != capped(1L))
  }

  test("ids with zero low bits intern in linear time: a path over 2^18 " +
      "ids of the form i << 20 labels within a loose bound") {
    // Long.hashCode(i << 20) masked to the 2^20-slot table leaves 64
    // adjacent home slots for 2^18 ids: unmixed, linear probing turns
    // quadratic (67 s on a 4-core host; under 1 s mixed)
    val n = 1L << 18
    val path = spark.range(0, n - 1)
      .select(shiftleft($"id", 20).as("id1"), shiftleft($"id" + 1, 20).as("id2"))
    val t0 = System.nanoTime()
    val r = ConnectedComponents.labels(path)
      .agg(count(lit(1)), min($"component"), max($"component")).collect()(0)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(r.getLong(0) == n && r.getLong(1) == 0L && r.getLong(2) == 0L, r)
    assert(sec < 20.0, f"labeling took $sec%.1f s")
  }

  test("run().labels and labels() share one long label schema on int ids") {
    // names and types (nullability follows the labeling path taken)
    def cols(df: org.apache.spark.sql.DataFrame) =
      df.schema.map(f => f.name -> f.dataType.typeName)
    for (t <- Seq("int", "decimal(20,0)")) {
      val edges = Seq((1, 2), (2, 3), (7, 8)).toDF("id1", "id2")
        .select($"id1".cast(t), $"id2".cast(t))
      val viaRun = ConnectedComponents.run(edges).labels
      val viaLabels = ConnectedComponents.labels(edges)
      assert(cols(viaRun) == cols(viaLabels), t)
      assert(cols(viaRun) == Seq("id" -> "long", "component" -> "long"), t)
      assert(viaRun.collect().toSet == viaLabels.collect().toSet, t)
    }
  }
}
