package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.cluster.ConnectedComponents

/** The one-task CC kernel against the distributed large-star/small-star
  * loop: equal labels and equal round counts, plus the task-side guards
  * (deep graphs, job labels). */
class CCReplaySpec extends SparkSpec {
  import spark.implicits._

  private def labelSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  /** Runs both kernels; asserts equal rounds, and equal labels where the
    * loop converged (a capped loop labels from a non-fixpoint). Returns
    * the rounds. */
  private def agree(edges: DataFrame, what: String, maxIter: Int = 50): Int = {
    val oneTask = ConnectedComponents.runCapped(edges, maxIter, Long.MaxValue)
    val loop = ConnectedComponents.runCapped(edges, maxIter, -1L)
    assert(oneTask.iterations == loop.iterations, s"$what: rounds")
    if (loop.iterations < maxIter)
      assert(labelSet(oneTask.labels) == labelSet(loop.labels), s"$what: labels")
    loop.iterations
  }

  test("fuzz: in-task replay matches the distributed loop's labels and " +
      "rounds on 40 seeded random graphs, long, int and decimal ids") {
    // three runs of the loop, one per id type, over disjoint unions of
    // 13-14 graphs: both steps act per component, so a union converges in
    // its members' max rounds, which the replay kernel gives per member
    // without a job
    val rnd = new scala.util.Random(4242)
    for (((idType, size), batch) <-
        Seq(("long", 14), ("int", 13), ("decimal(20,0)", 13)).zipWithIndex) {
      val graphs = Seq.fill(size) {
        val n = 2 + rnd.nextInt(80)
        val skewed = rnd.nextBoolean()
        // scattered ids (negative ones included), so rank order is not
        // insertion order; disjoint between graphs
        val ids = Array.fill(n)(if (idType == "int") rnd.nextInt().toLong else rnd.nextLong())
        Seq.fill(1 + rnd.nextInt(2 * n)) {
          val a = if (skewed && rnd.nextBoolean()) 0 else rnd.nextInt(n)
          (ids(a), ids(rnd.nextInt(n))) // self-loops + duplicates on purpose
        }
      }
      val edges = graphs.flatten.toDF("id1", "id2")
        .select($"id1".cast(idType), $"id2".cast(idType))
      val rounds = agree(edges, s"batch $batch ($idType)")
      val memberRounds = graphs.map { g =>
        val simple = g.filter(e => e._1 != e._2)
          .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
        graft.cluster.StarReplay.rounds(simple.iterator, simple.size, 50)
      }
      assert(memberRounds.max == rounds, s"batch $batch: $memberRounds")
    }
  }

  test("fuzz: a long chain, stars, the empty graph, maxIter = 1") {
    // a chain in shuffled id order needs log-n rounds, beside three
    // disjoint stars centered at their min, a middle and their max
    val perm = new scala.util.Random(7).shuffle((0L until 64L).toVector)
    val stars = for ((center, base) <- Seq((100L, 100L), (1050L, 1000L), (2099L, 2000L));
        leaf <- base until base + 100L if leaf != center) yield (center, leaf)
    val graph = (perm.zip(perm.tail) ++ stars).toDF("id1", "id2")
    assert(agree(graph, "chain + stars") >= 3)
    assert(agree(graph, "chain + stars, maxIter = 1", maxIter = 1) == 1)
    assert(agree(Seq.empty[(Long, Long)].toDF("id1", "id2"), "empty") == 1)
  }

  test("task depth: a 200k-node path and a 200k-leaf star label every " +
      "node with the min id") {
    val n = 200000L
    // scrambled ids: the path's rank order is not its walk order
    val node = (c: org.apache.spark.sql.Column) => xxhash64(c)
    val path = spark.range(0, n - 1).select(node($"id").as("id1"),
      node($"id" + 1).as("id2"))
    val star = spark.range(1, n + 1).select(lit(n).as("id1"), $"id".as("id2"))
    for ((edges, what) <- Seq((path, "path"), (star, "star"))) {
      val cc = ConnectedComponents.run(edges)
      val nodes = edges.select($"id1".as("id")).union(edges.select($"id2"))
      val minId = nodes.agg(min($"id")).collect()(0).getLong(0)
      val r = cc.labels.agg(count(lit(1)), min($"component"), max($"component"))
        .collect()(0)
      assert(r.getLong(0) == n && r.getLong(1) == minId && r.getLong(2) == minId,
        s"$what: $r vs min $minId")
      assert(cc.iterations > 0 && cc.iterations < 50, s"$what: ${cc.iterations} rounds")
    }
  }

  test("every job CC launches is labelled graft: cc, and the caller's " +
      "description is restored") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id1", "id2")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cc_labels").toString
    val prevCkpt = sc.getCheckpointDir
    sc.setJobDescription("caller job")
    org.apache.spark.ListenerBusProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      // below the cap (normalize cut + replay) and above it (every round),
      // with reliable checkpoints (their writes are jobs too)
      sc.setCheckpointDir(ckpt)
      ConnectedComponents.run(edges)
      ConnectedComponents.runCapped(edges, 50, -1L)
      ConnectedComponents.labels(edges)
      org.apache.spark.ListenerBusProbe.drain(sc)
      import scala.jdk.CollectionConverters._
      val labels = seen.asScala.toList
      assert(labels.nonEmpty)
      assert(labels.toSet == Set("graft: cc"), labels)
      assert(sc.getLocalProperty("spark.job.description") == "caller job")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
      sc.setCheckpointDir(prevCkpt.orNull)
      graft.io.Snapshot.delete(spark, ckpt)
    }
  }

  test("a dense-sized CC run below the cap makes at most 6 jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // 5 100 edges in chains of 4, the dense benchmark's shape
    val edges = spark.range(0, 6800).filter($"id" % 4 =!= 3)
      .select($"id".as("id1"), ($"id" + 1).as("id2"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cc_jobs").toString
    val prevCkpt = sc.getCheckpointDir
    try {
      for (dir <- Seq(None, Some(ckpt))) {
        dir.foreach(sc.setCheckpointDir)
        org.apache.spark.ListenerBusProbe.drain(sc)
        jobs.set(0)
        sc.addSparkListener(listener)
        try {
          val cc = ConnectedComponents.run(edges)
          org.apache.spark.ListenerBusProbe.drain(sc)
          assert(jobs.get() <= 6, s"${jobs.get()} jobs, checkpoint dir $dir")
        } finally sc.removeSparkListener(listener)
      }
    } finally {
      sc.setCheckpointDir(prevCkpt.orNull)
      graft.io.Snapshot.delete(spark, ckpt)
    }
  }
}
