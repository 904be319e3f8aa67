package graft

import org.apache.spark.sql.functions._
import graft.fixtures.PagesGen
import graft.io.Snapshot
import graft.pipeline.Dedupe

/** Resumability contract (BASELINE.json:6,14): the pipeline restarts from
  * the scored-pairs parquet snapshot and produces identical clustering. */
class ResumeSpec extends SparkSpec {

  test("resumeFromPairs reproduces the full run's entity map exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val (pages, _) = PagesGen.generate(spark, nBase = 60, seed = 7L)
    val config = Dedupe.Config(SparkEntry.demoModel,
      checkpointDir = Some(dir), collectMetrics = false)

    val full = Dedupe.run(spark, pages.toDF(), config)
    val fullMap = full.entityMap.select("url", "component")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(new java.io.File(s"$dir/pairs").exists(), "pairs snapshot written")

    // resume: no blocking/scoring re-run — clustering from the snapshot
    val resumed = Dedupe.resumeFromPairs(spark, pages.toDF(), config)
    val resumedMap = resumed.entityMap.select("url", "component")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(resumedMap == fullMap)
  }

  test("resume validates the snapshot through the Hadoop FileSystem API " +
      "(file:-scheme checkpoint dir)") {
    val local = java.nio.file.Files.createTempDirectory("graft_ckpt_fs").toString
    val dir = s"file://$local" // URI form a java.io.File check would mangle
    val (pages, _) = PagesGen.generate(spark, nBase = 20, seed = 11L)
    val config = Dedupe.Config(SparkEntry.demoModel,
      checkpointDir = Some(dir), collectMetrics = false)
    val full = Dedupe.run(spark, pages.toDF(), config)
    val resumed = Dedupe.resumeFromPairs(spark, pages.toDF(), config)
    assert(resumed.entityMap.count() == full.entityMap.count())
  }

  test("bucketed entity sink writes bucket=N partition layout (S4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val df = spark.range(0, 1000).toDF("id")
      .withColumn("component", col("id") % 37)
    graft.io.TableIO.writeBucketed(df, graft.io.TableIO.Path(dir),
      bucketCol = "component", numBuckets = 8)
    val subdirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(subdirs.nonEmpty && subdirs.forall(_.matches("bucket=\\d+")))
    // round-trips with the bucket column readable as a partition column
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.columns.contains("bucket"))
  }

  test("per-partition lineage metrics persist alongside the checkpoint " +
      "and survive a resume (S5)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lineage").toString
    val (pages, _) = PagesGen.generate(spark, nBase = 30, seed = 5L)
    val config = Dedupe.Config(SparkEntry.demoModel,
      checkpointDir = Some(dir), collectMetrics = true)
    val run = Dedupe.run(spark, pages.toDF(), config)
    // scoring metrics persisted alongside (one-row stage-count table)
    val runMetrics = spark.read.parquet(s"$dir/metrics/run").collect()
    assert(runMetrics.length == 1)
    assert(runMetrics(0).getAs[Long]("records") == run.metrics.records)
    assert(runMetrics(0).getAs[Long]("candidatePairs") == run.metrics.candidatePairs)
    for (stage <- Seq("scored_pairs", "labels")) {
      val m = spark.read.parquet(s"$dir/metrics/$stage")
      assert(m.columns.toSet == Set("partition_id", "n_rows", "stage"))
      val total = m.agg(sum("n_rows")).collect()(0).getLong(0)
      assert(total > 0, s"$stage lineage rows")
    }
    val pairRows = spark.read.parquet(s"$dir/pairs").count()
    val lineageTotal = spark.read.parquet(s"$dir/metrics/scored_pairs")
      .agg(sum("n_rows")).collect()(0).getLong(0)
    assert(lineageTotal == pairRows, "lineage counts == snapshot rows")
    // resume must not destroy the fresh run's lineage record
    Dedupe.resumeFromPairs(spark, pages.toDF(), config)
    assert(spark.read.parquet(s"$dir/metrics/scored_pairs").count() > 0)
  }

  test("ephemeral snapshots resolve to a shared-FS scratch, never a " +
      "driver-local default on a non-local master") {
    // explicit scratch dir wins regardless of master
    assert(Snapshot.resolveBase("spark://host:7077",
      Some("hdfs:///scratch")).contains("hdfs:///scratch"))
    // local master may fall back to the driver-local tmpdir
    assert(Snapshot.resolveBase("local[4]", None).exists(_.startsWith("file:")))
    // a cluster master without a shared scratch resolves NO base —
    // executors writing to their own local disks is silent data
    // corruption — and a run scope fails fast there
    assert(Snapshot.resolveBase("spark://host:7077", None).isEmpty)
    assert(Snapshot.resolveBase("yarn", None).isEmpty)
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    intercept[IllegalStateException] {
      Snapshot.under("yarn", df, "testsnap", new Snapshot.Run(None),
        required = false, widen = false, reader = None)
    }
    // end-to-end: with spark.graft.scratchDir set, the snapshot lands there
    val scratch = java.nio.file.Files.createTempDirectory("graft_scratch").toString
    spark.conf.set("spark.graft.scratchDir", scratch)
    try {
      val back = Snapshot(df, "testsnap")
      assert(back.count() == 2)
      val staged = new java.io.File(scratch).listFiles()
        .filter(_.getName.startsWith("graft_testsnap_"))
      assert(staged.nonEmpty, "snapshot written under the configured scratch")
    } finally spark.conf.unset("spark.graft.scratchDir")
  }

  test("readBucketed hides the path-layout bucket column (S4 schema parity)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed_r").toString
    val df = spark.range(0, 100).toDF("id").withColumn("component", col("id") % 7)
    graft.io.TableIO.writeBucketed(df, graft.io.TableIO.Path(dir),
      bucketCol = "component", numBuckets = 4)
    val back = graft.io.TableIO.readBucketed(spark, graft.io.TableIO.Path(dir))
    assert(!back.columns.contains("bucket"))
    assert(back.count() == 100)
  }

  test("resume without a checkpoint dir is rejected") {
    val (pages, _) = PagesGen.generate(spark, nBase = 5, seed = 7L)
    intercept[IllegalArgumentException] {
      Dedupe.resumeFromPairs(spark, pages.toDF(),
        Dedupe.Config(SparkEntry.demoModel))
    }
  }
}
