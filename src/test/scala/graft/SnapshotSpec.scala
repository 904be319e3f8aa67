package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.io.Snapshot
import graft.pipeline.Dedupe

/** The scratch-snapshot policy (graft.io.Snapshot): degraded no-scratch
  * path under AQE, fail-fast callers, and job labels. */
class SnapshotSpec extends SparkSpec {

  private val cluster = "spark://host:7077" // resolves no scratch base

  /** A shuffling upstream whose UDF counts every row it evaluates. */
  private def counted(): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("snapshot_upstream_rows")
    val tick = udf { (x: Long) => acc.add(1L); x % 7 }
    val df = spark.range(0, 200, 1, 4)
      .select(tick(col("id")).as("k"), col("id"))
      .groupBy("k").agg(sum("id").as("s"))
    (df, acc)
  }

  private def withAqe[T](f: => T): T = {
    val prev = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try f
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("no scratch base: a best-effort snapshot runs its upstream once " +
      "for two consumers, and reclaimLibraryScratch unpersists it") {
    withAqe {
      val (df, acc) = counted()
      val snap = Snapshot.under(cluster, df, "degraded", Snapshot.library,
        required = false, widen = true, reader = None)
      assert(snap.count() == 7)
      assert(snap.agg(sum("s")).collect()(0).getLong(0) == (0L until 200L).sum)
      assert(acc.value == 200L, s"upstream evaluated ${acc.value} rows, not once")
      assert(snap.storageLevel == StorageLevel.MEMORY_AND_DISK)
      Dedupe.reclaimLibraryScratch(spark)
      assert(snap.storageLevel == StorageLevel.NONE)
    }
  }

  test("no scratch base: a required snapshot fails fast naming " +
      "spark.graft.scratchDir") {
    withAqe {
      val (df, acc) = counted()
      val e = intercept[IllegalStateException] {
        Snapshot.under(cluster, df, "required_in", Snapshot.library,
          required = true, widen = false, reader = None)
      }
      assert(e.getMessage.contains("spark.graft.scratchDir"))
      assert(acc.value == 0L, "nothing may execute before failing")
    }
  }

  test("snapshot writes carry a graft job label and restore the caller's") {
    val seen = spark.sparkContext.collectionAccumulator[String]("job_labels")
    val label = udf { (x: Long) =>
      seen.add(String.valueOf(org.apache.spark.TaskContext.get()
        .getLocalProperty("spark.job.description")))
      x
    }
    val sc = spark.sparkContext
    sc.setJobDescription("caller job")
    try {
      Snapshot(spark.range(0, 4, 1, 2).select(label(col("id")).as("id")),
        "labelled").count()
      assert(sc.getLocalProperty("spark.job.description") == "caller job")
      import scala.jdk.CollectionConverters._
      assert(seen.value.asScala.toSet == Set("graft: labelled snapshot"))
    } finally sc.setJobDescription(null)
  }

  test("Dedupe.run keeps the caller's job description") {
    val (pages, _) = graft.fixtures.PagesGen.generate(spark, nBase = 10, seed = 3L)
    val sc = spark.sparkContext
    sc.setJobDescription("caller job")
    try {
      val r = Dedupe.run(spark, pages.toDF(),
        Dedupe.Config(SparkEntry.demoModel, collectMetrics = false))
      assert(sc.getLocalProperty("spark.job.description") == "caller job")
      Dedupe.cleanupScratch(spark, r)
    } finally sc.setJobDescription(null)
  }
}
