package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.PagesGen
import graft.io.Snapshot
import graft.pipeline.{Dedupe, Gazetteer}

/** Stage-level timing of the gazetteer match path (scratch diagnostics). */
object GazProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").appName("graft-gaz-profile")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", (cpus * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def t(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"GAZPROF $tag=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    val pages = PagesGen.fromDocuments(spark, sfDir)
    var prepared: DataFrame = null
    t("prepare_snap") {
      prepared = Snapshot(Dedupe.prepare(pages).drop("html"), "gp")
    }
    val canon = prepared.filter(!col("url").endsWith("-v1"))
    val messy = prepared.filter(col("url").endsWith("-v1"))
    val config = Gazetteer.Config(graft.SparkEntry.demoModel, nMatches = 1, maxCanonBlockSize = 200)
    var index: Gazetteer.CanonIndex = null
    t("index") { index = Gazetteer.buildCanonIndex(canon, config, persist = true); force(index.blocks); force(index.fields) }
    val model = config.model
    val messyBlocks = graft.block.Blocking.blockingMap(messy, model.predicates, "id")
      .withColumnRenamed("id", "messy_id")
    var pairs: DataFrame = null
    t("pairs") {
      pairs = Snapshot(messyBlocks.join(broadcast(index.blocks), "block_key")
        .select(col("messy_id").as("id1"), col("canon_id").as("id2"))
        .dropDuplicates("id1", "id2"), "gp_pairs")
      println("GAZPROF n_pairs=" + pairs.count())
    }
    val fields = Dedupe.requiredFields(model.featureNames)
    val m = messy.select(col("id").as("id1") +: fields.map(f => col(f).as(s"${f}_1")): _*)
    val attached = pairs.join(m, "id1").join(broadcast(index.fields), "id2")
    var scored: DataFrame = null
    t("score") {
      scored = Snapshot(
        graft.score.Scoring.scorePairs(attached, model).filter(col("score") >= model.threshold), "gp_scored")
    }
    t("rank") {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("id1")).orderBy(col("score").desc, col("id2"))
      force(scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= config.nMatches))
    }
    spark.stop()
  }
}
