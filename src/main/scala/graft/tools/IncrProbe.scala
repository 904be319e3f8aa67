package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.textops.TextOps

/** Scratch diagnostic: stage-level timing of q_incr_neardup's plan. */
object IncrProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .appName("graft-incrprobe")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", "64")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time(tag: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime(); f
      println(f"INCRPROBE $tag=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .repartition(spark.sparkContext.defaultParallelism)
    val corpus = docs.filter(col("doc_id") % 4 =!= 0)
    val donors = docs.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") - 1).as("doc_id"), col("text").as("dtext"))
    val batch = docs.filter(col("doc_id") % 4 === 0).join(donors, Seq("doc_id"))
      .select((col("doc_id") + 5000000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("dtext"))
          .when(col("doc_id") % 3 === 1,
            concat(col("dtext"), lit(" appended recrawl banner tail")))
          .otherwise(col("text")).as("text"))
    time("batch_build") { batch.write.format("noop").mode("overwrite").save() }
    val corpusSigs = TextOps.minhashSignatures(corpus, "doc_id", "text")
    time("corpus_sigs") { corpusSigs.write.format("noop").mode("overwrite").save() }
    time("full_op") {
      TextOps.neardupAgainstCorpus(batch, corpusSigs, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    time("full_op_again") {
      TextOps.neardupAgainstCorpus(batch, corpusSigs, "doc_id", "text")
        .write.format("noop").mode("overwrite").save()
    }
    // the operator's state is library-pool scratch, reclaimed
    // here (SparkEntry's pairCache/scoredCache are never populated by
    // this probe, so clearing those would be a no-op)
    graft.pipeline.Dedupe.reclaimLibraryScratch(spark)
    // prebuilt thin index path for comparison
    val idx = TextOps.minhashBandKeys(corpusSigs)
    time("prebuilt_thin") {
      TextOps.neardupAgainstCorpus(batch, corpusSigs, "doc_id", "text",
        corpusIndex = Some(idx))
        .write.format("noop").mode("overwrite").save()
    }
    spark.stop()
  }
}
