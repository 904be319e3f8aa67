package graft.tools

import graft.fixtures.PagesGen
import graft.pipeline.Dedupe

/** Data-volume scaling run: the flagship pipeline over PagesGen.scaled at
  * increasing replica counts, reporting rows / candidate pairs / wall
  * seconds / rows-per-second per point (scratch diagnostics; the measured
  * points are quoted in BASELINE.md). */
object ScaleRun {
  def main(args: Array[String]): Unit = {
    val replicaPoints =
      if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(10, 40)
    // SPARK_GRAFT_CODEC=zstd swaps the shuffle/scratch compression codec
    // (default lz4) — the knob for testing whether a throughput dip is
    // single-disk shuffle I/O (zstd ~2x smaller spill at some CPU cost)
    val spark = Prof.session("graft-scale-run", b =>
      sys.env.get("SPARK_GRAFT_CODEC").fold(b)(c =>
        b.config("spark.io.compression.codec", c)))
    // SPARK_GRAFT_SCALE_MODEL=combo swaps the flagship model's plain
    // 4×16-bit simhash banding for block-combination banding (b=6, k=3,
    // 20 keys of >=31 bits): the demoModel curve carries an O(n²/2^16)
    // chance-collision pair component that turns superlinear at megadoc
    // volume; the combo curve shows the same pipeline with that component
    // suppressed — the configuration a crawl-scale deployment would run.
    val model =
      if (sys.env.get("SPARK_GRAFT_SCALE_MODEL").contains("combo"))
        graft.SparkEntry.demoModel.copy(predicates = Seq(
          graft.model.PredicateSpec("token", "text_norm"),
          graft.model.PredicateSpec("simhash_combo", "text", n = 3, bands = 6)))
      else graft.SparkEntry.demoModel
    replicaPoints.foreach { r =>
      val pages = PagesGen.scaled(spark, Prof.sfDir, r)
      val t0 = System.nanoTime()
      val res = Dedupe.run(spark, pages, Dedupe.Config(
        model, collectMetrics = true))
      // force the full result surface (entity map + canon), like a real run
      res.entityMap.write.format("noop").mode("overwrite").save()
      res.canon.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val m = res.metrics
      val line =
        f"""SCALE {"replicas":$r,"rows":${m.records},"pairs":${m.candidatePairs},""" +
        f""""entities":${m.entities},"secs":$secs%.1f,"rows_per_sec":${(m.records / secs).toLong}}"""
      ProbeOut.emit(line)
      // reclaim this point's run-scoped scratch before the next one — four
      // volume points in one JVM would otherwise stack ~input-sized
      // snapshots until the disk fills (deleteOnExit is JVM-exit only;
      // the 2M point died on ENOSPC exactly this way)
      Dedupe.cleanupScratch(spark, res)
    }
    spark.stop()
  }
}
