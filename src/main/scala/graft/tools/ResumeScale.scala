package graft.tools

import org.apache.spark.sql.functions._
import graft.fixtures.PagesGen
import graft.pipeline.Dedupe

/**
 * Resume-at-volume measurement (the BASELINE.md resumability row's
 * composed evidence): three phases run as SEPARATE JVMs so the
 * interruption is a real process death, not a simulated exception.
 *
 *   interrupted — run the flagship pipeline with a checkpoint dir; a
 *     watcher thread polls for the scored-pairs snapshot's _SUCCESS and
 *     `Runtime.halt`s the JVM the moment it lands (no shutdown hooks,
 *     no cleanup — the hard-kill semantics of an executor host dying),
 *     leaving behind exactly what a dead cluster run leaves: the pairs
 *     parquet + lineage, no entity map.
 *   resume — fresh JVM: `Dedupe.resumeFromPairs` over the SAME
 *     deterministic input (PagesGen.scaled is a pure function of the
 *     seed-fixed sf dir), digesting the entity map.
 *   full — fresh JVM: uninterrupted `Dedupe.run`, same digest.
 *
 * The digest is order-free and exact (count + bit_xor of
 * xxhash64(url, component, confidence@6dp)), so "identical output" is
 * checked at full volume without collecting a megarow map. The bash
 * harness (RESUME_r5.json) records the kill exit code, both digests,
 * and the phase wall times.
 */
object ResumeScale {
  def main(args: Array[String]): Unit = {
    val phase = args(0)
    val ckptDir = args(1)
    val replicas = if (args.length > 2) args(2).toInt else 100
    val spark = Prof.session(s"graft-resume-$phase")
    val pages = PagesGen.scaled(spark, Prof.sfDir, replicas)
    val config = Dedupe.Config(graft.SparkEntry.demoModel,
      checkpointDir = Some(ckptDir), collectMetrics = false)

    def digest(entityMap: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = entityMap.select(
        count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(url, component, " +
          "round(confidence, 6)))"), lit(0L)).as("h"),
        countDistinct(col("component")).as("entities")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    phase match {
      case "interrupted" =>
        val watcher = new Thread(() => {
          val p = new org.apache.hadoop.fs.Path(s"$ckptDir/pairs/_SUCCESS")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          while (!fs.exists(p)) Thread.sleep(200)
          // the snapshot is durable; die like a lost host, mid-clustering
          System.err.println("[resume-scale] pairs snapshot landed; halting JVM")
          Runtime.getRuntime.halt(137)
        })
        watcher.setDaemon(true)
        watcher.start()
        val res = Dedupe.run(spark, pages, config)
        res.entityMap.write.format("noop").mode("overwrite").save()
        // reaching here means the watcher lost the race — that run would
        // be a no-test; fail loudly so the harness retries
        ProbeOut.emit("""RESUME {"phase":"interrupted","error":"completed_before_kill"}""")
        sys.exit(1)
      case "resume" =>
        val t0 = System.nanoTime()
        val res = Dedupe.resumeFromPairs(spark, pages, config)
        val (n, h, e) = digest(res.entityMap)
        val secs = (System.nanoTime() - t0) / 1e9
        ProbeOut.emit(f"""RESUME {"phase":"resume","rows":$n,"entities":$e,"digest":$h,"secs":$secs%.1f}""")
      case "full" =>
        val t0 = System.nanoTime()
        val res = Dedupe.run(spark, pages, config.copy(checkpointDir = None))
        val (n, h, e) = digest(res.entityMap)
        val secs = (System.nanoTime() - t0) / 1e9
        ProbeOut.emit(f"""RESUME {"phase":"full","rows":$n,"entities":$e,"digest":$h,"secs":$secs%.1f}""")
        Dedupe.cleanupScratch(spark, res)
    }
    spark.stop()
  }
}
