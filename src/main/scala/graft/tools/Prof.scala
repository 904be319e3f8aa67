package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.SparkEntry

/**
 * The one diagnostics main for contract queries (SparkEntry.queries) —
 * NOT part of the frozen driver contract: Bench.scala is the measured
 * surface; this gives per-query isolation numbers, per-job attribution
 * and plan dumps without touching the frozen harness.
 *
 * Usage:
 *   runMain graft.tools.Prof time q_a q_b ... — per-query noop-sink wall
 *     time plus executed job/stage/task counts and summed task time, after
 *     one untimed warm-up pass over all of them
 *   runMain graft.tools.Prof jobs q_a q_b ... — per-job wall time and
 *     label of each query's jobs that took ≥ 50 ms
 *   runMain graft.tools.Prof explain OUTDIR [_suffix] q_a q_b ... — write
 *     each query's .explain("formatted") to OUTDIR/<q><_suffix>.txt
 *   runMain graft.tools.Prof show q_a q_b ... — print each query's result
 *     (up to 500 rows, untruncated)
 *
 * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract and defaults as
 * Bench). The session is Bench's default session. Bench's 4m-split reader
 * session for the memo snapshots is NOT reproduced: every query is timed
 * under the default splits, so a memo-reading query can time slower here
 * than in Bench.
 */
object Prof {

  private[graft] def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Bench's default session at SPARK_GRAFT_CPUS: 4×cpus shuffle
    * partitions, AQE never coalescing below 2×cpus, UTC, no UI, ERROR
    * logs. `tune` adds settings before the session is created. */
  private[graft] def session(appName: String,
      tune: SparkSession.Builder => SparkSession.Builder = identity): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        (cpus * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private final class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += e.stageInfo.numTasks
      taskTimeMs += e.stageInfo.taskMetrics.executorRunTime
    }
  }

  /** (job id, seconds, label) of every job that ends while registered;
    * the label is the job description, else the first stage's name. */
  private final class JobTimes extends SparkListener {
    private val started =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Double, String)]())
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
      started.put(e.jobId, (e.time, desc.getOrElse(
        e.stageInfos.map(_.name.takeWhile(_ != '\n')).headOption.getOrElse("?"))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, name) = started.getOrDefault(e.jobId, (e.time, "?"))
      done.add((e.jobId, (e.time - t0) / 1e3, name))
    }
  }

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Runs `f` with `l` registered and returns its wall seconds. Listener
    * events drain asynchronously, so `l` stays registered `settleMs`
    * after `f` returns. */
  private def listened(spark: SparkSession, l: SparkListener, settleMs: Long)(
      f: => Unit): Double = {
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    f
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(settleMs)
    spark.sparkContext.removeSparkListener(l)
    sec
  }

  private def attempt(spark: SparkSession, sfDir: String, n: String,
      failTag: String): Unit =
    try force(SparkEntry.queries(n)(spark, sfDir))
    catch { case t: Throwable => println(s"$failTag $n: $t") }

  /** Runs one mode; returns the process exit code (2 = unknown mode). */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Int =
    args.toList match {
      case "time" :: names =>
        // one untimed warm-up pass absorbs JIT + parquet footer caching,
        // mirroring Bench's protocol
        names.foreach(attempt(spark, sfDir, _, "WARMUP FAIL"))
        SparkEntry.clearSnapshotCaches()
        names.foreach { n =>
          val c = new Counts
          spark.sparkContext.setJobDescription(n)
          val sec = listened(spark, c, 300)(attempt(spark, sfDir, n, "FAIL"))
          spark.sparkContext.setJobDescription(null)
          println(f"TIMED $n%-28s ${sec}%8.3f s  jobs=${c.jobs}%-4d " +
            f"stages=${c.stages}%-5d tasks=${c.tasks}%-6d taskTime=${c.taskTimeMs / 1000.0}%9.2f s")
        }
        0
      case "jobs" :: names =>
        // AQE turns each shuffle stage into a job, so this is effectively
        // a per-shuffle-stage profile of where a query's time goes
        names.foreach { n =>
          attempt(spark, sfDir, n, "WARMUP FAIL")
          SparkEntry.clearSnapshotCaches()
          val l = new JobTimes
          val sec = listened(spark, l, 400)(attempt(spark, sfDir, n, "FAIL"))
          println(f"JOBPROFILE $n total ${sec}%.3f s, ${l.done.size} jobs")
          l.done.forEach { case (id, dur, name) =>
            if (dur >= 0.05) println(f"  job $id%-4d ${dur}%7.3f s  $name")
          }
        }
        0
      case "explain" :: outDir :: rest =>
        val (suffix, names) = rest match {
          case s :: ns if s.startsWith("_") => (s, ns)
          case ns => ("", ns)
        }
        Files.createDirectories(Paths.get(outDir))
        names.foreach { n =>
          val txt = SparkEntry.queries(n)(spark, sfDir)
            .queryExecution.explainString(FormattedMode)
          Files.write(Paths.get(outDir, s"$n$suffix.txt"), txt.getBytes("UTF-8"))
          println(s"EXPLAINED $n -> $outDir/$n$suffix.txt")
        }
        0
      case "show" :: names =>
        names.foreach { n =>
          println(s"=== $n")
          SparkEntry.queries(n)(spark, sfDir).show(500, truncate = false)
        }
        0
      case other =>
        System.err.println(s"unknown args: $other — use 'time q...', " +
          "'jobs q...', 'explain DIR [_suffix] q...' or 'show q...'")
        2
    }

  def main(args: Array[String]): Unit = {
    val spark = session("graft-prof")
    val code = try run(spark, sfDir, args.toSeq) finally spark.stop()
    sys.exit(code)
  }
}
