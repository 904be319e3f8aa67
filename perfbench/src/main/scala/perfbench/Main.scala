package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/**
 * Benchmark entry point:
 *
 *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --scratch <dir>
 *
 * With `--trace 0` a workload is timed end to end through the library's
 * public entry points; with `--trace 1` it is replayed layer by layer under
 * a [[Tracer]]. Either way the outputs are checked, and the last line on
 * stdout is one JSON object: correct, attempted, failed, metrics.
 */
object Main {

  case class Metric(name: String, value: Double, unit: String)

  case class Outcome(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric])

  /** What every workload is handed. All files go under `scratch`. */
  case class Ctx(spark: SparkSession, cores: Int, scratch: File, seed: Long,
      seconds: Double) {
    def dir(name: String): String = new File(scratch, name).getAbsolutePath
  }

  trait Workload {
    def timed(ctx: Ctx): Outcome
    def traced(ctx: Ctx): Outcome
  }

  val workloads: Map[String, Workload] = Map(
    "dedupe_dense" -> DedupeWorkload,
    "match_ingest" -> MatchWorkload)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = args.getOrElse(k, usage(s"missing --$k"))
    val workload = workloads.getOrElse(need("workload"), usage(s"unknown workload ${args("workload")}"))
    val scratch = new File(need("scratch")).getAbsoluteFile
    scratch.mkdirs()
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = session(cores, scratch)
    val ctx = Ctx(spark, cores, scratch, need("seed").toLong, need("seconds").toDouble)
    val out =
      try if (need("trace") == "1") workload.traced(ctx) else workload.timed(ctx)
      finally spark.stop()
    println(json(out))
    System.out.flush()
    sys.exit(if (out.correct) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --scratch <dir>")
    sys.exit(2)
  }

  /** Bench's session shape at `local[cores]`: 4x cores shuffle partitions,
    * AQE never coalescing below 2x cores. */
  def session(cores: Int, scratch: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum", (cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .config("spark.graft.scratchDir", "file:" + new File(scratch, "graft").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- measurement helpers

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** How often a workload repeats its set-up; the median time is reported. */
  val setupRepeats = 3

  /** Run `op` `repeats` times and return the median time with the last result. */
  def medianOf[T](repeats: Int)(op: => T): (T, Double) = {
    val runs = (1 to repeats).map(_ => time(op))
    (runs.last._1, median(runs.map(_._2)))
  }

  /** The measured loop: run `op` until `seconds` have passed and it ran
    * at least `minOps` times. A full collection before each operation keeps
    * the previous one's garbage out of its timing. */
  def loopFor[T](seconds: Double, minOps: Int = 1)(op: Int => T): Seq[T] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Seq.newBuilder[T]
    var i = 0
    while (i < minOps || System.nanoTime() < deadline) {
      System.gc()
      out += op(i); i += 1
    }
    out.result()
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  // ---- output

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def json(o: Outcome): String = {
    val ms = o.metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    s"""{"correct": ${o.correct}, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$ms}}"""
  }

  /** Human-readable line; stdout, never the last line. */
  def note(msg: String): Unit = println(s"perfbench: $msg")

  /** The per-layer block of a traced run: the nine counters of every layer
    * (median over traced iterations; zero where the workload has no such
    * layer), then the layer-specific extras. */
  def layerOutcome(ctx: Ctx, iterations: Seq[Seq[(String, Tracer.Acc)]],
      extras: Seq[Metric], attempted: Long, failed: Long): Outcome = {
    val perIter = iterations.map { spans =>
      val byLayer = spans.toMap
      Tracer.layers.flatMap { layer =>
        Tracer.layerMetrics(byLayer.getOrElse(layer, new Tracer.Acc), ctx.cores)
          .map { case (m, v) => (s"$layer.$m", v) }
      }
    }
    val generic = perIter.head.indices.map { i =>
      val name = perIter.head(i)._1
      val unit =
        if (name.endsWith("_s")) "s"
        else if (name.endsWith("_bytes")) "bytes"
        else if (name.endsWith("core_util")) "ratio"
        else "count"
      Metric(name, median(perIter.map(_(i)._2)), unit)
    }
    Outcome(failed == 0, attempted, failed, generic ++ extras)
  }
}
