package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * The one way a frame is written to scratch parquet and read back (the
 * reference keeps these intermediates as Postgres tables, `processed_{sid}`
 * and `block_{sid}`†), so a frame consumed by several downstream actions
 * does not re-execute its DAG per consumer. Parquet, NOT localCheckpoint or
 * cache: a deserialized block cache of tens of millions of rows reads back
 * ~20× slower (measured ~140k vs ~3M rows/s) and pins the heap.
 *
 * One policy:
 *  - base: `spark.graft.scratchDir` (any Hadoop-FS URI), else java.io.tmpdir
 *    on a LOCAL master only — on a cluster, executors would write to their
 *    own disks and the read-back would see garbage. A [[Run]]'s base
 *    overrides both.
 *  - write: the frame as it is. No partition-count probe: under AQE a probe
 *    of a lazy plan runs its shuffle stages once more.
 *  - read-back: `widen` applies [[widen]] to the file scan read back, never
 *    to a lazy plan; layout-sensitive callers leave it off.
 *  - no base: a [[Pool]] call persists the frame (MEMORY_AND_DISK) instead,
 *    so one computation still serves every consumer; `required` callers
 *    (whose correctness depends on one materialization) and [[Run]]s fail
 *    fast.
 *  - reclaim: through the scope — the JVM-wide [[library]] pool or a
 *    per-run directory; written directories are also deleted at JVM exit.
 *  - job labels: the write's jobs carry `graft: <tag> snapshot`, then the
 *    caller's job description is restored.
 */
private[graft] object Snapshot {

  /** Snapshots reclaimed together. */
  sealed abstract class Scope {
    /** Directory for the next snapshot; None to persist instead. */
    private[Snapshot] def place(spark: SparkSession, master: String,
        tag: String, required: Boolean): Option[Path]
    private[Snapshot] def taken(t: Either[DataFrame, (FileSystem, Path)]): Unit = ()
    def reclaim(): Unit
  }

  /** Snapshots placed one directory each under the base resolved per call.
    * [[reclaim]] deletes and unpersists them — only once no frame taken
    * here is still to be consumed (they read their paths lazily). An entry
    * is dropped only after its delete succeeds, so a failed delete can be
    * retried. */
  final class Pool extends Scope {
    private val held = scala.collection.mutable.ListBuffer[Either[DataFrame, (FileSystem, Path)]]()

    private[Snapshot] def place(spark: SparkSession, master: String,
        tag: String, required: Boolean): Option[Path] = {
      val base = resolveBase(master, configured(spark))
      if (base.isEmpty && required) throw noBase(tag, master)
      base.map(new Path(_, name(tag)))
    }

    override private[Snapshot] def taken(t: Either[DataFrame, (FileSystem, Path)]): Unit = {
      t.foreach { case (fs, p) => fs.deleteOnExit(p) }
      synchronized { held += t }
    }

    def reclaim(): Unit = synchronized(held.toList).foreach { t =>
      t.fold(_.unpersist(), { case (fs, p) => fs.delete(p, true) })
      synchronized { held -= t }
    }
  }

  /** One logical run's snapshots under ONE directory, created on first use
    * (one deleteOnExit registration, one delete reclaims all). */
  final class Run(base: Option[String]) extends Scope {
    @volatile private var created: Option[(FileSystem, Path)] = None

    /** The run directory, once a snapshot has been taken. */
    def dir: Option[String] = created.map(_._2.toString)

    private[Snapshot] def place(spark: SparkSession, master: String,
        tag: String, required: Boolean): Option[Path] = synchronized {
      if (created.isEmpty) {
        val b = resolveBase(master, base.orElse(configured(spark)))
          .getOrElse(throw noBase(tag, master))
        val p = new Path(b, name("run"))
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(p) // deleteOnExit skips a path that does not exist yet
        fs.deleteOnExit(p)
        created = Some((fs, p))
      }
      created.map { case (_, d) => new Path(d, name(tag)) }
    }

    def reclaim(): Unit = synchronized {
      created.foreach { case (fs, p) => fs.delete(p, true) }
      created = None
    }
  }

  /** The library operators' JVM-wide pool (`Dedupe.reclaimLibraryScratch`). */
  val library: Pool = new Pool

  /** Materialize `df` in `scope` and read it back through `reader` (default:
    * the frame's own session). `required` fails fast instead of persisting
    * when no base resolves; `widen` applies [[widen]] to the read-back. */
  def apply(df: DataFrame, tag: String, scope: Scope = library,
      required: Boolean = false, widen: Boolean = false,
      reader: Option[SparkSession] = None): DataFrame =
    under(df.sparkSession.sparkContext.master, df, tag, scope, required, widen, reader)

  /** [[apply]] resolving the base as if under `master` (the test seam for
    * the no-base branch). */
  def under(master: String, df: DataFrame, tag: String,
      scope: Scope, required: Boolean, widen: Boolean,
      reader: Option[SparkSession]): DataFrame = {
    val spark = df.sparkSession
    scope.place(spark, master, tag, required) match {
      case None =>
        scope.taken(Left(df.persist(StorageLevel.MEMORY_AND_DISK)))
        df
      case Some(path) =>
        val sc = spark.sparkContext
        labelJobs(spark, s"graft: $tag snapshot")(
          df.write.mode("overwrite").parquet(path.toString))
        scope.taken(Right((path.getFileSystem(sc.hadoopConfiguration), path)))
        val back = reader.getOrElse(spark).read.parquet(path.toString)
        if (widen) Snapshot.widen(back) else back
    }
  }

  /** Run `body` with its jobs described as `label`, then restore the
    * caller's job description. */
  def labelJobs[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  /** Scan-parallelism floor for a parquet read-back: a snapshot written as
    * fewer files than cores scans as that many tasks (one row group per
    * file), and every per-row kernel downstream would run that narrow. One
    * round-robin shuffle restores full width; a scan of enough files (the
    * 100 TB case) passes untouched. Only the scan's file listing is read —
    * nothing executes. Callers must be row-order-insensitive. */
  def widen(scan: DataFrame): DataFrame = {
    val width = scan.sparkSession.sparkContext.defaultParallelism
    if (scan.inputFiles.length < width) scan.repartition(width) else scan
  }

  /** `configured`, else the driver-local tmpdir on a local master. */
  def resolveBase(master: String,
      configured: Option[String]): Option[String] =
    configured.orElse(Option.when(master.startsWith("local"))(
      "file:" + System.getProperty("java.io.tmpdir")))

  /** Delete a scratch directory recursively. */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def configured(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.scratchDir").filter(_.nonEmpty)

  private def name(tag: String): String =
    s"graft_${tag}_${java.util.UUID.randomUUID().toString.take(12)}"

  private def noBase(tag: String, master: String) = new IllegalStateException(
    s"$tag needs a scratch snapshot, but master '$master' has no shared-FS " +
      "scratch: set spark.graft.scratchDir (or Config.checkpointDir for " +
      "pipeline runs) to an hdfs://-style URI, or run on a local master")
}
