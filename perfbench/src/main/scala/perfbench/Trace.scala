package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Layer spans with Spark counters attached. A span tags every job it
 * submits with a local property; a SparkListener charges each task's CPU,
 * shuffle writes and spill to the span of the job that ran it, and a
 * QueryExecutionListener charges each query's planning phases to the open
 * span. The listener bus is drained at both span boundaries, so no event
 * is charged to a neighbour. Work outside any span is not counted.
 */
final class Tracer(spark: SparkSession) {
  import Tracer.Acc

  private val prop = "perfbench.span"
  private val sc = spark.sparkContext
  private var accs = mutable.LinkedHashMap[String, Acc]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile private var open: String = null

  private def acc(name: String): Acc = accs.synchronized(accs.getOrElseUpdate(name, new Acc))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(prop))).foreach { s =>
        acc(s).jobs += 1
        e.stageIds.foreach(stageSpan.put(_, s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val a = acc(s)
        a.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Option(open).foreach { s =>
        acc(s).planMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Run `f` as one call of layer `name`. `rows` counts the layer's output
    * rows after the span has closed, so the count is not charged to it. */
  def span[T](name: String)(f: => T)(rows: T => Long = (_: T) => 0L): T = {
    PerfbenchBridge.drainListenerBus(sc)
    open = name
    sc.setLocalProperty(prop, name)
    val t0 = System.nanoTime()
    val out = try f finally {
      val dt = System.nanoTime() - t0
      sc.setLocalProperty(prop, null)
      PerfbenchBridge.drainListenerBus(sc)
      open = null
      acc(name).wallNs += dt
    }
    acc(name).rowsOut += rows(out)
    out
  }

  /** The accumulated spans since the last take, in first-opened order. */
  def take(): Seq[(String, Acc)] = accs.synchronized {
    val out = accs.toSeq
    accs = mutable.LinkedHashMap[String, Acc]()
    stageSpan.clear()
    out
  }
}

object Tracer {

  /** One layer's counters, summed over the calls of its span. */
  final class Acc {
    var wallNs = 0L; var cpuNs = 0L; var jobs = 0L; var tasks = 0L
    var planMs = 0L; var shuffleWrite = 0L; var spill = 0L; var rowsOut = 0L
  }

  /** Layers in pipeline order; every traced run reports all of them (zero
    * when the workload does not reach the layer). */
  val layers: Seq[String] = Seq("pipeline.prepare", "block", "pairs", "score",
    "cluster.cc", "cluster.canon", "gazetteer.index", "gazetteer.match",
    "gazetteer.extend")

  /** The nine counters every layer reports. */
  def layerMetrics(a: Acc, cores: Int): Seq[(String, Double)] = {
    val wall = a.wallNs / 1e9
    val cpu = a.cpuNs / 1e9
    Seq("wall_s" -> wall, "task_cpu_s" -> cpu,
      "core_util" -> (if (wall > 0) cpu / (wall * cores) else 0.0),
      "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
      "planning_s" -> a.planMs / 1e3,
      "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
      "spill_bytes" -> a.spill.toDouble, "rows_out" -> a.rowsOut.toDouble)
  }
}
