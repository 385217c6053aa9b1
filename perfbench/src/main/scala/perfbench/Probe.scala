package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work counters, summed over the whole session: a SparkListener
  * for jobs, stages and task metrics, a QueryExecutionListener for
  * analysis + optimization + planning time, and Spark's codegen
  * metrics for compiles. Read them with [[snapshot]], which first
  * drains the listener bus, and subtract two snapshots to charge work
  * to the interval between them. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val c = scala.collection.mutable.LinkedHashMap[String, Double](
    Probe.Keys.map(_ -> 0.0): _*)
  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { add("jobs", 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("task_gc_s", m.jvmGCTime / 1e3)
      add("records_in", m.inputMetrics.recordsRead)
      add("records_out", m.outputMetrics.recordsWritten)
      add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
      add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    add("plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  def snapshot(): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount.toDouble
    synchronized(c.toMap) + ("codegen_compiles" -> compiles)
  }
}

object Probe {
  val Keys: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_s",
    "task_cpu_s", "task_gc_s", "plan_s", "records_in", "records_out",
    "shuffle_records", "shuffle_bytes", "spill_bytes")

  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU seconds, all threads (user + sys). */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** (steal, total) jiffies of the host from /proc/stat; zeros where
    * the file does not exist. */
  def cpuJiffies(): (Long, Long) =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat")
      try {
        val v = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (v.length > 7) v(7) else 0L, v.take(8).sum)
      } finally f.close()
    }.getOrElse((0L, 0L))

  /** Peak resident set (VmHWM) of this JVM in MiB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/self/status")
      try f.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally f.close()
    }.getOrElse(0.0)
}
