package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark runtime counters, attached only to traced passes. Events arrive
  * asynchronously on the listener bus, so [[snapshot]] drains the bus
  * first; the difference of two snapshots is the work of the interval. */
final class SparkMeter extends SparkListener {
  private val adders = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "shuffle_write_bytes", "shuffle_records_written", "shuffle_read_bytes",
    "shuffle_fetch_wait_ms", "spill_bytes", "input_bytes", "input_records")
    .map(_ -> new LongAdder).toMap
  private val peakExec = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = adders("jobs").increment()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    adders("stages").increment()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    adders("tasks").increment()
    val m = e.taskMetrics
    if (m != null) {
      adders("task_run_ms").add(m.executorRunTime)
      adders("task_cpu_ns").add(m.executorCpuTime)
      adders("shuffle_write_bytes").add(m.shuffleWriteMetrics.bytesWritten)
      adders("shuffle_records_written").add(m.shuffleWriteMetrics.recordsWritten)
      adders("shuffle_read_bytes").add(m.shuffleReadMetrics.totalBytesRead)
      adders("shuffle_fetch_wait_ms").add(m.shuffleReadMetrics.fetchWaitTime)
      adders("spill_bytes").add(m.memoryBytesSpilled + m.diskBytesSpilled)
      adders("input_bytes").add(m.inputMetrics.bytesRead)
      adders("input_records").add(m.inputMetrics.recordsRead)
      peakExec.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  /** Counter totals so far, plus the peak task execution memory since the
    * previous snapshot. */
  def snapshot(sc: SparkContext): Map[String, Long] = {
    // a listener-bus stall degrades attribution, it must not abort the run
    try org.apache.spark.graft.ListenerFlush.waitUntilEmpty(sc)
    catch { case _: java.util.concurrent.TimeoutException => () }
    adders.map { case (k, a) => k -> a.sum } + ("peak_execution_bytes" -> peakExec.getAndSet(0))
  }
}

object SparkMeter {
  /** Interval counts between two snapshots; peak memory is already the
    * interval's own. */
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (if (k == "peak_execution_bytes") v else v - a(k)) }
}

/** Micro-batch progress of every streaming query in a traced pass,
  * recorded with the pass and query the runner is executing. */
final class StreamMeter(rec: Recorder) extends StreamingQueryListener {
  @volatile var pass: Int = -1
  @volatile var query: String = ""

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    rec.record("batch", Seq("pass" -> pass, "query" -> query, "rows" -> p.numInputRows) ++
      p.durationMs.asScala.toSeq.map { case (k, v) => ("ms_" + k) -> v.longValue } ++
      Seq("state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum): _*)
  }
}

/** Process-wide JVM counters: GC and JIT time, code-cache occupancy and
  * the resident-set high-water mark. */
object Jvm {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val comp = ManagementFactory.getCompilationMXBean

  def gcNames: String = gcBeans.map(_.getName).mkString("+")

  def snapshot(): Map[String, Double] = Map(
    "gc_s" -> gcBeans.map(_.getCollectionTime).sum / 1e3,
    "jit_s" -> (if (comp != null && comp.isCompilationTimeMonitoringSupported)
      comp.getTotalCompilationTime / 1e3 else 0.0),
    "codecache_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1e6)

  /** VmHWM from /proc/self/status, in MB (0 where procfs is absent). */
  def rssPeakMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  } catch { case _: java.io.IOException => 0.0 }
}
