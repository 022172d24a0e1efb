package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A timed interval around one call into the program. Top-level spans
  * (`parent == -1`) are the workload's timed units; nested spans split a
  * unit into the public calls it makes. Wall-clock bounds are epoch
  * milliseconds, the clock Spark stamps its job events with, so jobs can
  * be attributed to spans by time window; `durNs` is the precise length. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    endMs: Long, durNs: Long, traced: Boolean, ok: Boolean,
    attrs: Map[String, Any])

/** Everything the listener saw of one Spark job. Task metrics are summed
  * over the stages that ran for it; skipped stages contribute nothing. */
final class JobRecord(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  val stages = mutable.Set.empty[Int]
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L

  def toMap: Map[String, Any] = Map(
    "id" -> id, "start_ms" -> startMs, "end_ms" -> endMs,
    "stages" -> stages.size, "tasks" -> tasks, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs, "input_rows" -> inputRows,
    "input_bytes" -> inputBytes, "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "peak_exec_mem" -> peakExecMem)
}

/** Records jobs, the stages that ran for them and their task metrics.
  * Which span a job belongs to is decided later from its time window,
  * never from Spark local properties: the profiler submits jobs from
  * pooled threads that may carry stale inherited properties. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.Map.empty[Int, JobRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRecord(e.jobId, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(_.stages += e.stageInfo.stageId)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inputRows += m.inputMetrics.recordsRead
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
    }
  }
}

/** Times the benchmark's calls into the program. With tracing on, the
  * listener is attached only for traced units, and after each one the
  * listener bus is drained before the listener is detached, so every
  * event of the unit's jobs has been recorded. */
final class Recorder(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new JobListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private var tracing = false

  /** One top-level timed unit. A throw marks the span failed and returns
    * None; the benchmark counts it and carries on. */
  def unit[T](name: String, traced: Boolean, attrs: Map[String, Any] = Map.empty)(
      f: => T): Option[T] = {
    if (traced) sc.addSparkListener(listener)
    tracing = traced
    val r =
      try Some(spanWith[T](name, _ => attrs)(f))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name ${attrs.mkString(" ")} failed: $e")
        None
      }
    if (traced) {
      PerfbenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    tracing = false
    r
  }

  def span[T](name: String)(f: => T): T = spanWith[T](name, _ => Map.empty)(f)

  /** A span whose attributes are read off the call's result, after the
    * clock has stopped. */
  def spanWith[T](name: String, attrsOf: T => Map[String, Any])(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var result: Option[T] = None
    try {
      result = Some(f)
      result.get
    } finally {
      val durNs = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      open = open.tail
      spans += Span(id, parent, name, startMs, endMs, durNs, tracing,
        result.isDefined, result.map(attrsOf).getOrElse(Map.empty))
    }
  }

  def jobs: Seq[Map[String, Any]] = listener.synchronized {
    listener.jobs.values.map(_.toMap).toSeq
  }
}
