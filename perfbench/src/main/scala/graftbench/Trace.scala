package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One traced interval. Times are epoch nanoseconds (see [[Tracer.now]]);
  * `parent` is -1 for a root. `layer` is the module the interval's own
  * time is charged to.
  */
final class Span(val id: Int, val parent: Int, val name: String,
    val layer: String, val start: Long) {
  var end: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def durNs: Long = end - start
}

/** Work one Spark job did, summed over its tasks. */
final class JobRec(val jobId: Int, val spanId: Int, val callSite: String,
    val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Counts jobs, stages, tasks and bytes. Each job is attributed to the
  * span that was open on the submitting thread, through the local
  * property [[Tracer.SpanProp]] the benchmark sets around every phase.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    // the result stage is created last; its name is the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = new JobRec(e.jobId, span, site, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.inputRows += m.inputMetrics.recordsRead
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Jobs finished since the last call, in submission order. */
  def take(): Seq[JobRec] = synchronized {
    val out = jobs.values.toSeq
    jobs.clear()
    stageJob.clear()
    out
  }
}

/** Bytes tasks wrote to local disk: shuffle files and spills. Cheap
  * enough for untraced runs, where it gives the registry's `disk_mb`.
  */
final class DiskWrites extends SparkListener {
  @volatile var bytes = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      bytes += m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled
    }
}

/** JVM-wide cumulative counters, read before and after an operation. */
final case class JvmSnap(gcMs: Long, jitMs: Long, codegenN: Long, codegenNs: Long,
    rddsPinned: Int, storageBytes: Long)

object JvmSnap {
  def gcMillis(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  def apply(sc: SparkContext): JvmSnap = {
    val c = ManagementFactory.getCompilationMXBean
    val jit = if (c != null && c.isCompilationTimeMonitoringSupported)
      c.getTotalCompilationTime else 0L
    val storage = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    JvmSnap(gcMillis(), jit,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      sc.getPersistentRDDs.size, storage)
  }
}

/** In-memory span recorder. When `on` is false every method runs its
  * body and records nothing: the untraced run pays for none of its
  * listener, local properties or counter snapshots.
  */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val sc = spark.sparkContext
  private var stack: List[Span] = Nil
  private val listener = new JobListener
  if (on) sc.addSparkListener(listener)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = open(name, layer)
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        close(s)
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  private def open(name: String, layer: String): Span = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      name, layer, Tracer.now())
    spans += s
    stack = s :: stack
    s
  }

  private def close(s: Span): Unit = {
    s.end = Tracer.now()
    stack = stack.tail
  }

  /** A root operation span: JVM counters and pinned RDDs are read around
    * it, and the jobs its phases ran become child spans of those phases.
    * Returns the body's value and the root span (null when untraced).
    */
  def op[T](name: String)(body: => T): (T, Span) =
    if (!on) (body, null)
    else {
      val before = JvmSnap(sc)
      val s = open(name, "op")
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      val out =
        try body
        finally {
          close(s)
          sc.setLocalProperty(Tracer.SpanProp, prev)
        }
      org.apache.spark.graftbench.Bus.drain(sc)
      val after = JvmSnap(sc)
      s.attrs("gc_ms") = (after.gcMs - before.gcMs).toDouble
      s.attrs("jit_ms") = (after.jitMs - before.jitMs).toDouble
      s.attrs("codegen_compiles") = (after.codegenN - before.codegenN).toDouble
      s.attrs("codegen_ms") = (after.codegenNs - before.codegenNs) / 1e6
      s.attrs("rdds_pinned_delta") = (after.rddsPinned - before.rddsPinned).toDouble
      s.attrs("storage_mb_delta") = (after.storageBytes - before.storageBytes) / 1048576.0
      attachJobs()
      (out, s)
    }

  /** Turn finished jobs into child spans of the phase that submitted
    * them. Job times come from the scheduler in milliseconds, so a job
    * span is clamped into its parent to absorb the clock granularity.
    */
  private def attachJobs(): Unit = listener.take().foreach { j =>
    val parent = if (j.spanId >= 0 && j.spanId < spans.size) spans(j.spanId) else null
    val layer =
      if (j.callSite.contains("Tables.scala")) "tables"
      else if (parent == null) "exec"
      else parent.layer match {
        case "op" => "exec"
        case l => l
      }
    val start0 = j.startMs * 1000000L
    val end0 = math.max(start0, j.endMs * 1000000L)
    val (start, end) =
      if (parent == null) (start0, end0)
      else {
        val st = math.min(math.max(start0, parent.start), parent.end)
        (st, math.max(st, math.min(end0, parent.end)))
      }
    val s = new Span(spans.size, if (parent == null) -1 else parent.id,
      "job", layer, start)
    s.end = end
    s.attrs("job_id") = j.jobId
    s.attrs("stages") = j.stages
    s.attrs("tasks") = j.tasks
    s.attrs("task_run_ms") = j.runMs.toDouble
    s.attrs("task_cpu_ms") = j.cpuNs / 1e6
    s.attrs("input_rows") = j.inputRows.toDouble
    s.attrs("input_mb") = j.inputBytes / 1048576.0
    s.attrs("shuffle_read_mb") = j.shuffleRead / 1048576.0
    s.attrs("shuffle_write_mb") = j.shuffleWrite / 1048576.0
    s.attrs("spill_mb") = j.spill / 1048576.0
    spans += s
  }

  def stop(): Unit = if (on) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProp = "graftbench.span"

  /** Epoch nanoseconds from the monotonic clock, so span bounds are
    * precise and comparable with the scheduler's epoch-millisecond job
    * times.
    */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offsetNs

  /** Self time of every span: its duration minus the union of its
    * children's intervals.
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a
          curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
