package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same
  * clock as Spark's listener timestamps. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def ms: Double = (System.nanoTime() + offsetNs) / 1e6
}

/** JVM-wide counters, from the management beans and `/proc/self`. */
object Jvm {
  // eden is the allocation buffer: its peak is its capacity, whatever
  // the program keeps alive, so only the pools that retain objects count
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  /** CPU ms of each JIT compiler thread by thread id, from
    * `/proc/self/task` in clock ticks of 10 ms, as the process total;
    * empty where there is none. */
  def jitCpuMs: Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
    tasks.iterator.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")), "UTF-8")
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        // the fields after the name: state is field 3, utime 14, stime 15
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        if (comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre"))
          Some(t.getName -> (f(11).toLong + f(12).toLong) * 10.0)
        else None
      } catch { case _: java.io.IOException | _: RuntimeException => None }
    }.toMap
  }
  /** JIT CPU ms between two readings. HotSpot starts and stops compiler
    * threads as the queue grows and shrinks; one that stopped in between
    * takes only its share since `before` out of the sum. */
  def jitCpuMsSince(before: Map[String, Double]): Double =
    jitCpuMs.iterator.map { case (tid, ms) => ms - before.getOrElse(tid, 0.0) }.sum
  /** CPU ms of the whole process, every thread; -1 where the JVM does
    * not tell. */
  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e6
    case _ => -1.0
  }
}

/** Spark's code-generation metrics: compile count and total compile ms.
  * The time histogram keeps every sample until it holds 1028; past that
  * the total is estimated from its mean, and `exact` says so. */
object Codegen {
  final case class Reading(compiles: Long, ms: Double, exact: Boolean)
  def read(): Reading = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val s = h.getSnapshot
    if (n <= 1028) Reading(n, s.getValues.sum.toDouble, exact = true)
    else Reading(n, s.getMean * n, exact = false)
  }
}

/** Everything Spark's public listeners report during a traced run, kept
  * in memory; interval arithmetic attributes it to operations by time. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val executions = new ConcurrentLinkedQueue[ExecRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val taskTimes = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val droppedAtStart = org.apache.spark.perfbench.Bus.dropped(spark.sparkContext)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(JobRec(e.jobId, e.time.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) taskTimes
        .computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      for (a <- si.submissionTime; b <- si.completionTime) stages.add(StageRec(
        si.stageId, si.numTasks, a.toDouble, b.toDouble,
        m.executorRunTime, m.executorCpuTime / 1e6,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (p, s) => p -> (s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
      val files = try qe.executedPlan.collect {
        case p if p.metrics.contains("numFiles") => p.metrics("numFiles").value
      }.sum catch { case _: Throwable => 0L }
      executions.add(ExecRec(phases, files))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d,
        p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Deliver every queued event before anything is read. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def droppedEvents: Long = org.apache.spark.perfbench.Bus.dropped(spark.sparkContext) - droppedAtStart

  def taskDurations(stageId: Int): Seq[Long] =
    Option(taskTimes.get(stageId)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  // Spark stamps events in whole milliseconds, rounded down: an event in
  // the window's first millisecond can read earlier than its start
  private def in(t: Double, a: Double, b: Double) = t >= math.floor(a) && t < b

  def stagesIn(a: Double, b: Double): Seq[StageRec] = stages.asScala.toSeq.filter(s => in(s.submit, a, b))
  def jobsIn(a: Double, b: Double): Seq[JobRec] = jobs.asScala.toSeq.filter(j => in(j.time, a, b))
  /** Executions whose Catalyst phases started inside the window. */
  def executionsIn(a: Double, b: Double): Seq[ExecRec] =
    executions.asScala.toSeq.filter(e => e.phases.values.exists { case (s, _) => in(s, a, b) })
  /** Streaming batches whose trigger started inside the window. */
  def batchesIn(a: Double, b: Double): Seq[BatchRec] = batches.asScala.toSeq.filter(x => in(x.time, a, b))
}

object Tracer {
  final case class StageRec(id: Int, tasks: Int, submit: Double, complete: Double,
      runMs: Long, cpuMs: Double, shWrite: Long, shRead: Long, fetchWaitMs: Long,
      spillMem: Long, spillDisk: Long, inBytes: Long, inRows: Long, outBytes: Long)
  final case class JobRec(id: Int, time: Double)
  final case class ExecRec(phases: Map[String, (Double, Double)], files: Long)
  final case class BatchRec(time: Double, durationMs: Map[String, Long], stateRows: Long, stateBytes: Long)

  /** Total length of the union of intervals, clipped to [a, b]. */
  def unionLength(intervals: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = intervals.map { case (s, e) => (s max a, e min b) }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    for ((s, e) <- clipped) cur match {
      case Some((cs, ce)) if s <= ce => cur = Some((cs, ce max e))
      case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
      case None => cur = Some((s, e))
    }
    total + cur.map { case (cs, ce) => ce - cs }.getOrElse(0.0)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
}
