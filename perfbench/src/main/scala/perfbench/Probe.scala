package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One timed interval around a call into the engine. `id` is the
  * operation (query, request or write) the span belongs to; `parent`
  * names the enclosing span of the same operation ("" at the root). */
final case class Span(name: String, id: String, parent: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans of the traced run, kept in memory and written out at the end.
  * With tracing off `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[String]](() => Nil)

  def span[T](name: String, id: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.get.headOption.getOrElse("")
      stack.set(name :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(name, id, parent, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
}

/** Per-job-group totals of what the executors did. */
final class GroupStats {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskCpuNs = new AtomicLong
  val taskRunMs = new AtomicLong
  val taskWaitMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val peakTaskMem = new AtomicLong
}

/** Spark listener that attributes task metrics to the job group that
  * launched them. Job groups carry the operation id, so executor work is
  * charged to the query or request whose thread submitted it. */
final class ExecProbe extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  def reset(): Unit = { groups.clear(); stageTaskMs.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    stats(g).jobs.incrementAndGet()
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageSubmitMs.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    stats(stageGroup.getOrDefault(id, "")).stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(stageGroup.getOrDefault(e.stageId, ""))
    s.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      s.taskCpuNs.addAndGet(m.executorCpuTime)
      s.taskRunMs.addAndGet(m.executorRunTime)
      s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      s.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      s.peakTaskMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      stageTaskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
        .add(m.executorRunTime)
    }
    val submitted = stageSubmitMs.get(e.stageId)
    if (e.taskInfo != null && submitted != 0L)
      s.taskWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - submitted))
  }

  /** Mean over stages with >= 2 tasks of (slowest task / median task). */
  def stageSkew: Double = {
    val ratios = stageTaskMs.values.asScala.map(_.asScala.toSeq.sorted).filter(_.size >= 2)
      .map(ts => ts.last.toDouble / math.max(1L, ts(ts.size / 2)))
    if (ratios.isEmpty) 1.0 else ratios.sum / ratios.size
  }

  def sum(f: GroupStats => Long, groupFilter: String => Boolean = _ => true): Long =
    groups.asScala.collect { case (g, s) if groupFilter(g) => f(s) }.sum
}

/** QueryExecutionListener summing Spark's planning phases
  * (QueryPlanningTracker: analysis, optimization, planning). */
final class PlanProbe extends QueryExecutionListener {
  val executions = new AtomicLong
  val analysisS = new DoubleAdder
  val optimizationS = new DoubleAdder
  val planningS = new DoubleAdder

  def reset(): Unit = { executions.set(0); analysisS.reset(); optimizationS.reset(); planningS.reset() }

  private def record(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    val ph = qe.tracker.phases
    ph.get("analysis").foreach(p => analysisS.add(p.durationMs / 1e3))
    ph.get("optimization").foreach(p => optimizationS.add(p.durationMs / 1e3))
    ph.get("planning").foreach(p => planningS.add(p.durationMs / 1e3))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** JVM-wide counters read at the edges of the timed window. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
  private val threads = ManagementFactory.getThreadMXBean

  def processCpuS: Double = os match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  def threadCpuS: Double = threads.getCurrentThreadCpuTime / 1e9
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** CPU seconds of every live native thread of this process, keyed by
    * thread id, with the thread's (15-character) name: Java threads as
    * well as the JIT compiler and GC threads, which the Java thread API
    * does not list. Empty where /proc is not available. */
  def cpuByThread: Map[Long, (String, Double)] = {
    val tasks = new java.io.File("/proc/self/task")
    Option(tasks.listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(t.toPath.resolve("stat")))
        // fields after the parenthesised name: state is field 3, utime 14, stime 15
        val open = stat.indexOf('('); val close = stat.lastIndexOf(')')
        val rest = stat.substring(close + 2).split(" ")
        val ticks = rest(11).toLong + rest(12).toLong
        Some(t.getName.toLong -> (stat.substring(open + 1, close), ticks / ClockTicks))
      } catch { case _: java.io.IOException | _: NumberFormatException => None }
    }.toMap
  }
  private val ClockTicks = 100.0

  /** Busy and stolen CPU ticks of the machine so far, summed over its
    * CPUs (/proc/stat: user, nice, system, irq and softirq; steal).
    * (0, 0) where /proc is not available. */
  def cpuTicks: (Long, Long) =
    try {
      val v = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+").tail.map(_.toLong)
      (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
    } catch { case _: java.io.IOException | _: NumberFormatException => (0L, 0L) }

  /** The share of the CPU time the machine's busy CPUs wanted between two
    * `cpuTicks` readings that the host gave to others (steal). */
  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val busy = to._1 - from._1; val steal = to._2 - from._2
    if (busy + steal <= 0) 0.0 else steal.toDouble / (busy + steal)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def heapUsedMb: Double = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
}
