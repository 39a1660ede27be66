package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Session set-up, argument handling and per-operation metering shared
  * by the command-line tools (Bench, QBench, StageProfile, ScalingBench,
  * Verify, ...). */
object Harness {

  /** A `local[cpus]` session with the pins every tool shares — UTC
    * session time zone, parquet timestamps read as TimestampType (not
    * NTZ), no UI — plus the tool's own `conf`. */
  def session(cpus: String, logLevel: String, conf: (String, String)*): SparkSession = {
    val pinned = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.ui.enabled" -> "false")
    val spark = (pinned ++ conf).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** `<sfDir> name[,name...]`: fails loudly when the first argument is
    * not a data directory or no query is named, so `tool q1,q2` cannot
    * silently measure nothing. */
  def sfDirAndNames(tool: String, args: Array[String]): (String, Seq[String]) = {
    val usage = s"usage: runMain graft.$tool <sfDir> name[,name...]"
    val sfDir = args.headOption.getOrElse("")
    require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir)),
      s"first arg must be an existing sfDir (got '$sfDir'); $usage")
    val names = args.drop(1).flatMap(_.split(",")).filter(_.nonEmpty).toSeq
    require(names.nonEmpty, s"no query names given; $usage")
    (sfDir, names)
  }

  /** Blocks until every posted listener event is delivered, so a CPU
    * snapshot taken next counts the query's last task-end events. */
  def drainListeners(spark: SparkSession): Unit =
    org.apache.spark.sql.classic.GraftBridge.drainListenerBus(spark)

  /** Seconds rounded to milliseconds, the precision every tool prints. */
  def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  /** "Class: first message line" of a failure. */
  def why(e: Throwable): String = e.getClass.getName + ": " +
    Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")

  /** What a metered operation cost on the executors: summed task CPU
    * and the longest single task (the straggler signal), in seconds. */
  final case class Cost(cpu: Double, maxTask: Double)

  /** Per-operation cost for the measuring tools. `meter(name)(body)`
    * runs `body` on the calling thread under job group `name` and
    * returns `(result, wall seconds, driver-thread CPU seconds)`. Job
    * start events carry the submitting thread's job group and the job's
    * stage ids, task-end events carry the stage id and task metrics, so
    * executor cost is attributed per name even when several threads
    * meter at once — the contention-immune cost measure (wall under
    * concurrent submission bills co-scheduled work; executor CPU
    * cannot). Jobs run outside any `meter(...)` are not counted.
    * Registers itself on `spark`'s listener bus; `close()` removes it. */
  final class Meter(spark: SparkSession) extends SparkListener {
    private final class Acc { val cpuNs = new AtomicLong; val maxTaskMs = new AtomicLong }
    private val stageToName = new ConcurrentHashMap[Int, String]()
    private val acc = new ConcurrentHashMap[String, Acc]()
    private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
    spark.sparkContext.addSparkListener(this)

    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => js.stageIds.foreach(stageToName.put(_, g)))

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val name = stageToName.get(te.stageId)
      if (name != null) {
        val a = acc.computeIfAbsent(name, _ => new Acc)
        if (te.taskMetrics != null) a.cpuNs.addAndGet(te.taskMetrics.executorCpuTime)
        if (te.taskInfo != null) a.maxTaskMs.accumulateAndGet(te.taskInfo.duration, math.max(_, _))
      }
    }

    def apply[T](name: String)(body: => T): (T, Double, Double) = {
      val sc = spark.sparkContext
      sc.setJobGroup(name, name)
      try {
        val c0 = threadMx.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        val v = body
        (v, (System.nanoTime() - t0) / 1e9, (threadMx.getCurrentThreadCpuTime - c0) / 1e9)
      } finally sc.clearJobGroup()
    }

    /** Executor cost per name since the last `reset()`, once every
      * posted task-end event is delivered; a name with no finished
      * task reads as zero. */
    def costs(): Map[String, Cost] = {
      drainListeners(spark)
      val b = Map.newBuilder[String, Cost]
      acc.forEach((k, a) => b += k -> Cost(a.cpuNs.get / 1e9, a.maxTaskMs.get / 1e3))
      b.result().withDefaultValue(Cost(0.0, 0.0))
    }

    def reset(): Unit = { stageToName.clear(); acc.clear() }

    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** A JSON string literal: backslash, quote and ALL control chars
    * (<0x20) escaped, so one tab or CR cannot break a reader's parse. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Untimed JIT warm-up: each named query once on sf0.001, then every
    * shared build dropped so the measured runs start cold. */
  def warmUp(spark: SparkSession, names: Seq[String]): Unit = {
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { q =>
        try q(spark, "/root/testdata/sf0.001").count()
        catch { case NonFatal(e) => System.err.println(s"[warm-up] $n failed: $e") }
      }
    }
    SharedBuild.clearAll(spark)
  }
}
