package graft

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Session set-up and argument handling shared by the command-line
  * tools (Bench, QBench, StageProfile, ScalingBench, Verify, ...). */
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
