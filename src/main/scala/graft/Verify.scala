package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional 3rd arg (local iteration only): comma-separated query
    // names to dump; the driver always invokes with exactly two args
    val only: Set[String] = rest.headOption
      .map(_.split(",").toSet).getOrElse(Set.empty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Harness.session(cpus, "WARN",
      "spark.sql.shuffle.partitions" -> cpus,
      // SPARK_GRAFT_CACHE=false runs the whole oracle suite with base
      // tables streaming straight from parquet (pushdown intact) —
      // proves the operators are cache-agnostic, not cache-dependent
      "spark.graft.cacheTables" -> sys.env.getOrElse("SPARK_GRAFT_CACHE", "true"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${Harness.why(e)}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => Harness.jsonString(k) + ": " + Harness.jsonString(v) }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
