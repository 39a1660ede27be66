package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM. */
object SharedSpark {
  lazy val spark: SparkSession =
    Harness.session("4", "WARN", "spark.sql.shuffle.partitions" -> "4")
  val sf0001 = "/root/testdata/sf0.001"
}
