package graft

/** Plan inspection tool: prints the formatted physical plan of named
  * declared queries (all of them with no names given) against an
  * sfDir, with table caching off so scans show pushdown/pruning.
  * Usage: runMain graft.PlanDump <sfDir> [query ...]
  * PLANS.md is generated from this output.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq
    val spark = Harness.session("4", "ERROR",
      "spark.sql.shuffle.partitions" -> "8", "spark.graft.cacheTables" -> "false")
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries.get(n) match {
        case Some(q) => q(spark, sfDir).explain("formatted")
        case None => println(s"unknown query '$n'")
      }
    }
    spark.stop()
  }
}
