package graft

/** Single-query A/B measurement tool (round 16, optimization rounds):
  * runs the NAMED declared queries with Bench's exact session config
  * and cost attribution (job-group executor-task CPU + driver-thread
  * CPU), SPARK_GRAFT_QBENCH_RUNS times (default 3) with all sfDir
  * caches dropped between runs, and prints one JSON line per query
  * with per-run wall and CPU. Sequential submission (no FAIR pool
  * contention) — the numbers are *marginal cost* comparisons between
  * two shapes of one query, NOT comparable with Bench's par=4 wall.
  * Shared builds a query pulls are billed to it on every run, so an
  * A/B of a shared-build consumer must compare like against like.
  * Usage: runMain graft.QBench <sfDir> name[,name...]
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = Harness.sfDirAndNames("QBench", args)
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_QBENCH_RUNS", "3").toInt)
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "ERROR",
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"),
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    val cpuListener = new QueryCpuListener
    spark.sparkContext.addSparkListener(cpuListener)
    val threadMx = java.lang.management.ManagementFactory.getThreadMXBean

    Harness.warmUp(spark, names)

    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"""{"query": "$n", "error": "unknown"}""")
        case Some(q) =>
          val walls = Array.fill(nRuns)(0.0)
          val cpusS = Array.fill(nRuns)(0.0)
          (0 until nRuns).foreach { i =>
            SharedBuild.clearAll(spark)
            cpuListener.reset()
            spark.sparkContext.setJobGroup(n, n)
            val c0 = threadMx.getCurrentThreadCpuTime
            val t0 = System.nanoTime()
            q(spark, sfDir).count()
            walls(i) = (System.nanoTime() - t0) / 1e9
            val drv = (threadMx.getCurrentThreadCpuTime - c0) / 1e9
            spark.sparkContext.clearJobGroup()
            Harness.drainListeners(spark)
            cpusS(i) = cpuListener.snapshot().getOrElse(n, 0.0) + drv
          }
          def r3(v: Double) = math.round(v * 1000) / 1000.0
          println(s"""{"query": "$n", "wall_min": ${r3(walls.min)}, """ +
            s""""cpu_min": ${r3(cpusS.min)}, """ +
            s""""walls": [${walls.map(r3).mkString(",")}], """ +
            s""""cpus": [${cpusS.map(r3).mkString(",")}]}""")
      }
    }
    spark.stop()
  }
}
