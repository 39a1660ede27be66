package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage profiling tool (round 17): runs the NAMED declared queries
  * sequentially with Bench's session config and prints one line per
  * completed stage — wall, summed task time, executor CPU, task count,
  * shuffle bytes — so a core-insensitive query's time can be located
  * (guide §1.1/§7: is it distributed compute, a serial stage, or the
  * driver chain?). Between the per-stage sum and the query wall, the
  * residue is driver/planning/checkpoint-chain latency.
  * Usage: runMain graft.StageProfile <sfDir> name[,name...]
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val (sfDir, names) = Harness.sfDirAndNames("StageProfile", args)
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), "ERROR",
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"),
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))

    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val wall = (for {
          a <- si.completionTime; b <- si.submissionTime
        } yield (a - b) / 1e3).getOrElse(Double.NaN)
        println(f"[stage] id=${si.stageId}%5d tasks=${si.numTasks}%4d " +
          f"wall=${wall}%7.3f taskTime=${tm.executorRunTime / 1e3}%8.3f " +
          f"cpu=${tm.executorCpuTime / 1e9}%8.3f " +
          f"shufR=${tm.shuffleReadMetrics.totalBytesRead / 1e6}%9.2fMB " +
          f"shufW=${tm.shuffleWriteMetrics.bytesWritten / 1e6}%9.2fMB " +
          s"name=${si.name.takeWhile(_ != '\n').take(80)}")
      }
    }

    Harness.warmUp(spark, names)
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case None => println(s"unknown query '$n'")
        case Some(q) =>
          println(s"===== $n =====")
          val t0 = System.nanoTime()
          val df = q(spark, sfDir)
          val tPlan = (System.nanoTime() - t0) / 1e9
          df.count()
          val wall = (System.nanoTime() - t0) / 1e9
          Harness.drainListeners(spark)
          println(f"[query] $n construct=${tPlan}%.3f s wall=${wall}%.3f s")
      }
    }
    spark.stop()
  }
}
