package graft

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  import SharedSpark.sf0001

  test("<sfDir> name[,name...]: names in place of the sfDir, or no names, fail loudly") {
    val e = intercept[IllegalArgumentException](
      Harness.sfDirAndNames("StageProfile", Array("q1,q2")))
    assert(e.getMessage.contains("got 'q1,q2'"))
    intercept[IllegalArgumentException](Harness.sfDirAndNames("QBench", Array(sf0001)))
    assert(Harness.sfDirAndNames("QBench", Array(sf0001, "q1,q2", "q3")) ==
      (sf0001, Seq("q1", "q2", "q3")))
  }

  test("jsonString escapes quotes, backslashes and every control char") {
    assert(Harness.jsonString("a\"b\\c\n\t\u0001") == "\"a\\\"b\\\\c\\n\\t\\u0001\"")
  }

  test("drainListeners: a listener sees a finished job's task-end events on return") {
    val spark = SharedSpark.spark
    val ends = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        Thread.sleep(20)
        ends.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.range(0, 100, 1, 8).count()
      Harness.drainListeners(spark)
      assert(ends.get() >= 8)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
