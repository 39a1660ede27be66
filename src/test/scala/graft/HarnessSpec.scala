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

  /** A fresh meter on the shared session, removed afterwards so no
    * listener leaks onto the suites that run next. */
  private def withMeter(f: Harness.Meter => Unit): Unit = {
    val meter = new Harness.Meter(SharedSpark.spark)
    try f(meter) finally meter.close()
  }

  test("Meter: two threads metering at once each get their own executor CPU") {
    withMeter { meter =>
      val spark = SharedSpark.spark
      def job(): Long = spark.range(0, 2000000, 1, 4).selectExpr("sum(id * id)").head().getLong(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        Seq("a", "b").map(n => pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = meter(n)(job())._1
        })).foreach(f => assert(f.get() == job()))
      } finally pool.shutdown()
      val cost = meter.costs()
      assert(cost("a").cpu > 0.0 && cost("b").cpu > 0.0)
    }
  }

  test("Meter: a job run outside meter(...) leaves costs() unchanged") {
    withMeter { meter =>
      val spark = SharedSpark.spark
      meter("m")(spark.range(0, 100000, 1, 4).count())
      val before = meter.costs()
      spark.range(0, 100000, 1, 4).count()
      assert(meter.costs() == before)
      assert(before.keySet == Set("m"))
    }
  }

  test("Meter: a throwing body propagates and leaves the job group cleared") {
    withMeter { meter =>
      val sc = SharedSpark.spark.sparkContext
      val e = intercept[IllegalStateException](meter("boom") {
        assert(sc.getLocalProperty("spark.jobGroup.id") == "boom")
        throw new IllegalStateException("boom")
      })
      assert(e.getMessage == "boom")
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
    }
  }

  test("Meter: a one-task job that sleeps 300 ms records max-task >= 0.3 s") {
    withMeter { meter =>
      val sc = SharedSpark.spark.sparkContext
      val (_, wall, _) = meter("sleepy")(sc.parallelize(Seq(1), 1).map { x => Thread.sleep(300); x }.count())
      assert(wall >= 0.3)
      assert(meter.costs()("sleepy").maxTask >= 0.3)
      meter.reset()
      assert(meter.costs()("sleepy") == Harness.Cost(0.0, 0.0))
    }
  }
}
