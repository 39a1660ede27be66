package graft

import java.nio.file.Paths
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.Try

object SharedBuildSpec {
  /** Declared queries that between them touch every engine shared build. */
  val touchEveryBuild: Seq[ops.Q] = Seq(
    ops.GraphOps.graphDegree,                  // Tables.apply, Tables.edges
    ops.GraphOps.graphHitsBipartite,           // Tables.bipartite, bipartiteDegrees
    ops.Pipelines.pipelineSimhashBitBalance,   // shingles, simhashFp
    ops.Pipelines.pipelineMinhashCalibration,  // minhashWide
    ops.Pipelines.dedupMinhashLsh,             // the LSH pair set
    ops.Pipelines.pipelineDupNgramCoverage,    // docShingleStats
    ops.Pipelines.dedupSubstringSpans,         // dupSpans
    ops.Pipelines.pipelineKneserNeyNll,        // knLm
    ops.TextSim.simCosineTopk,                 // rankedTopk
    ops.Relational.aggKsTest,                  // ecdf
    ops.Relational.aggSprtDecision,            // sprt
    ops.Relational.srcCsvRoundtrip,            // Sources.via
    ops.Relational.srcBucketedRoundtrip,       // Sources.bucketed
    ops.TimeSeries.tsOrderBacklog,             // orderClose
    ops.TimeSeries.tsFriedmanTest,             // weekRanks
    ops.Sampling.sampleConformalInterval)      // conformalBase
}

class SharedBuildSpec extends AnyFunSuite {
  import SharedSpark._

  test("two keys of one build run concurrently") {
    val aStarted = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val build = SharedBuild[String, Boolean]("spec.concurrentKeys") { (_, k) =>
      if (k == "a") { aStarted.countDown(); bDone.await(20, TimeUnit.SECONDS) }
      else { bDone.countDown(); true }
    }
    val a = Future(build(spark, "a"))
    assert(aStarted.await(20, TimeUnit.SECONDS))
    val b = Future(build(spark, "b"))
    // key a's build only returns true once key b's build has run
    assert(Await.result(a, 30.seconds), "key b waited for key a's build")
    assert(Await.result(b, 30.seconds))
  }

  test("a build that throws is retried, and its waiters see the failure") {
    val calls = new AtomicInteger
    val started = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val build = SharedBuild[String, Int]("spec.throws") { (_, _) =>
      if (calls.incrementAndGet() == 1) {
        started.countDown(); gate.await()
        throw new IllegalStateException("first build fails")
      } else 42
    }
    val owner = Future(build(spark, "k"))
    assert(started.await(20, TimeUnit.SECONDS))
    @volatile var waited: Try[Int] = null
    val waiter = new Thread(() => waited = Try(build(spark, "k")))
    waiter.start()
    // the waiter parks on the in-flight entry's latch
    val deadline = System.nanoTime() + 20.seconds.toNanos
    while (waiter.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(waiter.getState == Thread.State.WAITING)
    gate.countDown()
    waiter.join(20000)
    assert(!waiter.isAlive, "waiter hung on a failed build")
    assert(Await.ready(owner, 20.seconds).value.get.failed.get.getMessage == "first build fails")
    assert(waited.failed.get.getMessage == "first build fails")
    assert(build(spark, "k") == 42)
    assert(calls.get == 2)
  }

  test("a new session sees none of the old session's entries; mount replaces an entry") {
    val calls = new AtomicInteger
    val build = SharedBuild[String, Int]("spec.perSession")((_, _) => calls.incrementAndGet())
    val other = spark.newSession()
    assert(build(spark, "k") == 1)
    assert(build(other, "k") == 2)
    assert(build(spark, "k") == 1)
    assert(Tables(spark, sf0001, "region") ne Tables(other, sf0001, "region"))

    val dir = "/virtual/shared-build-spec"
    val region = Tables(spark, sf0001, "region")
    val one = region.limit(1)
    Tables.mount(spark, dir, "region", region)
    assert(Tables(spark, dir, "region") eq region)
    Tables.mount(spark, dir, "region", one)
    assert(Tables(spark, dir, "region") eq one)
  }

  test("after touching every module's builds, one clearAll leaves the registry empty") {
    SharedBuildSpec.touchEveryBuild.foreach(q => q(spark, sf0001).count())
    val engine = SharedBuild.declared.filterNot(_.startsWith("spec."))
    assert(engine.size == 19, engine)
    val untouched = engine.toSet -- SharedBuild.live.map(_._1)
    assert(untouched.isEmpty, s"builds not touched: $untouched")
    SharedBuild.clearAll(spark)
    assert(SharedBuild.live.isEmpty)
  }

  test("after clearAll, Sources.via converts again into a new temp directory") {
    def dirs = sources.Sources.via(spark, sf0001, "supplier", "csv").inputFiles
      .map(f => Paths.get(java.net.URI.create(f)).getParent.getParent).toSet
    val before = dirs
    assert(dirs == before)
    SharedBuild.clearAll(spark)
    val after = dirs
    assert(before.nonEmpty && after.nonEmpty)
    assert((before & after).isEmpty, s"$before reused after clearAll")
  }
}
