package graft

import java.util.concurrent.{Executors, TimeUnit}
import scala.util.control.NonFatal

/** Driver-run benchmark on SPARK_GRAFT_SF_DIR (default sf0.1), one fresh
  * JVM, session startup excluded — matching BASELINE.md's warm-process
  * methodology. Budget: <= 52 s at sf0.1.
  *
  * The suite is submitted CONCURRENTLY (SPARK_GRAFT_BENCH_PAR threads,
  * default 4) under Spark's FAIR scheduler and the headline `value` is
  * the wall-clock of the timed section. Rationale (BASELINE.md
  * amendment): most sub-second queries of the suite (168 as of round 6) pay Spark's ~0.12 s/action
  * scheduling floor (~11 s of pure latency, already priced into the
  * 26 s baseline) plus idle gaps while single-query stages use a
  * fraction of the 32 cores. Concurrent job submission is the idiomatic
  * Spark answer on both counts — it is how a multi-query workload runs
  * on a real cluster — and overlaps external host contention instead of
  * serializing behind it (rounds 1-2: the driver's contended runs
  * inflated the sequential sum 1.3-1.9x). Per-query wall times and
  * their sum (`sum_query_sec`, = the old sequential metric when PAR=1)
  * are reported alongside; set SPARK_GRAFT_BENCH_PAR=1 for the strict
  * per-query-latency methodology.
  *
  * Contention robustness (round-4/5 lesson): the driver's recorded r4
  * value was 83 s while the identical config measured 17.7 s
  * uncontended — per-query times inflated ~uniformly 4.7x by external
  * host load, and nothing in the single-run artifact distinguished
  * "plans regressed" from "host was busy". Three defenses now:
  *   1. The timed sfDir section runs at least SPARK_GRAFT_BENCH_RUNS
  *      times (default 3) in the same JVM, with all sfDir caches
  *      dropped between runs so every run performs identical work, and
  *      KEEPS ADDING runs until the best two agree within 10% AND the
  *      best wall's run CPU is within 15% of the minimum CPU observed
  *      (round-7: two equally-contended windows can agree on wall;
  *      only CPU is contention-immune), bounded
  *      by SPARK_GRAFT_BENCH_MAX_RUNS, default 8. `value` is the BEST
  *      wall and all runs are reported in `runs_wall_sec`. The min
  *      defends against transient contention; sustained load across
  *      the whole window is not defended, only DETECTED, via the CPU
  *      tell-tale below (round 5: three monotonically-falling runs
  *      [125.7, 46.5, 37.4] still carried a ~1.9x residue — the
  *      convergence loop exists so the window extends until the floor
  *      is actually reached).
  *   2. Each run also reports process CPU-time (`runs_cpu_sec`).
  *      Wall >> CPU with unchanged CPU across rounds = host
  *      contention, self-evident from the artifact alone.
  *   3. Per-query COST is attributed from measurement, not from the
  *      par=4 wall clock: under concurrent FAIR submission a heavy
  *      window's wall bills co-scheduled work (round 5: simhash
  *      recorded "21 s" wall while its marginal cost was 2.0 s). Each
  *      query runs under its own job group; `Harness.Meter` sums
  *      executor-task CPU per group (the distributed work) and the
  *      worker thread's own driver CPU (planning/collect).
  *      `queries_cpu_sec` in the detail line is that sum — queue
  *      latency cannot appear in it. The wall `queries` map is
  *      kept for latency reading only.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val par = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_PAR", "4").toInt)
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // Convergence bound: runs keep being added past nRuns until the two
    // best walls agree within 10% (or this cap is hit). Round-5 lesson:
    // a fixed best-of-3 under sustained host load recorded 37.4 s when
    // the uncontended floor was ~20 s.
    val maxRuns = math.max(nRuns,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "8").toInt)
    // shuffle parallelism is decoupled from executor threads: at sf0.1
    // every shuffle is KB-scale, so 32 tasks/stage is pure scheduling
    // overhead (measured ~15% of suite total); 8 keeps sorts/joins
    // parallel enough while map-side outputs stay contiguous. On a real
    // cluster this knob is workload-sized (SCALING.md) — AQE coalesces
    // from a high initial value instead.
    val spark = Harness.session(cpus, "WARN",
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"),
      // FAIR arbitrates BETWEEN pools (each worker thread below names
      // its own pool via spark.scheduler.pool); with a single pool the
      // mode is a no-op since the auto-created default pool schedules
      // its own jobs FIFO. Per-thread pools keep the many small
      // queries flowing around the few multi-stage ones.
      "spark.scheduler.mode" -> "FAIR",
      // Round 9 re-measured the old "AQE only adds re-planning latency
      // locally" claim at the 293-query suite and it FLIPPED: aqe=true
      // 38.1 s wall / 252 CPU vs aqe=false 43.9 s / 281 CPU (converged
      // best-of-3 each, same window; both rows in
      // bench/bench_detail_r09.json) — partition coalescing now beats
      // the re-planning cost at this query count and par=4 concurrency.
      // On by default, matching the cluster recommendation (SCALING.md:
      // AQE is the runtime skew/coalesce lever).
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
    val meter = new Harness.Meter(spark)

    /** JVM-wide process CPU seconds (all threads). Delta across a run
      * window is the run's compute cost, immune to other processes on
      * the host — the contention tell-tale next to wall time. */
    def processCpuSec(): Double = {
      import java.lang.management.ManagementFactory
      ManagementFactory.getOperatingSystemMXBean match {
        case os: com.sun.management.OperatingSystemMXBean =>
          os.getProcessCpuTime / 1e9
        case _ => Double.NaN
      }
    }

    /** Materialize the per-sfDir shared state (base-table caches, EDGES,
      * shingles, LSH pairs, similarity ranking) as four independent
      * dependency chains run concurrently. Inside the timed wall window,
      * so nothing escapes measurement — this just charges the shared
      * builds to an explicit step instead of whichever query touches
      * them first (which under concurrent submission would bill one
      * query the build while the rest wait for it). Chain i is metered
      * as `prime:<i>`; returns each chain's (wall, driver CPU). */
    def prime(dir: String): Seq[(Double, Double)] = {
      // round 17 (verdict item 7): the old 5-chain split left chain 0
      // (facts + EDGES + bipartite, ~6.7 s warm) the long pole while
      // the other four finished in 1-4 s. The EDGES and bipartite
      // builds are independent of each other (both only need the fact
      // table caches), so they run as separate chains; events moved to
      // the short embeddings chain. Chains run on their OWN pool sized
      // to the chain count — the prime step exists for per-query COST
      // attribution and its internal concurrency is not the query-
      // stream concurrency `par` models (all prime work remains inside
      // the timed wall, as before).
      val chains: Seq[() => Unit] = Seq(
        () => { Seq("lineitem", "orders").foreach(n => Tables(spark, dir, n).count())
                Tables.edges(spark, dir); () },
        // the shared bipartite purchase-edge build (round 13; four
        // consumers). Waits briefly for chain 0's table entries,
        // then builds concurrently with EDGES.
        () => { Tables.bipartite(spark, dir); () },
        () => { Tables(spark, dir, "documents").count(); ops.Pipelines.prime(spark, dir) },
        () => { Tables(spark, dir, "embeddings").count(); ops.TextSim.prime(spark, dir)
                Tables(spark, dir, "events").count(); () },
        () => Seq("region", "nation", "customer", "supplier", "part")
                .foreach(n => Tables(spark, dir, n).count()),
        // the src_*_roundtrip conversions are one-time session builds
        // (write + re-read), same shared-materialization policy
        () => { sources.Sources.via(spark, dir, "supplier", "csv").count()
                sources.Sources.via(spark, dir, "customer", "json").count()
                sources.Sources.via(spark, dir, "orders", "orc").count()
                sources.Sources.via(spark, dir, "documents", "text").count(); () }
      )
      val primePool = Executors.newFixedThreadPool(chains.size)
      val chainCost = chains.zipWithIndex.map { case (c, i) =>
        primePool.submit(new java.util.concurrent.Callable[(Double, Double)] {
          def call(): (Double, Double) = {
            val (_, wall, drv) = meter(s"prime:$i") {
              // A failed prime chain must be LOUD: its cost would otherwise
              // silently shift into whichever query first touches the cache,
              // corrupting per-query attribution (round-4 ADVICE).
              try c() catch {
                case NonFatal(e) => System.err.println(s"[bench] prime chain $i FAILED: $e")
              }
            }
            (wall, drv)
          }
        })
      }.map(_.get())
      primePool.shutdown()
      chainCost
    }

    /** Run every query through a `par`-thread pool; returns
      * (name, wallSeconds, driverCpuSeconds, failure reason) in
      * declaration order, section wall time (including the priming step when
      * par > 1), prime wall and CPU, and the per-name executor cost
      * from the meter (this run only — the meter is reset on entry). */
    def runSuite(dir: String): (Seq[(String, Double, Double, Option[String])],
                                Double, Double, Double, Map[String, Harness.Cost]) = {
      meter.reset()
      val pool = Executors.newFixedThreadPool(par)
      val t0 = System.nanoTime()
      // par == 1 keeps the strict legacy methodology: sequential, no
      // prime step, shared builds billed to the first-touching query.
      val chainCost = if (par > 1) prime(dir) else Seq.empty
      val primeSec = (System.nanoTime() - t0) / 1e9
      val futures = SparkEntry.queries.toSeq.map { case (name, fn) =>
        name -> pool.submit(new java.util.concurrent.Callable[(Double, Double, Option[String])] {
          def call(): (Double, Double, Option[String]) = {
            // one scheduler pool per worker thread (thread-local,
            // idempotent) — this is what makes FAIR mode real
            spark.sparkContext.setLocalProperty(
              "spark.scheduler.pool", Thread.currentThread().getName)
            // metered as the query name: every stage this thread
            // launches is billed to this query
            val (err, wall, drvCpu) = meter(name) {
              try { fn(spark, dir).count(); None }
              catch { case NonFatal(e) => Some(Harness.why(e)) }
            }
            (wall, drvCpu, err)
          }
        })
      }
      val results = futures.map { case (name, f) =>
        val (secs, drvCpu, err) = f.get()
        (name, secs, drvCpu, err)
      }
      pool.shutdown()
      pool.awaitTermination(60, TimeUnit.SECONDS)
      val wall = (System.nanoTime() - t0) / 1e9
      // read outside the timed wall: costs() drains the listener bus
      val cost = meter.costs()
      val primeCpu = chainCost.zipWithIndex.map { case ((chainWall, drv), i) =>
        val cpu = cost(s"prime:$i").cpu + drv
        // stderr diagnostics only (r16): chain balance read, not
        // part of the JSON contract
        System.err.println(f"[bench] prime chain $i: $chainWall%.2f s, cpu $cpu%.2f s")
        cpu
      }.sum
      (results, wall, primeSec, primeCpu, cost)
    }

    // Untimed JIT/codegen warmup: run the whole suite once on sf0.001
    // (BASELINE.md measures a warm process: DuckDB numbers are from a
    // warm session and Spark's 10 s startup is excluded by design).
    // This JIT-compiles every query's generated code without touching
    // the benchmarked sfDir's data or caches.
    runSuite("/root/testdata/sf0.001")
    // drop warmup caches (sf0.001 tables/EDGES/shingles/rankings) so the
    // timed run starts with a clean heap — the sf0.1 caches each timed
    // run builds are part of that run's measured work, exactly as before
    SharedBuild.clearAll(spark)

    // At least nRuns identical timed runs (caches dropped between runs
    // so each rebuilds from parquet — same work => min is a fair pick),
    // extended until the two best walls agree within 10% or maxRuns is
    // hit: a fixed-count best-of-N under sustained host load records
    // whatever the load allows (round 5), while "two independent
    // windows hit the same floor" is actual evidence of the floor.
    case class Run(results: Seq[(String, Double, Double, Option[String])], wall: Double,
                   primeSec: Double, primeCpu: Double, cpuSec: Double,
                   cost: Map[String, Harness.Cost])
    def converged(rs: Seq[Run]): Boolean = {
      val walls = rs.map(_.wall).sorted
      val wallsAgree = walls.size >= 2 && walls(1) <= walls(0) * 1.10
      // Round-6 blind spot: two EQUALLY contended windows satisfy
      // "best two walls agree" — agreement is evidence of *a* floor,
      // not *the* floor (recorded 52.1 s vs 32.7 s actual; best-run
      // CPU 447 s vs 360 s minimum). CPU is the contention-immune
      // signal, so additionally require the best wall's run to have
      // burned within 15% of the cheapest CPU observed across all
      // runs — a contended window inflates CPU (scheduler/GC churn)
      // and cannot fake the minimum.
      // non-positive cpuSec = the process-CPU probe failed for that
      // window; treat as missing rather than letting a 0.0 sample set
      // minCpu ~ 0 and silently force every bench to maxRuns — with no
      // valid samples the gate degrades to the wall-only rule
      val validCpu = rs.map(_.cpuSec).filter(_ > 0.0)
      val bestCpu = if (rs.isEmpty) Double.NaN else rs.minBy(_.wall).cpuSec
      val cpuOk = validCpu.isEmpty || bestCpu <= 0.0 ||
        bestCpu <= validCpu.min * 1.15
      wallsAgree && cpuOk
    }
    var runs = Vector.empty[Run]
    var i = 0
    while (i < nRuns || (i < maxRuns && !converged(runs))) {
      if (i > 0) SharedBuild.clearAll(spark)
      val cpu0 = processCpuSec()
      val (results, wall, primeSec, primeCpu, cost) = runSuite(sfDir)
      runs :+= Run(results, wall, primeSec, primeCpu, processCpuSec() - cpu0, cost)
      i += 1
    }
    val best = runs.minBy(_.wall)
    // a query failing in ANY run is a failure — don't let best-of-N
    // hide flakiness; its first recorded reason is kept
    val failedWhy = runs.flatMap(_.results)
      .collect { case (n, _, _, Some(why)) => n -> why }.distinctBy(_._1)
    val failed = failedWhy.map(_._1)

    import Harness.r3
    val qs = best.results.map { case (k, v, _, _) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // per-query COST = executor-task CPU (meter, this query's job
    // group) + driver-thread CPU (planning, collect); min across runs
    // per query — a cost measure is a floor, and any single run's value
    // can only be inflated by contention, never deflated
    val qsCpu = best.results.map { case (k, _, _, _) =>
      val v = runs.map(r =>
        r.cost(k).cpu +
          r.results.collectFirst { case (`k`, _, d, _) => d }.getOrElse(0.0)).min
      s"\"" + k + "\":" + r3(v)
    }.mkString("{", ",", "}")
    val sumQ = best.results.map(_._2).sum
    val total = if (par == 1) sumQ else best.wall
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedWhyJson = failedWhy
      .map { case (n, why) => Harness.jsonString(n) + ":" + Harness.jsonString(why) }
      .mkString("{", ",", "}")
    val runsWall = runs.map(r => r3(r.wall)).mkString("[", ",", "]")
    val runsCpu = runs.map(r => r3(r.cpuSec)).mkString("[", ",", "]")
    // Stop Spark (at ERROR log level) BEFORE printing so no stray
    // shutdown log line can land after the summary. Detail line first,
    // short total-only line LAST: the driver tail-captures stdout and
    // JSON-parses the final line (round 1's total was lost to
    // truncation of one giant line; round 2's to sbt's "[info] "
    // prefix + "[success]" trailer — see build.sbt outputStrategy).
    spark.sparkContext.setLogLevel("ERROR")
    spark.stop()
    // aqe is recorded in both lines so the committed detail artifact
    // can carry a measured AQE=on twin row next to the default
    // (SCALING.md names AQE the cluster-scale skew/coalesce lever;
    // the local twin keeps that claim measured, not assumed)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
      .equalsIgnoreCase("true")
    val detailLine = s"""{"metric":"detail","aqe":$aqe,"queries":$qs,"queries_cpu_sec":$qsCpu,"failed":$failedJson,"failed_why":$failedWhyJson,"par":$par,"prime_sec":${r3(best.primeSec)},"prime_cpu_sec":${r3(best.primeCpu)},"runs_wall_sec":$runsWall,"runs_cpu_sec":$runsCpu,"sf":"$sfDir"}"""
    val totalLine = s"""{"metric":"total","aqe":$aqe,"value":${r3(total)},"unit":"sec","n":${best.results.size},"failed":${failed.size},"par":$par,"runs":${runs.size},"sum_query_sec":${r3(sumQ)},"wall_sec":${r3(best.wall)},"runs_wall_sec":$runsWall,"runs_cpu_sec":$runsCpu,"sf":"$sfDir"}"""
    // The driver's BENCH_r{N}.json artifact tail-keeps only the last
    // 2,000 stdout chars, which truncates queries_cpu_sec — the
    // contention-immune per-query triage signal built in round 6. So
    // the full detail+total lines are ALSO written to a committed file
    // (best-effort: a read-only cwd must not fail the bench).
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_DETAIL_OUT", "bench/bench_detail_latest.json"))
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, detailLine + "\n" + totalLine + "\n")
    } catch { case NonFatal(e) => System.err.println(s"[bench] detail file not written: $e") }
    println(detailLine)
    println(totalLine)
    System.out.flush()
  }
}
