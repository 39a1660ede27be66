package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-level invariants: ns-timestamp ingestion parity, EDGES graph
  * shape, cross-engine rounding semantics (SURVEY §7 risk register),
  * and the custom cosine expression. */
class EngineSpec extends AnyFunSuite {
  import SharedSpark._

  test("R5: events ns->us truncation matches DuckDB (min ts parity)") {
    val minTs = Tables(spark, sf0001, "events")
      .agg(min(col("ts"))).collect()(0).getTimestamp(0)
    assert(minTs.toInstant.toString == "2024-01-01T00:09:58.778549Z")
  }

  test("events ts is microsecond TimestampType after ingestion") {
    val f = Tables(spark, sf0001, "events").schema("ts")
    assert(f.dataType == TimestampType)
  }

  test("EDGES: strong co-purchase graph is sparse and symmetric") {
    val (e, ud) = Tables.edges(spark, sf0001)
    val n = e.count()
    assert(ud.count() == 2 * n)
    assert(e.filter(col("w") < 2).count() == 0)
    assert(e.filter(col("s") >= col("t")).count() == 0)
  }

  test("R3: round is half-away-from-zero on doubles (DuckDB parity)") {
    val r = spark.range(1)
      .select(round(lit(2.5), 0).as("a"), round(lit(-2.5), 0).as("b"),
        round(lit(0.125), 2).as("c"))
      .collect()(0)
    assert(r.getDouble(0) == 3.0 && r.getDouble(1) == -3.0 && r.getDouble(2) == 0.13)
  }

  test("cosine_sim expression matches reference computation and HOF form") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(0.5f, -0.5f), Array(0.5f, -0.5f))
    ).toDF("a", "b")
    val out = df.select(
      graft.functions.CosineSimilarity.cosineSim(spark, col("a"), col("b")).as("e"),
      graft.ops.TextSim.cosine(col("a"), col("b")).as("h")).collect()
    out.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    def ref(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / math.sqrt(a.map(x => x.toDouble * x.toDouble).sum *
        b.map(x => x.toDouble * x.toDouble).sum)
    }
    assert(math.abs(out(0).getDouble(0) - ref(Array(1f, 2f, 3f), Array(4f, 5f, 6f))) < 1e-12)
    assert(out(1).getDouble(0) == 0.0)
    assert(math.abs(out(2).getDouble(0) - 1.0) < 1e-12)
  }

  test("cosine_sim is registered for SQL and null-safe") {
    import spark.implicits._
    graft.functions.CosineSimilarity.cosineSim(spark, lit(null), lit(null)) // force registration
    Seq((Array(1.0f), Array(1.0f))).toDF("a", "b").createOrReplaceTempView("cv")
    assert(spark.sql("SELECT cosine_sim(a, b) FROM cv").collect()(0).getDouble(0) == 1.0)
    val n = spark.sql("SELECT cosine_sim(a, NULL) FROM cv").collect()(0)
    assert(n.isNullAt(0))
  }

  test("registerViews exposes the whole catalog to spark.sql") {
    Tables.registerViews(spark, sf0001)
    val r = spark.sql(
      """SELECT n_name, count(*) AS n FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n DESC, n_name LIMIT 1""".stripMargin).collect()(0)
    assert(r.getLong(1) > 0)
    assert(spark.sql("SELECT count(*) FROM ud").collect()(0).getLong(0) ==
      Tables.ud(spark, sf0001).count())
  }

  test("approx aggregates bounded against exact") {
    val r = ops.Approx.approxDistinct(spark, sf0001).collect()
    r.foreach { row =>
      val (approx, exact) = (row.getLong(1), row.getLong(2))
      assert(math.abs(approx - exact).toDouble / exact < 0.1)
    }
    val q = ops.Approx.approxQuantiles(spark, sf0001).collect()(0)
    val (ap, ex) = (q.getSeq[Double](0), q.getSeq[Double](1))
    ap.zip(ex).foreach { case (a, e) => assert(math.abs(a - e) / e < 0.05) }
  }

  test("frequent-items sketch contains every true heavy hitter") {
    val (approxDf, exactDf) = ops.Approx.frequentItems(spark, sf0001)
    val sketch = approxDf.collect()(0).getSeq[Long](0).toSet
    val total = exactDf.agg(sum(col("n"))).collect()(0).getLong(0)
    // guarantee: any item with frequency > support*total is in the sketch
    val mustHave = exactDf.filter(col("n") > total / 100).collect().map(_.getLong(0))
    mustHave.foreach(k => assert(sketch.contains(k), s"missing heavy hitter $k"))
  }

  test("mergeable HLL sketch rollup: merged slices equal the whole-corpus estimate") {
    val (perSource, merged) = ops.Approx.sketchRollup(spark, sf0001)
    val slices = perSource.collect()
    assert(slices.length == 20)
    // every per-slice sketch is within HLL error of its exact count
    slices.foreach { row =>
      val est = spark.range(1).select(
        hll_sketch_estimate(lit(row.getAs[Array[Byte]]("sketch")))).collect()(0).getLong(0)
      val exact = row.getAs[Long]("exact_distinct")
      assert(math.abs(est - exact).toDouble / exact < 0.1,
        s"slice ${row.getString(0)}: est=$est exact=$exact")
    }
    // the union-of-sketches answer matches the corpus-wide exact count
    // without rescanning the corpus — the pre-aggregation contract
    val approxTotal = merged.collect()(0).getLong(0)
    val exactTotal = Tables(spark, sf0001, "documents")
      .agg(countDistinct(col("text"))).collect()(0).getLong(0)
    assert(math.abs(approxTotal - exactTotal).toDouble / exactTotal < 0.1,
      s"merged=$approxTotal exact=$exactTotal")
  }

  test("MapType surface: from_json over the events props column") {
    // SURVEY §2.6: map-typed data enters only via from_json
    val m = Tables(spark, sf0001, "events")
      .select(from_json(col("props"), MapType(StringType, LongType)).as("p"))
      .select(map_keys(col("p")).as("ks"), element_at(col("p"), "k").as("k"))
    assert(m.filter(col("k").isNotNull).count() ==
      Tables(spark, sf0001, "events")
        .filter(get_json_object(col("props"), "$.k").isNotNull).count())
    assert(m.select(explode(col("ks"))).distinct().collect().map(_.getString(0)).contains("k"))
  }

  test("filter pushdown reaches the parquet scan when caching is off") {
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.cacheTables", "false")
    // scan a PRIVATE copy of the file: the SparkContext-wide
    // CacheManager substitutes InMemoryRelation by canonical plan (=
    // path), so reading the shared sf0.01 path would either hit
    // another suite's cache or require SharedBuild.clearAll — which
    // uncaches EVERY suite's tables mid-run (the cross-suite
    // interference class commit 54c3684 fixed)
    val dir = java.nio.file.Files.createTempDirectory("pushdown_probe")
    val copy = dir.resolve("lineitem.parquet")
    try {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("/root/testdata/sf0.01/lineitem.parquet"), copy)
      val plan = s2.read.parquet(copy.toString)
        .filter(col("l_quantity") > 45.0)
        .select("l_orderkey", "l_quantity")
        .queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
        s"pushdown missing in plan:\n$plan")
    } finally {
      // the ~1MB copy would otherwise accumulate in the system temp
      // dir on every run (round-5 advice)
      java.nio.file.Files.deleteIfExists(copy)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  test("engine caches are thread-safe under concurrent COLD initialization") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // drop every shared build first so the parallel burst actually
    // races cold builds (a warm run would test nothing)
    SharedBuild.clearAll(spark)
    val qs: Seq[ops.Q] = Seq(ops.Pipelines.pipelineFingerprint,
      ops.Relational.aggHashQ1) ++ SharedBuildSpec.touchEveryBuild
    val futures = (1 to 3).flatMap(_ => qs.map(q => Future(q(spark, sf0001).count())))
    val results = Await.result(Future.sequence(futures), 300.seconds)
    // compare the racing runs against the (now warm) serial answers
    val serial = qs.map(q => q(spark, sf0001).count())
    assert(results == (1 to 3).flatMap(_ => serial))
  }

  test("sessionize: n_events counts events, not sessions") {
    val r = ops.StreamOps.streamSessionize(spark, sf0001)
      .filter(col("n_events") < col("n_sessions"))
    assert(r.count() == 0)
    // and at least one user has a multi-event session
    assert(ops.StreamOps.streamSessionize(spark, sf0001)
      .filter(col("n_events") > col("n_sessions")).count() > 0)
  }

  test("declared queries run oracle-identically over a CSV-backed source") {
    // write documents as CSV, mount it under a virtual dir, and run an
    // oracle-checked aggregate query through the normal Q path — the
    // non-parquet source feeds the exact same declared-query surface
    val docs = Tables(spark, sf0001, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft_csvq").toString
    docs.write.mode("overwrite").option("header", "true").csv(s"$out/documents")
    val viaCsv = sources.Sources.readCsv(spark, s"$out/documents", docs.schema)
    val mnt = s"$out/mnt"
    Tables.mount(spark, mnt, "documents", viaCsv)
    val fromCsv = ops.TextSim.textStats(spark, mnt).collect().toSeq
    val fromParquet = ops.TextSim.textStats(spark, sf0001).collect().toSeq
    assert(fromCsv == fromParquet)
    // a second declared query over the same mount (dedup path)
    assert(ops.TextSim.dedupExact(spark, mnt).collect().toSeq ==
      ops.TextSim.dedupExact(spark, sf0001).collect().toSeq)
  }

  test("round-9 batch plan shapes: broadcasts and join-free aggregates where promised") {
    // spearman: the 50-value quantity rank relation must BROADCAST
    // into the fact join-back (the price side is the one legitimate
    // data-sized shuffle join)
    val sp = ops.Relational.aggSpearmanCorr(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastHashJoin"), s"no broadcast in spearman plan:\n$sp")
    // dim_variance: ZERO joins — one posexplode + 64-key aggregate
    val dv = ops.TextSim.simDimVariance(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!dv.contains("Join"), s"unexpected join in dim_variance plan:\n$dv")
    assert(dv.contains("HashAggregate"), "dim_variance should hash-aggregate")
    // quantization error: exactly the one self-equi-join, no
    // nested-loop anywhere
    val qe = ops.TextSim.simQuantizationError(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!qe.contains("NestedLoop") && !qe.contains("Cartesian"),
      s"quantization-error pairing degenerated:\n$qe")
  }

  test("round-9 §2.20/§2.21 plan shapes: range shuffles, broadcasts, no degenerate joins") {
    // shard_balance: ZERO joins — one 32-key aggregate + 1-row reduce
    val sb = ops.Pipelines.pipelineShardBalance(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!sb.contains("Join"), s"unexpected join in shard_balance plan:\n$sb")
    // chunk_packing: the global token offset must come off GlobalRank's
    // RANGE shuffle (never a single-partition global window)
    val cp = ops.Pipelines.pipelineChunkPacking(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(cp.contains("rangepartitioning"),
      s"chunk_packing lost the GlobalRank range shuffle:\n$cp")
    // kmeans_reassign: both assignment passes stay broadcast-8
    // crossJoins — no data-sized shuffle join, no cartesian
    val kr = ops.Pipelines.simKmeansReassign(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!kr.contains("SortMergeJoin") && !kr.contains("CartesianProduct"),
      s"kmeans_reassign assignment degenerated:\n$kr")
    // forecast_wape: the day->day-7 join runs on the calendar-bounded
    // aggregate, broadcast at test SF
    val fw = ops.TimeSeries.tsForecastWape(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(fw.contains("BroadcastHashJoin"),
      s"forecast_wape day join did not broadcast:\n$fw")
  }

  test("round-9 §2.22/§2.23 plan shapes: single sort lineages, bounded joins") {
    // interval_merge: both windows share ONE sort lineage — exactly
    // one shuffle below the island aggregates, never a second sort
    val im = ops.Windows.winIntervalMerge(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(im).size <= 2,
      s"interval_merge grew extra shuffles:\n$im")
    // did_lift: zero joins — stacked map-combined aggregates only
    val dl = ops.TimeSeries.tsDidLift(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!dl.contains("Join"), s"unexpected join in did_lift plan:\n$dl")
    // knn_accuracy: the probe panel must be the broadcast side and the
    // 5-NN cut must run as a WindowGroupLimit before the shuffle
    val ka = ops.TextSim.simKnnAccuracy(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ka.contains("BroadcastNestedLoopJoin") && ka.contains("WindowGroupLimit"),
      s"knn_accuracy lost the broadcast-panel/group-limit shape:\n$ka")
    // centroid_outliers: broadcast-only joins, no windows, no SMJ
    val co = ops.TextSim.simCentroidOutliers(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!co.contains("SortMergeJoin") && !co.contains("Window"),
      s"centroid_outliers degenerated:\n$co")
    // mmr_topk: pool/pairwise relations are checkpointed — greedy
    // rounds must read ExistingRDD leaves, not recompute the corpus scan
    val mm = ops.TextSim.simMmrTopk(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(mm.contains("Scan ExistingRDD"),
      s"mmr_topk lost its checkpointed pool:\n$mm")
  }

  test("round-9 §2.24 plan shapes: broadcast-bounded joins, no degenerate shapes") {
    // jackknife: zero real joins — the 1-row total must attach as a
    // broadcast nested-loop, never a shuffle join
    val jk = ops.Relational.aggJackknifeLoo(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(jk.contains("BroadcastNestedLoopJoin") && !jk.contains("SortMergeJoin"),
      s"jackknife total attachment degenerated:\n$jk")
    // kendall: the month-pair self-join runs on the broadcast
    // calendar-bounded aggregate, not a data-sized shuffle
    val kt = ops.Relational.aggKendallTau(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(kt.contains("BroadcastNestedLoopJoin") && !kt.contains("SortMergeJoin"),
      s"kendall pairing degenerated:\n$kt")
    // TWAP: the lead window and the aggregate share ONE partkey
    // partitioning — exactly one hash exchange below the final sort
    val tw = ops.Windows.winTimeWeightedAvg(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(tw).size <= 1,
      s"twap grew extra shuffles:\n$tw")
    // silhouette: broadcast-only joins (centroids), no SMJ, no window
    val sl = ops.TextSim.simSilhouetteSimplified(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!sl.contains("SortMergeJoin") && !sl.contains("Window"),
      s"silhouette degenerated:\n$sl")
    // merge apply: the full-outer join must be the custkey-partitioned
    // merge of the two aggregates — present, and exactly one per plan
    val ma = ops.TimeSeries.cdcMergeApply(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("SortMergeJoin .*FullOuter".r.findFirstIn(ma).isDefined,
      s"merge apply lost the full-outer key join:\n$ma")
  }

  test("round-9 §2.25 plan shapes: range-shuffled median, shared lineages") {
    // hodges-lehmann (round 16): the two median order statistics come
    // from ExactQuantile's bounded two-pass histogram (eager, at
    // construction) — the returned plan must carry NO sort of the
    // days² pair relation (no range shuffle, no window; the old
    // GlobalRank route ranked ~days²/2 rows to read 2 of them)
    val hl = ops.Relational.aggHodgesLehmann(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!hl.contains("rangepartitioning"),
      s"hodges-lehmann regrew a pair-relation sort:\n$hl")
    assert(!hl.contains("Window"), s"hodges-lehmann grew a global window:\n$hl")
    // recency decay: dims broadcast; the only shuffle joins are none
    val rd = ops.Relational.aggRecencyDecay(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!rd.contains("SortMergeJoin") && rd.contains("BroadcastHashJoin"),
      s"recency-decay dim joins degenerated:\n$rd")
    // best split: the fact scan folds into ONE histogram — no join
    // touches fact-sized rows (every join is a broadcast nested loop
    // over the bucket/threshold relations)
    val bs = ops.Relational.aggBestSplitGini(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bs.contains("SortMergeJoin") && !bs.contains("CartesianProduct"),
      s"best-split grew a data-sized join:\n$bs")
    // winnowing: shingles + rolling min share one doc-keyed sort
    // lineage; the pair join must stay equi-keyed (no cartesian)
    val wn = ops.Pipelines.dedupWinnowing(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!wn.contains("CartesianProduct") && !wn.contains("NestedLoop"),
      s"winnowing pair join degenerated:\n$wn")
  }

  test("round-9 §2.26 plan shapes: join-free stats, TakeOrdered top-k") {
    // ztest: zero joins — stacked map-combined aggregates only
    val zt = ops.Relational.aggAbProportionsZtest(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!zt.contains("Join"), s"unexpected join in ztest plan:\n$zt")
    // nested collect: one shuffle into the collect aggregate, no window
    val nc = ops.Funcs.fnNestedCollect(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!nc.contains("Window") && nc.contains("ObjectHashAggregate"),
      s"nested collect lost its aggregate shape:\n$nc")
    // collocation: top-20 must be TakeOrdered, never a global window
    val cl = ops.TextSim.textCollocationLlr(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(cl.contains("TakeOrdered") && !cl.contains("CartesianProduct"),
      s"collocation top-k degenerated:\n$cl")
    // fk audit: anti joins stay equi-keyed (broadcast or shuffle)
    val fk = ops.Relational.aggFkViolations(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(fk.contains("LeftAnti") && !fk.contains("CartesianProduct"),
      s"fk audit anti joins degenerated:\n$fk")
  }

  test("round-9 §2.27 plan shapes: commutative folds, bounded panels") {
    // checksum: three scans unioned, zero joins anywhere
    val ck = ops.Relational.aggTableChecksum(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ck.contains("Join") && ck.contains("Union"),
      s"checksum grew a join:\n$ck")
    // extreme value: zero joins — stacked aggregates only
    val ev = ops.TimeSeries.tsExtremeValueMoments(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ev.contains("Join"), s"unexpected join in EVT plan:\n$ev")
    // bitmap overlap: the pair join must stay word-equi-keyed
    val bo = ops.Relational.aggBitmapOverlap(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bo.contains("CartesianProduct") && !bo.contains("NestedLoop"),
      s"bitmap pair join degenerated:\n$bo")
    // metric agreement: both top-10s cut by WindowGroupLimit over the
    // SAME persisted scored relation
    val mag = ops.TextSim.simMetricAgreement(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(mag.contains("WindowGroupLimit") && mag.contains("InMemoryTableScan"),
      s"metric agreement lost its shared scored relation:\n$mag")
  }

  test("round-10 §2.29 plan shapes: fused scans, TakeOrdered selection, range-shuffled sampling") {
    // gopher: ONE scan, zero joins, zero windows — every rule fuses
    val gq = ops.Pipelines.pipelineGopherQuality(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!gq.contains("Join") && !gq.contains("Window"),
      s"gopher rules grew a join/window:\n$gq")
    // dsir: the top-200 selection must be TakeOrdered, never a global
    // row_number over the doc relation
    val ds = ops.Pipelines.pipelineDsirSelection(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ds.contains("TakeOrdered") && !ds.contains("Window"),
      s"dsir selection lost TakeOrdered:\n$ds")
    // ndcg: top-10 cut by WindowGroupLimit before the rank filter
    val nd = ops.TextSim.simNdcgAt10(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(nd.contains("WindowGroupLimit"),
      s"ndcg lost its WindowGroupLimit cap:\n$nd")
    // cramers: marginal joins stay broadcast on the bounded cell keys
    val cv = ops.Relational.aggCramersV(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!cv.contains("SortMergeJoin") && !cv.contains("CartesianProduct"),
      s"cramers marginal joins degenerated:\n$cv")
    // psi: no window anywhere; the spine joins are broadcast-sized
    val ps = ops.Relational.aggPsiDrift(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ps.contains("Window") && !ps.contains("SortMergeJoin"),
      s"psi drift plan degenerated:\n$ps")
    // systematic: the global position comes off GlobalRank's RANGE
    // shuffle — never a no-partition window
    val sy = ops.Sampling.sampleSystematic(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(sy.contains("rangepartitioning") && !sy.contains("Window"),
      s"systematic sampling lost the GlobalRank range shuffle:\n$sy")
  }

  test("round-10 §2.30 plan shapes: join-free stats, bounded self-joins, TakeOrdered ranks") {
    // welch / power: zero joins — stacked map-combined aggregates
    val wt = ops.Relational.aggWelchTtest(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!wt.contains("Join"), s"welch grew a join:\n$wt")
    val pm = ops.Relational.aggPowerMde(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!pm.contains("Join"), s"power_mde grew a join:\n$pm")
    // mcnemar: zero joins, zero windows
    val mc = ops.Relational.aggMcnemarPaired(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!mc.contains("Join") && !mc.contains("Window"),
      s"mcnemar grew a join/window:\n$mc")
    // seq2: the user-keyed self-join must stay equi-keyed; the spine
    // joins broadcast
    val sq = ops.Relational.funnelSeq2Support(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!sq.contains("CartesianProduct"),
      s"seq2 support degenerated to a cartesian:\n$sq")
    // log-odds: top-20 is TakeOrdered, never a vocab-wide window
    val lo = ops.TextSim.textLogOdds(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(lo.contains("TakeOrdered") && !lo.contains("Window"),
      s"log_odds lost TakeOrdered:\n$lo")
    // katz: equi-joins over the persisted graph, TakeOrdered top-20
    val kz = ops.GraphOps.graphKatz3(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(kz.contains("TakeOrdered") && !kz.contains("CartesianProduct"),
      s"katz plan degenerated:\n$kz")
  }

  test("round-10: the Bloom prefilter has ZERO false negatives and the CI brackets the mean") {
    // the defining Bloom property (membership never missed) — the
    // oracle only counts false POSITIVES, so pin the other side here:
    // n_pass_bloom >= n_true AND n_false_positives = pass - true >= 0
    val r = ops.Relational.joinBloomPrefilter(spark, sf0001).collect()(0)
    val (pass, truth, fps) = (r.getAs[Long]("n_pass_bloom"),
      r.getAs[Long]("n_true_matches"), r.getAs[Long]("n_false_positives"))
    assert(pass >= truth, s"bloom false negative: pass=$pass < true=$truth")
    assert(fps == pass - truth && fps >= 0)
    // bootstrap sanity: the 95% CI must bracket the full-population
    // mean on this fixed corpus, and lo <= hi
    val ci = ops.Sampling.sampleBootstrapCi(spark, sf0001).collect()(0)
    val (lo, hi, mean) = (ci.getAs[Double]("ci_lo_95"),
      ci.getAs[Double]("ci_hi_95"), ci.getAs[Double]("mean_full"))
    assert(lo <= hi, s"inverted CI: [$lo, $hi]")
    assert(lo <= mean && mean <= hi,
      s"CI [$lo, $hi] does not bracket the population mean $mean")
  }

  test("round-10 §2.31 plan shapes: broadcast blooms, bounded folds, seeded walks") {
    // bloom: both word joins broadcast; NO shuffle added to the probe
    val bl = ops.Relational.joinBloomPrefilter(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(bl.contains("BroadcastHashJoin") && !bl.contains("SortMergeJoin"),
      s"bloom probe grew a shuffle join:\n$bl")
    // bootstrap: per-replicate sums map-combine; the only window runs
    // on the 100-row replicate relation (present, but never data-sized)
    val bc = ops.Sampling.sampleBootstrapCi(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bc.contains("CartesianProduct"),
      s"bootstrap degenerated to a cartesian:\n$bc")
    // triplets: one broadcast panel scan, zero shuffle joins
    val tv = ops.TextSim.simTripletViolations(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!tv.contains("SortMergeJoin"),
      s"triplet scan grew a shuffle join:\n$tv")
    // holt: month-grain aggregate then an in-row fold — no window, no join
    val hl = ops.TimeSeries.tsHoltLinear(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!hl.contains("Window") && !hl.contains("Join"),
      s"holt grew a window/join:\n$hl")
    // ppr: TakeOrdered top-20 over the 3-round join chain, no cartesian
    val pp = ops.GraphOps.graphPprSeed(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(pp.contains("TakeOrdered") && !pp.contains("CartesianProduct"),
      s"ppr plan degenerated:\n$pp")
  }

  test("round-10 §2.32 plan shapes: reused keys, bounded grains, islands") {
    // growth accounting: every state join equi-keyed, no cartesian
    val ga = ops.TimeSeries.aggGrowthAccounting(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ga.contains("CartesianProduct") && !ga.contains("Window"),
      s"growth accounting degenerated:\n$ga")
    // acquisition curve: per-customer min map-combines; the only
    // window is the calendar-bounded day-grain running sum (by design)
    val gc = ops.TimeSeries.aggDistinctGrowthCurve(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!gc.contains("Join"), s"growth curve grew a join:\n$gc")
    // gap quantiles: the histogram running sum is the only global
    // window (value-grain, calendar-bounded); no data-sized sort join
    val ig = ops.TimeSeries.aggInterPurchaseGap(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ig.contains("CartesianProduct") || ig.contains("BroadcastNestedLoop"),
      s"gap quantiles degenerated:\n$ig")
    // streaks: user-partitioned windows only, top-20 is TakeOrdered
    val sc = ops.Windows.winStreakCurrent(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(sc.contains("TakeOrdered"),
      s"current streak lost TakeOrdered:\n$sc")
  }

  test("round-10 §2.33 plan shapes: equi-keyed forensics, capped rankings") {
    // duplicate payments: the pair join stays (custkey, cents)-keyed
    val dp = ops.Relational.aggDuplicatePaymentAudit(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!dp.contains("CartesianProduct") && !dp.contains("NestedLoop"),
      s"duplicate-payment join degenerated:\n$dp")
    // round-number / split-transaction: zero joins
    val rn = ops.Relational.aggRoundNumberBias(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!rn.contains("Join"), s"round-number grew a join:\n$rn")
    val st = ops.Relational.aggSplitTransactionDetect(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!st.contains("Join"), s"split-txn grew a join:\n$st")
    // gap outliers: top-20 TakeOrdered over customer-bounded windows
    val go = ops.Windows.winOrderGapOutliers(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(go.contains("TakeOrdered"), s"gap outliers lost TakeOrdered:\n$go")
    // rbo / ablation: WindowGroupLimit caps both rankings off one
    // persisted scored relation
    val rb = ops.TextSim.simRboRankings(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(rb.contains("WindowGroupLimit") && rb.contains("InMemoryTableScan"),
      s"rbo lost its shared capped rankings:\n$rb")
    val da = ops.TextSim.simDimAblationOverlap(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(da.contains("WindowGroupLimit") && da.contains("InMemoryTableScan"),
      s"dim ablation lost its shared capped rankings:\n$da")
  }

  test("round-10 §2.34 plan shapes: percentile folds, bounded grids") {
    // qq / equi-depth / trimmed: percentile aggregates, no data-sized
    // sort joins anywhere
    val qq = ops.Relational.aggQqPriceSegments(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!qq.contains("SortMergeJoin") && !qq.contains("CartesianProduct"),
      s"qq grid degenerated:\n$qq")
    val ed = ops.Relational.aggEquiDepthHistogram(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ed.contains("Join"), s"equi-depth grew a join:\n$ed")
    // round 14: bounds fold in as literals from ExactQuantile's
    // two-pass recipe — the keep pass is ONE joinless fused scan
    val tm = ops.Relational.aggTrimmedMean(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!tm.contains("Join"),
      s"trimmed-mean keep pass grew a join:\n$tm")
    // acf: the daily relation is built once (localCheckpoint) and the
    // four lag joins read it
    val ac = ops.TimeSeries.tsAcfWeekly(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ac.contains("CartesianProduct"), s"acf degenerated:\n$ac")
    // doclen gini: one source-bounded window + map-combined sums
    val dg = ops.Pipelines.pipelineDoclenGini(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!dg.contains("Join"), s"doclen gini grew a join:\n$dg")
  }

  test("round-10: top_token_coverage is TakeOrdered, never a vocab window") {
    // Heaps' law: vocabulary grows ~n^0.5, so a global row_number over
    // it is a one-task sort of 10^8+ rows at corpus scale. The plan
    // must cut the top-50 with per-partition heaps (TakeOrdered) and
    // contain NO WindowExec at all.
    val tc = ops.Pipelines.pipelineTopTokenCoverage(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(tc.contains("TakeOrdered"),
      s"top_token_coverage lost its TakeOrderedAndProject:\n$tc")
    assert(!tc.contains("Window"),
      s"top_token_coverage regrew a global window:\n$tc")
  }

  test("round-11 §2.35 plan shapes: sequential tests, conformal, cusum") {
    // SPRT / e-process: the running sums must come from GlobalRank's
    // range-partitioned two-pass — a no-partition window over the
    // order stream would be the classic one-task sort
    // a GlobalRank-shaped plan's only window is partition-LOCAL,
    // keyed by the __grpid slice id; a no-partition window prints
    // windowspecdefinition with no partition columns before the sort
    def windowsArePartitionLocal(plan: String): Boolean =
      !plan.contains("windowspecdefinition(") ||
        plan.contains("windowspecdefinition(__grpid")
    val sp = ops.Relational.aggSprtDecision(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(windowsArePartitionLocal(sp),
      s"sprt runs a non-slice-local window:\n${sp.take(1500)}")
    val ep = ops.Relational.aggEprocessSummary(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(windowsArePartitionLocal(ep),
      s"e-process runs a non-slice-local window:\n${ep.take(1500)}")
    // conformal: the per-segment offsets/quantile relation must reach
    // the calibration rank join as a BROADCAST (4 rows), never a
    // shuffled join
    val ci = ops.Sampling.sampleConformalInterval(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ci.contains("BroadcastHashJoin"),
      s"conformal offsets not broadcast:\n${ci.take(1500)}")
    val cc = ops.Sampling.sampleConformalCoverage(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(cc.contains("BroadcastHashJoin"),
      s"coverage intervals not broadcast:\n${cc.take(1500)}")
    // fertility: ONE map-combined aggregate, no join, no window
    val bf = ops.Pipelines.pipelineBpeFertility(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bf.contains("Join") && !bf.contains("Window"),
      s"fertility grew a join/window:\n${bf.take(1500)}")
    // cusum: in-row fold + top-k — TakeOrdered, no data-sized sort
    val cu = ops.TimeSeries.tsCusumTop(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(cu.contains("TakeOrdered"),
      s"cusum lost its TakeOrderedAndProject:\n${cu.take(1500)}")
    assert(!cu.contains("Join"), s"cusum grew a join:\n${cu.take(1500)}")
  }

  test("round-11 §2.36/§2.37 plan shapes: experimentation reads, HW fold") {
    // cuped: pooled moments broadcast into the 2-row arm relation
    val cp = ops.Relational.aggCupedAdjust(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(cp.contains("BroadcastNestedLoopJoin") || cp.contains("BroadcastHashJoin"),
      s"cuped pooled moments not broadcast:\n${cp.take(1500)}")
    // srm / poisson / capture / hhi / balance: single-aggregate
    // shapes — no join anywhere
    for ((name, q) <- Seq(
      "srm" -> ops.Relational.aggSrmCheck,
      "poisson_rate" -> ops.Relational.aggPoissonRateTest,
      "covariate_balance" -> ops.Relational.aggCovariateBalance,
      "capture_recapture" -> ops.Relational.aggCaptureRecapture,
      "hhi" -> ops.Relational.aggHhiConcentration)) {
      val p = q(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"$name grew a join:\n${p.take(1200)}")
    }
    // auc: the rank window runs on the value-grain score relation,
    // after the customer aggregate — exactly one Window
    val au = ops.Relational.aggAucReorder(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(au.contains("Window"), s"auc lost its rank window:\n${au.take(1200)}")
    // holt-winters: pure fold — no join, no window, and the plan
    // carries the HOF aggregate
    val hw = ops.TimeSeries.tsHoltWinters(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!hw.contains("Join") && !hw.contains("Window"),
      s"holt-winters grew a join/window:\n${hw.take(1200)}")
    // retention half-life: the spine explode is calendar-bounded and
    // every join is keyed on cohort_wk — no cartesian anywhere
    val rh = ops.TimeSeries.tsRetentionHalfLife(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!rh.contains("CartesianProduct"),
      s"half-life degenerated to cartesian:\n${rh.take(1200)}")
    // conditional entropy: totals broadcast back onto the
    // event-type^2 relation
    val ce = ops.TimeSeries.tsConditionalEntropy(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ce.contains("BroadcastHashJoin"),
      s"cond-entropy totals not broadcast:\n${ce.take(1200)}")
  }

  test("round-11 §2.38 plan shapes: GlobalRank decile/coverage, bounded top-k") {
    // decile lift: GlobalRank two-pass — no no-partition window on
    // the customer relation
    val dl = ops.Relational.aggDecileLift(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!dl.contains("windowspecdefinition(") ||
      dl.contains("windowspecdefinition(__grpid"),
      s"decile lift runs a non-slice-local window:\n${dl.take(1200)}")
    // vocab coverage: same — the vocab relation must NOT get a global
    // window (the top_token_coverage rule)
    val vc = ops.Pipelines.pipelineVocabCoveragePoints(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!vc.contains("windowspecdefinition(") ||
      vc.contains("windowspecdefinition(__grpid"),
      s"vocab coverage runs a non-slice-local window:\n${vc.take(1200)}")
    // prefix clusters: TakeOrdered, no data-sized sort
    val pcl = ops.Pipelines.dedupPrefixCluster(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(pcl.contains("TakeOrdered"),
      s"prefix clusters lost TakeOrderedAndProject:\n${pcl.take(1200)}")
    // dominance: the rank filter must push the per-partition group
    // limit (Spark 4 WindowGroupLimit)
    val dom = ops.Windows.winRevenueDominance(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(dom.contains("WindowGroupLimit"),
      s"dominance rank<=2 not pushed to WindowGroupLimit:\n${dom.take(1200)}")
    // kfold / repeat-rate: no join beyond the broadcast total
    val kf = ops.Sampling.sampleKfoldAssign(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!kf.contains("SortMergeJoin"), s"kfold shuffled a join:\n${kf.take(1200)}")
    val rr = ops.Relational.aggRepeatPurchaseRate(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!rr.contains("Join"), s"repeat rate grew a join:\n${rr.take(1200)}")
  }

  test("round-12 §2.39 plans: spans hash-banded, rrf take-ordered, simhash one-scan") {
    // substring spans (pre-checkpoint plan, round-17 shape): the
    // df-capped pairing is ONE groupBy(h) collect + in-row expansion
    // and the island scan is in-row over the (d1,d2,df) collect — no
    // join of any kind, no window, exactly two hash exchanges
    val spansLazy = ops.Pipelines.dupSpansBuild(spark, sf0001, 12)
    val sb = spansLazy.queryExecution.executedPlan.toString
    assert(!sb.contains("Join"),
      s"span build grew a join back:\n${sb.take(1200)}")
    assert(!sb.contains("windowspecdefinition("),
      s"span build grew a window back:\n${sb.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(sb).size <= 2,
      s"span build shuffles more than (h) + (d1,d2,df):\n${sb.take(1200)}")
    // rrf: both legs are distributed top-k (TakeOrderedAndProject),
    // the only corpus-sized sorts allowed in the query
    val rf = ops.TextSim.simRrfFusion(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(rf.contains("TakeOrdered"),
      s"rrf legs lost TakeOrderedAndProject:\n${rf.take(1200)}")
    // simhash (round-12 rewrite; round 16 moved the fingerprints to the
    // shared checkpointed table): the banded relation explodes 5 band
    // keys from ONE scan of the fingerprint leaf per join side — two
    // scans total, not the old 5-per-side unionAll
    val sh = ops.Pipelines.dedupSimhash(spark, sf0001)
      .queryExecution.executedPlan.toString
    // count scans OF the fingerprint relation (output contains fp#…) —
    // a checkpointed leaf prints as "Scan ExistingRDD [... fp#N]"
    val scans = ("InMemoryTableScan \\[[^\\]]*fp#".r.findAllIn(sh).length
      + "Scan ExistingRDD[^\\n]*fp#".r.findAllIn(sh).length)
    assert(scans <= 2,
      s"simhash banding rescans the fingerprint relation ($scans scans):\n${sh.take(1200)}")
    // §2.40: hill = ONE distributed top-k, never a global sort; the
    // only window runs on the 101 TakeOrdered survivors
    val hl = ops.Relational.aggTailIndexHill(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(hl.contains("TakeOrdered"),
      s"hill lost TakeOrderedAndProject:\n${hl.take(1200)}")
    // simpson: two aggregates of one scan + a broadcast of the 1-row
    // pooled moments — no shuffled join
    val si = ops.Relational.aggSimpsonSlopeFlip(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!si.contains("SortMergeJoin"),
      s"simpson slope grew a shuffled join:\n${si.take(1200)}")
  }

  test("round-12 §2.41 plans: broadcast panels/LMs, group limits, no shuffled joins") {
    // mrr/map: one linear corpus scan against the broadcast probe
    // panel; the top-10 cut is a WindowGroupLimit (10 rows of state
    // per probe), like ndcg
    Seq(ops.TextSim.simMrrAt10, ops.TextSim.simMapAt10).foreach { q =>
      val p = q(spark, sf0001).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") && p.contains("WindowGroupLimit"),
        s"retrieval metric lost the broadcast-panel/group-limit shape:\n${p.take(1200)}")
      assert(!p.contains("SortMergeJoin"),
        s"retrieval metric grew a shuffled join:\n${p.take(1200)}")
    }
    // kneser-ney: the three LM relations are vocab-bounded and
    // explicitly broadcast — the test scan never shuffle-joins
    val kn = ops.Pipelines.pipelineKneserNeyNll(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!kn.contains("SortMergeJoin"),
      s"kneser-ney test scan shuffle-joined:\n${kn.take(1200)}")
    // token mix: everything after the per-source aggregate rides a
    // |sources|-bounded relation; the only window is the bounded rank
    val mx = ops.Pipelines.pipelineTokenBudgetMix(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!mx.contains("SortMergeJoin"),
      s"token mix grew a shuffled join:\n${mx.take(1200)}")
    // two-way anova: the 25-cell relation is an EAGER checkpoint (the
    // dim-join broadcast shape is audited pre-checkpoint in PLANS.md);
    // the final plan must read it (ExistingRDD), never re-shuffle
    val av = ops.Relational.aggAnovaTwoWay(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(av.contains("Scan ExistingRDD") && !av.contains("SortMergeJoin"),
      s"two-way anova lost the checkpointed-cells shape:\n${av.take(1200)}")
    // xcorr: both day relations are calendar-bounded and broadcast
    val xc = ops.TimeSeries.tsXcorrLags(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!xc.contains("SortMergeJoin"),
      s"xcorr day join degenerated to a shuffle:\n${xc.take(1200)}")
  }

  test("round-12 §2.42 plans: range shuffles, bounded folds, no degenerate joins") {
    // pps: the cumulative-revenue line comes off GlobalRank's RANGE
    // shuffle — never a single-task global window
    val pp = ops.Sampling.samplePpsSystematic(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(pp.contains("rangepartitioning"),
      s"pps lost the GlobalRank range shuffle:\n${pp.take(1200)}")
    // qte (round 16): per-arm decile order statistics via ExactQuantile's
    // bounded two-pass histogram (eager) — no fact-relation sort, no
    // window, no shuffled join anywhere in the returned plan
    val qt = ops.Relational.aggQuantileTreatmentEffect(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!qt.contains("SortMergeJoin") && !qt.contains("Window"),
      s"qte degenerated:\n${qt.take(1200)}")
    // dominant period: fold aggregates hash-aggregate; the 29-period
    // fan-out is broadcast, never a shuffled or nested-loop join of facts
    val dp = ops.TimeSeries.tsDominantPeriod(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(dp.contains("HashAggregate") && !dp.contains("SortMergeJoin"),
      s"dominant period degenerated:\n${dp.take(1200)}")
    // kadane: extrema filters attach as broadcast joins on 1-row
    // relations; no shuffled join anywhere
    val kd = ops.TimeSeries.tsHotStreakKadane(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!kd.contains("SortMergeJoin"),
      s"kadane grew a shuffled join:\n${kd.take(1200)}")
    // hits: no cartesian/nested-loop — both iterations are equi-joins
    // on the edge relation; the final cut is TakeOrdered
    val ht = ops.GraphOps.graphHitsBipartite(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ht.contains("CartesianProduct") &&
      !ht.contains("BroadcastNestedLoopJoin") && ht.contains("TakeOrdered"),
      s"hits degenerated:\n${ht.take(1200)}")
  }

  test("round-12 §2.43 plans: bounded grids, fused scans, equi-join bridges") {
    // logrank: the only fact pass is the customer-grain aggregate; the
    // risk table rides the bounded gap grid — no shuffled join
    val lr = ops.TimeSeries.tsLogrankSegments(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!lr.contains("SortMergeJoin") && lr.contains("BroadcastHashJoin"),
      s"logrank degenerated:\n${lr.take(2400)}")
    // icc / partial corr: single fused scans, ZERO joins in partial_corr
    val pc = ops.Relational.aggPartialCorr(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!pc.contains("Join"), s"partial_corr grew a join:\n${pc.take(1200)}")
    val ic = ops.Relational.aggIccIntraclass(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ic.contains("Join") && ic.contains("HashAggregate"),
      s"icc degenerated:\n${ic.take(1200)}")
    // burrows delta: top-20 is TakeOrdered on the vocab relation; the
    // pair matrix rides the bounded grid — no shuffled join after it
    val bd = ops.TextSim.textBurrowsDelta(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(bd.contains("TakeOrdered"),
      s"burrows delta lost the top-k cut:\n${bd.take(1200)}")
    // local bridges: equi-joins only over EDGES — no cartesian/BNLJ
    // beyond the 1-row census attach
    val lb = ops.GraphOps.graphLocalBridges(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!lb.contains("CartesianProduct"),
      s"local bridges degenerated:\n${lb.take(1200)}")
    // threshold sweep: reuses the persisted LSH pair relation — the
    // sweep must read cached pairs, never rebuild the minhash chain
    val sw = ops.Pipelines.dedupThresholdSweep(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(sw.contains("InMemoryTableScan") || sw.contains("Scan ExistingRDD"),
      s"threshold sweep rebuilt the pair relation:\n${sw.take(1200)}")
  }

  test("round-12 §2.44 plans: bounded folds, month-keyed limits, fused scans") {
    // hurst: block prefixes ride the bounded day relation; the block
    // totals attach by broadcast — no shuffled join
    val hu = ops.TimeSeries.tsHurstExponent(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!hu.contains("SortMergeJoin"),
      s"hurst grew a shuffled join:\n${hu.take(1200)}")
    // chow / newey-west: date-grain aggregates + broadcast-only attach
    val cw = ops.TimeSeries.tsChowBreak(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!cw.contains("SortMergeJoin"),
      s"chow degenerated:\n${cw.take(1200)}")
    val nw = ops.TimeSeries.tsNeweyWest(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!nw.contains("SortMergeJoin"),
      s"newey-west degenerated:\n${nw.take(1200)}")
    // leaderboard churn: the top relation is an EAGER checkpoint (the
    // month-keyed WindowGroupLimit shape is audited pre-checkpoint in
    // PLANS.md); the final overlap joins ride ≤10·|months| rows and
    // must broadcast, never shuffle
    val lc = ops.Windows.winLeaderboardChurn(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(lc.contains("Scan ExistingRDD") && !lc.contains("SortMergeJoin"),
      s"leaderboard churn degenerated:\n${lc.take(1200)}")
    val lcPre = graft.Tables(spark, sf0001, "lineitem")
      .groupBy(org.apache.spark.sql.functions.trunc(
          col("l_shipdate").cast(org.apache.spark.sql.types.DateType),
          "month").as("mo"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice")).as("rev"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("mo"))
          .orderBy(col("rev").desc, col("l_suppkey"))))
      .filter(col("rk") <= 10)
      .queryExecution.executedPlan.toString
    assert(lcPre.contains("WindowGroupLimit"),
      s"monthly top-10 lost the group limit:\n${lcPre.take(1200)}")
    // cronbach: ONE fused scan, zero joins
    val ca = ops.Pipelines.pipelineCronbachAlpha(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ca.contains("Join") && ca.contains("HashAggregate"),
      s"cronbach degenerated:\n${ca.take(1200)}")
  }

  test("round-12 §2.45 plans: shared ECDF, take-ordered cuts, exchange-free bucketed join") {
    // wasserstein: must READ the cached shared ECDF (ks lineage),
    // never rebuild it
    val ws = ops.Relational.aggWasserstein1d(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ws.contains("Scan ExistingRDD") || ws.contains("InMemoryTableScan"),
      s"wasserstein rebuilt the ECDF:\n${ws.take(1200)}")
    // mahalanobis: one fused rescan + broadcast moments, top-20 =
    // distributed TakeOrderedAndProject, no shuffled join
    val mh = ops.Relational.aggMahalanobisOutliers(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(mh.contains("TakeOrdered") && !mh.contains("SortMergeJoin"),
      s"mahalanobis degenerated:\n${mh.take(1200)}")
    // span templates: reads the checkpointed span slice, TakeOrdered cut
    val st = ops.Pipelines.dedupSpanTemplates(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(st.contains("Scan ExistingRDD") && st.contains("TakeOrdered"),
      s"span templates degenerated:\n${st.take(1200)}")
    // pacf: two broadcast lag joins on the checkpointed day relation
    val pa = ops.TimeSeries.tsPacfLag2(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!pa.contains("SortMergeJoin"),
      s"pacf degenerated:\n${pa.take(1200)}")
    // cem: per-(stratum, arm) ranks off GlobalRank's RANGE shuffle —
    // never a partitionBy window over fact rows
    val cm = ops.Sampling.sampleCemMatching(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(cm.contains("rangepartitioning"),
      s"cem lost the GlobalRank range shuffle:\n${cm.take(1200)}")
    // bucketed join: ZERO exchanges under the sort-merge join — the
    // whole point of the bucketed layout. At sf0.001 the optimizer
    // would BROADCAST the 150-row dim (also exchange-free, but it
    // proves nothing about buckets) — disable auto-broadcast on a
    // cloned session so the SMJ path is what gets audited
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bk = ops.Relational.srcBucketedRoundtrip(s2, sf0001)
      .queryExecution.executedPlan.toString
    val joinIdx = bk.indexOf("SortMergeJoin")
    assert(joinIdx >= 0, s"bucketed join missing:\n${bk.take(1200)}")
    assert(!bk.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n${bk.take(2400)}")
  }

  test("round-13 §2.46/§2.47 plans: row-local PII, shared span + bipartite builds") {
    // PII profile and redact are ROW-LOCAL regexp passes — any join
    // in the plan means the fixture injection degenerated
    Seq(ops.Pipelines.pipelinePiiProfile,
      ops.Pipelines.pipelinePiiRedact).foreach { q =>
      val p = q(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("Join"), s"PII op grew a join:\n${p.take(1200)}")
    }
    // span excision reads the CHECKPOINTED shared span relation (one
    // build serves spans/coverage/templates/excision), and the
    // excision set join is an equi-join, never a product
    val ex = ops.Pipelines.pipelineSpanExcisedTokens(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(ex.contains("Scan ExistingRDD"),
      s"excision rebuilt the span relation:\n${ex.take(1200)}")
    assert(!ex.contains("CartesianProduct") &&
      !ex.contains("BroadcastNestedLoopJoin"),
      s"excision joins degenerated:\n${ex.take(1200)}")
    // the bipartite edge build is SHARED: one cached relation serves
    // HITS, the degree profile and assortativity (round-12 verdict
    // item 5 — the suite's largest 100×-tier build, amortized)
    assert(Tables.bipartite(spark, sf0001) eq Tables.bipartite(spark, sf0001),
      "Tables.bipartite lost its per-sfDir cache")
    // round 17: the node DEGREES are family-shared too
    // (Tables.bipartiteDegrees, checkpointed) — edge-scanning consumers
    // (hits, assortativity) read the cached edge relation, and every
    // consumer reads the checkpointed degree leaves (Scan ExistingRDD);
    // the degree profile is PURE node-grain (no edge scan at all)
    Seq("hits" -> ops.GraphOps.graphHitsBipartite,
      "assortativity" -> ops.GraphOps.graphBipartiteAssortativity)
      .foreach { case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(p.contains("InMemoryTableScan"),
          s"$n rebuilt the bipartite edges instead of reading the " +
            s"shared cache:\n${p.take(1200)}")
        assert(p.contains("Scan ExistingRDD"),
          s"$n rebuilt the degree aggregate instead of reading the " +
            s"shared checkpoint:\n${p.take(1200)}")
      }
    val dpp = ops.GraphOps.graphBipartiteDegreeProfile(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(dpp.contains("Scan ExistingRDD") &&
      !dpp.contains("InMemoryTableScan"),
      s"degree profile should read ONLY the degree checkpoints:\n${dpp.take(1200)}")
    // co-supply pairs expand IN-ROW per order (the Tables.edges
    // recipe) — no supplier×supplier product anywhere; top-20 is a
    // distributed TakeOrderedAndProject
    val cs = ops.GraphOps.graphCosupplySupplierSim(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!cs.contains("CartesianProduct") && cs.contains("TakeOrdered"),
      s"co-supply degenerated:\n${cs.take(1200)}")
  }

  test("round-13 §2.49 plans: shared ECDF, one-window ljung-box, fused profilers") {
    // mood: must READ the cached shared ECDF (the ks/wasserstein
    // lineage), never rebuild it; everything after is broadcast
    val md = ops.Relational.aggMoodMedianTest(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(md.contains("Scan ExistingRDD") || md.contains("InMemoryTableScan"),
      s"mood test rebuilt the ECDF:\n${md.take(1200)}")
    assert(!md.contains("SortMergeJoin"), s"mood grew a shuffled join:\n${md.take(1200)}")
    // ljung-box: all 7 leads from ONE window pass, no shuffled join
    val lb = ops.TimeSeries.tsLjungBox(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!lb.contains("SortMergeJoin"),
      s"ljung-box degenerated:\n${lb.take(1200)}")
    // url profile: row-local regexp + two small aggregates — no
    // shuffled join; chunk windows: no join at all
    val up = ops.Pipelines.pipelineUrlProfile(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!up.contains("SortMergeJoin"),
      s"url profile degenerated:\n${up.take(1200)}")
    val cw = ops.Pipelines.pipelineChunkWindows(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!cw.contains("Join"), s"chunk windows grew a join:\n${cw.take(1200)}")
  }

  test("round-13 §2.50 plans: dimension-grain census, day-grain folds, no shuffled joins") {
    Seq("k_anonymity" -> ops.Relational.aggKAnonymity,
      "wilcoxon" -> ops.Relational.aggWilcoxonSignedRank).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(!p.contains("SortMergeJoin"),
          s"$n grew a shuffled join:\n${p.take(1200)}")
    }
    val sk = ops.TimeSeries.tsSeasonalNaiveSkill(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!sk.contains("Join"), s"skill grew a join:\n${sk.take(1200)}")
  }

  test("round-13/16: conformal pair — ExactQuantile q, broadcast attach (drift watch)") {
    // round 16 re-shape: the per-segment conformal quantile comes from
    // ExactQuantile's bounded two-pass histogram (eager, at
    // construction); the returned plan must attach the 4-row q/pred
    // relations as BROADCASTS with no shuffled join and no window over
    // the calibration split (the old GlobalRank route range-shuffled
    // and persisted the whole split to read 4 order statistics)
    Seq("interval" -> ops.Sampling.sampleConformalInterval,
      "coverage" -> ops.Sampling.sampleConformalCoverage).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(p.contains("BroadcastHashJoin"),
          s"conformal $n lost the broadcast attach:\n${p.take(1200)}")
        assert(!p.contains("SortMergeJoin"),
          s"conformal $n grew a shuffled join:\n${p.take(1200)}")
        assert(!p.contains("Window"),
          s"conformal $n grew a window:\n${p.take(1200)}")
    }
  }

  test("round-14: exact-percentile family carries NO single-buffer Percentile") {
    // Spark's exact percentile()/median() merges every value into ONE
    // final buffer per group — the measured 100×-tier serialization
    // wall (winsorized: 113.6 s wall ≈ 134.5 CPU-s at 60M rows). All
    // four re-shaped queries now take thresholds from ExactQuantile's
    // two-pass bucketed recipe, so their final plans must contain no
    // percentile aggregate at all; iqr keeps its broadcast fences and
    // none of them may shuffle a join.
    Seq("median_quantile" -> ops.Relational.aggMedianQuantile,
      "iqr_outliers" -> ops.Relational.aggIqrOutliers,
      "winsorized_mean" -> ops.Relational.aggWinsorizedMean,
      "trimmed_mean" -> ops.Relational.aggTrimmedMean,
      "mad" -> ops.Relational.aggMad,
      "qq_price_segments" -> ops.Relational.aggQqPriceSegments,
      "equi_depth_histogram" -> ops.Relational.aggEquiDepthHistogram,
      // round 15: the customer-grain p99 threshold (the last data-
      // sized single-buffer percentile() in the suite) re-shaped too,
      // and the new quantile-skew rides the same helper from birth
      "top1pct_share" -> ops.Relational.aggTop1pctShare,
      "quantile_skew" -> ops.Relational.aggQuantileSkew).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(!p.toLowerCase.contains("percentile"),
          s"$n still buffers a Percentile aggregate:\n${p.take(1200)}")
        assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
          s"$n grew a shuffled join:\n${p.take(1200)}")
    }
  }

  test("round-15 §2.55–§2.56 plans: fused censuses, range-shuffled ranks, bounded folds") {
    // nfkc census: row-local codegen'd normalize into one |sources|
    // aggregate — join-free like its §2.51 siblings
    val nk = ops.Crawl.pipelineNfkcCensus(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!nk.contains("Join"), s"nfkc census grew a join:\n${nk.take(1200)}")
    // export manifest + kruskal: the global running sum must ride the
    // GlobalRank range shuffle (never a single-task global window) and
    // only broadcast the bounded offsets
    Seq("export_manifest" -> ops.Export.pipelineExportManifest,
      "kruskal_wallis" -> ops.Relational.aggKruskalWallis,
      "jonckheere" -> ops.Relational.aggJonckheere,
      "export_balance" -> ops.Export.pipelineExportBalance).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(p.contains("rangepartitioning"),
          s"$n lost the range-partitioned running sum:\n${p.take(1200)}")
        assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
          s"$n grew a shuffled join:\n${p.take(1200)}")
        assert(!p.contains("WindowExec: No Partition"),
          s"$n collapsed to a single-task window:\n${p.take(1200)}")
    }
    // sentence censuses: fused row-local chains, join-free
    Seq("sentence_profile" -> ops.Crawl.pipelineSentenceProfile,
      "readability" -> ops.Crawl.pipelineReadability).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(!p.contains("Join"), s"$n grew a join:\n${p.take(1200)}")
    }
    // grubbs + g-test + bartlett: one map-combined aggregate,
    // broadcast-only; cochran rides the calendar-bounded week ranks
    Seq("grubbs" -> ops.Relational.aggGrubbsMax,
      "g_test_dow" -> ops.Relational.aggGTestDow,
      "bartlett" -> ops.Relational.aggBartlett,
      "cochran_q" -> ops.TimeSeries.tsCochranQ).foreach { case (n, q) =>
      val p = q(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$n grew a shuffled join:\n${p.take(1200)}")
    }
  }

  test("round-16 §2.59–§2.60 plans: range-shuffled packs, broadcast mixes, bounded dedup joins") {
    // the two packs + the mixture pair: the running sum rides the
    // GlobalRank range shuffle (never a single-task global window);
    // the only joins are broadcast (|sources| targets / bounded tot)
    Seq("export_tokenized" -> ops.Export.pipelineExportTokenized,
      "mix_manifest" -> ops.Curation.pipelineMixManifest,
      "mix_census" -> ops.Curation.pipelineMixCensus).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(p.contains("rangepartitioning"),
          s"$n lost the range-partitioned running sum:\n${p.take(1200)}")
        assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
          s"$n grew a shuffled join:\n${p.take(1200)}")
        assert(!p.contains("WindowExec: No Partition"),
          s"$n collapsed to a single-task window:\n${p.take(1200)}")
    }
    // sentence dedup: equi-joins on the hash only — no pair cartesian
    Seq("sentence_spans" -> ops.Crawl.dedupSentenceSpans,
      "sentence_excision" -> ops.Crawl.pipelineSentenceExcision).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"),
          s"$n grew a degenerate join:\n${p.take(1200)}")
    }
    // ppl tier mix: the KN chain's 1-row broadcast crossJoin (lm.tot)
    // legitimately renders as BroadcastNestedLoopJoin — ban only a
    // true cartesian
    val tm = ops.Pipelines.pipelinePplTierMix(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!tm.contains("CartesianProduct"),
      s"ppl_tier_mix grew a cartesian:\n${tm.take(1200)}")
    // cvm rides the shared range-shuffled ECDF; broadcast-only after
    val cv = ops.Relational.aggCvmTest(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!cv.contains("SortMergeJoin") && !cv.contains("CartesianProduct"),
      s"cvm grew a shuffled join:\n${cv.take(1200)}")
  }

  test("round-14 §2.51–§2.53 plans: fused scans, bounded relations, no degenerate joins") {
    // the censuses are row-local chains into one |sources| aggregate:
    // no join of any kind may appear
    Seq("html_extract" -> ops.Crawl.pipelineHtmlExtract,
      "unicode_census" -> ops.Crawl.pipelineUnicodeCensus,
      "encoding_repair" -> ops.Crawl.pipelineEncodingRepair,
      "char_class_profile" -> ops.Crawl.pipelineCharClassProfile).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(!p.contains("Join"), s"$n grew a join:\n${p.take(1200)}")
    }
    // url dedup: one distinct aggregate after an output-sized explode
    // (multi-countDistinct over string min/max lowers to SortAggregate
    // via expand — still join-free, the shape that matters)
    val ud = ops.Crawl.pipelineUrlDedup(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!ud.contains("Join") && ud.contains("Aggregate"),
      s"url_dedup degenerated:\n${ud.take(1200)}")
    // boilerplate: the df join is equi-keyed on (source, line), the
    // n_docs side broadcasts — never a shuffled sort join
    val bp = ops.Crawl.pipelineBoilerplateLines(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bp.contains("SortMergeJoin") && !bp.contains("CartesianProduct"),
      s"boilerplate degenerated:\n${bp.take(1200)}")
    // brown-forsythe: deviation scan is joinless (medians fold in as a
    // literal CASE chain) and carries no Percentile buffer
    val bf = ops.Relational.aggBrownForsythe(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bf.toLowerCase.contains("percentile") && !bf.contains("Join"),
      s"brown-forsythe degenerated:\n${bf.take(1200)}")
    // turning points: one date-grain aggregate + the bounded day window
    val tp = ops.TimeSeries.tsTurningPoints(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!tp.contains("Join"), s"turning points grew a join:\n${tp.take(1200)}")
    // friedman/page: the in-week self-join is the only join and it is
    // calendar-bounded + equi-keyed on wk — never a shuffled sort join
    Seq("friedman" -> ops.TimeSeries.tsFriedmanTest,
      "page_trend" -> ops.TimeSeries.tsPageTrend).foreach { case (n, q) =>
      val p = q(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$n degenerated:\n${p.take(1200)}")
    }
  }

  test("round-16 optimization plan pins: one-shuffle baskets, fused dedups, row-local argmin") {
    // basket_pairs: ONE fact shuffle (collect_set per order); the pair
    // expansion is in-row — no second fact shuffle, no shuffled join
    val bp = ops.Relational.aggBasketPairs(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!bp.contains("SortMergeJoin") && !bp.contains("CartesianProduct"),
      s"basket_pairs regrew a shuffled join:\n${bp.take(1200)}")
    // burrows delta: everything folds off the ONE checkpointed
    // (source, word) count relation (Scan ExistingRDD) — the raw
    // token-grain explode is not re-scanned by any consumer
    val bd = ops.TextSim.textBurrowsDelta(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(bd.contains("ExistingRDD"),
      s"burrows delta lost the shared (source, word) checkpoint:\n${bd.take(1200)}")
    // kmeans inertia/reassign: centroid assignment is a row-local fold
    // over the broadcast collected centroid row — no row_number window,
    // no shuffle of the 8×n crossJoin
    Seq("inertia" -> ops.Pipelines.simKmeansInertia,
      "reassign" -> ops.Pipelines.simKmeansReassign).foreach { case (n, q) =>
      val p = q(spark, sf0001).queryExecution.executedPlan.toString
      assert(!p.contains("Window"),
        s"kmeans $n regrew the assignment window:\n${p.take(1200)}")
    }
    // session paths: the 8-event cap lives in the aggregate (slice of
    // the sorted collect_list) — exactly the two user-keyed window
    // passes remain, not a third row_number pass
    val sp = ops.Windows.winSessionPathTopk(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!sp.contains("row_number"),
      s"session paths regrew the rank-cap window:\n${sp.take(1200)}")
    // pmi / token_positions / tfidf df: per-doc dedup is row-local
    // (array_distinct in the scan projection) — the df aggregate is
    // map-combined with NO relation-level distinct exchange before it
    Seq("pmi_top" -> ops.Pipelines.pipelinePmiTop,
      "token_positions" -> ops.Pipelines.pipelineTokenPositions).foreach {
      case (n, q) =>
        val p = q(spark, sf0001).queryExecution.executedPlan.toString
        assert(p.contains("array_distinct"),
          s"$n lost the row-local per-doc dedup:\n${p.take(1200)}")
    }
  }
}
