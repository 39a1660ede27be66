package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Structured Streaming batch-equivalence (SURVEY §5.4): replaying
  * events.parquet through readStream must reproduce the oracle-checked
  * batch results. */
class StreamingSpec extends AnyFunSuite {
  import SharedSpark._

  test("streaming tumbling window equals batch stream_tumbling_1h") {
    val stream = Streams.tumbling1h(Streams.eventsStream(spark, sf0001))
    val got = Streams.runToBatch(spark, stream, "t_tumbling")
      .select("w_start", "event_type", "n", "v_sum")
    val want = ops.StreamOps.streamTumbling1h(spark, sf0001)
    assert(got.count() == want.count())
    assert(got.exceptAll(want.select("w_start", "event_type", "n", "v_sum")).count() == 0)
  }

  test("streaming PSI drift monitor equals its batch twin and fires on a shifted stream") {
    val batchEvents = Tables(spark, sf0001, "events")
    val ref = Streams.valueHistogram(batchEvents)
    // batch-equivalence: same code path over the file-source stream
    // (complete mode, AvailableNow) and over the batch frame
    val stream = Streams.psiDriftPerHour(Streams.eventsStream(spark, sf0001),
      ref, duration = "1 day")
    val got = Streams.runToBatch(spark, stream, "t_psi")
    val want = Streams.psiDriftPerHour(batchEvents, ref, duration = "1 day")
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).count() == 0)
    // self-reference on an unshifted corpus: hourly slices of the same
    // distribution must NOT read as population-level drift
    assert(want.filter(col("drifted")).count() < want.count())
    // a +300 value shift moves every event into the top bins — the
    // monitor must flag every window against the unshifted reference
    val shifted = Streams.psiDriftPerHour(
      batchEvents.withColumn("value", col("value") + 300.0), ref,
      duration = "1 day")
    assert(shifted.count() > 0)
    assert(shifted.filter(!col("drifted")).count() == 0,
      "shifted distribution not flagged as drifted")
  }

  test("streaming PII monitor equals its batch twin and flags a leaking source") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // document feed with synthetic hour-grain timestamps (3 windows)
    // and the shared arithmetic PII fixture as the dirty text
    val feedRows = Tables(spark, sf0001, "documents")
      .select((lit(1700000000L) + col("doc_id") % 3 * 3600).as("sec"),
        col("source"), ops.Pipelines.piiDirtyText.as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batch = feedRows.toSeq.toDF("sec", "source", "text")
      .select(timestamp_seconds(col("sec")).as("ts"), col("source"), col("text"))
    val src = MemoryStream[(Long, String, String)]
    src.addData(feedRows.toSeq)
    val mon = Streams.piiMonitor(src.toDF().toDF("sec", "source", "text")
      .select(timestamp_seconds(col("sec")).as("ts"), col("source"), col("text")),
      maxPerMille = 100)
    val q = mon.writeStream.format("memory").queryName("t_pii")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("t_pii")
    val want = Streams.piiMonitor(batch, maxPerMille = 100)
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).count() == 0, "stream != batch twin")
    // per-type totals equal the shared-pattern batch profile
    val profile = ops.Curation.piiProfile(
      Tables(spark, sf0001, "documents")
        .withColumn("text", ops.Pipelines.piiDirtyText))
    val monTot = want.agg(sum(col("pii_total"))).head().getLong(0)
    val profTot = profile.agg(sum(col("pii_total"))).head().getLong(0)
    assert(monTot == profTot, s"monitor total $monTot != profile $profTot")
    // the dirty fixture leaks well past 100/1000 docs -> flags fire;
    // the CLEAN corpus must stay quiet at the same threshold
    assert(want.filter(col("flagged")).count() > 0, "leak not flagged")
    val clean = Streams.piiMonitor(
      batch.withColumn("text", lit("perfectly clean text")),
      maxPerMille = 100)
    assert(clean.filter(col("flagged")).count() == 0,
      "clean corpus false-flagged")
  }

  test("streaming crawl-hygiene monitor equals batch and flags an encoding regression") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // feed over the markup fixture (3 hour-grain windows) — the same
    // dirty chain the §2.51 censuses hash-pin
    val feedRows = Tables(spark, sf0001, "documents")
      .select((lit(1700000000L) + col("doc_id") % 3 * 3600).as("sec"),
        col("source"), ops.Crawl.htmlDirtyText.as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batch = feedRows.toSeq.toDF("sec", "source", "text")
      .select(timestamp_seconds(col("sec")).as("ts"), col("source"), col("text"))
    val src = MemoryStream[(Long, String, String)]
    src.addData(feedRows.toSeq)
    val mon = Streams.crawlMonitor(src.toDF().toDF("sec", "source", "text")
      .select(timestamp_seconds(col("sec")).as("ts"), col("source"), col("text")))
    val q = mon.writeStream.format("memory").queryName("t_crawlmon")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("t_crawlmon")
    val want = Streams.crawlMonitor(batch)
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).count() == 0, "stream != batch twin")
    // markup-only dirt: healthy retention, no mojibake/denorm flags
    assert(want.filter(col("mojibake_docs") > 0).count() == 0)
    assert(want.filter(col("flagged")).count() == 0,
      "clean-extraction feed false-flagged")
    // retention agrees with the batch census's shared chain
    val census = ops.Crawl.pipelineHtmlExtract(spark, sf0001)
      .agg(sum(col("chars_raw")), sum(col("chars_text"))).head()
    val monAgg = want.agg(sum(col("chars_raw")), sum(col("chars_text"))).head()
    assert(monAgg.getLong(0) == census.getLong(0) &&
      monAgg.getLong(1) == census.getLong(1),
      "monitor char counts drifted from the census chain")
    // planted regression: one source's charset handling breaks mid-feed
    // (every doc mojibake'd) — exactly that source's windows flag
    val broken = Streams.crawlMonitor(batch.withColumn("text",
      when(col("source") === "src1",
        concat(col("text"), lit(" r\u00c3\u00a9sum\u00c3\u00a9")))
        .otherwise(col("text"))))
    assert(broken.filter(col("source") === "src1" && !col("flagged"))
      .count() == 0, "broken source window not flagged")
    assert(broken.filter(col("source") =!= "src1" && col("flagged"))
      .count() == 0, "healthy sources false-flagged")
  }

  test("streaming sliding window equals batch stream_sliding_1h_30m") {
    val stream = Streams.sliding1h30m(Streams.eventsStream(spark, sf0001))
    val got = Streams.runToBatch(spark, stream, "t_sliding")
    val want = ops.StreamOps.streamSliding1h30m(spark, sf0001)
    assert(got.count() == want.count())
    assert(got.select("w_start", "n", "v_sum")
      .exceptAll(want.select("w_start", "n", "v_sum")).count() == 0)
  }

  test("flatMapGroupsWithState custom sessionization equals batch sessionize") {
    val stream = Streams.sessionizeStateful(Streams.eventsStream(spark, sf0001))
    // bounded replay in one AvailableNow batch: final emission per user
    val got = Streams.runToBatchAppend(spark, stream, "t_state_sessions")
      .groupBy("user_id")
      .agg(max(col("n_sessions")).as("n_sessions"),
        max(col("max_session_events")).as("max_session_events"))
    val want = ops.StreamOps.streamSessionize(spark, sf0001)
      .select("user_id", "n_sessions", "max_session_events")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0)
  }

  test("transformWithState sessionization equals batch (state-v2 on RocksDB)") {
    // the modern arbitrary-state API refuses the default HDFS-backed
    // provider — RocksDB (SCALING.md's 100 TB backend) is mandatory
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = Streams.sessionizeTws(Streams.eventsStream(spark, sf0001))
      val got = Streams.runToBatchAppend(spark, stream, "t_tws_sessions")
        .groupBy("user_id")
        .agg(max(col("n_sessions")).as("n_sessions"),
          max(col("max_session_events")).as("max_session_events"))
      val want = ops.StreamOps.streamSessionize(spark, sf0001)
        .select("user_id", "n_sessions", "max_session_events")
      assert(got.count() == want.count())
      assert(got.exceptAll(want).count() == 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream interval join equals the batch join") {
    val stream = Streams.clickPurchaseJoin(Streams.eventsStream(spark, sf0001))
    val got = Streams.runToBatchAppend(spark, stream, "t_ssjoin")
    // batch twin on the same data
    val ev = Tables(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val want = purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
    assert(got.count() == want.count())
    assert(got.select("p_id", "c_ts").exceptAll(want.select("p_id", "c_ts")).count() == 0)
  }

  test("left-outer stream-stream join emits null rows for the watermark-closed prefix") {
    val stream = Streams.clickPurchaseJoinOuter(Streams.eventsStream(spark, sf0001))
    val got = Streams.runToBatchAppend(spark, stream, "t_ssjoin_outer")
    val ev = Tables(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val want = purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
      "leftOuter")
    // outer (null-click) rows only flush once the watermark proves no
    // match can arrive: compare the prefix closed by the final
    // watermark. The global watermark is min(max c_ts, max p_ts) − 1 h
    // delay; subtract a further safety margin for eviction rounding.
    val wmRow = ev.filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type")).agg(max(col("ts")).cast("long").as("mx"))
      .agg(min(col("mx")).as("wm")).collect()(0)
    val closed = lit(wmRow.getLong(0) - 3600 - 120).cast("timestamp")
    val gotClosed = got.filter(col("p_ts") < closed)
    val wantClosed = want.filter(col("p_ts") < closed)
    assert(gotClosed.count() == wantClosed.count())
    assert(gotClosed.select("p_id", "c_ts")
      .exceptAll(wantClosed.select("p_id", "c_ts")).count() == 0)
    // the outer semantics actually fired: null-click rows exist
    assert(gotClosed.filter(col("c_ts").isNull).count() ==
      wantClosed.filter(col("c_ts").isNull).count())
    assert(got.count() >= gotClosed.count())
  }

  test("chained stateful operators: join -> windowed agg equals batch on closed windows") {
    val stream = Streams.conversionsPerHour(Streams.eventsStream(spark, sf0001))
    val got = Streams.runToBatchAppend(spark, stream, "t_conv_hour")
    val ev = Tables(spark, sf0001, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val want = purchases.join(clicks,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .groupBy(window(col("p_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_attributed_pairs"))
      .select(col("window.start").as("h"), col("n_attributed_pairs"))
    // append mode emits only windows the propagated watermark closed;
    // every emitted window must match the batch aggregate exactly
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0)
  }

  test("chained aggregations: streaming top-k leaderboard equals batch on emitted windows") {
    val stream = Streams.topUsersPerHour(Streams.eventsStream(spark, sf0001), 3)
    val got = Streams.runToBatchAppend(spark, stream, "t_topk_hour")
    val ev = Tables(spark, sf0001, "events")
    val per = ev
      .filter(col("event_type") === "purchase" && col("value").isNotNull &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("total"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("window"))
      .orderBy(col("total").cast("double").desc, col("user_id"))
    val want = per
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("window.start").as("h"), col("rn"), col("user_id"),
        round(col("total").cast("double"), 2).as("total"))
    // append emits only watermark-closed windows; each emitted
    // leaderboard row must match the batch top-k exactly
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0)
    // emitted windows are COMPLETE leaderboards (k rows or the whole
    // window's user count if smaller)
    val gotWindows = got.select("h").distinct()
    val wantSizes = want.join(gotWindows, "h").groupBy("h").count()
    val gotSizes = got.groupBy("h").count()
    assert(gotSizes.exceptAll(wantSizes).count() == 0)
  }

  test("event-time timers close idle sessions at the watermark (state-v2)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = Streams.eventsStream(spark, sf0001)
        .filter(col("user_id").isNotNull)
      val got = Streams.runToBatchAppend(spark,
        Streams.sessionizeClosed(src), "t_closed_sessions")
      // batch twin: the same gaps-islands sessions in exact µs
      val ev = Tables(spark, sf0001, "events").filter(col("user_id").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("us")
      val gap = 1800L * 1000000L
      val sess = ev
        .withColumn("newSess",
          when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) > gap, 1L).otherwise(0L))
        .withColumn("sid", sum(col("newSess")).over(w))
        .groupBy("user_id", "sid")
        .agg(min(col("us")).as("s_start_us"), max(col("us")).as("s_end_us"),
          count(lit(1)).as("n_events"))
        .select("user_id", "s_start_us", "s_end_us", "n_events")
      val cols = Seq("user_id", "s_start_us", "s_end_us", "n_events")
      // every emission is byte-exact some batch session (no spurious
      // or truncated sessions from the timer path)
      assert(got.select(cols.head, cols.tail: _*)
        .exceptAll(sess).count() == 0)
      // every session provably closed by the final watermark (5 s
      // safety margin inside the ms-granular watermark) was emitted
      val maxUs = ev.agg(max(col("us"))).collect()(0).getLong(0)
      val wmUs = maxUs - 600L * 1000000L // 10-minute delay
      val closedStrict = sess.filter(col("s_end_us") + gap < wmUs - 5000000L)
      assert(closedStrict.exceptAll(got.select(cols.head, cols.tail: _*))
        .count() == 0)
      // the capability boundary is real: trailing sessions the
      // watermark has NOT closed stay in state, unemitted
      assert(got.count() < sess.count())
      assert(got.count() >= closedStrict.count())
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("rate source: unbounded non-file stream with predictable windows") {
    val rpb = 10
    // tumbling agg without watermark in complete mode so the exact
    // per-window state is observable at any stop point
    val stream = Streams.rateEvents(spark, rpb)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
    val q = stream.writeStream.format("memory").queryName("t_rate")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      // let a handful of micro-batches through
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (q.recentProgress.length < 3 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally q.stop()
    val rows = spark.table("t_rate")
      .orderBy("w_start").collect()
      .map(r => (r.getTimestamp(0).toInstant.toEpochMilli, r.getLong(1)))
    assert(rows.nonEmpty)
    // batch k carries rpb rows at minute k: with T total rows processed,
    // hour-window k must hold exactly min(max(T - k*60*rpb, 0), 60*rpb)
    val total = rows.map(_._2).sum
    rows.zipWithIndex.foreach { case ((startMs, n), k) =>
      assert(startMs == k.toLong * 3600000L, s"window $k starts at $startMs")
      val expect = math.min(math.max(total - k.toLong * 60 * rpb, 0L), 60L * rpb)
      assert(n == expect, s"window $k: got $n, expected $expect of total $total")
    }
  }

  test("streaming dedup removes injected duplicates, equals batch distinct") {
    // duplicate every event inside the stream, then dedup by event_id
    val doubled = Streams.eventsStream(spark, sf0001)
      .withColumn("__copy", explode(array(lit(1), lit(2))))
      .drop("__copy")
    val got = Streams.runToBatchAppend(spark,
      Streams.dedupWithinWatermark(doubled, Seq("event_id")), "t_dedup")
    val want = Tables(spark, sf0001, "events")
    assert(got.count() == want.count())
    assert(got.select("event_id").exceptAll(want.select("event_id")).count() == 0)
  }

  test("naqed subscription: filters + dimension traversal on a stream") {
    val nq = new graft.api.Naqed(spark, sf0001)
    val sub = nq.subscribe("events",
      Map("$event_type" -> "purchase", "event_id" -> true, "user_id" -> true,
        "customer" -> Map("c_name" -> true, "c_mktsegment" -> true)),
      Streams.eventsStream(spark, sf0001))
    assert(sub.isStreaming)
    val got = Streams.runToBatchAppend(spark, sub, "t_naqed_sub")
    // batch twin through the SAME api (root binding restored after
    // subscribe, so this request sees the parquet table again)
    val want = nq.request("events",
      Map("$event_type" -> "purchase", "event_id" -> true, "user_id" -> true,
        "customer" -> Map("c_name" -> true, "c_mktsegment" -> true)))
    assert(got.count() == want.count() && got.count() > 0)
    assert(got.select(col("event_id"), col("customer.c_name"))
      .exceptAll(want.select(col("event_id"), col("customer.c_name"))).count() == 0)
    // whole-table aggregation over the streamed root is rejected at
    // subscribe time, not as an opaque stream-start error
    val eAgg = intercept[IllegalArgumentException] {
      nq.subscribe("events",
        Map("$groupBy" -> "event_type", "$agg" -> Map("n" -> "count")),
        Streams.eventsStream(spark, sf0001))
    }
    assert(eAgg.getMessage.contains("unbounded state"))
  }

  test("naqed subscription: one-to-many root traversal (static child arrays)") {
    // customer streams; orders is static, so the child arrays are a
    // batch subplan joined stream-static per micro-batch — zero
    // streaming state (see Naqed.subscribe scaladoc, r6)
    val nq = new graft.api.Naqed(spark, sf0001)
    val q = Map("c_name" -> true,
      "orders" -> Map("$min_o_totalprice" -> 300000.0, "o_orderkey" -> true))
    val sub = nq.subscribe("customer", q,
      Streams.tableStream(spark, sf0001, "customer"))
    assert(sub.isStreaming)
    val got = Streams.runToBatchAppend(spark, sub, "t_naqed_sub_o2m")
    val want = nq.request("customer", q)
    assert(got.count() == want.count() && got.count() > 0)
    // identical per-customer child arrays (explode_outer keeps
    // customers whose array is empty/null symmetric on both sides)
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(col("c_custkey"),
      explode_outer(col("orders.o_orderkey")).as("ok"))
    assert(flat(got).exceptAll(flat(want)).count() == 0)
    assert(flat(want).exceptAll(flat(got)).count() == 0)
  }

  test("one-to-many subscription on an unbounded rate source: zero streaming state") {
    // r6 pinned the zero-streaming-state claim (child arrays are a
    // STATIC subplan joined stream-static) under file replay; r7 pins
    // it under a source that NEVER ends — if the child side held
    // per-key state, an unbounded root would grow it without bound,
    // so the state-store row count is the load-bearing assertion.
    val nq = new graft.api.Naqed(spark, sf0001)
    val cust = Tables(spark, sf0001, "customer")
    val nCust = cust.count()
    // customer-shaped unbounded root: each rate tick selects a
    // customer row (stream-static join BEFORE the subscription)
    val src = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 5L).option("startTimestamp", 0L).load()
      .select(pmod(col("value"), lit(nCust)).as("c_custkey"))
      .join(cust, Seq("c_custkey"))
    val q = Map("c_name" -> true,
      "orders" -> Map("$min_o_totalprice" -> 300000.0, "o_orderkey" -> true))
    val sub = nq.subscribe("customer", q, src)
    assert(sub.isStreaming)
    val query = sub.writeStream.format("memory").queryName("t_rate_o2m")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (query.recentProgress.length < 3 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally query.stop()
    val progs = query.recentProgress
    assert(progs.length >= 3, s"only ${progs.length} micro-batches ran")
    // THE claim: no stateful operator, zero state rows, ever
    assert(progs.flatMap(_.stateOperators).map(_.numRowsTotal).sum == 0,
      "one-to-many subscription accumulated streaming state")
    // batch equivalence on the emitted keys: every emitted customer
    // carries exactly the child array request() builds for it
    val got = spark.table("t_rate_o2m")
    assert(got.count() > 0)
    val want = nq.request("customer", q)
    def flat(df: org.apache.spark.sql.DataFrame) = df.select(col("c_custkey"),
      explode_outer(col("orders.o_orderkey")).as("ok"))
    val gotFlat = flat(got).distinct() // rate ticks cycle over customers
    assert(gotFlat.exceptAll(flat(want)).count() == 0)
    val emitted = got.select("c_custkey").distinct()
    assert(flat(want).join(emitted, Seq("c_custkey"), "left_semi")
      .exceptAll(gotFlat).count() == 0)
  }

  test("RocksDB state store: tumbling agg equals batch (the 100 TB state backend)") {
    // SCALING.md claims the scale path runs stateful queries on the
    // RocksDB provider (state off-heap + spillable, vs the default
    // HDFS-backed in-memory map). Prove the claim: same query, same
    // result, RocksDB provider actually engaged.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = Streams.tumbling1h(Streams.eventsStream(spark, sf0001))
      val got = Streams.runToBatch(spark, stream, "t_tumbling_rocks")
        .select("w_start", "event_type", "n", "v_sum")
      val want = ops.StreamOps.streamTumbling1h(spark, sf0001)
      assert(got.count() == want.count())
      assert(got.exceptAll(want.select("w_start", "event_type", "n", "v_sum")).count() == 0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming session_window session counts match batch sessionize") {
    val stream = Streams.sessions30m(Streams.eventsStream(spark, sf0001))
    val got = Streams.runToBatch(spark, stream, "t_sessions")
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
    val want = ops.StreamOps.streamSessionize(spark, sf0001)
      .select("user_id", "n_sessions")
    assert(got.count() == want.count())
    assert(got.exceptAll(want).count() == 0)
  }

  test("grouped subscription with watermark: final state equals the batch aggregate") {
    // round-8: $groupBy/$agg over the streamed root compiles to a
    // watermarked streaming aggregation instead of being rejected.
    // Drive the unbounded rate source for a few batches, then replay
    // the SAME processed values through the batch request() API — the
    // subscription's final complete-mode state must equal it.
    import org.apache.spark.sql.types.DoubleType
    val nq = new graft.api.Naqed(spark, sf0001)
    val q = Map("$groupBy" -> "event_type",
      "$agg" -> Map("n" -> "count", "v_sum" -> "sum:value"),
      "$watermark" -> "ts:10 minutes")
    val sub = nq.subscribe("events", q, Streams.rateEvents(spark, 30))
    assert(sub.isStreaming)
    val query = sub.writeStream.format("memory").queryName("t_naqed_agg_sub")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (query.recentProgress.length < 4 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally query.stop()
    // progress is reported per COMMITTED batch, so the memory table
    // reflects exactly sum(numInputRows) rate values [0, rowsIn)
    val rowsIn = query.recentProgress.map(_.numInputRows).sum
    assert(rowsIn >= 4 * 30, s"only $rowsIn rows flowed")
    val got = spark.table("t_naqed_agg_sub")
      .select("event_type", "n", "v_sum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    // batch twin over the same values through the same API: mount a
    // rateEvents-shaped static table and run request()
    val vdir = "/virtual/naqed-agg-sub"
    Tables.names.foreach(n => Tables.mount(spark, vdir, n, Tables(spark, sf0001, n)))
    Tables.mount(spark, vdir, "events", spark.range(0, rowsIn).select(
      col("id").as("event_id"),
      lit(null).cast("timestamp").as("ts"),
      pmod(col("id"), lit(50)).as("user_id"),
      element_at(array(lit("click"), lit("view"), lit("purchase")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("event_type"),
      (pmod(col("id") * 7, lit(100)).cast(DoubleType) / 10).as("value")))
    val want = new graft.api.Naqed(spark, vdir).request("events",
      Map("$groupBy" -> "event_type", "$agg" -> Map("n" -> "count", "v_sum" -> "sum:value")))
      .select("event_type", "n", "v_sum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.map(x => (x._1, x._2)).toSeq == want.map(x => (x._1, x._2)).toSeq,
      s"counts diverge: ${got.toSeq} vs ${want.toSeq}")
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._3 - w._3) < 1e-6, s"sum diverges for ${g._1}")
    }
  }

  test("windowed grouped subscription: append mode, state evicted by watermark") {
    val nq = new graft.api.Naqed(spark, sf0001)
    val q = Map("$groupBy" -> "event_type", "$agg" -> Map("n" -> "count"),
      "$watermark" -> "ts:1 minutes", "$window" -> "ts:2 minutes")
    // event time advances 1 min/batch, so 2-minute windows finalize
    // continuously as batches run
    val sub = nq.subscribe("events", q, Streams.rateEvents(spark, 12))
    val query = sub.writeStream.format("memory").queryName("t_naqed_win_sub")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (query.recentProgress.length < 16 && System.nanoTime() < deadline)
        Thread.sleep(100)
    } finally query.stop()
    val progs = query.recentProgress
    assert(progs.length >= 16, s"only ${progs.length} micro-batches ran")
    val got = spark.table("t_naqed_win_sub")
    assert(got.columns.contains("window") && got.columns.contains("event_type"))
    // every finalized 2-minute window carries 2 batches x 12 rows = 24
    // events, 8 per type (types cycle mod 3 within each batch of 12)
    val perWin = got.groupBy("window").agg(sum("n").as("tot"), count(lit(1)).as("types"))
      .collect()
    assert(perWin.length >= 3, s"only ${perWin.length} windows finalized")
    perWin.foreach { r =>
      assert(r.getAs[Long]("tot") == 24 && r.getAs[Long]("types") == 3,
        s"window not fully aggregated: $r")
    }
    // eviction: live state is bounded by windows inside the watermark
    // horizon (~2) x 3 types, not by the ~8 windows the run spanned
    val stateRows = progs.last.stateOperators.map(_.numRowsTotal).sum
    assert(stateRows > 0 && stateRows <= 12,
      s"state not evicted: $stateRows rows live after ${progs.length} batches")
  }

  test("grouped subscription without a watermark still rejected with guidance") {
    val nq = new graft.api.Naqed(spark, sf0001)
    val e = intercept[IllegalArgumentException] {
      nq.subscribe("events",
        Map("$groupBy" -> "event_type", "$agg" -> Map("n" -> "count")),
        Streams.rateEvents(spark, 5))
    }
    assert(e.getMessage.contains("$watermark") && e.getMessage.contains("unbounded state"))
    val e2 = intercept[IllegalArgumentException] {
      nq.subscribe("events",
        Map("$groupBy" -> "event_type", "$agg" -> Map("n" -> "count"),
          "$watermark" -> "nope"),
        Streams.rateEvents(spark, 5))
    }
    assert(e2.getMessage.contains("<timeCol>:<duration>"))
    val e3 = intercept[IllegalArgumentException] {
      nq.subscribe("events", Map("event_id" -> true, "$watermark" -> "ts:1 minutes"),
        Streams.rateEvents(spark, 5))
    }
    assert(e3.getMessage.contains("stream stateless"))
  }

  test("subscribeChanges: naqed selection tree over the per-version change feed") {
    import spark.implicits._
    import graft.sources.VersionedTable
    import graft.api.Naqed
    val nq = new Naqed(spark, SharedSpark.sf0001)
    val base = java.nio.file.Files.createTempDirectory("subch").toString
    val root = base + "/tbl"
    VersionedTable.create(spark, root,
      Seq((1L, "hello world", "en"), (2L, "foo bar", "de"))
        .toDF("doc_id", "text", "lang"))
    VersionedTable.merge(spark, root,
      Seq((1L, "hello again", "en"), (3L, "neu hier", "de"))
        .toDF("doc_id", "text", "lang"), Seq("doc_id"))
    val got = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    nq.subscribeChanges("documents",
      Map("$lang" -> "en", "doc_id" -> true,
        "_change_type" -> true, "_commit_version" -> true),
      root, Seq("doc_id"), base + "/ckpt") { (df, _) =>
      got ++= df.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version")))
    }.awaitTermination()
    // only the en rows ride through: v1 insert of doc 1; v2 update
    // images of doc 1 (doc 3 is de, filtered by the $-arg)
    assert(got.toSet == Set((1L, "insert", 1L),
      (1L, "update_preimage", 2L), (1L, "update_postimage", 2L)))

    // batch directives rejected with guidance
    val e = intercept[IllegalArgumentException] {
      nq.subscribeChanges("documents", Map("$groupBy" -> "lang"),
        root, Seq("doc_id"), base + "/ckpt2") { (_, _) => () }
    }
    assert(e.getMessage.contains("sink"))
  }

  test("changeFeedStream: one micro-batch per committed version, exactly-once across restart") {
    import spark.implicits._
    import graft.sources.VersionedTable
    val base = java.nio.file.Files.createTempDirectory("cfs").toString
    val root = base + "/tbl"
    val out = base + "/out"
    val ckpt = base + "/ckpt"

    VersionedTable.create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    VersionedTable.merge(spark, root, Seq((1L, "A2"), (3L, "c")).toDF("id", "v"), Seq("id"))

    def drain(): Unit =
      VersionedTable.changeFeedStream(spark, root, Seq("id"), ckpt) { (df, bid) =>
        VersionedTable.appendBatch(spark, out, df, bid); ()
      }.awaitTermination()
    def rows(): Set[(Long, String, String, Long)] =
      VersionedTable.read(spark, out).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
          r.getAs[String]("_change_type"), r.getAs[Long]("_commit_version"))).toSet

    drain()
    // v1 = created snapshot as inserts; v2 = the batch changeFeed(1,2)
    val v2feed = VersionedTable.changeFeed(spark, root, 1L, 2L, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"), 2L)).toSet
    val want1 = Set((1L, "a", "insert", 1L), (2L, "b", "insert", 1L)) ++ v2feed
    assert(rows() == want1 && v2feed.size == 3)

    // restart from the same checkpoint with nothing new: no duplicates
    drain()
    assert(rows() == want1)

    // a new committed version resumes from the cursor: only the delta
    val (v3, _, _, _) = VersionedTable.deleteWhere(spark, root, "id = 2")
    drain()
    val v3feed = VersionedTable.changeFeed(spark, root, 2L, v3, Seq("id"))
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("v"),
        r.getAs[String]("_change_type"), v3)).toSet
    assert(rows() == want1 ++ v3feed && v3feed == Set((2L, "b", "delete", v3)))

    // replay once more: still exactly-once
    drain()
    assert(rows() == want1 ++ v3feed)
  }

  test("streaming SPRT monitor: closed-prefix equality with agg_sprt_decision") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the batch op's arrival relation, in its md5 arrival order
    val arrivals = Tables(spark, sf0001, "orders")
      .select(md5(col("o_orderkey").cast("string")).as("mk"),
        col("o_orderkey").as("okey"),
        when((col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long") > 15000000L, 1L).otherwise(0L).as("conv"))
      .orderBy("mk", "okey")
      .as[(String, Long, Long)].collect().toSeq
    val want = ops.Relational.aggSprtDecision(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val src = MemoryStream[(String, Long, Long)]
    val mon = Streams.sprtMonitor(src.toDF().toDF("mk", "okey", "conv"))
    val q = mon.writeStream.format("memory").queryName("t_sprt")
      .outputMode("append").start()
    def emitted() = spark.table("t_sprt").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    // three micro-batches at awkward boundaries (not multiples of 100):
    // the monitor's state must carry partial centuries across batches
    val cuts = Seq(arrivals.take(137), arrivals.slice(137, 410),
      arrivals.drop(410))
    var processed = 0
    cuts.foreach { chunk =>
      src.addData(chunk)
      q.processAllAvailable()
      processed += chunk.size
      // CLOSED-PREFIX equality: after m arrivals, emissions == the
      // batch op's first floor(m/100) checkpoint rows
      assert(emitted().toSeq == want.take(processed / 100).toSeq,
        s"prefix $processed drifted")
    }
    q.stop()
    assert(emitted().length == want.length && want.nonEmpty)
  }

  test("streaming CUSUM monitor equals the batch fold and ts_cusum_top") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val byDay = Tables(spark, sf0001, "orders")
      .groupBy(col("o_orderdate").cast(org.apache.spark.sql.types.DateType).as("dt"))
      .agg(count(lit(1)).as("x"))
      .orderBy("dt")
      .as[(java.sql.Date, Long)].collect().toSeq
    // the batch op's reference rate: head-snapshot tot div nd
    val mu = byDay.map(_._2).sum / byDay.size
    val src = MemoryStream[(java.sql.Date, Long)]
    val mon = Streams.cusumMonitor(src.toDF().toDF("dt", "x"), mu)
    val q = mon.writeStream.format("memory").queryName("t_cusum")
      .outputMode("append").start()
    // replay in three day-ordered chunks
    val k = byDay.size / 3
    Seq(byDay.take(k), byDay.slice(k, 2 * k), byDay.drop(2 * k)).foreach { c =>
      src.addData(c); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_cusum").collect()
      .map(r => (r.getDate(0), r.getLong(1), r.getLong(2))).sortBy(_._1.getTime)
    // exact recursion, driver-computed: S_t = max(0, S + x - mu - 1)
    var s = 0L
    val expect = byDay.map { case (dt, x) =>
      s = math.max(0L, s + x - mu - 1); (dt, x, s)
    }
    assert(got.toSeq == expect)
    // and the top-20 view reproduces ts_cusum_top exactly
    val top = got.sortBy(t => (-t._3, t._1.getTime)).take(20)
      .map(t => (t._1.toString, t._2, t._3)).toSeq
    val want = ops.TimeSeries.tsCusumTop(spark, sf0001).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSeq
    assert(top == want)
    // out-of-order days are refused, not silently misfolded
    val src2 = MemoryStream[(java.sql.Date, Long)]
    val mon2 = Streams.cusumMonitor(src2.toDF().toDF("dt", "x"), mu)
    val q2 = mon2.writeStream.format("memory").queryName("t_cusum_ooo")
      .outputMode("append").start()
    // (within one batch the monitor sorts, so disorder must span
    // batches to be an error)
    src2.addData(Seq(byDay(1)))
    q2.processAllAvailable()
    src2.addData(Seq(byDay(0)))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(ex.getMessage.contains("out of order") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of order")))
  }

  test("streaming Holt-Winters monitor: closed-prefix forecasts equal the batch fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dayDf = Tables(spark, sf0001, "orders")
      .groupBy(col("o_orderdate").cast(org.apache.spark.sql.types.DateType).as("dt"))
      .agg(sum((col("o_totalprice").cast(org.apache.spark.sql.types
        .DecimalType(18, 2)) * 100).cast(org.apache.spark.sql.types.LongType))
        .as("c"))
    val byDay = dayDf.orderBy("dt").as[(java.sql.Date, Long)].collect().toSeq
    assert(byDay.size > 30)
    val src = MemoryStream[(java.sql.Date, Long)]
    val mon = Streams.holtMonitor(src.toDF().toDF("dt", "c"))
    val q = mon.writeStream.format("memory").queryName("t_holt")
      .outputMode("append").start()
    def lastForecasts(): Option[Seq[Double]] = {
      val rows = spark.table("t_holt").collect()
      if (rows.isEmpty) None
      else Some(rows.maxBy(_.getDate(0).getTime).getSeq[Double](4).toSeq)
    }
    def batchForecasts(prefix: Seq[(java.sql.Date, Long)]): Seq[Double] =
      ops.TimeSeries.holtWintersFromDaily(
        prefix.toDF("dt", "c")).orderBy("h").collect().map(_.getDouble(1)).toSeq
    // replay in three day-ordered chunks; after EVERY chunk the last
    // emission's 7 horizons must equal the batch SQL fold on exactly
    // the replayed prefix — the expression trees are transliterations,
    // so equality is EXACT doubles, not approximate
    val k = byDay.size / 3
    val cuts = Seq(byDay.take(k), byDay.slice(k, 2 * k), byDay.drop(2 * k))
    var processed = Seq.empty[(java.sql.Date, Long)]
    cuts.foreach { chunk =>
      src.addData(chunk)
      q.processAllAvailable()
      processed = processed ++ chunk
      assert(lastForecasts().contains(batchForecasts(processed)),
        s"prefix ${processed.size} drifted from the batch fold")
    }
    // final prefix == the declared ts_holt_winters op itself
    val whole = ops.TimeSeries.tsHoltWinters(spark, sf0001)
      .orderBy("h").collect().map(_.getDouble(1)).toSeq
    assert(lastForecasts().contains(whole))
    // one emission per folded day (days 8..n), none during the buffer
    assert(spark.table("t_holt").count() == byDay.size - 7)
    q.stop()
    // out-of-order days are refused across batches, like cusumMonitor
    val src2 = MemoryStream[(java.sql.Date, Long)]
    val mon2 = Streams.holtMonitor(src2.toDF().toDF("dt", "c"))
    val q2 = mon2.writeStream.format("memory").queryName("t_holt_ooo")
      .outputMode("append").start()
    src2.addData(Seq(byDay(1)))
    q2.processAllAvailable()
    src2.addData(Seq(byDay(0)))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    q2.stop()
    assert(ex.getMessage.contains("out of order") ||
      Option(ex.getCause).exists(_.getMessage.contains("out of order")))
  }
}
