package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational core: scans, joins, aggregations, sorts/sets, subqueries
  * (SURVEY.md §2.1–2.3, §2.5, §2.10). Every query mirrors its DuckDB
  * oracle in graft.Oracle exactly (decimal discipline, total-order
  * ORDER BY, BIGINT-normalized integer outputs).
  *
  * Scale notes: all fact-side plans keep filters/projections at the
  * scan (Parquet pushdown), dimension joins stay under the broadcast
  * threshold (region/nation/customer/supplier), and fact-fact joins
  * shuffle on their equi-keys only.
  */
object Relational {

  // ---- §2.1 scans ----

  val scanProject: Q = (s, d) =>
    table(s, d, "lineitem")
      .filter(col("l_quantity") > 45.0)
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  val filterComplex: Q = (s, d) =>
    table(s, d, "orders")
      .filter(
        col("o_orderstatus").isin("F", "O") &&
          col("o_orderdate").between(
            to_timestamp(lit("1996-01-01")), to_timestamp(lit("1998-12-31"))) &&
          col("o_orderpriority").like("%URGENT%") &&
          col("o_totalprice").isNotNull)
      .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
      .orderBy("o_orderkey")

  val scanPruneMinmax: Q = (s, d) =>
    table(s, d, "lineitem").agg(
      count(lit(1)).as("n"),
      min(col("l_shipdate")).as("lo"),
      max(col("l_shipdate")).as("hi"),
      moneySum2(col("l_quantity")).as("total_qty"))

  // ---- §2.2 joins ----

  val joinInnerMulti: Q = (s, d) => {
    val o = table(s, d, "orders")
    val c = table(s, d, "customer")
    val n = table(s, d, "nation")
    val r = table(s, d, "region")
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name"), n("n_name"))
      .agg(count(lit(1)).as("n_orders"), moneySum2(col("o_totalprice")).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  val joinBroadcastDim: Q = (s, d) => {
    val l = table(s, d, "lineitem")
    val p = table(s, d, "part").filter(col("p_size") >= 25)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_lines"), moneySum2(col("l_extendedprice")).as("ext_sum"))
      .orderBy("p_brand")
  }

  val joinLeftOuter: Q = (s, d) => {
    val n = table(s, d, "nation")
    val sp = table(s, d, "supplier")
    n.join(sp, sp("s_nationkey") === n("n_nationkey"), "left")
      .groupBy(n("n_nationkey"), n("n_name"))
      .agg(
        count(col("s_suppkey")).as("n_suppliers"),
        round(coalesce(sum(dec2(col("s_acctbal"))), lit(0)).cast(DoubleType), 2).as("bal"))
      .orderBy("n_nationkey")
  }

  val joinFullOuter: Q = (s, d) => {
    val cn = table(s, d, "customer")
      .groupBy(col("c_nationkey").as("k")).agg(count(lit(1)).as("n_cust"))
    val sn = table(s, d, "supplier")
      .groupBy(col("s_nationkey").as("k")).agg(count(lit(1)).as("n_supp"))
    cn.join(sn, cn("k") === sn("k"), "full_outer")
      .select(
        coalesce(cn("k"), sn("k")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy("nationkey")
  }

  val joinSemi: Q = (s, d) => {
    val c = table(s, d, "customer")
    val o = table(s, d, "orders").filter(col("o_totalprice") > 400000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val joinAnti: Q = (s, d) => {
    val c = table(s, d, "customer")
    val o = table(s, d, "orders").filter(col("o_totalprice") > 300000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Within-5-minutes pair counts per user, computed LINEARLY: a
    * range-frame window counts each event's successors inside the
    * band ((ts, ts+5m], strict lower bound via subtracting the
    * equal-ts frame) — one shuffle on user_id, O(|events|) rows. The
    * band self-join formulation (which the DuckDB oracle still runs)
    * materializes every qualifying pair: a hot user with 10⁶ events
    * in a burst is a 10¹²-row intermediate there, and a count here. */
  val joinRangeTheta: Q = (s, d) => {
    val base = Window.partitionBy(col("user_id")).orderBy(col("us"))
    val band = base.rangeBetween(0L, 300L * 1000000L)
    val ties = base.rangeBetween(0L, 0L)
    table(s, d, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("cnt", count(lit(1)).over(band) - count(lit(1)).over(ties))
      .groupBy(col("user_id"))
      .agg(sum(col("cnt")).as("pairs_within_5min"))
      .filter(col("pairs_within_5min") > 0)
      .orderBy("user_id")
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match EACH OTHER instead of nothing — the semantics ingestion
    * pipelines need when a sentinel bucket must join (late events
    * with unresolved user). Nulls are injected deterministically
    * (user_id % 97 == 0) so both engines build the identical keyed
    * sets; the join stays a hash join on the null-safe key. */
  val joinNullSafe: Q = (s, d) => {
    def keyed(df: DataFrame) = df.select(
      when(col("user_id") % 97 === 0, lit(null)).otherwise(col("user_id")).as("k"))
    val clicks = keyed(table(s, d, "events").filter(col("event_type") === "click"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_clicks"))
    val purchases = keyed(table(s, d, "events").filter(col("event_type") === "purchase"))
      .groupBy(col("k").as("k2")).agg(count(lit(1)).as("n_purchases"))
    clicks.join(purchases, col("k") <=> col("k2"))
      .select(col("k").as("user_key"), col("n_clicks"), col("n_purchases"))
      .orderBy(col("user_key").asc_nulls_first)
  }

  /** Interval-overlap self-join, pairs enumerated (the Flink/Trino
    * "interval join" shape): events of the same user whose 5-minute
    * activity intervals overlap. Candidates come from a 5-minute
    * time-bin equi-join — each event lands in its own bin and the next
    * (an interval can only overlap neighbors within one bin width), so
    * candidate volume is linear in events-per-bin, never the per-user
    * cartesian the raw theta join runs (and the oracle still runs).
    * Exact overlap predicate + distinct reconcile the double-emit. */
  val joinIntervalOverlap: Q = (s, d) => {
    val ev = table(s, d, "events")
      .filter(col("user_id") % 10 === 0)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val spanUs = 300L * 1000000L
    val binned = ev.select(col("user_id"), col("event_id"), col("us"),
        explode(array((col("us") / spanUs).cast(LongType),
          (col("us") / spanUs).cast(LongType) + 1)).as("bin"))
    val a = binned.toDF("user_id", "e1", "us1", "bin")
    val b = binned.toDF("u2", "e2", "us2", "bin2")
    a.join(b, col("user_id") === col("u2") && col("bin") === col("bin2") &&
        col("e1") < col("e2"))
      .filter(abs(col("us1") - col("us2")) < spanUs)
      .select(col("user_id"), col("e1"), col("e2"),
        round((lit(spanUs) - abs(col("us1") - col("us2"))) / 1e6, 3).as("overlap_sec"))
      .distinct()
      .orderBy("user_id", "e1", "e2")
  }

  /** Linear as-of core: per purchase, the latest click ts at-or-before
    * it, via union + running-max window — ONE shuffle on user_id and
    * row counts linear in |events|. (The range-join + re-aggregate
    * formulation the oracle uses materializes purchases × prior-clicks
    * per user — quadratic per hot user at scale; both compute the same
    * result.) Clicks sort before purchases at equal ts (boolean asc) so
    * the inclusive `click_ts <= purchase_ts` bound holds. */
  private def lastClickPerPurchase(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_p"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL discipline matching the oracle's equi-join: NULL user_id
    // matches nothing (the window would group NULLs together — drop
    // them); NULL-ts clicks are already ignored by max(); NULL-ts
    // purchases sort nulls-first so no click precedes them (lc_ts
    // null), same as `c_ts <= NULL` never holding.
    table(s, d, "events")
      .filter(col("event_type").isin("click", "purchase") && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("event_type") === "purchase").as("is_p"))
      .withColumn("lc_ts", max(when(!col("is_p"), col("ts"))).over(w))
      .filter(col("is_p"))
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"), col("lc_ts"))
  }

  /** As-of join, linear formulation (SURVEY §2.2); inner semantics —
    * purchases with no prior click are dropped. */
  val joinAsof: Q = (s, d) =>
    lastClickPerPurchase(s, d)
      .filter(col("lc_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("lc_ts").as("last_click_ts"))
      .orderBy("event_id")

  // ---- §2.3 aggregations ----

  val aggHashQ1: Q = (s, d) => {
    val one = lit(1)
    val ep = dec2(col("l_extendedprice"))
    val disc = dec2(col("l_discount"))
    val tax = dec2(col("l_tax"))
    table(s, d, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("2001-09-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        moneySum2(col("l_quantity")).as("sum_qty"),
        moneySum2(col("l_extendedprice")).as("sum_base"),
        round(sum(ep * (one - disc)).cast(DoubleType), 2).as("sum_disc"),
        round(sum(ep * (one - disc) * (one + tax)).cast(DoubleType), 2).as("sum_charge"),
        decAvg(col("l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val aggCountDistinct: Q = (s, d) =>
    table(s, d, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        countDistinct(col("c_custkey")).as("n_cust"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  val aggRollup: Q = (s, d) => {
    val c = table(s, d, "customer")
    val n = table(s, d, "nation")
    val r = table(s, d, "region")
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .select(r("r_name").as("r_name"), n("n_name").as("n_name"))
      .rollup(col("r_name"), col("n_name"))
      .agg(
        asLong(grouping(col("r_name"))).as("g_region"),
        asLong(grouping(col("n_name"))).as("g_nation"),
        count(lit(1)).as("n_cust"))
      .select(
        col("g_region"), col("g_nation"),
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"))
      .orderBy("g_region", "g_nation", "region", "nation")
  }

  val aggCube: Q = (s, d) =>
    table(s, d, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        asLong(grouping(col("o_orderstatus"))).as("g_s"),
        asLong(grouping(col("o_orderpriority"))).as("g_p"),
        count(lit(1)).as("n"),
        moneySum2(col("o_totalprice")).as("total"))
      .select(
        col("g_s"), col("g_p"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy("g_s", "g_p", "status", "priority")

  val aggGroupingSets: Q = (s, d) =>
    table(s, d, "documents")
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq()),
        col("lang"), col("source"))
      .agg(
        asLong(grouping(col("lang"))).as("g_l"),
        asLong(grouping(col("source"))).as("g_s"),
        count(lit(1)).as("docs"),
        sum(col("n_chars")).as("chars"))
      .select(
        col("g_l"), col("g_s"),
        coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("docs"), col("chars"))
      .orderBy("g_l", "g_s", "lang", "source")

  val aggStats: Q = (s, d) =>
    table(s, d, "events")
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("value")), 2).as("vmin"),
        round(max(col("value")), 2).as("vmax"),
        decAvg(col("value"), 4).as("vavg"),
        round(stddev_samp(col("value")), 4).as("vstd"))
      .orderBy("event_type")

  val aggHaving: Q = (s, d) =>
    table(s, d, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(dec2(col("l_quantity"))).as("_s"))
      .filter(col("_s") > 1000)
      .select(col("l_suppkey"), round(col("_s").cast(DoubleType), 2).as("qty"))
      .orderBy("l_suppkey")

  // ---- §2.5 sorts / sets ----

  val sortMultiLimit: Q = (s, d) =>
    table(s, d, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
      .orderBy(
        col("l_returnflag").asc, col("l_extendedprice").desc,
        col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)

  val setUnion: Q = (s, d) =>
    table(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k"))
      .union(
        table(s, d, "orders").filter(col("o_totalprice") > 450000.0)
          .select(col("o_custkey").as("k")))
      .distinct()
      .orderBy("k")

  val setIntersect: Q = (s, d) =>
    table(s, d, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
      .intersect(
        table(s, d, "orders").filter(col("o_orderstatus") === "O")
          .select(col("o_custkey").as("k")))
      .orderBy("k")

  val setExcept: Q = (s, d) =>
    table(s, d, "orders").filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
      .except(
        table(s, d, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("k")))
      .orderBy("k")

  /** Correlated LATERAL (dependent) join — per-nation top-2 customers,
    * via Spark's lateral subquery support (SQL entry; the views are
    * registered without triggering the EDGES build). */
  val joinLateralTopn: Q = (s, d) => {
    table(s, d, "nation").createOrReplaceTempView("nation")
    table(s, d, "customer").createOrReplaceTempView("customer")
    s.sql("""SELECT n.n_nationkey, n.n_name, c.c_custkey, round(c.c_acctbal, 2) AS bal
      FROM nation n,
      LATERAL (SELECT c_custkey, c_acctbal FROM customer
               WHERE c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
      ORDER BY n.n_nationkey, bal DESC, c.c_custkey""")
  }

  /** TPC-H Q3 shape: segment-filtered 3-way join, revenue per order. */
  val tpchQ3Shape: Q = (s, d) => {
    val c = table(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = table(s, d, "orders")
      .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    val l = table(s, d, "lineitem")
      .filter(col("l_shipdate") > to_timestamp(lit("1997-01-01")))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .groupBy(l("l_orderkey"), o("o_orderdate"), o("o_orderpriority"))
      .agg(round(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast(DoubleType), 2).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** TPC-H Q5 shape: region-filtered 6-way join with the local-supplier
    * condition, revenue per nation. */
  val tpchQ5Shape: Q = (s, d) => {
    val c = table(s, d, "customer")
    val o = table(s, d, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val l = table(s, d, "lineitem")
    val sup = table(s, d, "supplier")
    val n = table(s, d, "nation")
    val r = table(s, d, "region").filter(col("r_name") === "ASIA")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(sup, l("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(n("n_name"))
      .agg(round(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast(DoubleType), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q2 shape (round 3): cheapest supplier per small part. The
    * oracle states it as a correlated scalar-min subquery; the Spark
    * form is the decorrelated plan Catalyst would produce anyway — a
    * per-part min aggregate joined back on (part key, exact price).
    * Scale: the min-aggregate is a map-side-combinable shuffle on
    * l_partkey; the price-equality join back is an equi-join on the
    * same key (one shared shuffle under AQE), supplier broadcasts. */
  val tpchQ2Shape: Q = (s, d) => {
    val p = table(s, d, "part").filter(col("p_size") <= 3)
    val l = table(s, d, "lineitem")
    val sup = table(s, d, "supplier")
    val minPrice = l.groupBy(col("l_partkey").as("mp_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    p.join(l, p("p_partkey") === l("l_partkey"))
      .join(minPrice, p("p_partkey") === col("mp_partkey") &&
        l("l_extendedprice") === col("min_price"))
      .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
      .select(p("p_partkey"), p("p_brand"), sup("s_name"),
        round(l("l_extendedprice"), 2).as("best_price"))
      .distinct()
      .orderBy("p_partkey", "s_name")
  }

  /** TPC-H Q18 shape (round 3): large-quantity orders — the HAVING-sum
    * IN-subquery becomes a semi join against the aggregated keep-list.
    * The quantity threshold compares exact DECIMAL sums so both engines
    * make the identical keep/drop decision at the boundary. Scale: two
    * shuffles on l_orderkey (aggregate + semi join share partitioning),
    * customer joins on the already-reduced order set. */
  val tpchQ18Shape: Q = (s, d) => {
    val big = table(s, d, "lineitem")
      .groupBy(col("l_orderkey").as("big_okey"))
      .agg(sum(dec2(col("l_quantity"))).as("q"))
      .filter(col("q") > 250)
      .select(col("big_okey"))
    val c = table(s, d, "customer")
    val o = table(s, d, "orders")
    val l = table(s, d, "lineitem")
    o.join(big, o("o_orderkey") === col("big_okey"), "left_semi")
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .groupBy(c("c_name"), o("o_orderkey"), o("o_orderdate"))
      .agg(moneySum2(col("l_quantity")).as("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q7 shape (round 4): bilateral shipping volume between two
    * REGIONS by year (regions, not single nations, so the query is
    * non-empty even at sf0.001 — a zero-hit query would be a sham
    * test). Both region lookups broadcast via nation (25 rows); the
    * symmetric pair filter runs inside the dimension joins so it
    * prunes before the expensive lineitem x orders grouping. Scale:
    * one shuffle for the fact join (orderkey), one for the 3-key
    * aggregate; everything dimensional is broadcast. */
  val tpchQ7Shape: Q = (s, d) => {
    def regionOf(alias: String) = table(s, d, "nation")
      .join(table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as(s"${alias}_nkey"), col("r_name").as(alias))
    // nation x region (25 rows) is forced-broadcast; customer/supplier
    // are NOT — they grow with SF, so their joins stay shuffle-planned
    // and AQE may still elect broadcast when the side is actually small
    val supRegion = table(s, d, "supplier")
      .join(broadcast(regionOf("supp_region")),
        col("s_nationkey") === col("supp_region_nkey"))
      .select(col("s_suppkey"), col("supp_region"))
    val custRegion = table(s, d, "customer")
      .join(broadcast(regionOf("cust_region")),
        col("c_nationkey") === col("cust_region_nkey"))
      .select(col("c_custkey"), col("cust_region"))
    table(s, d, "lineitem")
      .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"))
      .join(supRegion, col("l_suppkey") === col("s_suppkey"))
      .filter((col("supp_region") === "ASIA" && col("cust_region") === "EUROPE") ||
        (col("supp_region") === "EUROPE" && col("cust_region") === "ASIA"))
      .groupBy(col("supp_region"), col("cust_region"),
        year(col("l_shipdate")).cast(LongType).as("l_year"))
      .agg(round(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast(DoubleType), 2).as("revenue"))
      .orderBy("supp_region", "cust_region", "l_year")
  }

  /** TPC-H Q8 shape (round 4): one nation's market share of a region's
    * yearly revenue. The share is a conditional-sum / total-sum ratio:
    * both sums stay exact DECIMAL through the aggregate and only the
    * final division runs in double (identical IEEE operands -> identical
    * quotient in both engines). */
  val tpchQ8Shape: Q = (s, d) => {
    val custRegion = table(s, d, "customer")
      .join(broadcast(table(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, d, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"))
    val supNation = table(s, d, "supplier")
      .join(broadcast(table(s, d, "nation")
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val vol = dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
    table(s, d, "lineitem")
      .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(custRegion, col("o_custkey") === col("c_custkey"), "left_semi")
      // supplier grows with SF — leave broadcast election to AQE
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast(LongType).as("o_year"))
      .agg(
        round((sum(when(col("supp_nation") === "NATION_3", vol)
            .otherwise(dec2(lit(0)))).cast(DoubleType) /
          sum(vol).cast(DoubleType)), 6).as("mkt_share"),
        round(sum(vol).cast(DoubleType), 2).as("total_volume"))
      .orderBy("o_year")
  }

  /** TPC-H Q10 shape (round 4): returned-item revenue per customer in
    * one quarter, top 20. Orders pre-filtered to the window BEFORE the
    * lineitem join (predicate pushdown keeps the fact shuffle small);
    * deterministic tiebreak on custkey. */
  val tpchQ10Shape: Q = (s, d) => {
    val o = table(s, d, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-10-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-01-01")))
    val l = table(s, d, "lineitem").filter(col("l_returnflag") === "R")
    val c = table(s, d, "customer")
    val n = table(s, d, "nation")
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(n), c("c_nationkey") === col("n_nationkey"))
      .groupBy(c("c_custkey"), c("c_name"), col("n_name"))
      .agg(round(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .cast(DoubleType), 2).as("revenue"),
        round(max(col("c_acctbal")), 2).as("c_acctbal"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q14 shape: monthly promo revenue share. Conditional
    * aggregation over a fact->dim join; part is broadcast-sized, the
    * two sums stay exact decimal until the final double division. */
  val tpchQ14Shape: Q = (s, d) => {
    val l = table(s, d, "lineitem")
    val p = table(s, d, "part").select(col("p_partkey"), col("p_type"))
    val rev = dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).cast(DateType).as("month"))
      .agg(round(lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev).otherwise(dec2(lit(0)))).cast(DoubleType) /
          sum(rev).cast(DoubleType), 4).as("promo_pct"),
        round(sum(rev).cast(DoubleType), 2).as("revenue"))
      .orderBy("month")
  }

  /** TPC-H Q15 shape (r6 — completes the Q2–Q22 shape set): top
    * supplier by quarterly revenue, i.e. the CREATE VIEW + scalar
    * max-subquery pattern. The revenue view is ONE per-supplier hash
    * aggregate over the date-pruned fact scan, materialized once
    * (localCheckpoint, house lineage rule SURVEY §4.2) because both
    * the max threshold and the kept rows derive from it; the 1-row max
    * broadcasts back, and the supplier dim broadcasts onto the
    * (usually single) surviving row. Equality on the exact DECIMAL
    * revenue — no float knife-edge in the "achieves the maximum"
    * test. Scale: one shuffle on l_suppkey, everything after is
    * broadcast-sized. */
  val tpchQ15Shape: Q = (s, d) => {
    val rev = table(s, d, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-04-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
        .as("total_rev"))
      .localCheckpoint(true)
    val mx = rev.agg(max(col("total_rev")).as("mr"))
    rev.join(broadcast(mx), col("total_rev") === col("mr"))
      .join(broadcast(table(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_rev").cast(DoubleType), 2).as("total_rev"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q19 shape: disjunction of conjunctive brand/size/quantity
    * bands across the part join. The OR-of-ANDs sits ON the join so
    * each branch's part predicates reach the broadcast build side and
    * the common `p_size >= 1` / quantity bounds push into both scans
    * — the classic predicate-pushdown-through-disjunction showcase. */
  val tpchQ19Shape: Q = (s, d) => {
    val l = table(s, d, "lineitem")
    val p = table(s, d, "part").select(col("p_partkey"), col("p_brand"), col("p_size"))
    def band(brand: String, szHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand && col("p_size").between(1, szHi) &&
        col("l_quantity").between(qLo, qHi)
    l.join(broadcast(p), l("l_partkey") === p("p_partkey") &&
        (band("Brand#12", 5, 1, 11) || band("Brand#23", 10, 10, 20) ||
         band("Brand#34", 15, 20, 30)))
      .agg(round(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount"))))
          .cast(DoubleType), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** arg-max/arg-min aggregates (round 3): the row-attribute-at-the-
    * extreme family (max_by/min_by — DuckDB arg_max/arg_min). Price
    * ties exist in the data, so the ordering value is an exact BIGINT
    * composite (cents * 10^7 + orderkey) built identically in both
    * engines — decimal cents are exact, so no float comparison decides
    * a tie. Scale: single hash aggregate, map-side combinable. */
  val aggArgminmax: Q = (s, d) => {
    val tie = (dec2(col("o_totalprice")) * 100).cast(LongType) * 10000000L +
      col("o_orderkey")
    table(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        max_by(col("o_orderkey"), tie).as("top_order"),
        round(max(col("o_totalprice")), 2).as("top_price"),
        min_by(col("o_orderkey"), tie).as("bottom_order"),
        round(min(col("o_totalprice")), 2).as("bottom_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Pareto concentration per order status: how few customers carry
    * 80 % of the revenue. Revenue ranks and cumulative sums are exact
    * decimal under a total (revenue desc, custkey) order; the 80 %
    * test is `5*cum >= 4*total` — integer-scaled decimals, no
    * division until the final reported ratio. Windows partition by
    * status (no global sort); the per-status customer aggregate runs
    * first so the window input is customers, not orders. */
  val paretoRevenue: Q = (s, d) => {
    val byCust = table(s, d, "orders")
      .groupBy(col("o_orderstatus"), col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    // cum and rk MUST share one ordering — derive both from `ord`
    val ord = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("rev").desc, col("o_custkey"))
    val tot = Window.partitionBy(col("o_orderstatus"))
    byCust
      .withColumn("cum", sum(col("rev")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("rev")).over(tot))
      .withColumn("rk", row_number().over(ord))
      .groupBy(col("o_orderstatus"))
      .agg(asLong(count(lit(1))).as("n_cust"),
        asLong(min(when(col("cum") * 5 >= col("total") * 4, col("rk"))))
          .as("n_top80"),
        round(min(when(col("cum") * 5 >= col("total") * 4, col("rk")))
          .cast(DoubleType) / count(lit(1)), 4).as("frac_top80"))
      .orderBy("o_orderstatus")
  }

  /** Gini coefficient of order totals per status, from the exact
    * rank-sum formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    * over ascending x — ranks are bigint, x is exact decimal, and
    * doubles appear only in the final division of two exactly-computed
    * operands, so both engines round the same exact values. One rank
    * window + one aggregate, one shuffle on the group key. */
  val aggGini: Q = (s, d) => {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    table(s, d, "orders")
      .select(col("o_orderstatus"), dec2(col("o_totalprice")).as("x"),
        row_number().over(w).cast(LongType).as("i"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("o_orderstatus"), col("n"),
        round((lit(2) * col("six") - (col("n") + 1) * col("sx")).cast(DoubleType) /
          (col("n") * col("sx")).cast(DoubleType), 4).as("gini"))
      .orderBy("o_orderstatus")
  }

  /** Exact weighted median (lower): smallest price whose running
    * weight reaches half the group's total, weights and cumulative
    * sums kept in exact DECIMAL and the half-total test written as
    * `2*cum >= total` so no division ever happens — fully
    * deterministic across engines and partitionings.
    *
    * Scale shape (r6 rework): a naive
    * `Window.partitionBy(l_returnflag)` running sum caps parallelism
    * at the 3 distinct flags and sorts EACH WHOLE GROUP in one task —
    * the worst window skew possible (at 100 TB, one task sorting
    * ~33 TB). Instead the approxQuantile-style two-pass: pass 1 is a
    * map-side-combinable bucket histogram (price div 1024 → ~100
    * buckets/group) whose ~300-row result is prefix-scanned on the
    * driver in exact BigDecimal to find each group's crossing bucket
    * and the exact weight below it; pass 2 runs the windowed running
    * sum ONLY over the crossing bucket's rows (~1% of the group,
    * offset by the exact below-bucket weight). No full-group sort
    * anywhere; both passes are hash aggregates + a ~1%-selectivity
    * sorted window, and the result is bit-identical to the one-window
    * form because every weight stays DECIMAL end to end. */
  val aggWeightedMedian: Q = (s, d) => {
    val li = table(s, d, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"),
        dec2(col("l_quantity")).as("qd"),
        floor(col("l_extendedprice") / 1024).cast(IntegerType).as("bkt"))
    val hist = li.groupBy(col("l_returnflag"), col("bkt"))
      .agg(sum(col("qd")).as("w")).collect()
    val marks = hist.groupBy(_.getString(0)).toSeq.map { case (flag, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      val total = sorted.map(_.getDecimal(2)).reduce(_ add _)
      var cum = java.math.BigDecimal.ZERO
      var bstar = sorted.head.getInt(1)
      var offset = java.math.BigDecimal.ZERO
      var found = false
      for (r <- sorted if !found) {
        val next = cum.add(r.getDecimal(2))
        if (next.add(next).compareTo(total) >= 0) {
          bstar = r.getInt(1); offset = cum; found = true
        } else cum = next
      }
      (flag, bstar, offset.toString, total.toString)
    }
    val small = s.createDataFrame(marks)
      .toDF("l_returnflag", "bstar", "off_s", "tot_s")
      .select(col("l_returnflag"), col("bstar"),
        col("off_s").cast(DecimalType(38, 2)).as("off"),
        col("tot_s").cast(DecimalType(38, 2)).as("total"))
    val wq = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(small), Seq("l_returnflag"))
      .filter(col("bkt") === col("bstar"))
      .withColumn("cum", col("off") + sum(col("qd")).over(wq))
      .filter(col("cum") * 2 >= col("total"))
      .groupBy(col("l_returnflag"))
      .agg(round(min(col("l_extendedprice")), 2).as("weighted_median"),
        round(max(col("total")).cast(DoubleType), 2).as("total_weight"))
      .orderBy("l_returnflag")
  }

  /** Pearson correlation + regression slope/intercept per group
    * (round 4) — NOT the built-in corr()/regr_slope(), whose double
    * accumulation order differs across engines and partitionings.
    * Instead the five moments (n, Sx, Sy, Sxx, Syy, Sxy) are EXACT
    * (decimal/bigint) aggregates — order-insensitive — and the
    * textbook formulas run once per group on identical IEEE operands,
    * so both engines produce bit-identical statistics. Scale: one
    * map-side-combinable hash aggregate, formulas on the tiny result. */
  val aggCorrRegr: Q = (s, d) => {
    val x = dec2(col("l_quantity"))
    val y = dec2(col("l_extendedprice"))
    val moments = table(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"),
        sum(x * y).as("sxy"))
      .select(col("l_returnflag"), col("n").cast(DoubleType).as("n"),
        col("sx").cast(DoubleType).as("sx"), col("sy").cast(DoubleType).as("sy"),
        col("sxx").cast(DoubleType).as("sxx"), col("syy").cast(DoubleType).as("syy"),
        col("sxy").cast(DoubleType).as("sxy"))
    moments.select(
        col("l_returnflag"),
        col("n").cast(LongType).as("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
               (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_xy"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        round((col("sy") - ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx"))) * col("sx")) / col("n"), 4)
          .as("intercept"))
      .orderBy("l_returnflag")
  }

  /** Non-parquet sources, proven end-to-end (round 4): the Spark side
    * reads the base table THROUGH csv/json/orc (written once per
    * session by Sources.via), while the oracle aggregates the original
    * parquet — the hash gate fails if the round-trip damages one
    * value. Tables chosen per format's precision caveats (CSV/JSON
    * timestamps are millis; ORC is exact). */
  val srcCsvRoundtrip: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "supplier", "csv")
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"), moneySum2(col("s_acctbal")).as("bal"))
      .orderBy("s_nationkey")
  }

  /** Partitioned-parquet roundtrip (§2.1, r7): events written
    * hive-partitioned by event_type, read back, and queried with a
    * partition-column predicate — the declared-query proof that the
    * write-side layout lever actually prunes (the filter resolves to
    * PartitionFilters: only the purchase/ directory is listed or
    * scanned; SinksSpec asserts the same mechanism plan-level). Same
    * oracle-is-the-original-table contract as the csv/json/orc
    * roundtrips. */
  val srcPartitionedRoundtrip: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "events", "parquet_partitioned")
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(asLong(count(lit(1))).as("n"),
        moneySum2(col("value")).as("revenue"))
      .orderBy("day")
  }

  /** Line-text roundtrip (§2.42): documents written as TSV lines
    * through the text SINK and read back through the text SOURCE +
    * split-parse — the raw-corpus wire format both directions (csv/
    * json/orc cover structured readers; a 100-TB crawl usually lands
    * as lines first). Aggregate fingerprints per source (counts, char
    * mass, token mass, id extrema) hash-checked against the ORIGINAL
    * parquet — any value the pack/parse damages fails the gate. */
  val srcTextRoundtrip: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "documents", "text")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("chars"),
        asLong(sum(size(split(col("text"), " ")))).as("tokens"),
        asLong(min(col("doc_id"))).as("lo_id"),
        asLong(max(col("doc_id"))).as("hi_id"))
      .orderBy("source")
  }

  /** Gzip-compressed line-text roundtrip (§2.44): the same TSV pack
    * through gzip — the wire format crawls actually land in; proves
    * the codec path end to end (write with compression, read by
    * extension). Different fingerprint set than src_text_roundtrip
    * (per-lang here) so the two queries cannot mask each other. */
  val srcGzipRoundtrip: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "documents", "text_gzip")
      .groupBy(col("lang"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(col("n_chars"))).as("chars"),
        asLong(countDistinct(col("source"))).as("n_sources"),
        asLong(sum(size(split(col("text"), " ")))).as("tokens"))
      .orderBy("lang")
  }

  val srcJsonRoundtrip: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "customer", "json")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), moneySum2(col("c_acctbal")).as("bal"),
        max(col("c_custkey")).as("hi_key"))
      .orderBy("c_mktsegment")
  }

  val srcOrcRoundtrip: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "orders", "orc")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        moneySum2(col("o_totalprice")).as("total"))
      .orderBy("o_orderstatus")
  }

  /** Bitmap-exact COUNT(DISTINCT) (round 4): user ids bucket into
    * 63-bit words (id div 63), each word OR-accumulates its members'
    * bits, popcounts sum back to the exact distinct count — the
    * roaring-bitmap pattern in two map-side-combinable aggregates.
    * Why it matters at 100 TB: the shuffle carries (group, word_idx,
    * word) — bounded by the ID SPACE / 63 per group, not by row count
    * — where count_distinct's expand/two-phase carries every distinct
    * (group, id) pair. All-integer arithmetic: cross-engine exact. */
  val aggBitmapDistinct: Q = (s, d) => {
    // 63-bit words: bit 63 would be 1<<63, which DuckDB rejects as a
    // signed-overflow shift — one bit of density costs portability
    table(s, d, "events")
      .groupBy(col("event_type"), expr("user_id div 63").as("word_idx"))
      .agg(expr("bit_or(shiftleft(1L, cast(pmod(user_id, 63) AS INT)))").as("word"))
      .groupBy(col("event_type"))
      .agg(sum(expr("bit_count(word)")).cast(LongType).as("distinct_users"),
        count(lit(1)).as("n_words"))
      .orderBy("event_type")
  }

  /** Multiset (ALL) set operations — bag semantics UNION/INTERSECT/
    * EXCEPT, complementing the distinct variants above. */
  val setOpsAll: Q = (s, d) => {
    val li = table(s, d, "lineitem")
    val a = li.filter(col("l_quantity") > 40).select(col("l_suppkey").as("k"))
    val b = li.filter(col("l_discount") > 0.05).select(col("l_suppkey").as("k"))
    val rows = Seq(
      ("union_all", a.unionAll(b)),
      ("intersect_all", a.intersectAll(b)),
      ("except_all", a.exceptAll(b)))
    rows.map { case (name, df) =>
      df.agg(count(lit(1)).as("n")).select(lit(name).as("op"), col("n"))
    }.reduce(_ unionAll _).orderBy("op")
  }

  /** Symmetric difference (distinct keys in exactly one side) —
    * completes the set family: two anti-joins unioned, each a hash
    * shuffle on the key. */
  val setSymmetricDiff: Q = (s, d) => {
    val li = table(s, d, "lineitem")
    val a = li.filter(col("l_quantity") > 48).select(col("l_partkey").as("k")).distinct()
    val b = li.filter(col("l_discount") > 0.09).select(col("l_partkey").as("k")).distinct()
    a.join(b, Seq("k"), "left_anti").select(col("k"), lit("only_hi_qty").as("side"))
      .unionAll(
        b.join(a, Seq("k"), "left_anti").select(col("k"), lit("only_discounted").as("side")))
      .orderBy("k")
  }

  /** Relational division (§2.22): customers whose orders span EVERY
    * priority level — the textbook "suppliers who supply all parts"
    * operator, reported per nation with full-coverage share (the
    * segmentation read: which markets have fully-engaged customers).
    * Division compiles to count(distinct divisor-key) == |divisor| —
    * no double-negated NOT EXISTS, no per-divisor join fan-out. All
    * counts exact; the share divides once at output. Scale: one
    * custkey-grain distinct aggregate over orders, the |divisor|
    * scalar (5) broadcast, nation dim broadcast; per-nation reduce
    * map-combines. */
  val setDivision: Q = (s, d) => {
    val np = table(s, d, "orders")
      .agg(countDistinct(col("o_orderpriority")).as("np"))
    val cov = table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("k"))
      .crossJoin(broadcast(np))
      .select(col("o_custkey"), (col("k") === col("np")).as("full"))
    table(s, d, "customer")
      .join(broadcast(table(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(cov, col("c_custkey") === col("o_custkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("full"), 1L).otherwise(0L)).as("n_full_coverage"))
      .select(col("n_name").as("nation"),
        asLong(col("n_customers")).as("n_customers"),
        asLong(col("n_full_coverage")).as("n_full_coverage"),
        round(col("n_full_coverage").cast(DoubleType) /
          col("n_customers"), 4).as("coverage_share"))
      .orderBy("nation")
  }

  /** Interpolated median + continuous quantiles per group. Round 14:
    * re-shaped off Spark's exact `percentile()` (which buffers every
    * value into ONE buffer per group — the measured 100×-tier
    * serialization wall) onto [[ExactQuantile]]'s two-pass bucketed
    * recipe; bit-identical by the replayed interpolation formula
    * (ExactQuantileSpec) and the unchanged oracle hashes. The n column
    * counts the same rows (o_totalprice is never null here; the helper
    * ignores nulls exactly as percentile() does). */
  val aggMedianQuantile: Q = (s, d) => {
    val qs = ExactQuantile.quantiles(table(s, d, "orders"),
      col("o_totalprice"), Some(col("o_orderstatus")),
      Seq(0.5, 0.25, 0.90), bucketWidth = 64.0)
    val rows = qs.toSeq.map { case (g, (n, m)) =>
      (g, m(0.5), m(0.25), m(0.90), n)
    }
    s.createDataFrame(rows)
      .toDF("o_orderstatus", "med0", "q250", "q900", "n0")
      .select(col("o_orderstatus"),
        round(col("med0"), 2).as("med"),
        round(col("q250"), 2).as("q25"),
        round(col("q900"), 2).as("q90"),
        col("n0").as("n"))
      .orderBy("o_orderstatus")
  }

  /** Median absolute deviation per group (§2.3, r6): the robust
    * dispersion companion to agg_median_quantile — median(|x − m|)
    * where m is the group median. Two aggregations over the same
    * grouping key; the per-group medians (3 rows) broadcast back, so
    * the second pass adds no extra shuffle of the fact table beyond
    * its own group-by. Both medians interpolate on identical double
    * operands in both engines. */
  val aggMad: Q = (s, d) => {
    // round 14: both medians via ExactQuantile's two-pass bucketed
    // recipe (o_totalprice is data-sized-distinct, so the single-
    // buffer median() is the 100×-tier serialization wall) — the
    // group medians fold back as a literal CASE chain, the deviation
    // median runs over the identical abs(x − m) doubles
    val o = table(s, d, "orders")
    val med = ExactQuantile.quantiles(o, col("o_totalprice"),
      Some(col("o_orderstatus")), Seq(0.5), bucketWidth = 64.0)
    val mExpr = med.foldLeft(lit(null).cast(DoubleType): Column) {
      case (acc, (g, (_, m))) =>
        when(col("o_orderstatus") === g, lit(m(0.5))).otherwise(acc)
    }
    val mad = ExactQuantile.quantiles(
      o.select(col("o_orderstatus"),
        abs(col("o_totalprice") - mExpr).as("dev")),
      col("dev"), Some(col("o_orderstatus")), Seq(0.5), bucketWidth = 64.0)
    val rows = med.toSeq.map { case (g, (n, m)) =>
      (g, m(0.5), mad(g)._2(0.5), n)
    }
    s.createDataFrame(rows).toDF("o_orderstatus", "med0", "mad0", "n0")
      .select(col("o_orderstatus"), round(col("med0"), 2).as("med"),
        round(col("mad0"), 2).as("mad"), col("n0").as("n"))
      .orderBy("o_orderstatus")
  }

  /** Theil T inequality index per group (§2.3, r6): (1/n)·Σ(x/μ)·ln(x/μ)
    * — the decomposable companion to agg_gini (Theil splits into
    * within/between-group terms; Gini does not). μ is derived from the
    * exact DECIMAL group sum (one double division, identical operands
    * both engines); each row's term is computed in one double tree,
    * rounded at 8 and DECIMAL-summed so the per-group mean divides
    * identical operands. Same two-aggregation shape as agg_mad: the
    * 3-row group-stats relation broadcasts back; the fact table
    * shuffles only for its own group-bys. */
  val aggTheilIndex: Q = (s, d) => {
    val o = table(s, d, "orders")
    val stats = o.groupBy(col("o_orderstatus"))
      .agg(sum(dec2(col("o_totalprice"))).as("sx"), count(lit(1)).as("n"))
    val mu = col("sx").cast(DoubleType) / col("n").cast(DoubleType)
    val r = col("o_totalprice") / col("mu")
    o.join(broadcast(stats), "o_orderstatus")
      .withColumn("mu", mu)
      .select(col("o_orderstatus"), col("n"),
        round(r * log(r), 8).cast(DecimalType(18, 8)).as("term"))
      .groupBy(col("o_orderstatus"))
      .agg(round(sum(col("term")).cast(DoubleType) /
          max(col("n")).cast(DoubleType), 6).as("theil"),
        asLong(max(col("n"))).as("n"))
      .orderBy("o_orderstatus")
  }

  /** Bivariate statistics + boolean aggregates. */
  val aggStats2: Q = (s, d) =>
    table(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
        round(var_samp(col("l_quantity")), 4).as("var_q"),
        bool_and(col("l_quantity") > 0).as("all_pos"),
        bool_or(col("l_discount") > 0.09).as("any_big_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Latest record per key (CDC/upsert compaction shape). */
  val latestPerKey: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    table(s, d, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"),
        round(col("value"), 2).as("v"))
      .orderBy("user_id")
  }

  /** Day-over-day retention: users active on day d who return on d+1. */
  val retentionDaily: Q = (s, d) => {
    val activity = table(s, d, "events")
      .select(col("user_id"), date_trunc("day", col("ts")).cast(DateType).as("day"))
      .distinct()
    val a = activity.toDF("a_user", "a_day")
    val b = activity.toDF("b_user", "b_day")
    a.join(b, col("b_user") === col("a_user") && col("b_day") === date_add(col("a_day"), 1),
        "left")
      .groupBy(col("a_day").as("day"))
      .agg(count(lit(1)).as("active"), count(col("b_user")).as("retained"))
      .select(col("day"), col("active"), col("retained"),
        round(col("retained").cast(DoubleType) / col("active"), 4).as("retention"))
      .orderBy("day")
  }

  /** Ordered string aggregation (deterministic collect): distinct
    * segments per nation, sorted then joined. */
  val aggStringAgg: Q = (s, d) =>
    table(s, d, "customer")
      .select(col("c_nationkey"), col("c_mktsegment")).distinct()
      .groupBy(col("c_nationkey"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("c_mktsegment")))).as("segs"),
        count(lit(1)).as("n"))
      .orderBy("c_nationkey")

  /** 3-step strict-order funnel (view -> click -> purchase): per user,
    * the first view, the first click AFTER it, the first purchase
    * after THAT. Three window aggregates over the SAME partitioning —
    * Catalyst plans one Exchange on user_id and chains the Window
    * nodes, so the whole funnel is one shuffle and linear, where the
    * textbook three-way self-join (which the oracle runs) touches the
    * events table three times. */
  val funnelThreeStep: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    // NULL user_id is dropped EXPLICITLY on both sides of the
    // contract: here, and in the oracle's v CTE (GROUP BY would keep
    // a NULL group there — the deeper c/p CTEs equi-join it away, but
    // a NULL-user view event would still surface as a stage-1 row).
    // Same discipline as lastClickPerPurchase.
    val ev = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_type"))
    ev.withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2"), col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t_view"), min(col("t2")).as("t_click"),
        min(col("t3")).as("t_purchase"))
      .filter(col("t_view").isNotNull)
      .withColumn("stage",
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2).otherwise(1))
      .orderBy("user_id")
  }

  /** Shannon entropy of each user's event-type mix, from EXACT counts:
    * H = ln(total) - sum(n*ln(n))/total, doubles entering only in the
    * final rounded expression. Two map-combined aggregations — the
    * second exchange re-keys (user, type) partials to user and is
    * rows-per-user-sized. The canonical behavioral-diversity
    * feature. */
  val aggEntropy: Q = (s, d) => {
    val counts = table(s, d, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col("user_id"))
      .agg(sum(col("n")).as("tot"), asLong(count(lit(1))).as("n_types"),
        sum(col("n").cast(DoubleType) * log(col("n").cast(DoubleType))).as("snln"))
      .select(col("user_id"), col("tot").as("n_events"), col("n_types"),
        round(log(col("tot").cast(DoubleType)) - col("snln") / col("tot"), 4)
          .as("entropy"))
      .orderBy("user_id")
  }

  /** Conversion funnel: per user, purchases converted by a click within
    * the previous hour (event-analytics shape built on the as-of
    * pattern). */
  val funnelClickPurchase: Q = (s, d) => {
    val users = table(s, d, "events").select(col("user_id")).distinct()
    // per-purchase last prior click from the shared linear as-of core
    val purchases = lastClickPerPurchase(s, d)
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("p_ts"), col("lc_ts"))
    val within1h = col("p_ts").cast(DoubleType) - col("lc_ts").cast(DoubleType) <= 3600
    val nConv = count(when(within1h, col("p_id")))
    users
      .join(purchases, col("p_user") === col("user_id"), "left")
      .groupBy(col("user_id"))
      .agg(
        count(col("p_id")).as("n_purchases"),
        nConv.as("n_converted"),
        round(nConv.cast(DoubleType) / greatest(count(col("p_id")), lit(1L)), 4)
          .as("conv_rate"))
      .orderBy("user_id")
  }

  // ---- §2.10 subqueries / CTE / pivot ----

  /** Correlated scalar subquery, decorrelated by hand: per-nation avg
    * joined back (identical to Catalyst's decorrelation of the SQL). */
  val subqCorrelated: Q = (s, d) => {
    val c = table(s, d, "customer")
    val avgs = c.groupBy(col("c_nationkey").as("nk"))
      .agg(avg(col("c_acctbal")).as("a"))
    c.join(avgs, c("c_nationkey") === avgs("nk"))
      .filter(c("c_acctbal") > col("a"))
      .select(c("c_custkey"), round(c("c_acctbal"), 2).as("bal"))
      .orderBy("c_custkey")
  }

  val subqScalarUncorrelated: Q = (s, d) => {
    val o = table(s, d, "orders")
    val thr = o.agg(avg(col("o_totalprice")).as("a"))
    o.join(broadcast(thr))
      .filter(col("o_totalprice") > lit(1.5) * col("a"))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val cteChainTopSupplier: Q = (s, d) => {
    val li = table(s, d, "lineitem")
    val sup = table(s, d, "supplier")
    // rev feeds both the scalar max and the final join — persist so
    // the lineitem aggregation shuffle runs once
    val rev = li.groupBy(col("l_suppkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).as("r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mx = rev.agg(max(col("r")).as("m"))
    rev.join(broadcast(mx), col("r") === col("m"))
      .join(sup, sup("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), round(col("r").cast(DoubleType), 2).as("revenue"))
      .orderBy("s_suppkey")
  }

  /** Native pivot() with an explicit value list — the column order is
    * pinned by the list, defusing SURVEY risk R6. */
  val pivotDynamic: Q = (s, d) => {
    val srcs = Seq("src0", "src1", "src2", "src3")
    table(s, d, "documents")
      .groupBy(col("lang"))
      .pivot("source", srcs)
      .agg(count(lit(1)))
      .select(col("lang") +: srcs.map(c => coalesce(col(c), lit(0L)).as(c)): _*)
      .orderBy("lang")
  }

  /** Wide->long via native unpivot/melt (Dataset.unpivot). */
  val unpivotLong: Q = (s, d) => {
    val wide = table(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        moneySum2(col("l_quantity")).as("qty"),
        moneySum2(col("l_extendedprice")).as("price"),
        moneySum2(col("l_tax")).as("tax"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("qty"), col("price"), col("tax")),
        "metric", "val")
      .orderBy("l_returnflag", "metric")
  }

  /** Pivot via explicit conditional aggregation (SURVEY R6: column-order
    * safe, exactly mirrors the oracle's FILTER columns). */
  val pivotManual: Q = (s, d) => {
    def cnt(t: String) = sum(when(col("event_type") === t, 1).otherwise(0))
    table(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(
        cnt("click").as("clicks"), cnt("view").as("views"),
        cnt("purchase").as("purchases"), cnt("signup").as("signups"),
        cnt("error").as("errors"))
      .orderBy("day")
  }

  /** Multi-measure pivot (§2.10, r6): two measures (count + revenue)
    * per pivoted event type in ONE aggregation pass — the shape
    * `pivot()` with multiple aggs produces, written as explicit
    * conditional aggregates so column names and order are pinned
    * cross-engine (house rule R6). Revenue stays DECIMAL until the
    * final rounding. */
  val pivotMultiMeasure: Q = (s, d) => {
    def cnt(t: String) = asLong(sum(when(col("event_type") === t, 1L).otherwise(0L)))
    def rev(t: String) = round(sum(when(col("event_type") === t,
      dec2(col("value"))).otherwise(dec2(lit(0)))).cast(DoubleType), 2)
    table(s, d, "events")
      .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"))
      .agg(cnt("click").as("click_n"), rev("click").as("click_value"),
        cnt("purchase").as("purchase_n"), rev("purchase").as("purchase_value"))
      .orderBy("day")
  }

  // ---- §2.3 additions (round 3) ----

  /** Deterministic mode: most frequent o_orderpriority per status.
    * `mode()` itself is tie-nondeterministic in both engines, so the
    * contract pins the tiebreak (count desc, value asc) via a
    * row_number — the portable formulation of "the" mode. */
  val aggMode: Q = (s, d) => {
    val counts = table(s, d, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("cnt").desc, col("o_orderpriority"))
    counts.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
        col("cnt"))
      .orderBy("o_orderstatus")
  }

  /** Fixed-width histogram of order totals: bucket = floor(price/50k).
    * Bucketing on the raw double is cross-engine exact (identical IEEE
    * division + floor); the per-bucket money sum goes through the
    * DECIMAL(18,2) discipline like every money aggregate. */
  val aggHistogram: Q = (s, d) =>
    table(s, d, "orders")
      .groupBy(floor(col("o_totalprice") / 50000.0).cast(LongType).as("bucket"))
      .agg(asLong(count(lit(1))).as("n"),
        moneySum2(col("o_totalprice")).as("sum_price"))
      .orderBy("bucket")

  /** §2.2 addendum: the skew-salted join inside the declared contract.
    * Skew.saltedJoin splits each hot l_orderkey across 8 shuffle keys
    * (deterministic xxhash salt, dim side replicated 8x); the oracle is
    * the PLAIN equi-join — result equality with the unsalted plan is
    * exactly the property the operator promises (SkewSpec asserts it
    * row-level; this asserts it hash-level against DuckDB). */
  val joinSalted: Q = (s, d) => {
    val li = table(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
    val ord = table(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"))
    Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey", 8)
      .groupBy(col("o_orderstatus"))
      .agg(asLong(count(lit(1))).as("n"),
        moneySum2(col("l_extendedprice")).as("rev"))
      .orderBy("o_orderstatus")
  }

  /** Higher central moments per group (§2.3, r6): skewness + excess
    * kurtosis of l_quantity per returnflag via RAW POWER SUMS.
    * Cross-engine exact by construction: l_quantity is integral, so
    * s1..s4 are exactly representable doubles regardless of summation
    * order; the moment arithmetic is the identical IEEE expression
    * tree in both engines (sqrt(m2^3) instead of pow(m2,1.5) — sqrt
    * is correctly rounded, libm pow is not). One aggregation pass. */
  val aggHigherMoments: Q = (s, d) =>
    table(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        asLong(count(lit(1))).as("n"),
        sum(col("l_quantity")).as("s1"),
        sum(col("l_quantity") * col("l_quantity")).as("s2"),
        sum(col("l_quantity") * col("l_quantity") * col("l_quantity")).as("s3"),
        sum(col("l_quantity") * col("l_quantity") * col("l_quantity") * col("l_quantity")).as("s4"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("m2", col("s2") / col("n") - col("mean") * col("mean"))
      .withColumn("m3", col("s3") / col("n") - lit(3.0) * col("mean") * (col("s2") / col("n"))
        + lit(2.0) * col("mean") * col("mean") * col("mean"))
      .withColumn("m4", col("s4") / col("n") - lit(4.0) * col("mean") * (col("s3") / col("n"))
        + lit(6.0) * col("mean") * col("mean") * (col("s2") / col("n"))
        - lit(3.0) * col("mean") * col("mean") * col("mean") * col("mean"))
      .select(col("l_returnflag"), col("n"),
        round(col("mean"), 4).as("mean_qty"),
        round(col("m3") / sqrt(col("m2") * col("m2") * col("m2")), 4).as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 4).as("kurtosis"))
      .orderBy("l_returnflag")


  /** FILTER-clause aggregates (§2.3, r6): several differently-filtered
    * aggregates of the same scan in ONE pass — the conditional-
    * aggregation shape (SQL FILTER, Spark when()). The null-skipping
    * `sum(when(cond, x))` matches FILTER semantics exactly (no
    * otherwise-0 row inflation); money through DECIMAL. */
  val aggFiltered: Q = (s, d) =>
    table(s, d, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        asLong(count(lit(1))).as("n_all"),
        asLong(count(when(col("o_orderpriority") === "1-URGENT", 1))).as("n_urgent"),
        round(sum(when(col("o_totalprice") > 200000.0, dec2(col("o_totalprice"))))
          .cast(DoubleType), 2).as("big_rev"),
        asLong(count(when(col("o_orderdate") >= to_timestamp(lit("1997-01-01")), 1)))
          .as("n_recent"))
      .orderBy("o_orderstatus")

  /** As-of join with TOLERANCE (§2.2, r6): each purchase picks its
    * latest prior click within 30 minutes, else NULL — the bounded-
    * staleness lookup (market data, attribution) that plain as-of
    * lacks. Same LINEAR union + running-last shape as joinAsof (one
    * shuffle, O(|left|+|right|) rows); the tolerance is a post-window
    * null-out, which is equivalent to the range-join max because the
    * running last click IS the max prior click. The DuckDB oracle
    * keeps the independent range-join formulation. */
  val joinAsofTolerance: Q = (s, d) => {
    val ev = table(s, d, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        lit(null).cast(LongType).as("p_id"), lit(0).as("is_p"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_id"), lit(1).as("is_p"))
    // clicks sort before a same-ts purchase => a simultaneous click counts
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_p"), col("p_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionAll(purchases)
      .withColumn("last_click_ts",
        last(when(col("is_p") === 0, col("ts")), ignoreNulls = true).over(w))
      .filter(col("is_p") === 1)
      .withColumn("click_ts", when(
        unix_micros(col("ts")) - unix_micros(col("last_click_ts")) <= 1800000000L,
        col("last_click_ts")))
      .select(col("p_id"), col("user_id"), col("ts"), col("click_ts"))
      .orderBy("p_id")
  }

  // ---- round-6 TPC-H completion: the 11 remaining query shapes ----
  // (q15 is covered by cte_chain_top_supplier; q1 by agg_hash_q1.)
  // The schema here is reduced TPC-H (no partsupp, no commit/receipt
  // dates, no shipmode/comment), so the partsupp- and date-dependent
  // queries keep their OPERATOR SHAPE (EXISTS chains, scalar
  // subqueries, NOT IN, nested HAVING semi-joins) over adapted
  // predicates; each scaladoc names the adaptation.

  /** TPC-H Q4 shape: order-priority checking — orders in a half-year
    * window with at least one line shipped >60 days after the order
    * date ("late", standing in for commitdate<receiptdate). The EXISTS
    * becomes a conditional left-semi join carrying the date predicate
    * in the join condition. Scale: one shuffle on l_orderkey against
    * the date-pruned orders side; the count agg is 5 groups. */
  val tpchQ4Shape: Q = (s, d) => {
    val o = table(s, d, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1997-07-01")))
    val l = table(s, d, "lineitem")
    o.join(l, o("o_orderkey") === l("l_orderkey") &&
        l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(asLong(count(lit(1))).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6 shape: forecast-revenue filter-and-sum — one scan, all
    * three predicates pushed to parquet, zero joins, single-row
    * output (partial aggregation makes the shuffle one row/task).
    * Discount band compares the same stored doubles to the same
    * literals in both engines; revenue in DECIMAL(18,2). */
  val tpchQ6Shape: Q = (s, d) =>
    table(s, d, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount")))
        .cast(DoubleType), 2).as("revenue"),
        asLong(count(lit(1))).as("n_lines"))

  /** TPC-H Q9 shape: product-type profit by supplier nation and year.
    * No partsupp ⇒ supply cost is proxied as 0.6·p_retailprice·qty
    * (exact DECIMAL both engines, so the subtraction is exact). Scale:
    * part filter prunes at the scan and keys the first fact join;
    * supplier+nation broadcast; orders joins on l_orderkey. Two fact
    * shuffles (partkey, orderkey) then a 175-group agg. */
  val tpchQ9Shape: Q = (s, d) => {
    val p = table(s, d, "part").filter(col("p_name").like("%widget%"))
      .select(col("p_partkey"), col("p_retailprice"))
    val sn = table(s, d, "supplier")
      .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    table(s, d, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), asLong(year(col("o_orderdate"))).as("o_year"))
      .agg(round(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))
          - dec2(lit(0.6)) * dec2(col("p_retailprice")) * dec2(col("l_quantity")))
        .cast(DoubleType), 2).as("profit"))
      .orderBy("n_name", "o_year")
  }

  /** TPC-H Q11 shape: important stock — per-part value from one
    * region's suppliers, kept when above 1.5× the average part value.
    * The scalar-subquery threshold is decided EXACTLY both engines by
    * cross-multiplying (v·n·2 > total·3 ⟺ v > 1.5·total/n) in
    * DECIMAL, so no float knife-edge; the classic fixed-fraction
    * threshold is avoided because it empties as SF grows. Scale: one
    * shuffle on l_partkey; the 2-column threshold row broadcasts. */
  val tpchQ11Shape: Q = (s, d) => {
    val supEur = table(s, d, "supplier")
      .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE").select(col("s_suppkey"))
    // both the kept rows and the threshold derive from this per-part
    // aggregate; localCheckpoint (house lineage rule, SURVEY §4.2)
    // materializes it ONCE so the fact scan+shuffle isn't run twice
    val value = table(s, d, "lineitem")
      .join(broadcast(supEur), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))).as("v"))
      .localCheckpoint(true)
    val thr = value.agg(sum(col("v")).as("total"), count(lit(1)).as("n"))
    value.crossJoin(broadcast(thr))
      .filter(col("v") * col("n") * 2 > col("total") * 3)
      .select(col("l_partkey"), round(col("v").cast(DoubleType), 2).as("value"))
      .orderBy(col("value").desc, col("l_partkey"))
  }

  /** TPC-H Q12 shape: late-shipment priority mix per returnflag
    * (standing in for shipmode; "late" = shipped >45 days after the
    * order date, standing in for receipt>commit). The CASE-sum pair
    * is one aggregation pass. Scale: the shipdate window prunes at the
    * scan; one shuffle on l_orderkey, 3-group agg. */
  val tpchQ12Shape: Q = (s, d) => {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    table(s, d, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .join(table(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 45 DAYS"))
      .groupBy(col("l_returnflag"))
      .agg(asLong(sum(when(hi, 1).otherwise(0))).as("high_line_count"),
        asLong(sum(when(!hi, 1).otherwise(0))).as("low_line_count"))
      .orderBy("l_returnflag")
  }

  /** TPC-H Q13 shape: customer order-count distribution — LEFT join
    * keeping order-less customers (the priority filter rides in the
    * join condition, standing in for the comment NOT LIKE), count per
    * customer, then the distribution of those counts. Scale: one
    * shuffle on custkey, second agg over ≤ a few dozen distinct
    * counts. */
  val tpchQ13Shape: Q = (s, d) => {
    val c = table(s, d, "customer")
    val o = table(s, d, "orders")
    c.join(o, c("c_custkey") === o("o_custkey") &&
        o("o_orderpriority") =!= "4-NOT SPECIFIED", "left")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("cc"))
      .groupBy(asLong(col("cc")).as("c_count"))
      .agg(asLong(count(lit(1))).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q16 shape: supplier count per (brand, type, size) for a
    * size IN-list, excluding one brand and excluding suppliers from
    * one region (standing in for the complaints NOT IN). The NOT IN
    * is a broadcast left-anti join (its subquery is dimension-sized
    * and null-free). Scale: distinct-suppliers agg shuffles on the
    * 3-part group key; part side prunes at the scan. */
  val tpchQ16Shape: Q = (s, d) => {
    val excl = table(s, d, "supplier")
      .join(table(s, d, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "AFRICA").select(col("s_suppkey"))
    val p = table(s, d, "part")
      .filter(col("p_brand") =!= "Brand#1" &&
        col("p_size").isin(1, 2, 3, 4, 5, 10, 15, 20))
    table(s, d, "lineitem")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), asLong(col("p_size")).as("p_size"))
      .agg(asLong(count_distinct(col("l_suppkey"))).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q17 shape: small-quantity-order revenue for one brand —
    * the correlated per-part avg-quantity subquery decorrelates into
    * a per-part aggregate joined back on partkey. The threshold
    * replicates the oracle's float tree verbatim (0.2·(sum/count),
    * sums of integral doubles are exact, so the IEEE result is
    * identical). Scale: per-part agg and join-back share the partkey
    * shuffle; the brand filter prunes the probe side at the scan. */
  val tpchQ17Shape: Q = (s, d) => {
    // prune BOTH sides to the brand's parts before aggregating: the
    // per-part avg is only consulted for Brand#13 partkeys, so
    // aggregating the other ~99% of lineitem would be wasted work and
    // an unbroadcastable avg side at scale
    val brandParts = table(s, d, "part")
      .filter(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val avgQ = table(s, d, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("aq_partkey"))
      .agg((lit(0.2) * (sum(col("l_quantity")) / count(lit(1)))).as("q_thr"))
    table(s, d, "lineitem")
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .join(avgQ, col("l_partkey") === col("aq_partkey"))
      .filter(col("l_quantity") < col("q_thr"))
      .agg(round(sum(dec2(col("l_extendedprice"))).cast(DoubleType) / 7.0, 2)
        .as("avg_yearly"), asLong(count(lit(1))).as("n_lines"))
  }

  /** TPC-H Q20 shape: part-promotion suppliers — the nested IN
    * (suppliers that moved >75 units of some widget part in 1997)
    * becomes HAVING on a (suppkey, partkey) aggregate, projected to
    * suppkeys, left-semi joined to supplier. Scale: the inner agg
    * shuffles on the pre-filtered fact; the semi join and nation
    * lookup are dimension-sized broadcasts. */
  val tpchQ20Shape: Q = (s, d) => {
    val keep = table(s, d, "lineitem")
      .filter(col("l_shipdate") >= to_timestamp(lit("1997-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01")))
      .join(table(s, d, "part").filter(col("p_name").like("%widget%")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("sq"))
      .filter(col("sq") > 75)
      .select(col("l_suppkey")).distinct()
    table(s, d, "supplier")
      .join(broadcast(keep), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(table(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy("s_name")
  }

  /** TPC-H Q21 shape: suppliers who kept orders waiting — late lines
    * (shipped >60 days after order) in multi-supplier 'F' orders where
    * this supplier was the ONLY late one. The EXISTS/NOT EXISTS pair
    * decorrelates into ONE per-order aggregate (distinct suppliers,
    * distinct LATE suppliers) joined back: n_supp>1 ∧ n_late_supp=1
    * ⇔ some other supplier exists ∧ no other late supplier exists
    * (the late line itself guarantees its supplier is the late one).
    * The DuckDB oracle keeps the classic correlated formulation, so
    * the two engines cross-check independent plans. Scale: ONE
    * shuffle on l_orderkey total — the sole late supplier's identity
    * (max of late suppkeys) and its late-line count ride in the same
    * aggregate, so there is no join-back; supplier names broadcast. */
  val tpchQ21Shape: Q = (s, d) => {
    val late = col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")
    val lo = table(s, d, "lineitem")
      .join(table(s, d, "orders").filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"), late.as("is_late"))
    // n_late_supp = 1 means every late line in the order belongs to
    // ONE supplier — so max(late suppkey) names it and the late-line
    // count can ride in the SAME aggregate. No join-back, no second
    // fact scan. Round 17 (guide §2.3): the two count_distincts made
    // the planner EXPAND every joined line ×3 before the shuffle; the
    // same numbers now come from a two-level aggregate — level 1 at
    // (order, supplier) grain (map-combines on the scan), level 2 a
    // plain count/sum over the supplier-grain rows. No Expand, 1/3 the
    // pre-shuffle rows, identical results (per is (o,s)-unique, so
    // count(1) IS count_distinct(suppkey) and sl marks "any late").
    lo.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("is_late")).as("sl"),
        sum(when(col("is_late"), 1).otherwise(0)).as("nl"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"),
        sum(when(col("sl"), 1L).otherwise(0L)).as("n_late_supp"),
        max(when(col("sl"), col("l_suppkey"))).as("late_supp"),
        sum(col("nl")).as("n_late_lines"))
      .filter(col("n_supp") > 1 && col("n_late_supp") === 1)
      .join(broadcast(table(s, d, "supplier")), col("late_supp") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(asLong(sum(col("n_late_lines"))).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q22 shape: global sales opportunity — above-average-balance
    * customers of three regions (region name standing in for the phone
    * country code) with no order since 1999 ("dormant", because this
    * dataset has no order-less customers). The avg threshold is
    * decided exactly via cross-multiplication in DECIMAL (bal·n >
    * total), the anti join carries the date filter on its build side.
    * Scale: threshold row broadcasts; anti join shuffles on custkey
    * against date-pruned orders; final agg is 3 groups. */
  val tpchQ22Shape: Q = (s, d) => {
    val c = table(s, d, "customer")
    val thr = c.filter(col("c_acctbal") > 0)
      .agg(sum(dec2(col("c_acctbal"))).as("total"), count(lit(1)).as("n"))
    val geo = table(s, d, "nation")
      .join(table(s, d, "region"), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name").isin("ASIA", "EUROPE", "AFRICA"))
      .select(col("n_nationkey"), col("r_name"))
    val recent = table(s, d, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1999-01-01")))
      .select(col("o_custkey"))
    c.join(broadcast(geo), col("c_nationkey") === col("n_nationkey"))
      .crossJoin(broadcast(thr))
      .filter(dec2(col("c_acctbal")) * col("n") > col("total"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("r_name").as("cntrygrp"))
      .agg(asLong(count(lit(1))).as("numcust"),
        moneySum2(col("c_acctbal")).as("totacctbal"))
      .orderBy("cntrygrp")
  }

  /** Decile report (§2.3, r7): customers ntile(10)-bucketed by account
    * balance with per-decile population, bounds, and balance mass —
    * the standard concentration REPORT next to the pareto curve (gini
    * summarizes to one number; this is the table an analyst reads).
    * ntile order is totalized by the key column; money through the
    * DECIMAL sum. Scale: the global order runs through
    * GlobalRank.ranked (range shuffle + broadcast prefix offsets —
    * never a single-task WindowExec) and the decile is per-row
    * arithmetic in the global N; then a 10-group aggregate. The
    * bucket id is BIGINT end to end (exact schema parity with the
    * oracle's int64). */
  val aggDecileTable: Q = (s, d) => {
    val (ranked, n) = GlobalRank.ranked(
      table(s, d, "customer").select(col("c_custkey"), col("c_acctbal")),
      Seq(col("c_acctbal"), col("c_custkey")), "__rn")
    ranked
      .withColumn("decile", GlobalRank.ntileOf(col("__rn"), n, 10))
      .groupBy(col("decile"))
      .agg(asLong(count(lit(1))).as("n"),
        round(min(col("c_acctbal")), 2).as("lo"),
        round(max(col("c_acctbal")), 2).as("hi"),
        moneySum2(col("c_acctbal")).as("balance"))
      .orderBy("decile")
  }

  /** Tukey-fence outlier census per group (§2.3, r7): quartiles, IQR,
    * and the count of rows outside [q1−1.5·IQR, q3+1.5·IQR] — the
    * boxplot screen run before trusting any mean-based metric.
    * Quartiles interpolate on identical doubles in both engines
    * (percentile ≡ quantile_cont, the agg_median_quantile contract);
    * fences are ROUNDED at 2 before comparison so both engines compare
    * 2-dp prices against identical 2-dp bounds (an unrounded
    * interpolated fence could land within an ulp of a price). Same
    * two-pass shape as agg_mad: 3 fence rows broadcast back, the fact
    * table shuffles only for its own group-bys. */
  val aggIqrOutliers: Q = (s, d) => {
    // round 14: quartiles via ExactQuantile's two-pass bucketed recipe
    // (bit-identical to percentile(); see aggMedianQuantile) — the
    // 3-row fence relation is then built exactly as before
    val qm = ExactQuantile.quantiles(table(s, d, "orders"),
      col("o_totalprice"), Some(col("o_orderstatus")),
      Seq(0.25, 0.75), bucketWidth = 64.0)
    val fences = s.createDataFrame(
        qm.toSeq.map { case (g, (_, m)) => (g, m(0.25), m(0.75)) })
      .toDF("o_orderstatus", "q1r", "q3r")
      .select(col("o_orderstatus"),
        round(col("q1r"), 2).as("q1"), round(col("q3r"), 2).as("q3"))
      .select(col("o_orderstatus").as("f_status"), col("q1"), col("q3"),
        round(col("q3") - col("q1"), 2).as("iqr"),
        round(col("q1") - (col("q3") - col("q1")) * 1.5, 2).as("lo"),
        round(col("q3") + (col("q3") - col("q1")) * 1.5, 2).as("hi"))
    table(s, d, "orders")
      .join(broadcast(fences), col("o_orderstatus") === col("f_status"))
      .groupBy(col("o_orderstatus"))
      .agg(asLong(count(lit(1))).as("n"),
        asLong(sum(when(col("o_totalprice") < col("lo") ||
          col("o_totalprice") > col("hi"), 1L).otherwise(0L))).as("n_outliers"),
        round(first(col("q1")), 2).as("q1"), round(first(col("q3")), 2).as("q3"),
        round(first(col("iqr")), 2).as("iqr"))
      .orderBy("o_orderstatus")
  }

  /** Herfindahl-Hirschman concentration index per nation (§2.3, r7):
    * how concentrated each nation's customer base is across market
    * segments — the standard market-concentration statistic next to
    * gini/theil in the inequality family. HHI = Σ(nᵢ/N)² is computed
    * as Σnᵢ² / N² — BOTH terms exact BIGINTs, so the single double
    * division is the only float op and it runs on identical operands
    * in both engines (no per-share rounding to accumulate). Scale:
    * one map-combined (nation, segment) count; nation dim broadcasts. */
  val aggHhi: Q = (s, d) => {
    val seg = table(s, d, "customer")
      .join(broadcast(table(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    seg.groupBy(col("n_name"))
      .agg(asLong(sum(col("n"))).as("n_customers"),
        asLong(count(lit(1))).as("n_segments"),
        round(sum(col("n") * col("n")).cast(DoubleType) /
          (sum(col("n")) * sum(col("n"))).cast(DoubleType), 6).as("hhi"))
      .orderBy("n_name")
  }

  /** Benford first-digit audit (§2.3, r7): leading-digit distribution
    * of l_extendedprice against Benford's log10(1+1/d) expectation —
    * the classic anomaly/fabrication screen over any money column.
    * The digit is extracted in EXACT arithmetic (DECIMAL(18,2)·100 →
    * BIGINT → first character): a float log10-of-value route would
    * disagree between engines at exact powers of ten, and
    * double→BIGINT casts round in DuckDB but truncate in Spark — the
    * decimal path has neither hazard. share and the expectation are
    * each one rounded double division. Scale: map-combined count per
    * 9 digit groups; nothing else. */
  val aggBenfordFirstDigit: Q = (s, d) => {
    val cents = dec2(col("l_extendedprice")) * lit(100)
    val digit = substring(cents.cast(LongType).cast(StringType), 1, 1).cast(IntegerType)
    val li = table(s, d, "lineitem")
      .filter(col("l_extendedprice") > 0)
      .select(digit.as("digit"))
    val tot = li.agg(count(lit(1)).as("n_tot"))
    li.groupBy(col("digit"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), asLong(col("n")).as("n"),
        round(col("n").cast(DoubleType) / col("n_tot"), 6).as("share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford_expect"))
      .orderBy("digit")
  }

  // ---- §2.18 (round 8) ----

  /** Top-1% revenue concentration (§2.18): the share of total order
    * revenue held by customers at or above the p99 per-customer
    * revenue — the single number behind "whales carry the business".
    * Per-customer revenue is the 2dp-rounded DECIMAL sum (identical
    * doubles feed the interpolated percentile in both engines, the
    * agg_iqr contract); the share divides two DECIMAL-exact sums once.
    * Round 15: the p99 threshold via [[ExactQuantile.quantiles]]
    * (bit-identical to percentile() by the replayed interpolation) —
    * the last data-sized single-buffer percentile() in the suite: the
    * per-customer revenue relation has ~1 distinct value per customer,
    * so at a 100× customer dimension the old single-task counts-map
    * merge was a multi-million-entry buffer. Scale: one o_custkey
    * aggregate (checkpointed — customer-grain, consumed by the two
    * bounded ExactQuantile passes and the final fold), threshold as a
    * literal, one map-combined fold. */
  val aggTop1pctShare: Q = (s, d) => {
    val rev = table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(dec2(col("o_totalprice"))).cast(DoubleType), 2).as("rev"))
      .localCheckpoint(true)
    val (_, thm) = ExactQuantile.quantiles(rev, col("rev"), None,
      Seq(0.99), bucketWidth = 64.0)("")
    val thr = lit(thm(0.99))
    rev.agg(asLong(count(lit(1))).as("n_customers"),
        asLong(sum(when(col("rev") >= thr, 1L).otherwise(0L))).as("n_top"),
        round(sum(when(col("rev") >= thr, col("rev").cast(D18_2)))
          .cast(DoubleType) /
          sum(col("rev").cast(D18_2)).cast(DoubleType), 6).as("top_share"))
  }

  /** 2-D histogram (§2.18): quantity-band x price-band cell counts
    * with revenue mass — the joint-distribution read a 1-D histogram
    * cannot give. Both bucket ids derive from exact/identical
    * arithmetic (quantity is integral; the price division runs on the
    * same 2dp double in both engines before floor). Scale: one
    * map-combined aggregate over a bounded 5x6 grid. */
  val aggHist2d: Q = (s, d) =>
    table(s, d, "lineitem")
      .groupBy(floor((col("l_quantity") - 1) / 10).cast(LongType).as("q_band"),
        floor(col("l_extendedprice") / 20000).cast(LongType).as("p_band"))
      .agg(count(lit(1)).as("n"),
        moneySum2(col("l_extendedprice")).as("revenue"))
      .select(col("q_band"), col("p_band"), asLong(col("n")).as("n"), col("revenue"))
      .orderBy("q_band", "p_band")

  /** Column null/cardinality profile (§2.18): the data-quality summary
    * (rows, nulls, distinct) every ingestion pipeline runs before
    * trusting a table — here over the three events columns with
    * distinct failure modes. Exact counts only. Scale: three
    * map-combined aggregates over one scan each (count_distinct
    * shuffles per column; a sketch swaps in at 100 TB —
    * agg_bitmap_distinct is the exact-bitmap variant). */
  val aggNullProfile: Q = (s, d) => {
    val e = table(s, d, "events")
    def prof(c: String) = e.agg(
      lit(c).as("col_name"),
      asLong(count(lit(1))).as("n_rows"),
      asLong(count(lit(1)) - count(col(c))).as("n_null"),
      asLong(countDistinct(col(c))).as("n_distinct"))
    prof("user_id").unionAll(prof("value")).unionAll(prof("event_type"))
      .orderBy("col_name")
  }

  /** Duplicate-key audit (§2.18): collision census over a candidate
    * natural key (o_custkey, o_orderdate) — the uniqueness check run
    * before declaring any key. Exact integer outputs. Scale: one
    * key-grain map-combined aggregate, then a 1-row reduce. */
  val aggDupKeyAudit: Q = (s, d) =>
    table(s, d, "orders")
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(count(lit(1)).as("k"))
      .agg(asLong(count(lit(1))).as("n_keys"),
        asLong(sum(when(col("k") > 1, 1L).otherwise(0L))).as("n_dup_keys"),
        asLong(sum(when(col("k") > 1, col("k")).otherwise(0L))).as("dup_rows"),
        asLong(max(col("k"))).as("max_multiplicity"))

  /** Quantity-weighted average price per return flag (§2.18): the
    * weighted mean next to the plain mean (decAvg) — price·quantity
    * products stay exact DECIMAL (18,2 x integral ≤ 50 fits 38,4),
    * one double division each at the end. Scale: 3-group map-combined
    * aggregate. */
  val aggWeightedAvg: Q = (s, d) =>
    table(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum((dec2(col("l_extendedprice")) * dec2(col("l_quantity")))
          .cast(DecimalType(38, 4))).cast(DoubleType) /
          sum(dec2(col("l_quantity"))).cast(DoubleType), 4).as("wavg_price"),
        decAvg(col("l_extendedprice"), 4).as("avg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Boolean-aggregate family (§2.18): every/some/count-if per event
    * type — the assertion-style data-quality predicates (bool_and /
    * bool_or skip NULL inputs identically in both engines, so the
    * nullable value column exercises exactly that contract). Scale:
    * map-combined; booleans reduce per group. */
  val aggBoolLogic: Q = (s, d) =>
    table(s, d, "events")
      .groupBy(col("event_type"))
      .agg(expr("bool_and(value > 0.0)").as("every_pos"),
        expr("bool_or(value > 90.0)").as("some_high"),
        asLong(sum(when(col("value") > 90.0, 1L).otherwise(0L))).as("n_high"),
        asLong(count(col("value"))).as("n_valued"))
      .orderBy("event_type")

  /** Key-sequence gap audit (§2.18b): span vs population of the
    * o_orderkey sequence — the completeness check run on any
    * supposedly-dense surrogate key after an ingest (missing = span −
    * rows; orderkey is unique so count == distinct). Exact integers.
    * Scale: one map-combined min/max/count scan. */
  val aggSequenceGaps: Q = (s, d) =>
    table(s, d, "orders")
      .agg(asLong(min(col("o_orderkey"))).as("lo"),
        asLong(max(col("o_orderkey"))).as("hi"),
        asLong(count(lit(1))).as("n_rows"))
      .select(col("lo"), col("hi"), col("n_rows"),
        (col("hi") - col("lo") + 1 - col("n_rows")).as("n_missing"))

  /** Share-of-parent rollup (§2.18b): nation revenue as a share of its
    * region's — the two-level BI read (every drill-down report shows
    * child-within-parent shares). Both levels are exact DECIMAL sums;
    * the share is one double division on identical operands. Scale:
    * one (region, nation) aggregate over the dim-broadcast join, then
    * a 5-row parent aggregate broadcast back. */
  val aggShareOfParent: Q = (s, d) => {
    val rev = table(s, d, "orders")
      .join(table(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val parent = rev.groupBy(col("r_name")).agg(sum(col("rev")).as("r_rev"))
    rev.join(broadcast(parent), Seq("r_name"))
      .select(col("r_name"), col("n_name"),
        round(col("rev").cast(DoubleType), 2).as("revenue"),
        round(col("rev").cast(DoubleType) / col("r_rev").cast(DoubleType), 6)
          .as("share_of_region"))
      .orderBy("r_name", "n_name")
  }

  /** FORWARD as-of join (§2.18): for every click, the same user's
    * EARLIEST purchase at/after it — the mirror of join_asof (time-to-
    * conversion joins read forward). Same linear union + running-
    * extremum shape: one user_id shuffle, min-over-following frame,
    * O(|events|) rows — never the range-join's per-pair blowup (the
    * oracle still runs the portable range-join + re-aggregate form).
    * Clicks sort before purchases at equal ts (boolean asc) so the
    * inclusive bound holds; NULL user_ids are dropped to match the
    * oracle's equi-join. */
  val joinAsofForward: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_p"), col("event_id"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    table(s, d, "events")
      // ts IS NOT NULL on BOTH sides (and in the oracle): a null-ts
      // click would sort nulls-first and see every purchase in its
      // following frame, where the oracle's p.ts >= c.ts drops it
      .filter(col("event_type").isin("click", "purchase") &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("event_type") === "purchase").as("is_p"))
      .withColumn("np_ts", min(when(col("is_p"), col("ts"))).over(w))
      .filter(!col("is_p") && col("np_ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("np_ts").as("next_purchase_ts"))
      .orderBy("event_id")
  }

  /** Chi-squared independence test of event_type × weekday (§2.18c):
    * "does traffic mix depend on the day of week" — the categorical
    * association screen, with Cramér's V as the normalized effect
    * size. Observed/expected cells come from exact integer counts in
    * one identical double tree per cell; the per-cell (O−E)²/E terms
    * are floor-quantized to BIGINT *before* the cross-cell sum (the
    * pipeline_bigram_logprob recipe) so accumulation order can never
    * flip a bit. dow normalized to DuckDB's 0=Sunday. Scale: one
    * map-combined (type, dow) aggregate; everything after runs on the
    * ≤ types×7 bounded cell relation. */
  val aggChi2Dow: Q = (s, d) => {
    val c = table(s, d, "events")
      .groupBy(col("event_type"), (dayofweek(col("ts")) - 1).as("dow"))
      .agg(count(lit(1)).as("o"))
    val tot = c.agg(sum(col("o")).as("n"))
    val rt = c.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val ct = c.groupBy(col("dow")).agg(sum(col("o")).as("cl"))
    val nTypes = rt.agg(count(lit(1)).as("n_types"))
    val nDows = ct.agg(count(lit(1)).as("n_dows"))
    val e = col("r").cast(DoubleType) * col("cl").cast(DoubleType) /
      col("n").cast(DoubleType)
    val term = (col("o").cast(DoubleType) - e) * (col("o").cast(DoubleType) - e) / e
    c.join(broadcast(rt), Seq("event_type"))
      .join(broadcast(ct), Seq("dow"))
      .crossJoin(broadcast(tot))
      .select(floor(term * 1e6).cast(LongType).as("t6"), col("n"))
      .groupBy(col("n"))
      .agg(sum(col("t6")).as("chi2_q6"))
      .crossJoin(broadcast(nTypes))
      .crossJoin(broadcast(nDows))
      .select(asLong(col("n")).as("n"), col("n_types"), col("n_dows"),
        asLong(col("chi2_q6")).as("chi2_q6"),
        round(sqrt(col("chi2_q6").cast(DoubleType) / 1e6 /
          (col("n").cast(DoubleType) *
            least(col("n_types") - 1, col("n_dows") - 1))), 6).as("cramers_v"))
  }

  /** Brand co-occurrence within orders (§2.18c): market-basket pairs
    * with lift — the "bought together" read, bounded to the 25-brand
    * keyspace (≤300 pairs at any fact scale). Counts exact; lift is
    * one double tree on identical operands. Scale: the per-order
    * brand sets shuffle on l_orderkey once and [[Pairs.cooccurring]]
    * expands them in-row; group bound: ≤25 brands/order. Brand totals
    * are a broadcast 25-row relation. */
  val aggBasketPairs: Q = (s, d) => {
    // round 16: ONE fact shuffle total — brand/order totals explode the
    // SAME checkpointed per-order sets the pairs come from (lineitem is
    // scanned exactly once; 5.5 → ~2.5 CPU-s at sf0.1).
    // round 17 (ADVICE): no broadcast() hint on part — the part table
    // scales linearly with SF (20M rows at sf100), so forcing the hint
    // overrides the planner at exactly the scale where it must not;
    // the (p_partkey, p_brand) pruning stays and the planner/AQE picks
    // broadcast whenever the pruned dim actually fits.
    val sets = table(s, d, "lineitem")
      .join(table(s, d, "part")
        .select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
      .groupBy(col("o"))
      .agg(collect_set(col("b")).as("bs"))
      .localCheckpoint(true) // three consumers: pairs, brand totals, order count
    // round 17 (plan dump): the brand-total aggregate was re-executed
    // for EACH of the two broadcast join sides — two full explodes of
    // the checkpointed sets. Persisted (≤25 rows), it computes once.
    val n = sets.select(explode(col("bs")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = sets.agg(count(lit(1)).as("n_orders"))
    Pairs.cooccurring(sets, col("bs"), 5)
      .join(broadcast(n.select(col("b").as("a"), col("nb").as("n1"))), Seq("a"))
      .join(broadcast(n.select(col("b"), col("nb").as("n2"))), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("a").as("b1"), col("b").as("b2"), asLong(col("n")).as("n_pair"),
        round(col("n").cast(DoubleType) * col("n_orders").cast(DoubleType) /
          (col("n1").cast(DoubleType) * col("n2").cast(DoubleType)), 6).as("lift"))
      .orderBy("b1", "b2")
  }

  /** RFM quintile segmentation (§2.18c): per-customer recency /
    * frequency / monetary quintiles reduced to segment counts — the
    * classic CRM cut. Each quintile is a GLOBAL ntile over the
    * customer-grain relation, which scales with the fact table — so
    * all three route through [[GlobalRank]] (range-partitioned
    * two-pass rank, no single-task WindowExec), totalized by custkey
    * against ties. Scale: one o_custkey aggregate, three range
    * shuffles on the much smaller customer grain, bounded ≤125-row
    * output. */
  val aggRfmSegments: Q = (s, d) => {
    val m = table(s, d, "orders")
      .groupBy(col("o_custkey").as("c"))
      .agg(max(to_date(col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("freq"),
        sum(dec2(col("o_totalprice"))).as("mon"))
    val anchor = m.agg(max(col("last_day")).as("anchor"))
    // round 16: four consumers (three GlobalRank quintile passes + the
    // final monetary join) each re-ran the orders scan + customer
    // aggregate — checkpoint the customer-grain relation once
    val b = m.crossJoin(broadcast(anchor))
      .select(col("c"), datediff(col("anchor"), col("last_day")).as("rec_days"),
        col("freq"), col("mon"))
      .localCheckpoint(true)
    def quintile(order: Seq[org.apache.spark.sql.Column], name: String) = {
      val (r, total) = GlobalRank.ranked(b, order, "rn")
      r.select(col("c"), GlobalRank.ntileOf(col("rn"), total, 5).as(name))
    }
    val rq = quintile(Seq(col("rec_days"), col("c")), "r_q")
    val fq = quintile(Seq(col("freq").desc, col("c")), "f_q")
    val mq = quintile(Seq(col("mon").desc, col("c")), "m_q")
    b.select(col("c"), col("mon"))
      .join(rq, Seq("c")).join(fq, Seq("c")).join(mq, Seq("c"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"),
        // floor-quantized, not rounded: the segment average divides a
        // DECIMAL sum by a count and one segment lands on the .xx5
        // round knife edge — floor of the identical double is safe
        (floor(sum(col("mon")).cast(DoubleType) / count(lit(1)) * 100) /
          100.0).as("avg_monetary"))
      .select(asLong(col("r_q")).as("r_q"), asLong(col("f_q")).as("f_q"),
        asLong(col("m_q")).as("m_q"), col("n_customers"), col("avg_monetary"))
      .orderBy("r_q", "f_q", "m_q")
  }

  /** Bidirectional nearest-event as-of join (§2.18c): each click's
    * nearest purchase in EITHER direction (ties resolved to the
    * earlier purchase) — the "closest observation" join; join_asof and
    * join_asof_forward are its one-sided halves. Same linear
    * union-and-window shape: running max of purchase ts behind,
    * running min ahead, pick per row. Gap emitted in exact integer
    * microseconds (no cross-engine division semantics to match).
    * Scale: one user_id shuffle, O(|events|) rows. */
  val joinAsofNearest: Q = (s, d) => {
    val order = Seq(col("ts"), col("is_p"), col("event_id"))
    val back = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("user_id")).orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val us = unix_micros(col("ts"))
    val prevUs = unix_micros(col("prev_p"))
    val nextUs = unix_micros(col("next_p"))
    table(s, d, "events")
      .filter(col("event_type").isin("click", "purchase") &&
        col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"),
        (col("event_type") === "purchase").as("is_p"))
      .withColumn("prev_p", max(when(col("is_p"), col("ts"))).over(back))
      .withColumn("next_p", min(when(col("is_p"), col("ts"))).over(fwd))
      .filter(!col("is_p"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("prev_p").isNull, col("next_p"))
          .when(col("next_p").isNull, col("prev_p"))
          .when(us - prevUs <= nextUs - us, col("prev_p"))
          .otherwise(col("next_p")).as("nearest_purchase"),
        when(col("prev_p").isNull, nextUs - us)
          .when(col("next_p").isNull, us - prevUs)
          .otherwise(least(us - prevUs, nextUs - us)).as("gap_us"))
      .orderBy("event_id")
  }

  /** Per-group quantile table (§2.18d): p10/p25/p50/p75/p90 of event
    * value per event_type — the grouped distribution profile
    * agg_median_quantile gives only globally. Exact interpolated
    * percentiles over identical doubles (both engines sort and
    * interpolate the same values); NULLs excluded identically.
    * Scale: one event_type shuffle; percentile state is per-group
    * bounded. */
  val aggGroupQuantiles: Q = (s, d) =>
    table(s, d, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.10D)"), 6).as("p10"),
        round(expr("percentile(value, 0.25D)"), 6).as("p25"),
        round(expr("percentile(value, 0.50D)"), 6).as("p50"),
        round(expr("percentile(value, 0.75D)"), 6).as("p75"),
        round(expr("percentile(value, 0.90D)"), 6).as("p90"))
      .select(col("event_type"), asLong(col("n")).as("n"),
        col("p10"), col("p25"), col("p50"), col("p75"), col("p90"))
      .orderBy("event_type")

  /** Winsorized vs plain mean of order value (§2.18d): the robust
    * location estimate after clamping to [p05, p95] — one whale or
    * glitch order cannot move it (agg_mad flags outliers; this prices
    * them out). The clamp compares identical doubles; the clamped
    * values are floor-quantized to BIGINT cents BEFORE summing (sum
    * of raw clamped doubles would be accumulation-order-sensitive),
    * and both means are floor-quantized at 4dp. Scale: one bounded
    * percentile pass + one map-combined sum. */
  val aggWinsorizedMean: Q = (s, d) => {
    val price = dec2(col("o_totalprice")).cast(DoubleType)
    // round 14: thresholds via ExactQuantile (two-pass bucketed, bit-
    // identical to percentile() — this query was the measured 100×-tier
    // serialization wall: 113.6 s wall ≈ 134.5 CPU-s at 60M rows); the
    // clamp pass below is unchanged
    val (_, thm) = ExactQuantile.quantiles(table(s, d, "orders"),
      price, None, Seq(0.05, 0.95), bucketWidth = 64.0)("")
    table(s, d, "orders")
      .select(lit(thm(0.05)).as("p05"), lit(thm(0.95)).as("p95"),
        col("o_totalprice"))
      .select(price.as("p"), col("p05"), col("p95"),
        floor(least(greatest(price, col("p05")), col("p95")) * 100)
          .cast(LongType).as("wc"),
        dec2(col("o_totalprice")).as("pd"))
      .groupBy(col("p05"), col("p95"))
      .agg(count(lit(1)).as("n"), sum(col("wc")).as("wsum"),
        sum(col("pd")).as("psum"))
      .select(asLong(col("n")).as("n"),
        // floor-quantized like the means: the interpolated threshold
        // can land on a .xx5 round knife edge at unlucky n
        (floor(col("p05") * 100) / 100.0).as("p05"),
        (floor(col("p95") * 100) / 100.0).as("p95"),
        (floor(col("wsum").cast(DoubleType) / 100 /
          col("n").cast(DoubleType) * 1e4) / 1e4).as("winsorized_mean"),
        (floor(col("psum").cast(DoubleType) /
          col("n").cast(DoubleType) * 1e4) / 1e4).as("plain_mean"))
  }

  /** Lorenz curve points over customer revenue (§2.18d): cumulative
    * revenue share of the bottom-k revenue deciles — the CURVE whose
    * area agg_gini reduces to one number and whose top-end
    * pareto_revenue summarizes. Deciles come from [[GlobalRank]]
    * (global ntile over the customer grain — range-partitioned, no
    * single-task window), totalized by custkey; per-decile DECIMAL
    * sums and the running share run over the bounded 10-row relation.
    */
  val aggLorenzPoints: Q = (s, d) => {
    val m = table(s, d, "orders")
      .groupBy(col("o_custkey").as("c"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val (r, total) = GlobalRank.ranked(m, Seq(col("rev"), col("c")), "rn")
    val byDecile = r
      .select(col("c"), col("rev"), GlobalRank.ntileOf(col("rn"), total, 10).as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("drev"))
    val tot = byDecile.agg(sum(col("drev")).as("trev"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum", sum(col("drev")).over(w))
      .crossJoin(broadcast(tot))
      .select(asLong(col("decile")).as("decile"),
        col("n_customers"),
        round(col("drev").cast(DoubleType), 2).as("decile_rev"),
        round(col("cum").cast(DoubleType) / col("trev").cast(DoubleType), 6)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** Shared two-sample ECDF relation for the KS / Mann–Whitney tests
    * (§2.18e): one row per distinct click/purchase event value with
    * per-sample counts and CUMULATIVE counts in value order. The
    * distinct-value relation is bounded by the 2-decimal value domain
    * (≤ ~49k points regardless of corpus size), but the cumulative
    * sums still run through [[GlobalRank.withRunningSums]] — one range
    * shuffle, per-slice offsets, no single-task window — so the shape
    * survives a value domain that ISN'T bounded. Grouping keys are the
    * raw parquet doubles: exact equality on identical bits, no float
    * arithmetic before the counts. Built once per (session, sfDir) —
    * agg_ks_test and agg_mann_whitney read the same persisted slice
    * (the LSH pair/shingles policy). */
  private val cpEcdf = graft.SharedBuild[String, DataFrame]("Relational.ecdf") {
    (s, d) =>
      val g = table(s, d, "events")
        .filter(col("value").isNotNull &&
          col("event_type").isin("click", "purchase"))
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
      GlobalRank.withRunningSums(g, Seq(col("v")),
        Seq("c1" -> "cum1", "c2" -> "cum2"))
        .localCheckpoint(true)
  }

  /** Two-sample Kolmogorov–Smirnov test (§2.18e): are click values and
    * purchase values drawn from the same distribution? D = max over
    * observed points of |F1(v) − F2(v)|; each ECDF value is ONE
    * integer-over-integer division (deterministic IEEE), the max of
    * identical doubles is order-free, and the argmax point is
    * re-selected by exact double equality against the broadcast max
    * (both sides compute the same bits). `ks_at` reports the SMALLEST
    * value attaining D. Scale: one value-grain aggregate + the
    * GlobalRank range shuffle; everything after runs on the
    * domain-bounded distinct-value relation. */
  val aggKsTest: Q = (s, d) => {
    val cum = cpEcdf(s, d)
    val tot = cum.agg(max(col("cum1")).as("n1"), max(col("cum2")).as("n2"))
    val dv = abs(col("cum1").cast(DoubleType) / col("n1") -
      col("cum2").cast(DoubleType) / col("n2"))
    val stats = cum.crossJoin(broadcast(tot))
      .select(col("v"), col("n1"), col("n2"), dv.as("dv"))
    val mx = stats.agg(max(col("dv")).as("ks"))
    stats.crossJoin(broadcast(mx))
      .filter(col("dv") === col("ks"))
      .groupBy(col("n1"), col("n2"), col("ks"))
      .agg(min(col("v")).as("ks_at"))
      .select(asLong(col("n1")).as("n1"), asLong(col("n2")).as("n2"),
        col("ks_at"), round(col("ks"), 6).as("ks"))
  }

  /** Mann–Whitney U test (§2.18e): rank-sum comparison of click vs
    * purchase values — the distribution-free "is one sample shifted"
    * twin of agg_ks_test. Average ranks over ties make 2·R1 a pure
    * INTEGER: for each distinct value, the tied group's average rank
    * is (2·cum_before + cnt + 1)/2, so 2R1 = Σ c1·(2·cum_before +
    * cnt + 1) accumulates exactly in any order. U, the tie-corrected
    * σ and z then evaluate in one fixed double tree. Scale: same
    * shared ECDF relation as agg_ks_test (built once per session). */
  val aggMannWhitney: Q = (s, d) => {
    val cum = cpEcdf(s, d)
    val cnt = col("c1") + col("c2")
    val before = (col("cum1") + col("cum2")) - cnt
    val terms = cum.agg(
      sum(col("c1") * (lit(2L) * before + cnt + 1L)).as("r1x2"),
      sum((cnt * cnt * cnt) - cnt).as("ties"),
      max(col("cum1")).as("n1"), max(col("cum2")).as("n2"))
    val n1d = col("n1").cast(DoubleType)
    val n2d = col("n2").cast(DoubleType)
    val nd = n1d + n2d
    val u = (col("r1x2") - col("n1") * (col("n1") + 1L)).cast(DoubleType) / 2.0
    val mu = n1d * n2d / 2.0
    val sig = sqrt(n1d * n2d / 12.0 *
      ((nd + 1.0) - col("ties").cast(DoubleType) / (nd * (nd - 1.0))))
    terms.select(asLong(col("n1")).as("n1"), asLong(col("n2")).as("n2"),
      round(u, 1).as("u"), round((u - mu) / sig, 6).as("z"))
  }

  /** Two-sample Cramér–von Mises test (§2.60): the L2 member of the
    * ECDF-distance family — KS reads the sup-norm, Wasserstein the L1
    * area, CvM the mean SQUARED gap: T = n1·n2/N² · Σ over all N
    * pooled observations of (F1(z) − F2(z))², computed on the shared
    * click-vs-purchase ECDF checkpoint. On the value-grain relation
    * the pooled sum is Σ_v (c1+c2)·dv² with dv the inclusive-ECDF gap
    * at v — ties well-defined (every occurrence contributes its
    * value's gap). Exactness: each dv is one integer/integer IEEE
    * division per side; per-value terms floor-quantized to BIGINT at
    * 1e9 before the (order-free) sum; ONE double tree finishes T.
    * Scale: rides the same one value-grain aggregate + GlobalRank
    * range shuffle as agg_ks_test — the checkpoint is shared, so the
    * marginal cost is a bounded-relation fold. */
  val aggCvmTest: Q = (s, d) => {
    val cum = cpEcdf(s, d)
    val tot = cum.agg(max(col("cum1")).as("n1"), max(col("cum2")).as("n2"))
    val dv = col("cum1").cast(DoubleType) / col("n1") -
      col("cum2").cast(DoubleType) / col("n2")
    val termQ = floor((col("c1") + col("c2")).cast(DoubleType) *
      dv * dv * 1e9).cast(LongType)
    val n1d = col("n1").cast(DoubleType)
    val n2d = col("n2").cast(DoubleType)
    val nd = (col("n1") + col("n2")).cast(DoubleType)
    cum.crossJoin(broadcast(tot))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        sum(termQ).as("sq"))
      .select(asLong(col("n1")).as("n1"), asLong(col("n2")).as("n2"),
        asLong(floor(n1d * n2d / (nd * nd) *
          (col("sq").cast(DoubleType) / 1e9) * 1e6)).as("cvm_q6"))
  }

  /** Mutual information of order priority × status (§2.18e): how much
    * one categorical tells you about the other — the
    * information-theoretic counterpart of agg_chi2_dow's frequency
    * test, plus a normalized MI in [0,1] (MI / min(H_row, H_col)).
    * Every c·ln(N·c/(r·s)) cell term and every margin's r·ln r term is
    * floor-quantized to BIGINT at 1e9 before its (bounded) sum — the
    * chi2/JSD recipe — so accumulation order is irrelevant. Scale: one
    * map-combined cell aggregate; margins, totals and terms all live
    * on the ≤ priorities×statuses grid. */
  val aggMutualInformation: Q = (s, d) => {
    val cells = table(s, d, "orders")
      .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = cells.groupBy(col("pri")).agg(sum(col("c")).as("r"))
    val colsM = cells.groupBy(col("st")).agg(sum(col("c")).as("cs"))
    val tot = cells.agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"))
    def qent(cnt: Column, n: Column): Column =
      floor(cnt.cast(DoubleType) * log(cnt.cast(DoubleType) / n.cast(DoubleType)) * 1e9)
        .cast(LongType)
    val miQ = cells.join(broadcast(rows), "pri").join(broadcast(colsM), "st")
      .crossJoin(broadcast(tot))
      .agg(sum(floor(col("c").cast(DoubleType) *
        log((col("n").cast(DoubleType) * col("c").cast(DoubleType)) /
          (col("r").cast(DoubleType) * col("cs").cast(DoubleType))) * 1e9)
        .cast(LongType)).as("qmi"))
    val hr = rows.crossJoin(broadcast(tot))
      .agg(sum(qent(col("r"), col("n"))).as("qhr"))
    val hc = colsM.crossJoin(broadcast(tot))
      .agg(sum(qent(col("cs"), col("n"))).as("qhc"))
    miQ.crossJoin(broadcast(hr)).crossJoin(broadcast(hc)).crossJoin(broadcast(tot))
      .select(asLong(col("n")).as("n"), asLong(col("n_cells")).as("n_cells"),
        round(col("qmi").cast(DoubleType) / 1e9 / col("n"), 6).as("mi"),
        round((col("qmi").cast(DoubleType) / 1e9 / col("n")) /
          least(-col("qhr").cast(DoubleType) / 1e9 / col("n"),
            -col("qhc").cast(DoubleType) / 1e9 / col("n")), 6).as("nmi"))
  }

  /** Covariance/correlation matrix over lineitem (quantity,
    * extendedprice, discount) (§2.18e): the pairwise-association table
    * agg_corr_regr gives for one pair, unpivoted to one row per
    * ordered pair incl. the variance diagonal. First-power sums (Σx)
    * accumulate in exact DECIMAL; each row's PRODUCT x·y — itself
    * exact at DECIMAL(37,4) — is floor-quantized to BIGINT at a
    * per-pair scale (1e2 for price², 1e4 for price×other, 1e8 for
    * pairs without price — fine enough that the statistic is
    * unchanged at output precision) before summing; the quantized
    * terms accumulate as DECIMAL(38,0) (int128-backed in both
    * engines — HUGEINT on the DuckDB side), so the sum stays exact
    * at ANY SF, not just the contract's. The quantization is not
    * about accumulation order (the decimal sum is exact too): it is
    * about the decimal→double CAST of the huge Σxy. A DECIMAL whose
    * scaled integer exceeds 2^53 double-rounds in DuckDB
    * (int128→double, then /10⁴) but single-rounds on the JVM
    * (BigDecimal.doubleValue) — a measured 1-ulp divergence on
    * Σ(price²) at sf0.1 — while a scale-0 integer (BIGINT, HUGEINT,
    * or DECIMAL(38,0)) converts in ONE correctly-rounded step in
    * both engines, with no /10^s tail. cov/corr then evaluate
    * in one fixed double tree per pair. Scale: ONE map-combined
    * aggregate pass computes all 12 sums; the unpivot is a bounded
    * 6-row union over the 1-row aggregate. */
  val aggCovMatrix: Q = (s, d) => {
    val vars = Seq("q" -> col("l_quantity"), "p" -> col("l_extendedprice"),
      "dc" -> col("l_discount"))
    def qs(x: String, y: String): Long =
      if (x == "p" && y == "p") 100L
      else if (x == "p" || y == "p") 10000L
      else 100000000L
    val sums = vars.map { case (n, c) => sum(dec2(c)).as(s"s_$n") } ++
      (for ((nx, cx) <- vars; (ny, cy) <- vars if nx <= ny)
        yield sum(floor(dec2(cx) * dec2(cy) * lit(qs(nx, ny)))
            .cast(DecimalType(38, 0)))
          .as(s"s_${nx}_$ny"))
    val agg = table(s, d, "lineitem")
      .agg(count(lit(1)).as("n"), sums: _*)
    val names = Map("q" -> "quantity", "p" -> "extendedprice", "dc" -> "discount")
    def d2(c: String): Column = col(c).cast(DoubleType)
    val nd = col("n").cast(DoubleType)
    def key(a: String, b: String): String =
      if (a <= b) s"s_${a}_$b" else s"s_${b}_$a"
    def cov(x: String, y: String): Column = {
      val (a, b) = if (x <= y) (x, y) else (y, x)
      (d2(key(x, y)) / lit(qs(a, b).toDouble) -
        d2(s"s_$x") * d2(s"s_$y") / nd) / nd
    }
    val pairs = for ((nx, _) <- vars; (ny, _) <- vars if nx <= ny) yield (nx, ny)
    pairs.map { case (x, y) =>
      agg.select(lit(names(x)).as("var_x"), lit(names(y)).as("var_y"),
        asLong(col("n")).as("n"),
        round(cov(x, y), 6).as("cov"),
        round(cov(x, y) / sqrt(cov(x, x) * cov(y, y)), 6).as("corr"))
    }.reduce(_ unionAll _)
      .orderBy("var_x", "var_y")
  }

  /** One-way ANOVA F (§2.18e): does mean event value differ across
    * event types? Values live on the fixture's 2dp grid, so the
    * per-row first/second-power terms v·1e2 and v²·1e4 are EXACT
    * integers; they accumulate as DECIMAL(38,0) (HUGEINT on the
    * oracle side) — exact at any SF — and every double enters the SS
    * tree through the same scale-0-int→double + /10^s two-step on
    * both engines (a scaled DECIMAL→double cast double-rounds past
    * 2^53 cross-engine; see agg_cov_matrix). The only remaining
    * order-sensitive reduction — Σ_g (Σv_g)²/n_g across the bounded
    * event_type groups — floor-quantizes each group's term to BIGINT
    * at 1e6 on identical doubles (per-group term holds to
    * n_g·mean²·1e6 < 2^63, i.e. ~4e7 rows/group at the fixture's
    * value domain — past that Spark's ANSI floor→LONG fails loud,
    * not silently). SSB/SSW/F then evaluate in one double tree.
    * Scale: one map-combined (event_type) aggregate; everything else
    * on the bounded group relation. */
  val aggAnovaF: Q = (s, d) => {
    val v = dec2(col("value"))
    val g = table(s, d, "events")
      .filter(col("value").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("ng"),
        sum((v * 100).cast(DecimalType(38, 0))).as("qsg"),
        sum(floor(v * v * 10000).cast(DecimalType(38, 0))).as("qssqg"))
    val sgD = col("qsg").cast(DoubleType) / 1e2
    val t = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("qsg")).as("qstot"), sum(col("qssqg")).as("qssqtot"),
      sum(floor(sgD * sgD / col("ng").cast(DoubleType) * 1e6)
        .cast(DecimalType(38, 0))).as("qb"))
    val nd = col("n").cast(DoubleType)
    val kd = col("k").cast(DoubleType)
    val stot = col("qstot").cast(DoubleType) / 1e2
    val grand = stot * stot / nd
    val ssb = col("qb").cast(DoubleType) / 1e6 - grand
    val sst = col("qssqtot").cast(DoubleType) / 1e4 - grand
    val ssw = sst - ssb
    t.select(asLong(col("k")).as("k"), asLong(col("n")).as("n"),
      round(ssb, 4).as("ssb"), round(ssw, 4).as("ssw"),
      round((ssb / (kd - 1.0)) / (ssw / (nd - kd)), 6).as("f"))
  }

  /** Discount elasticity of quantity (§2.18f): per-discount-level
    * demand curve (the discount domain is a bounded 2dp grid, so the
    * per-level rows ARE the curve) plus the global OLS slope/intercept
    * of quantity on discount attached to every row — does a deeper
    * discount actually move volume (tpch_q6 prices the revenue effect;
    * this measures the behavioral one)? All power sums exact DECIMAL —
    * discount ≤ 0.1 and quantity ≤ 50 keep every scaled sum far under
    * 2^53 at any plausible SF (unlike agg_cov_matrix's price², no
    * quantization needed) — and slope/intercept evaluate in one fixed
    * double tree. Scale: one map-combined aggregate over the bounded
    * discount grid + a 1-row broadcast for the OLS pass. */
  val aggDiscountElasticity: Q = (s, d) => {
    val x = dec2(col("l_discount"))
    val y = dec2(col("l_quantity"))
    val bands = table(s, d, "lineitem")
      .groupBy(col("l_discount").cast(DoubleType).as("discount"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(x * y).as("sxy"))
    val tot = bands.agg(sum(col("n")).as("tn"),
      sum(col("sx")).as("tsx"), sum(col("sy")).as("tsy"),
      sum(col("sxx")).as("tsxx"), sum(col("sxy")).as("tsxy"))
    val tnd = col("tn").cast(DoubleType)
    def d2(c: String): Column = col(c).cast(DoubleType)
    val slope = (tnd * d2("tsxy") - d2("tsx") * d2("tsy")) /
      (tnd * d2("tsxx") - d2("tsx") * d2("tsx"))
    val intercept = (d2("tsy") - slope * d2("tsx")) / tnd
    bands.crossJoin(broadcast(tot))
      .select(col("discount"), asLong(col("n")).as("n"),
        round(col("sy").cast(DoubleType) / col("n"), 6).as("avg_qty"),
        round(slope, 6).as("slope"),
        round(intercept, 6).as("intercept"))
      .orderBy("discount")
  }

  /** Skyline / Pareto front of orders (§2.18i): the orders not
    * dominated in (totalprice, orderdate) — no other order has ≥ both
    * with > in one; the classic "best tradeoffs" operator (maximize
    * value AND recency) the TPC-H shapes never exercise. Two-step
    * reduction, no all-pairs: within each price, only max-date rows
    * can survive; across prices, a price-group's survivors live iff
    * their date strictly exceeds the EXCLUSIVE running max of group
    * max-dates over higher prices — computed by
    * [[GlobalRank.withRunningMaxExclusive]] (range-partitioned, no
    * single-task window). Exact DECIMAL/integer comparisons only.
    * Scale: one price-grain aggregate + the range shuffle on the
    * price-grouped relation (bounded by distinct prices) + one join
    * back to the fact. */
  val joinSkyline: Q = (s, d) => {
    val o = table(s, d, "orders")
      .select(col("o_orderkey"), dec2(col("o_totalprice")).as("p"),
        to_date(col("o_orderdate")).as("dt"))
      .withColumn("days", datediff(col("dt"), to_date(lit("1970-01-01"))).cast(LongType))
    val g = o.groupBy(col("p").as("gp")).agg(max(col("days")).as("gmax"))
    val m = GlobalRank.withRunningMaxExclusive(
      g, Seq(col("gp").desc, col("gp")), "gmax", "m1")
    o.join(m, col("p") === col("gp"))
      .filter(col("days") === col("gmax") &&
        (col("m1").isNull || col("days") > col("m1")))
      .select(col("o_orderkey"), round(col("p").cast(DoubleType), 2).as("price"),
        col("dt").as("order_date"))
      .orderBy(col("price").desc, col("o_orderkey"))
  }

  /** Semi join with a broadcast hash-bucket runtime prefilter
    * (§2.18i): the result is EXACTLY join_semi's (the oracle is the
    * plain EXISTS), but the plan is the 100 TB shape — the build
    * side's join keys collapse to a bounded distinct-bucket relation
    * (xxhash64 & mask, ≤ 2^20 rows regardless of fact size) that
    * BROADCASTS and prunes the probe side BEFORE the exact semi
    * join's shuffle, exactly what engines' runtime filters
    * (bloom/min-max) do, expressed in pure relational ops. False
    * positives are removed by the exact join, so the prefilter can
    * only cut cost, never change the answer. */
  val joinSemiPrefilter: Q = (s, d) => {
    val mask = (1L << 20) - 1
    val built = table(s, d, "lineitem")
      .filter(dec2(col("l_quantity")) >= 45)
    val buckets = built
      .select((xxhash64(col("l_orderkey")).bitwiseAND(lit(mask))).as("b"))
      .distinct()
    table(s, d, "orders")
      .join(broadcast(buckets),
        xxhash64(col("o_orderkey")).bitwiseAND(lit(mask)) === col("b"), "left_semi")
      .join(built.select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(dec2(col("o_totalprice")).cast(DoubleType), 2).as("total"))
      .orderBy("o_orderkey")
  }

  /** Exact DISCRETE quantiles of order value (§2.18g): the actual data
    * point at rank ceil(p·N/100) for p ∈ {1,5,25,50,75,95,99} — no
    * interpolation, no float arithmetic anywhere (agg_median_quantile
    * and agg_group_quantiles interpolate; auditors and SLAs usually
    * want the attained value). Ranks come from [[GlobalRank]] over the
    * total order (value, orderkey) — range-partitioned, no single-task
    * window — and the probe ranks are exact integer arithmetic on the
    * driver-known N. Scale: one range shuffle; the probe filter keeps
    * 7 rows. */
  val aggQuantilesDisc: Q = (s, d) => {
    import s.implicits._
    val m = table(s, d, "orders")
      .select(dec2(col("o_totalprice")).as("v"), col("o_orderkey").as("k"))
    val (r, total) = GlobalRank.ranked(m, Seq(col("v"), col("k")), "rn")
    val ps = Seq(1, 5, 25, 50, 75, 95, 99)
    val probes = ps.map(p => (p.toLong, (p.toLong * total + 99L) / 100L))
    val probeDf = probes.toDF("p", "sel")
    r.join(broadcast(probeDf), col("rn") === col("sel"))
      .select(col("p"), asLong(col("sel")).as("rank_sel"),
        round(col("v").cast(DoubleType), 2).as("value"))
      .orderBy("p")
  }

  /** Order-of-magnitude histogram of order value (§2.18g): orders
    * binned by DIGIT COUNT of the whole-currency amount — the
    * log-scale distribution read without a single transcendental
    * (floor(log10) would put every 10^k boundary on a cross-engine
    * knife edge; digit count of an exact integer cannot diverge).
    * Scale: one map-combined aggregate over a ≤19-bucket domain. */
  val aggMagnitudeHistogram: Q = (s, d) => {
    val whole = floor(dec2(col("o_totalprice"))).cast(LongType)
    val tot = table(s, d, "orders").agg(count(lit(1)).as("n_total"))
    table(s, d, "orders")
      .select(length(whole.cast(StringType)).cast(LongType).as("digits"),
        dec2(col("o_totalprice")).as("v"))
      .groupBy(col("digits"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
      .crossJoin(broadcast(tot))
      .select(col("digits"), asLong(col("n")).as("n"),
        round(col("n").cast(DoubleType) / col("n_total"), 6).as("share"),
        round(col("mn").cast(DoubleType), 2).as("min_value"),
        round(col("mx").cast(DoubleType), 2).as("max_value"))
      .orderBy("digits")
  }

  /** Spearman rank correlation of quantity vs extended price (§2.19):
    * the monotone-association twin of agg_cov_matrix's Pearson — a
    * relationship Pearson underreports when it is nonlinear. Ranks are
    * tie-averaged and carried as the exact INTEGER 2·rank (for a
    * distinct value: 2·ar = 2·cum_before + cnt + 1, the Mann-Whitney
    * identity), computed per-variable on the value-grain relation via
    * GlobalRank running sums — the data-sized rank step is a range
    * shuffle, never a single task. Each row then joins its two 2·rank
    * values back (quantity's 50-value relation broadcasts; price's
    * value-grain join is one key shuffle), and all five power sums
    * accumulate as exact DECIMAL(38,0) (products of DECIMAL(19,0)
    * casts — BIGINT would wrap near sf10). rho evaluates in one fixed
    * double tree from five scale-0-int→double conversions. */
  val aggSpearmanCorr: Q = (s, d) => {
    def ranks2(valCol: Column): DataFrame = {
      val g = table(s, d, "lineitem")
        .groupBy(valCol.as("v")).agg(count(lit(1)).as("c"))
      GlobalRank.withRunningSum(g, Seq(col("v")), "c", "cum")
        .select(col("v"), (lit(2L) * col("cum") - col("c") + 1L).as("ar2"))
    }
    val rx = ranks2(dec2(col("l_quantity")))
      .select(col("v").as("xv"), col("ar2").as("ax"))
    val ry = ranks2(dec2(col("l_extendedprice")))
      .select(col("v").as("yv"), col("ar2").as("ay"))
    val d19 = DecimalType(19, 0)
    val joined = table(s, d, "lineitem")
      .select(dec2(col("l_quantity")).as("xv"), dec2(col("l_extendedprice")).as("yv"))
      .join(broadcast(rx), Seq("xv"))
      .join(ry, Seq("yv"))
    val t = joined.agg(count(lit(1)).as("n"),
      sum(col("ax").cast(d19)).as("sx"), sum(col("ay").cast(d19)).as("sy"),
      sum((col("ax").cast(d19) * col("ay").cast(d19)).cast(DecimalType(38, 0))).as("sxy"),
      sum((col("ax").cast(d19) * col("ax").cast(d19)).cast(DecimalType(38, 0))).as("sxx"),
      sum((col("ay").cast(d19) * col("ay").cast(d19)).cast(DecimalType(38, 0))).as("syy"))
    val nd = col("n").cast(DoubleType)
    def d2(c: String): Column = col(c).cast(DoubleType)
    val cov = nd * d2("sxy") - d2("sx") * d2("sy")
    val vx = nd * d2("sxx") - d2("sx") * d2("sx")
    val vy = nd * d2("syy") - d2("sy") * d2("sy")
    t.select(asLong(col("n")).as("n"),
      round(cov / sqrt(vx * vy), 6).as("spearman_rho"))
  }

  /** Order-total reconciliation audit (§2.19): does o_totalprice equal
    * the TPC-H identity Σ price·(1−disc)·(1+tax) over the order's
    * lines — the dbt-test / data-contract shape (fact vs rollup drift
    * is THE silent corruption mode in replicated pipelines). Every
    * verdict is decided on EXACT DECIMALS: the per-line net has a
    * fixed 6dp scale, and the 1%-band test is the integer
    * cross-multiplication |tot−net|·100 ≤ tot (ts_error_rate_hourly's
    * recipe) — no float touches a boolean. The reported mean absolute
    * relative error floor-quantizes per-order |diff|/tot at 1e6.
    * Scale: one l_orderkey-partitioned rollup joined to orders on its
    * key — the same shuffle a fact-fact join already pays; per-status
    * output is bounded. */
  val aggOrderTotalAudit: Q = (s, d) => {
    val net = sum(dec2(col("l_extendedprice")) *
      (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))) *
      (lit(1).cast(DecimalType(4, 2)) + col("l_tax").cast(DecimalType(4, 2))))
    val li = table(s, d, "lineitem")
      .groupBy(col("l_orderkey")).agg(net.as("net"))
    val j = table(s, d, "orders")
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
    val tot = dec2(col("o_totalprice"))
    val diff = abs(tot - col("net"))
    val within1 = col("net").isNotNull && (diff * 100 <= tot)
    j.groupBy(col("o_orderstatus"))
      .agg(asLong(count(lit(1))).as("n_orders"),
        asLong(sum(when(col("net").isNull, 1L).otherwise(0L))).as("n_no_lines"),
        asLong(sum(when(within1, 1L).otherwise(0L))).as("n_within_1pct"),
        asLong(sum(when(col("net").isNotNull && col("net") > tot, 1L)
          .otherwise(0L))).as("n_over"),
        asLong(sum(when(col("net").isNotNull && col("net") < tot, 1L)
          .otherwise(0L))).as("n_under"),
        (sum(when(col("net").isNotNull,
          floor(diff.cast(DoubleType) / tot.cast(DoubleType) * 1e6)
            .cast(LongType)).otherwise(0L)).cast(DoubleType) /
          sum(when(col("net").isNotNull, 1L).otherwise(0L)) / 1e6)
          .as("avg_abs_rel_err"))
      .orderBy("o_orderstatus")
  }

  /** Nearest-anchor (Voronoi) assignment (§2.24): customers mapped
    * onto a deterministic planar grid (x = custkey·37 mod 1000, y =
    * custkey·91 mod 1000) are each assigned to the nearest of 5
    * fixed anchor sites by squared Euclidean distance — the spatial
    * partition / geo-assignment operator (warehouse routing, shard
    * placement) with ZERO float math: d² stays BIGINT end to end and
    * the argmin is min(struct(d², anchor)) with anchor-id tie-break,
    * so both engines pick identical sites for every row. Scale: the
    * 5-row anchor relation broadcasts into ONE linear customer scan;
    * the per-customer argmin map-combines (no window, no sort) and
    * the final reduce is a 5-key aggregate. */
  val geoNearestAnchor: Q = (s, d) => {
    val anchors = Seq((1L, 100L, 100L), (2L, 800L, 200L), (3L, 500L, 500L),
      (4L, 200L, 850L), (5L, 900L, 900L))
    val a = s.createDataFrame(anchors).toDF("aid", "ax", "ay")
    val c = table(s, d, "customer").select(col("c_custkey"),
      (col("c_custkey") * 37 % 1000).as("x"), (col("c_custkey") * 91 % 1000).as("y"))
    val d2 = (col("x") - col("ax")) * (col("x") - col("ax")) +
      (col("y") - col("ay")) * (col("y") - col("ay"))
    val best = c.crossJoin(broadcast(a))
      .select(col("c_custkey"), d2.as("d2"), col("aid"))
      .groupBy(col("c_custkey"))
      .agg(min(struct(col("d2"), col("aid"))).as("m"))
    best.groupBy(col("m.aid").as("anchor_id"))
      .agg(asLong(count(lit(1))).as("n_customers"),
        round(sum(col("m.d2")).cast(DoubleType) / count(lit(1)), 4).as("avg_d2"),
        asLong(max(col("m.d2"))).as("max_d2"))
      .orderBy("anchor_id")
  }

  /** Jackknife leave-one-out SE of mean daily revenue (§2.24): the
    * RNG-free resampling-inference read on a pipeline KPI. LOO mean_i
    * = (S − x_i)/(n−1) and the LOO-mean average IS the plain mean, so
    * SE² reduces algebraically to Σ(S − n·x_i)² / (n³(n−1)). The
    * per-day term (S − n·x_i) is an exact DECIMAL difference cast
    * ONCE to double (≲1e11, far under 2^53 → identical in both
    * engines) then floor-quantized to BIGINT at 1e5 before squaring,
    * so the big Σq² accumulates integer-exact (the agg_cov_matrix
    * overflow lesson: q² ≲ 1e11 × n days fits BIGINT with orders of
    * headroom at any SF). Scale: one map-combined date-grain
    * aggregate, a broadcast 1-row total, one more 1-row reduce — no
    * window, no sort, nothing driver-side. */
  val aggJackknifeLoo: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val tot = daily.agg(sum(col("rev")).as("S"), count(lit(1)).as("n"))
    val q = floor((col("S") - col("n") * col("rev")).cast(DoubleType) / 1e5)
      .cast(LongType)
    daily.crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"), max(col("S")).as("S"), sum(q * q).as("ssq"))
      .select(asLong(col("n")).as("n_days"),
        round(col("S").cast(DoubleType) / col("n"), 2).as("mean_daily"),
        round(sqrt(col("ssq").cast(DoubleType) * 1e10 /
          (col("n") * col("n") * col("n") * (col("n") - 1)).cast(DoubleType)), 2)
          .as("jk_se"))
  }

  /** Kendall τ-b between monthly order volume and monthly average
    * order value (§2.24): pair-counting rank correlation — the
    * tie-aware, outlier-robust complement to agg_spearman_corr for
    * short series. Every pair decision is exact: volume differences
    * are BIGINT, and average-value comparisons cross-multiply the
    * (Σprice, count) rationals (s1·x2 vs s2·x1, counts > 0) with
    * Σprice held as exact BIGINT cents — the decimal sum times 100
    * is integral by construction, and the cross-products stay under
    * 2⁶³ past sf10 — so no division happens before the final τ and
    * neither engine widens a decimal product. Tied pairs feed
    * τ-b's denominator √((n0−n1)(n0−n2)), computed once in double
    * from exact integer counts. Scale: the month-grain aggregate is
    * map-combined and CALENDAR-bounded at any SF, so the mo<mo'
    * self-join is a broadcast over ≤n²/2 month pairs and the final
    * reduce is 1-row. */
  val aggKendallTau: Q = (s, d) => {
    val m = table(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("x"),
        sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("sp"))
    val a = m.toDF("mo1", "x1", "s1")
    val b = m.toDF("mo2", "x2", "s2")
    val dx = col("x1") - col("x2")
    val dy = col("s1") * col("x2") - col("s2") * col("x1")
    val p = a.join(broadcast(b), col("mo1") < col("mo2"))
      .select(
        when(dx === 0 || dy === 0, 0L)
          .when((dx > 0 && dy > 0) || (dx < 0 && dy < 0), 1L)
          .otherwise(-1L).as("cd"),
        when(dx === 0, 1L).otherwise(0L).as("tx"),
        when(dy === 0, 1L).otherwise(0L).as("ty"))
    p.agg(count(lit(1)).as("n0"),
        sum(when(col("cd") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("cd") === -1, 1L).otherwise(0L)).as("dc"),
        sum(col("tx")).as("n1"), sum(col("ty")).as("n2"))
      .select(asLong(col("n0")).as("n_pairs"), asLong(col("c")).as("concordant"),
        asLong(col("dc")).as("discordant"), asLong(col("n1")).as("ties_x"),
        asLong(col("n2")).as("ties_y"),
        round((col("c") - col("dc")).cast(DoubleType) /
          sqrt(((col("n0") - col("n1")) * (col("n0") - col("n2")))
            .cast(DoubleType)), 4).as("tau_b"))
  }

  /** Hodges–Lehmann pseudo-median of daily revenue (§2.25): the
    * median of all n(n+1)/2 pairwise Walsh averages (xᵢ+xⱼ)/2, i≤j —
    * the rank-based location estimator that pairs with agg_mann_whitney
    * the way the mean pairs with the t-test (robust to outlier days a
    * plain median over-reacts to). Exact: values are BIGINT cents, a
    * Walsh average is carried ×2 (w2 = cᵢ+cⱼ, never halved early),
    * and the median ranks {(M+1) div 2, M div 2 + 1} (equal when M is
    * odd) select VALUES of the sorted multiset — tie-order-invariant
    * by construction. Output divisions are single IEEE ops on exact
    * integers, so no rounding is needed at all. Scale: the pair
    * relation is CALENDAR²-bounded (days², independent of fact rows)
    * and the two median order statistics come from ExactQuantile's
    * bounded two-pass histogram (round 16) — no sort or persist of
    * the pair relation, never a single-task window. */
  val aggHodgesLehmann: Q = (s, d) => {
    // round 16: the pair relation is CALENDAR²-bounded but still ~days²/2
    // rows; ranking ALL of them (range shuffle + persist) to read two
    // median ranks paid the suite's single largest per-query CPU bill
    // (7.2 CPU-s at sf0.1). ExactQuantile.valueAtRanks computes the same
    // two order statistics with two map-combined histogram passes over
    // the (re-derivable) pair relation — no sort, no persist, shuffle
    // bounded by the histogram width. The daily aggregate is
    // checkpointed: four consumers (two ExactQuantile passes × two join
    // sides, plus the totals row).
    // Preconditions (ADVICE r16, documented not guarded): (1) orders is
    // non-empty — the construction-time extremes read below and
    // ExactQuantile both require ≥1 day (TPC-H orders is never empty at
    // any SF; an empty input would throw here instead of planning
    // lazily). (2) Exactness of the histogram path relies on every
    // daily-cents pair sum w2 = c1+c2 staying below 2^53 (a double
    // carries such integers exactly): daily revenue < 2^52 cents
    // ≈ $45 trillion/day — orders of magnitude above any TPC-H SF.
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("dy"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("c"))
      .localCheckpoint(true)
    val a = daily.toDF("d1", "c1")
    val b = daily.toDF("d2", "c2")
    val pairs = a.join(broadcast(b), col("d1") <= col("d2"))
      .select((col("c1") + col("c2")).as("w2"))
    // histogram width sized from the (bounded) daily relation so the
    // bucket count stays ~4k at any SF (w2 spans [2·min c, 2·max c])
    val ext = daily.agg(min(col("c")).as("mn"), max(col("c")).as("mx")).first()
    val width = math.max(1.0, (ext.getLong(1) - ext.getLong(0)) * 2.0 / 4096.0)
    // the two 1-based median ranks {(m+1)/2, m/2+1} as 0-indexed ranks
    def midRanks(m: Long): Seq[Long] = Seq((m + 1) / 2 - 1, m / 2).distinct
    val (m, atRank) = ExactQuantile.valueAtRanks(
      pairs, col("w2"), None, midRanks, width)("")
    val mids = midRanks(m)
    // sum of the selected w2 values: each is an exact integer-valued
    // double < 2^53, so the sum matches the old BIGINT-sum path bitwise
    val hl = mids.map(atRank).sum / (mids.size * 200.0)
    val tot = daily.agg(sum(col("c")).as("sc"), count(lit(1)).as("n"))
    tot.select(asLong(col("n")).as("n_days"), lit(m).as("n_pairs"),
        lit(hl).as("hl_estimate"),
        (col("sc").cast(DoubleType) / (col("n") * lit(100.0))).as("mean_daily"))
  }

  /** Recency-decayed customer value (§2.25): per-nation average of
    * Σ spend·2^(−age/60d) — the exponential time-decay scoring every
    * churn/engagement model starts from, made EXACT by keeping the
    * decay dyadic: the age bucket k = days div 60 caps at 10 and the
    * weight is the integer 1 << (10−k), so each row contributes
    * cents·2^(10−k) to a BIGINT sum (no pow(double) in the hot path;
    * headroom to ~2^53/score even at sf10). The only float ops are
    * the final normalizations — identical single IEEE divisions of
    * exact integers in both engines, floor-quantized at 1e4. Scale:
    * orders scan → per-customer map-combined sum (one key shuffle) →
    * broadcast customer⋈nation dims → 25-key reduce. */
  val aggRecencyDecay: Q = (s, d) => {
    val sc = table(s, d, "orders")
      .select(col("o_custkey"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"),
        least(floor(datediff(lit("2001-09-01").cast(DateType),
          to_date(col("o_orderdate"))) / 60).cast(LongType), lit(10L)).as("k"))
      .select(col("o_custkey"),
        (col("cents") * expr("shiftleft(1L, cast(10 - k AS INT))")).as("sv"))
      .groupBy(col("o_custkey")).agg(sum(col("sv")).as("score"))
    val cust = table(s, d, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = table(s, d, "nation")
      .select(col("n_nationkey"), col("n_name"))
    sc.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("nc"), sum(col("score")).as("ts"))
      .select(col("n_name"), asLong(col("nc")).as("n_customers"),
        (floor(col("ts").cast(DoubleType) / (col("nc") * lit(102400.0)) * 1e4) / 1e4)
          .as("avg_decayed_value"))
      .orderBy("n_name")
  }

  /** Decision-stump split search (§2.25): the best threshold t on
    * order value for predicting "high priority", by weighted Gini
    * impurity over the 10-point grid t = 50k·k with split p < t —
    * the inner loop of tree training as ONE relational pass. The
    * fact scan folds into a ≤13-bucket histogram (b = cents div
    * 5000000 — pure integer division, so the p<t boundary is exact;
    * counts + positives all BIGINT), thresholds read cumulative
    * counts off the broadcast bucket relation, and the impurity
    * n_L·g_L + n_R·g_R is evaluated in double from exact integer
    * counts (identical operands → identical IEEE result in both
    * engines) then floor-quantized at 1e6 for the argmin; best-row
    * ties break on the smaller t. Scale: one map-combined histogram
    * (the only fact-sized work), then arithmetic over 10×13
    * broadcast rows. */
  val aggBestSplitGini: Q = (s, d) => {
    val buckets = table(s, d, "orders")
      .select((dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("y"))
      .select(expr("cents div 5000000").as("b"), col("y"))
      .groupBy(col("b")).agg(count(lit(1)).as("nb"), sum(col("y")).as("pb"))
    val th = s.range(1, 11).select(col("id").as("k"))
    val tot = buckets.agg(sum(col("nb")).as("n"), sum(col("pb")).as("p"))
    val cum = th.join(broadcast(buckets), col("b") < col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("nb")), lit(0L)).as("nl"),
        coalesce(sum(col("pb")), lit(0L)).as("pl"))
      .crossJoin(broadcast(tot))
    val nl = col("nl").cast(DoubleType)
    val nr = (col("n") - col("nl")).cast(DoubleType)
    val pl = col("pl").cast(DoubleType)
    val pr = (col("p") - col("pl")).cast(DoubleType)
    val impD = when(col("nl") === 0 || col("nl") === col("n"),
        lit(2.0) * (col("p").cast(DoubleType) / col("n")) *
          (lit(1.0) - col("p").cast(DoubleType) / col("n")) * col("n"))
      .otherwise(
        (nl - (pl * pl + (nl - pl) * (nl - pl)) / nl) +
        (nr - (pr * pr + (nr - pr) * (nr - pr)) / nr))
    val scored = cum.select(asLong(col("k") * 50000).as("threshold"),
      asLong(col("nl")).as("n_left"), asLong(col("pl")).as("pos_left"),
      floor(impD * 1e6).cast(LongType).as("impq"))
    val bst = scored.agg(min(struct(col("impq"), col("threshold"))).as("m"))
      .select(col("m.threshold").as("bt"))
    scored.crossJoin(broadcast(bst))
      .select(col("threshold"), col("n_left"), col("pos_left"),
        (col("impq").cast(DoubleType) / 1e6).as("weighted_gini"),
        (col("threshold") === col("bt")).as("is_best"))
      .orderBy("threshold")
  }

  /** Two-proportion z-test (§2.26): purchase-conversion rate of the
    * A/B split user_id%2, with the pooled-variance z statistic — the
    * experiment read-out every product pipeline computes; complements
    * the suite's rank tests (mann_whitney) and distribution tests
    * (ks_test) with the PROPORTIONS test. Exact: user/converter
    * counts are exact distinct counts; z is a single IEEE expression
    * on identical integers in both engines, floor-quantized at 1e4,
    * and the significance flag compares the QUANTIZED z to 19600 —
    * an integer decision. Scale: one map-combined distinct-user
    * aggregate (two bool_or flags per user), then a 2-row reduce. */
  val aggAbProportionsZtest: Q = (s, d) => {
    // conversion = a HIGH-VALUE purchase (>= 100): every fixture user
    // has some purchase, so plain purchase would make pp = 1 and the
    // pooled variance zero
    val u = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 100, 1L)
        .otherwise(0L)).as("conv"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val w = u.agg(
      max(when(col("variant") === 0, col("n"))).as("n0"),
      max(when(col("variant") === 0, col("c"))).as("c0"),
      max(when(col("variant") === 1, col("n"))).as("n1"),
      max(when(col("variant") === 1, col("c"))).as("c1"))
    val p0 = col("c0").cast(DoubleType) / col("n0").cast(DoubleType)
    val p1 = col("c1").cast(DoubleType) / col("n1").cast(DoubleType)
    val pp = (col("c0") + col("c1")).cast(DoubleType) /
      (col("n0") + col("n1")).cast(DoubleType)
    val zRaw = (p0 - p1) / sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n0").cast(DoubleType) + lit(1.0) / col("n1").cast(DoubleType)))
    // degenerate pools (pp = 0 or 1) have zero variance: z is NULL,
    // not a divide-by-zero (ANSI doubles throw in Spark, inf in DuckDB)
    val z = when(pp > 0 && pp < 1, zRaw)
    w.select(asLong(col("n0")).as("n_a"), asLong(col("c0")).as("conv_a"),
        asLong(col("n1")).as("n_b"), asLong(col("c1")).as("conv_b"),
        (floor(p0 * 1e6) / 1e6).as("rate_a"), (floor(p1 * 1e6) / 1e6).as("rate_b"),
        (floor(z * 1e4) / 1e4).as("z"),
        (floor(abs(z) * 1e4) > 19600).as("significant_95"))
  }

  /** Expected calibration error (§2.26): treat discount·10 as a
    * synthetic "return probability" prediction and score it against
    * the actual returned flag — the ECE the model-eval side of a
    * pipeline computes, here with a FULLY INTEGER core: the discount
    * is exact hundredths so the bin b = discount·100 ∈ {0..10} is an
    * exact integer, the per-bin gap |conf − rate| scales to
    * |b·n_b − 10·pos_b| (BIGINT), and ECE = Σ gaps / (10·N) is ONE
    * division of exact integers. Scale: one map-combined 11-bin
    * aggregate; the total attaches as a broadcast 1-row relation. */
  val aggCalibrationError: Q = (s, d) => {
    val b = table(s, d, "lineitem")
      .select((col("l_discount").cast(DecimalType(4, 2)) * 100)
          .cast(LongType).as("bin"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("ret"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("nb"), sum(col("ret")).as("pos"))
    val gap = abs(col("bin") * col("nb") - lit(10) * col("pos"))
    val tot = b.agg(sum(col("nb")).as("n"),
      sum(abs(col("bin") * col("nb") - lit(10) * col("pos"))).as("sgap"))
    b.crossJoin(broadcast(tot))
      .select(col("bin"), asLong(col("nb")).as("n"),
        (col("bin").cast(DoubleType) / 10).as("confidence"),
        (floor(col("pos").cast(DoubleType) / col("nb") * 1e4) / 1e4)
          .as("observed_rate"),
        (gap.cast(DoubleType) / (lit(10.0) * col("nb"))).as("bin_gap"),
        (col("sgap").cast(DoubleType) / (lit(10.0) * col("n"))).as("ece"))
      .orderBy("bin")
  }

  /** Referential-integrity audit (§2.26): the three FK/temporal
    * violation classes a lake-health job sweeps — orphan lineitems
    * (no parent order), childless orders (no lines), and lines
    * shipping BEFORE their order date — as one single-row report.
    * All decisions are anti-join membership and date comparisons:
    * integer-exact. Scale: both anti joins and the temporal check
    * shuffle on the SAME orderkey — one co-partitioned key, three
    * audits. */
  val aggFkViolations: Q = (s, d) => {
    val li = table(s, d, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
    val o = table(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
    val orphans = li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lines"))
    val childless = o.join(li, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).as("childless_orders"))
    val early = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(sum(when(col("sd") < col("od"), 1L).otherwise(0L)).as("ship_before_order"),
        count(lit(1)).as("joined_lines"))
    early.crossJoin(broadcast(orphans)).crossJoin(broadcast(childless))
      .select(asLong(col("joined_lines")).as("joined_lines"),
        asLong(col("orphan_lines")).as("orphan_lines"),
        asLong(col("childless_orders")).as("childless_orders"),
        asLong(col("ship_before_order")).as("ship_before_order"))
  }

  /** Order-independent table checksums (§2.27): a 56-bit content hash
    * per row (md5 of a canonical '|'-joined rendering), folded with
    * BIT_XOR — commutative, so the checksum is partitioning- and
    * order-invariant, which is what lets two replicas (or two
    * engines, as the oracle gate proves) agree without sorting
    * anything. Canonical rendering sticks to cross-engine-stable
    * string forms: BIGINT keys, DECIMAL(18,2) money (fixed 2-digit
    * scale), DATE — never raw doubles. Scale: three independent
    * map-combined scans, one 3-row output; the shuffle carries one
    * row per table. */
  val aggTableChecksum: Q = (s, d) => {
    def sum56(df: DataFrame, tname: String, canon: Column): DataFrame =
      df.select(conv(substring(md5(canon), 1, 14), 16, 10)
          .cast(LongType).as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
          min(col("h")).as("mn"), max(col("h")).as("mx"))
        .select(lit(tname).as("table_name"), asLong(col("n")).as("n_rows"),
          col("x").as("xor56"), col("mn").as("min56"), col("mx").as("max56"))
    val o = sum56(table(s, d, "orders"), "orders",
      concat_ws("|", col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        dec2(col("o_totalprice")).cast(StringType),
        to_date(col("o_orderdate")).cast(StringType), col("o_orderpriority")))
    val c = sum56(table(s, d, "customer"), "customer",
      concat_ws("|", col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"), dec2(col("c_acctbal")).cast(StringType)))
    val li = sum56(table(s, d, "lineitem"), "lineitem",
      concat_ws("|", col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), dec2(col("l_extendedprice")).cast(StringType),
        col("l_returnflag"), to_date(col("l_shipdate")).cast(StringType)))
    o.unionAll(c).unionAll(li).orderBy("table_name")
  }

  /** Audience overlap via bitmap intersection (§2.27): pairwise
    * Jaccard between event-type audiences computed the roaring way —
    * user ids pack into 63-bit words (agg_bitmap_distinct's layout),
    * intersections are word-wise AND popcounts joined on word index,
    * and unions come from the per-type totals by
    * inclusion–exclusion. All-integer; the shuffle carries (type,
    * word) — bounded by ID-space/63 per type, NOT by event rows —
    * and the pair join fans out over |types|²/2 = 10 pairs of
    * word-aligned bitmap relations. */
  val aggBitmapOverlap: Q = (s, d) => {
    val words = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("event_type"), expr("user_id div 63").as("wi"))
      .agg(expr("bit_or(shiftleft(1L, cast(pmod(user_id, 63) AS INT)))").as("w"))
    val tot = words.groupBy(col("event_type").as("tt"))
      .agg(sum(bit_count(col("w"))).as("nt"))
    val a = words.toDF("t1", "wi1", "w1")
    val b = words.toDF("t2", "wi2", "w2")
    val inter = a.join(b, col("wi1") === col("wi2") && col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      .agg(sum(bit_count(col("w1").bitwiseAND(col("w2")))).as("ni"))
    inter
      .join(broadcast(tot).toDF("ta", "na"), col("t1") === col("ta"))
      .join(broadcast(tot).toDF("tb", "nb"), col("t2") === col("tb"))
      .select(col("t1"), col("t2"), asLong(col("ni")).as("n_common"),
        asLong(col("na") + col("nb") - col("ni")).as("n_union"),
        (floor(col("ni").cast(DoubleType) /
          (col("na") + col("nb") - col("ni")).cast(DoubleType) * 1e4) / 1e4)
          .as("jaccard"))
      .orderBy("t1", "t2")
  }

  /** Laspeyres / Paasche / Fisher price indices (§2.28): the index-
    * number read "how much did prices move 1995→2000, holding the
    * basket fixed" over parts traded in BOTH years — the economics
    * face of the fact table. Exactness: per-(part, year) unit price
    * floor-quantizes to exact integer cents via (100·Σext) div Σqty
    * (BIGINT division — both engines identical), quantities are exact
    * integers, so every Σ(p·q) index component is a BIGINT sum and
    * each index is ONE division; Fisher = √(L·P) on identical
    * doubles, floor-quantized at 1e4. Scale: one map-combined
    * (part, year) aggregate, a part-keyed self-join of the two years
    * (the only shuffle), 1-row reduce. */
  val aggPriceIndex: Q = (s, d) => {
    def yr(y: Int) = table(s, d, "lineitem")
      .filter(year(col("l_shipdate")) === y)
      .groupBy(col("l_partkey"))
      .agg(sum((dec2(col("l_extendedprice")) * 100).cast(LongType)).as("ec"),
        sum(col("l_quantity").cast(LongType)).as("q"))
      .select(col("l_partkey"), expr("(ec) div q").as("p"), col("q"))
    val base = yr(1995).toDF("pk0", "p0", "q0")
    val cur = yr(2000).toDF("pk1", "p1", "q1")
    val j = base.join(cur, col("pk0") === col("pk1"))
      .agg(count(lit(1)).as("n_parts"),
        sum(col("p1") * col("q0")).as("l_num"), sum(col("p0") * col("q0")).as("l_den"),
        sum(col("p1") * col("q1")).as("p_num"), sum(col("p0") * col("q1")).as("p_den"))
    val lIdx = col("l_num").cast(DoubleType) / col("l_den").cast(DoubleType)
    val pIdx = col("p_num").cast(DoubleType) / col("p_den").cast(DoubleType)
    j.select(asLong(col("n_parts")).as("n_parts"),
      (floor(lIdx * 1e4) / 1e4).as("laspeyres"),
      (floor(pIdx * 1e4) / 1e4).as("paasche"),
      (floor(sqrt(lIdx * pIdx) * 1e4) / 1e4).as("fisher"))
  }

  /** QQ comparison of the two customer segments (§2.34): order-value
    * quantiles at 10 evenly spaced probability points, custkey%2 A vs
    * B — the distribution-level companion to agg_welch_ttest's means
    * (a t-test can pass while the tails diverge; the QQ table shows
    * WHERE). Exact interpolated percentiles (the agg_group_quantiles
    * recipe) via ARRAY percentile — one aggregate per segment, the
    * 10-point grid aligned by posexplode ordinality; ratio is one
    * division, round 6. Scale: two map-combined percentile
    * aggregates; everything after runs on 10 rows. */
  val aggQqPriceSegments: Q = (s, d) => {
    // round 14: the 10-point grids via ExactQuantile (bit-identical to
    // the ARRAY percentile form — same per-p interpolation); the
    // segment filter is pushed into each helper's histogram scan
    val ps = Seq(0.05, 0.15, 0.25, 0.35, 0.45, 0.55, 0.65, 0.75, 0.85, 0.95)
    def seg(v: Int): Map[Double, Double] =
      ExactQuantile.quantiles(
        table(s, d, "orders").filter(col("o_custkey") % 2 === v),
        col("o_totalprice"), None, ps, bucketWidth = 64.0)("")._2
    val (qa, qb) = (seg(0), seg(1))
    val rows = ps.zipWithIndex.map { case (p, i) => (i, qa(p), qb(p)) }
    s.createDataFrame(rows).toDF("i", "qa", "qb")
      .select(asLong(lit(5) + col("i") * 10).as("pct"),
        round(col("qa"), 4).as("q_seg_a"), round(col("qb"), 4).as("q_seg_b"),
        round(col("qa") / col("qb"), 6).as("qq_ratio"))
      .orderBy("pct")
  }

  /** Equi-depth histogram boundaries (§2.34): the 10-bucket
    * equal-frequency histogram of order value — the statistic a
    * cost-based optimizer's ANALYZE collects (equi-WIDTH histograms
    * like agg_histogram mislead on skewed money columns; equi-depth
    * puts the resolution where the rows are). Boundaries are exact
    * interpolated percentiles p0..p100 via one ARRAY percentile
    * aggregate; bucket rows pair adjacent boundaries by ordinality. */
  val aggEquiDepthHistogram: Q = (s, d) => {
    // round 14: boundaries via ExactQuantile (bit-identical to the
    // ARRAY percentile form); adjacent bounds pair on the driver over
    // the 11 returned doubles
    val ps = Seq(0.0, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0)
    val (n, qs) = ExactQuantile.quantiles(table(s, d, "orders"),
      col("o_totalprice"), None, ps, bucketWidth = 64.0)("")
    val rows = (0 until 10).map(i => (i + 1L, qs(ps(i)), qs(ps(i + 1)), n))
    s.createDataFrame(rows).toDF("bucket", "lo", "hi", "n")
      .select(col("bucket"), round(col("lo"), 4).as("lower_bound"),
        round(col("hi"), 4).as("upper_bound"), col("n").as("n_total"))
      .orderBy("bucket")
  }

  /** 10% two-sided trimmed mean of order value (§2.34): the robust
    * location that DROPS the tails (agg_winsorized_mean CLAMPS them —
    * different estimator, different breakdown behavior; a suite that
    * offers one should offer both). Bounds are exact interpolated
    * p10/p90 (identical doubles cross-engine), membership is an
    * inclusive BETWEEN on the stored doubles, the kept sum folds in
    * DECIMAL cents. Scale: one percentile aggregate broadcast into
    * one filtered map-combined scan. */
  val aggTrimmedMean: Q = (s, d) => {
    val o = table(s, d, "orders")
    // round 14: bounds via ExactQuantile (two-pass bucketed, bit-
    // identical to percentile(); see aggWinsorizedMean)
    val (_, bm) = ExactQuantile.quantiles(o, col("o_totalprice"),
      None, Seq(0.10, 0.90), bucketWidth = 64.0)("")
    o.select(col("o_totalprice"),
        lit(bm(0.10)).as("lo"), lit(bm(0.90)).as("hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice").between(col("lo"), col("hi")), 1L)
          .otherwise(0L)).as("kept"),
        sum(when(col("o_totalprice").between(col("lo"), col("hi")),
          dec2(col("o_totalprice")))).as("ksum"),
        sum(dec2(col("o_totalprice"))).as("asum"))
      .select(asLong(col("n")).as("n_orders"), asLong(col("kept")).as("n_kept"),
        round(col("ksum").cast(DoubleType) / col("kept").cast(DoubleType), 2)
          .as("trimmed_mean"),
        round(col("asum").cast(DoubleType) / col("n").cast(DoubleType), 2)
          .as("plain_mean"))
  }

  /** Duplicate-payment audit (§2.33): order pairs from the SAME
    * customer for the IDENTICAL amount within 7 days — the
    * double-charge / replayed-order forensic every payments system
    * runs (dedup_exact finds identical CONTENT; this finds identical
    * MONEY MOVEMENT, which legitimate data mostly shouldn't contain).
    * Exactness: amounts join as exact BIGINT cents, the day residual
    * compares integer datediffs, pairs canonicalize okey1 < okey2.
    * Scale: the self-join is equi-keyed on (custkey, cents) — the
    * pair relation is bounded by per-(customer, amount) multiplicity,
    * not n²; one map-combined audit reduce. */
  val aggDuplicatePaymentAudit: Q = (s, d) => {
    val o = table(s, d, "orders")
      .select(col("o_custkey").as("ck"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"),
        col("o_orderkey").as("ok"), to_date(col("o_orderdate")).as("dy"))
    val a = o.toDF("ck", "cents", "ok1", "d1")
    val b = o.toDF("ck", "cents", "ok2", "d2")
    a.join(b, Seq("ck", "cents"))
      .filter(col("ok1") < col("ok2") &&
        abs(datediff(col("d2"), col("d1"))) <= 7)
      .agg(count(lit(1)).as("n_pairs"),
        count_distinct(col("ck")).as("n_customers"),
        sum(col("cents")).as("cents_at_risk"))
      .select(asLong(col("n_pairs")).as("n_suspect_pairs"),
        asLong(col("n_customers")).as("n_customers"),
        asLong(coalesce(col("cents_at_risk"), lit(0L))).as("cents_at_risk"))
  }

  /** Round-number bias (§2.33): how much of the order book lands on
    * whole dollars / whole hundreds vs the 1% / 0.01% a uniform cent
    * distribution predicts — the price-integrity forensic next to
    * agg_benford_first_digit (Benford tests leading digits; this
    * tests trailing ones, where manual entry and fraud concentrate).
    * Pure integer modular arithmetic; the bias ratios are one
    * division each, floor 1e4. */
  val aggRoundNumberBias: Q = (s, d) => {
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    table(s, d, "orders")
      .agg(count(lit(1)).as("n"),
        sum(when(cents % 100 === 0, 1L).otherwise(0L)).as("wd"),
        sum(when(cents % 10000 === 0, 1L).otherwise(0L)).as("wh"))
      .select(asLong(col("n")).as("n_orders"),
        asLong(col("wd")).as("n_whole_dollar"),
        asLong(col("wh")).as("n_whole_hundred"),
        (floor(col("wd").cast(DoubleType) / col("n").cast(DoubleType) * 100 * 1e4)
          / 1e4).as("dollar_bias_ratio"),
        (floor(col("wh").cast(DoubleType) / col("n").cast(DoubleType) * 10000 * 1e4)
          / 1e4).as("hundred_bias_ratio"))
  }

  /** Split-transaction detection (§2.33): customer-days whose ≥2
    * orders jointly exceed $200k — the structuring pattern (one big
    * movement split into several below-the-radar pieces) that
    * per-order threshold checks are blind to BY CONSTRUCTION. All
    * integer: counts, BIGINT-cent sums, one threshold compare. Scale:
    * one (customer, day) map-combined aggregate → audit reduce. */
  val aggSplitTransactionDetect: Q = (s, d) => {
    val g = table(s, d, "orders")
      .groupBy(col("o_custkey"), to_date(col("o_orderdate")).as("dy"))
      .agg(count(lit(1)).as("n"),
        sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("cents"))
      .filter(col("n") >= 2 && col("cents") >= 20000000L)
    g.agg(count(lit(1)).as("cd"), sum(col("n")).as("no"),
        sum(col("cents")).as("ct"))
      .select(asLong(col("cd")).as("n_cust_days"),
        asLong(coalesce(col("no"), lit(0L))).as("n_orders_involved"),
        asLong(coalesce(col("ct"), lit(0L))).as("cents_total"))
  }

  /** Distributed Bloom-filter semi-join prefilter (§2.31): the
    * runtime-filter pattern Spark itself applies under AQE, built
    * explicitly AND AUDITED — a 4096-bit Bloom (two salted md5
    * hashes) over the high-balance customer keyset prefilters the
    * orders probe, and the report measures what the filter bought:
    * probes passed, true matches (exact left-semi), false positives,
    * FP rate. Exactness: the filter is pure integer arithmetic on
    * md5 hex (the suite's portable randomization device) — bit =
    * hex₁₂(md5(key·salt)), word-aligned exactly like
    * agg_bitmap_overlap's 63-bit words — so both engines build the
    * IDENTICAL bitmap; fp_rate is one final division, floor 1e6.
    * Scale: the Bloom relation is ≤66 words — broadcast by
    * construction no matter how many keys fold into it (that is the
    * point of a Bloom prefilter: constant-size filter, one
    * map-combined bit_or build, zero shuffle added to the probe). */
  val joinBloomPrefilter: Q = (s, d) => {
    def hash(key: Column, salt: String): Column =
      conv(substring(md5(concat(key.cast(StringType), lit(salt))), 1, 3), 16, 10)
        .cast(LongType) // 12 bits -> [0, 4096)
    val keys = table(s, d, "customer")
      .filter(col("c_acctbal") >= 9000)
      .select(col("c_custkey").as("k"))
      .localCheckpoint(true)
    val bloom = keys.select(explode(array(hash(col("k"), "A"),
        hash(col("k"), "B"))).as("bit"))
      .groupBy(expr("bit div 63").as("wi"))
      .agg(expr("bit_or(shiftleft(1L, cast(pmod(bit, 63) AS INT)))").as("w"))
    val probes = table(s, d, "orders")
      .select(col("o_custkey"),
        hash(col("o_custkey"), "A").as("h1"), hash(col("o_custkey"), "B").as("h2"))
    def pass(h: String, wi: String, w: String) =
      col(w).isNotNull &&
        col(w).bitwiseAND(expr(s"shiftleft(1L, cast(pmod($h, 63) AS INT))")) =!= 0
    val filtered = probes
      .join(broadcast(bloom.toDF("wi1", "w1")), expr("h1 div 63") === col("wi1"), "left")
      .join(broadcast(bloom.toDF("wi2", "w2")), expr("h2 div 63") === col("wi2"), "left")
      .select(col("o_custkey"),
        (pass("h1", "wi1", "w1") && pass("h2", "wi2", "w2")).as("p"))
    val exact = table(s, d, "orders")
      .join(keys, col("o_custkey") === col("k"), "left_semi")
      .agg(count(lit(1)).as("n_true"))
    filtered.agg(count(lit(1)).as("n_probes"),
        sum(when(col("p"), 1L).otherwise(0L)).as("n_pass"))
      .crossJoin(broadcast(exact))
      .select(asLong(col("n_probes")).as("n_probes"),
        asLong(col("n_pass")).as("n_pass_bloom"),
        asLong(col("n_true")).as("n_true_matches"),
        asLong(col("n_pass") - col("n_true")).as("n_false_positives"),
        (floor((col("n_pass") - col("n_true")).cast(DoubleType) /
          (col("n_probes") - col("n_true")).cast(DoubleType) * 1e6) / 1e6)
          .as("fp_rate"))
  }

  /** Corrupt-tolerant ingest audit (§2.31): a jsonl feed where every
    * 7th-key row is TRUNCATED (the closing brace gone — cannot parse)
    * is read in PERMISSIVE mode with a _corrupt capture column; the
    * audit counts damaged vs parsed rows and aggregates the parsed
    * slice — the quarantine report every production ingest runs
    * before trusting a feed (src_schema_evolution's sibling: that one
    * proves column evolution, this one proves row damage isolation).
    * The corruption rule is a pure function of the KEY, so the oracle
    * simulates it from the original table — one mis-parsed or
    * mis-dropped row fails the hash. */
  val srcCorruptTolerantScan: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "orders", "jsonl_corrupt")
      .agg(asLong(count(lit(1))).as("n_rows"),
        asLong(count(col("_corrupt"))).as("n_corrupt"),
        asLong(count(col("o_orderkey"))).as("n_parsed"),
        moneySum2(col("o_totalprice")).as("parsed_price_sum"))
  }

  /** Welch's t-test (§2.30): difference of MEAN order values between
    * the custkey%2 segments under unequal variances — the continuous-
    * outcome A/B read-out next to agg_ab_proportions_ztest's
    * proportions face (Welch, not Student: production segments never
    * share a variance). Exactness: per-segment n/Σx/Σx² fold in
    * BIGINT-cents / DECIMAL(38,0) (the cov_matrix guard); means,
    * variances, t and the Welch–Satterthwaite df are ONE shared
    * IEEE expression tree on those exact integers, t floor-quantized
    * at 1e4, df at 1e2, the 95% decision taken ON the quantized |t|
    * (normal-approx critical value — df is in the thousands here,
    * stated in the column name). Scale: one map-combined segment
    * aggregate → 1-row pivot → in-row arithmetic. */
  val aggWelchTtest: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val seg = table(s, d, "orders")
      .groupBy((col("o_custkey") % 2).as("seg"))
      .agg(count(lit(1)).as("n"), sum(cents).as("sx"),
        sum((cents * cents).cast(dec38)).as("sxx"))
    val w = seg.agg(
      max(when(col("seg") === 0, col("n"))).as("n0"),
      max(when(col("seg") === 0, col("sx"))).as("s0"),
      max(when(col("seg") === 0, col("sxx"))).as("q0"),
      max(when(col("seg") === 1, col("n"))).as("n1"),
      max(when(col("seg") === 1, col("sx"))).as("s1"),
      max(when(col("seg") === 1, col("sxx"))).as("q1"))
    def mean(sx: String, n: String) =
      col(sx).cast(DoubleType) / col(n).cast(DoubleType) / 100.0
    def vr(n: String, sx: String, q: String) =
      (col(n).cast(dec38) * col(q) - col(sx).cast(dec38) * col(sx).cast(dec38))
        .cast(DoubleType) /
        (col(n) * (col(n) - 1)).cast(DoubleType) / 10000.0
    val se0 = vr("n0", "s0", "q0") / col("n0").cast(DoubleType)
    val se1 = vr("n1", "s1", "q1") / col("n1").cast(DoubleType)
    val t = (mean("s0", "n0") - mean("s1", "n1")) / sqrt(se0 + se1)
    val df = (se0 + se1) * (se0 + se1) /
      (se0 * se0 / (col("n0") - 1).cast(DoubleType) +
        se1 * se1 / (col("n1") - 1).cast(DoubleType))
    w.select(asLong(col("n0")).as("n_a"), asLong(col("n1")).as("n_b"),
      (floor(mean("s0", "n0") * 100) / 100).as("mean_a"),
      (floor(mean("s1", "n1") * 100) / 100).as("mean_b"),
      (floor(t * 1e4) / 1e4).as("t_welch"),
      (floor(df * 100) / 100).as("df_welch"),
      (floor(abs(t) * 1e4) > 19600).as("significant_95_normal_approx"))
  }

  /** McNemar's paired test (§2.30): did the SAME users who click also
    * purchase — the paired-binary design (each user is their own
    * control) that the independent-samples z-test cannot express;
    * the discordant cells b (click-only) and c (purchase-only) carry
    * ALL the information. Continuity-corrected χ² = (|b−c|−1)²/(b+c)
    * is pure integer arithmetic over one division; the decision
    * compares the 1e4-quantized statistic with the χ²₁ critical
    * value 3.8414 AS THE INTEGER 38414 (inlined in both engines).
    * Scale: one user-grain map-combined aggregate → 1-row reduce. */
  val aggMcnemarPaired: Q = (s, d) => {
    val u = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"),
        max(when(col("event_type") === "purchase" && col("value") >= 100, 1L)
          .otherwise(0L)).as("pu"))
    val t = u.agg(count(lit(1)).as("n_users"),
      sum(when(col("ck") === 1 && col("pu") === 1, 1L).otherwise(0L)).as("nboth"),
      sum(when(col("ck") === 0 && col("pu") === 0, 1L).otherwise(0L)).as("nneither"),
      sum(when(col("ck") === 1 && col("pu") === 0, 1L).otherwise(0L)).as("b"),
      sum(when(col("ck") === 0 && col("pu") === 1, 1L).otherwise(0L)).as("c"))
    val num = (abs(col("b") - col("c")) - 1)
    val chi2 = when(col("b") + col("c") > 0,
      (num * num).cast(DoubleType) / (col("b") + col("c")).cast(DoubleType))
    t.select(asLong(col("n_users")).as("n_users"), asLong(col("nboth")).as("n_both"),
      asLong(col("nneither")).as("n_neither"),
      asLong(col("b")).as("click_only"), asLong(col("c")).as("purchase_only"),
      (floor(chi2 * 1e4) / 1e4).as("chi2_cc"),
      (floor(chi2 * 1e4) > 38414).as("significant_95"))
  }

  /** Minimum detectable effect (§2.30): the power-analysis read every
    * experiment PLANS with before agg_ab_proportions_ztest reads it
    * out — at 80% power / 95% confidence, how small a conversion
    * lift the current user_id%2 split could detect. MDE =
    * (z_{α/2}+z_β)·√(p(1−p)·(1/n₀+1/n₁)) on the pooled baseline;
    * the two z constants are INLINED LITERALS (1.959964, 0.841621)
    * in both engines, p divides exact integers, and the absolute and
    * relative MDE floor-quantize at 1e6. Shares the ztest's
    * conversion definition (high-value purchase), so plan and
    * read-out cannot drift. Scale: one user-grain map-combined
    * aggregate → 1-row pivot → in-row arithmetic. */
  val aggPowerMde: Q = (s, d) => {
    val u = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .groupBy((col("user_id") % 2).as("variant"), col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 100, 1L)
        .otherwise(0L)).as("conv"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val w = u.agg(
      max(when(col("variant") === 0, col("n"))).as("n0"),
      max(when(col("variant") === 0, col("c"))).as("c0"),
      max(when(col("variant") === 1, col("n"))).as("n1"),
      max(when(col("variant") === 1, col("c"))).as("c1"))
    val p = (col("c0") + col("c1")).cast(DoubleType) /
      (col("n0") + col("n1")).cast(DoubleType)
    val mde = lit(1.959964 + 0.841621) * sqrt(p * (lit(1.0) - p) *
      (lit(1.0) / col("n0").cast(DoubleType) + lit(1.0) / col("n1").cast(DoubleType)))
    w.select(asLong(col("n0")).as("n_a"), asLong(col("n1")).as("n_b"),
      asLong(col("c0") + col("c1")).as("conversions"),
      (floor(p * 1e6) / 1e6).as("baseline_rate"),
      (floor(mde * 1e6) / 1e6).as("mde_abs"),
      (floor(mde / p * 1e6) / 1e6).as("mde_rel"))
  }

  /** Ordered 2-subsequence funnel support (§2.30): for every ordered
    * event-type pair (a, b), how many users have SOME a before SOME
    * b — subsequence semantics (gaps allowed), the support table
    * sequence mining starts from, and the complement of
    * win_pattern_match's strictly-consecutive counting. A user
    * supports (a, b) iff min_pos(a) < max_pos(b) — one inequality on
    * per-(user, type) position extremes, which also handles a = b
    * (two occurrences) with the same test. The 5×5 pattern spine is
    * built from the data's distinct types, so zero-support pairs
    * still report. Scale: one user-keyed window for positions
    * (events-per-user bounded), a user-keyed self-join of the ≤5-row
    * per-user type relation, one map-combined pair count. */
  val funnelSeq2Support: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pos = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), row_number().over(w).as("p"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("p")).as("minp"), max(col("p")).as("maxp"))
      .localCheckpoint(true)
    val nUsers = pos.select(col("user_id")).distinct().count()
    val sup = pos.select(col("user_id"), col("event_type").as("a"), col("minp"))
      .join(pos.select(col("user_id"), col("event_type").as("b"), col("maxp")),
        Seq("user_id"))
      .filter(col("minp") < col("maxp"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
    val types = pos.select(col("event_type")).distinct()
    types.select(col("event_type").as("a"))
      .crossJoin(broadcast(types.select(col("event_type").as("b"))))
      .join(broadcast(sup), Seq("a", "b"), "left")
      .select(concat(col("a"), lit("->"), col("b")).as("pattern"),
        asLong(coalesce(col("n"), lit(0L))).as("n_users"),
        round(coalesce(col("n"), lit(0L)).cast(DoubleType) / nUsers.toDouble, 4)
          .as("support"))
      .orderBy("pattern")
  }

  /** Cramér's V association matrix (§2.29): effect-size-normalized
    * chi² between pairs of categorical order dimensions — the
    * "are these columns redundant" read feature selection and
    * stratification design start from (agg_chi2_dow tests ONE pair
    * against uniform; this measures dependence BETWEEN observed
    * pairs, normalized to [0,1] so pairs are comparable). Exactness:
    * contingency cells and marginals are exact integers; each cell's
    * chi² term (O·n − rt·ct)²/(rt·ct·n) squares in DECIMAL(38,0)
    * (HUGEINT on the oracle — O·n reaches 2.25e10 at sf0.1, its
    * square overflows BIGINT), divides once as double, and
    * floor-quantizes to BIGINT at 1e6 BEFORE the cross-cell sum;
    * V = √(χ²/(n·(min(r,c)−1))) floor-quantizes at 1e4. Scale: one
    * map-combined (a, b) aggregate per pair; marginals re-aggregate
    * FROM THE CELL RELATION (never a second scan) and join back on
    * the bounded cell keys. */
  val aggCramersV: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val o = table(s, d, "orders")
    def pair(name: String, a: Column, b: Column): DataFrame = {
      val cells = o.groupBy(a.as("a"), b.as("b"))
        .agg(count(lit(1)).as("o")).localCheckpoint(true)
      val rt = cells.groupBy(col("a")).agg(sum(col("o")).as("rt"))
      val ct = cells.groupBy(col("b")).agg(sum(col("o")).as("ct"))
      val dims = cells.agg(sum(col("o")).as("n"),
        count_distinct(col("a")).as("r"), count_distinct(col("b")).as("c"))
      val num = (col("o") * col("n") - col("rt") * col("ct")).cast(dec38)
      val term = floor((num * num).cast(DoubleType) /
        (col("rt") * col("ct") * col("n")).cast(DoubleType) * 1e6)
        .cast(LongType)
      val chi2 = cells.join(broadcast(rt), Seq("a")).join(broadcast(ct), Seq("b"))
        .crossJoin(broadcast(dims))
        .agg(sum(term).as("chi2_q6"), first(col("n")).as("n"),
          first(col("r")).as("r"), first(col("c")).as("c"))
      chi2.select(lit(name).as("pair"), asLong(col("n")).as("n"),
        asLong(col("r")).as("levels_a"), asLong(col("c")).as("levels_b"),
        asLong(col("chi2_q6")).as("chi2_q6"),
        (floor(sqrt(col("chi2_q6").cast(DoubleType) / 1e6 /
          (col("n") * (least(col("r"), col("c")) - 1)).cast(DoubleType)) * 1e4)
          / 1e4).as("cramers_v"))
    }
    pair("status_priority", col("o_orderstatus"), col("o_orderpriority"))
      .unionByName(pair("status_year", col("o_orderstatus"),
        year(col("o_orderdate"))))
      .unionByName(pair("priority_year", col("o_orderpriority"),
        year(col("o_orderdate"))))
      .orderBy("pair")
  }

  /** Population stability index (§2.29): the drift metric every
    * production scorecard monitors — how far the 1998 order-value
    * distribution moved from the 1995 one over 10 FIXED 50k-wide
    * price bins (fixed edges, not quantiles, so the binning is
    * deterministic and identical cross-engine on the same stored
    * doubles). Add-1 smoothing on every bin of the static 0–9 spine
    * (so empty bins neither divide by zero nor vanish from the
    * output), each bin's term (p−q)·ln(p/q) evaluated as identical
    * doubles — p, q divide exact smoothed integers and the log's
    * argument is the exact integer cross-product ratio — and
    * floor-quantized to BIGINT at 1e8 per bin; the usual >0.25
    * "significant shift" call would sum these, left per-bin here so
    * the report shows WHERE the mass moved. Scale: two year-filtered
    * map-combined aggregates off one scan; everything after runs on
    * the 10-row spine. */
  val aggPsiDrift: Q = (s, d) => {
    val o = table(s, d, "orders")
    val bin = least(floor(col("o_totalprice") / 50000.0), lit(9.0))
      .cast(LongType).as("bin")
    def yr(y: Int) = o.filter(year(col("o_orderdate")) === y)
      .groupBy(bin).agg(count(lit(1)).as("cnt"))
    val spine = s.range(0, 10).select(col("id").as("bin"))
    val j = spine
      .join(yr(1995).withColumnRenamed("cnt", "ca"), Seq("bin"), "left")
      .join(yr(1998).withColumnRenamed("cnt", "cb"), Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .localCheckpoint(true)
    val tot = j.agg((sum(col("ca")) + 10).as("na"), (sum(col("cb")) + 10).as("nb"))
    j.crossJoin(broadcast(tot))
      .select(col("bin"), asLong(col("ca")).as("n_1995"),
        asLong(col("cb")).as("n_1998"),
        asLong(floor(
          ((col("ca") + 1).cast(DoubleType) / col("na").cast(DoubleType) -
            (col("cb") + 1).cast(DoubleType) / col("nb").cast(DoubleType)) *
            log(((col("ca") + 1) * col("nb")).cast(DoubleType) /
              ((col("cb") + 1) * col("na")).cast(DoubleType)) * 1e8))
          .as("psi_term_q8"))
      .orderBy("bin")
  }

  /** Parquet schema evolution (§2.26): the pre-1996 order slice is
    * written WITHOUT the priority column and the 1996+ slice WITHOUT
    * totalprice; reading both with mergeSchema must union-by-name and
    * null-fill — the add-a-column migration every long-lived lake
    * survives, proven through the declared-query gate (the oracle
    * simulates the nulls from the original table, so one damaged or
    * mis-aligned value fails the hash). Same
    * oracle-is-the-original-table contract as the csv/json/orc
    * roundtrips. */
  val srcSchemaEvolution: Q = (s, d) => {
    graft.sources.Sources.via(s, d, "orders", "parquet_evolved")
      .groupBy(col("o_orderstatus"))
      .agg(asLong(count(lit(1))).as("n"),
        asLong(sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)))
          .as("null_price"),
        asLong(sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L)))
          .as("null_priority"),
        moneySum2(col("o_totalprice")).as("price_sum"))
      .orderBy("o_orderstatus")
  }

  /** Shared stream for the §2.35 sequential-testing pair: orders in
    * md5-of-key arrival order with the GLOBAL running conversion count
    * (conversion = order value > $150k), via GlobalRank's
    * range-partitioned running sums — one range shuffle + bounded
    * offsets collect, never a no-partition window. Checkpoints every
    * 100 arrivals; per-checkpoint LLR for H1: p=0.35 vs H0: p=0.25 is
    * ONE shared IEEE tree on the exact integer counts with the two
    * log-likelihood factors INLINED as literals in both engines
    * (ln(.35/.25), ln(.65/.75) — the sim_ndcg log-table recipe;
    * identical doubles cannot diverge), floor-quantized at 1e6. */
  // round 17 (the orderClose recipe): agg_sprt_decision and
  // agg_eprocess_summary each re-ran this GlobalRank range shuffle
  // (md5 sort key over all orders). The post-filter checkpoint
  // relation is |orders|/100 rows — built once per sfDir.
  private val sprtCheckpoints = graft.SharedBuild[String, DataFrame]("Relational.sprt") {
    (s, d) =>
      val o = table(s, d, "orders")
        .select(col("o_orderkey"),
          md5(col("o_orderkey").cast(StringType)).as("mk"),
          when((dec2(col("o_totalprice")) * 100).cast(LongType) > 15000000L, 1L)
            .otherwise(0L).as("conv"),
          lit(1L).as("one"))
      GlobalRank.withRunningSums(o,
          Seq(col("mk"), col("o_orderkey")), Seq("conv" -> "x", "one" -> "n"))
        .filter(col("n") % 100 === 0)
        .select(col("n"), col("x"),
          floor((col("x").cast(DoubleType) * 0.3364722366212129 +
            (col("n") - col("x")).cast(DoubleType) * -0.1431008436406733) * 1e6)
            .cast(LongType).as("llr_q6"))
        .localCheckpoint(true)
  }

  /** Wald SPRT over the order stream (§2.35): the SEQUENTIAL
    * hypothesis test beside §2.30's fixed-horizon Welch/McNemar — the
    * monitor that may stop early. At each 100-arrival checkpoint,
    * cumulative conversions and the Wald log-likelihood ratio; the
    * decision compares the QUANTIZED LLR against the quantized
    * ln(19)/ln(1/19) boundaries (alpha = beta = 0.05), so the verdict
    * is integer arithmetic. Scale: GlobalRank two-pass + per-row math;
    * output is |orders|/100 checkpoint rows. */
  val aggSprtDecision: Q = (s, d) =>
    sprtCheckpoints(s, d)
      .select(col("n"), col("x"), col("llr_q6"),
        when(col("llr_q6") >= 2944438L, lit("reject_h0"))
          .when(col("llr_q6") <= -2944439L, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
      .orderBy("n")

  /** Always-valid inference summary over the same stream (§2.35): the
    * likelihood-ratio e-process view of [[aggSprtDecision]]. The
    * running SUP of the LLR martingale gives the always-valid p-value
    * p_t = exp(-sup LLR) — valid at ANY stopping time; reported as
    * -ln p (the sup itself, clamped at 0, exp never computed so no
    * cross-engine libm exposure) plus the first checkpoint crossing
    * the ln(19) e-threshold. ONE row; everything after the shared
    * checkpoint relation is a plain aggregate — no second global
    * window. */
  val aggEprocessSummary: Q = (s, d) =>
    sprtCheckpoints(s, d)
      .agg(asLong(count(lit(1))).as("n_checkpoints"),
        max(col("llr_q6")).as("sup_llr_q6"),
        min(when(col("llr_q6") >= 2944438L, col("n"))).as("fr"))
      .select(col("n_checkpoints"), col("sup_llr_q6"),
        greatest(col("sup_llr_q6"), lit(0L)).as("neg_ln_p_q6"),
        coalesce(col("fr"), lit(-1L)).as("first_reject_n"))

  /** Per-customer pre/post spend + arm — the §2.36 experimentation
    * unit relation shared by CUPED and the ratio-CI read. Pre-period
    * = orders before 1997-01-01 (the covariate every user carries
    * into the experiment), post = 1997 onward (the measured metric);
    * arm = custkey parity. All BIGINT cents. */
  private def cupedUnits(s: SparkSession, d: String): DataFrame = {
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("o_orderdate") < lit("1997-01-01"), cents)
        .otherwise(0L)).as("pre"),
        sum(when(col("o_orderdate") >= lit("1997-01-01"), cents)
          .otherwise(0L)).as("post"),
        sum(when(col("o_orderdate") >= lit("1997-01-01"), 1L)
          .otherwise(0L)).as("n_post_orders"))
      .withColumn("arm", (col("o_custkey") % 2).cast(LongType))
  }

  /** CUPED variance reduction (§2.36): the covariate-adjusted A/B
    * metric every experimentation platform ships — adjusted
    * Ȳ_arm − θ·(X̄_arm − X̄) with θ = cov(pre, post)/var(pre) POOLED
    * over all units (the standard CUPED estimator; pre-period data is
    * pre-randomization so pooling cannot bias the contrast).
    * Exactness: every moment is an exact BIGINT/DECIMAL(38,0) sum of
    * integer cents (per-row products fit Long, n·Σ cross-terms go
    * DECIMAL(38,0) ↔ HUGEINT — scale-0, so the final cast to double
    * is ONE correctly-rounded step in both engines, the welch_ttest
    * discipline); θ, the adjusted means and the variance-reduction
    * ρ² are one shared IEEE tree, floor-quantized. Scale: one
    * customer-grain aggregate, then 2+1 bounded reduces. */
  val aggCupedAdjust: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val u = cupedUnits(s, d)
    // cast ONE operand to dec38 BEFORE the multiply (the
    // aggHhiConcentration pattern): Long×Long wraps silently above
    // ~3e9 cents/customer where the oracle's HUGEINT stays exact
    val pooled = u.agg(count(lit(1)).as("n"),
      sum(col("pre")).as("sx"), sum(col("post")).as("sy"),
      sum(col("pre").cast(dec38) * col("pre")).as("sxx"),
      sum(col("post").cast(dec38) * col("post")).as("syy"),
      sum(col("pre").cast(dec38) * col("post")).as("sxy"))
    val arms = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("na"), sum(col("pre")).as("sxa"),
        sum(col("post")).as("sya"))
    val covN = (col("n").cast(dec38) * col("sxy") -
      col("sx").cast(dec38) * col("sy").cast(dec38)).cast(DoubleType)
    val varxN = (col("n").cast(dec38) * col("sxx") -
      col("sx").cast(dec38) * col("sx").cast(dec38)).cast(DoubleType)
    val varyN = (col("n").cast(dec38) * col("syy") -
      col("sy").cast(dec38) * col("sy").cast(dec38)).cast(DoubleType)
    val theta = covN / varxN
    val rho2 = covN * covN / (varxN * varyN)
    val meanPost = col("sya").cast(DoubleType) / col("na").cast(DoubleType) / 100.0
    val adj = (col("sya").cast(DoubleType) / col("na").cast(DoubleType) -
      theta * (col("sxa").cast(DoubleType) / col("na").cast(DoubleType) -
        col("sx").cast(DoubleType) / col("n").cast(DoubleType))) / 100.0
    arms.crossJoin(broadcast(pooled))
      .select(col("arm"), asLong(col("na")).as("n_cust"),
        (floor(meanPost * 1e4) / 1e4).as("mean_post"),
        (floor(adj * 1e4) / 1e4).as("mean_adjusted"),
        (floor(theta * 1e6) / 1e6).as("theta_q6"),
        (floor(rho2 * 1e6) / 1e6).as("var_reduction_q6"))
      .orderBy("arm")
  }

  /** Sample-ratio-mismatch guardrail (§2.36): the FIRST check every
    * experiment readout runs — do the two arms hold the unit counts
    * randomization promised? χ²₁ for a 50/50 design reduces to
    * (n₀−n₁)²/(n₀+n₁), computed as an exact 1e4-quantized integer
    * division; the verdict compares the quantized statistic against
    * the quantized 3.8415 critical value. ONE row, pure integers.
    * Scale: one customer-grain distinct aggregate. */
  val aggSrmCheck: Q = (s, d) =>
    table(s, d, "orders")
      .select(col("o_custkey")).distinct()
      .groupBy().agg(
        sum(when(col("o_custkey") % 2 === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("o_custkey") % 2 === 1, 1L).otherwise(0L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        expr("((n_a - n_b) * (n_a - n_b) * 10000) div (n_a + n_b)")
          .as("chi2_q4"))
      .select(col("n_a"), col("n_b"), col("chi2_q4"),
        when(col("chi2_q4") > 38415L, lit("mismatch"))
          .otherwise(lit("ok")).as("srm_verdict"))

  /** Rank-based AUC of reorder propensity (§2.36): THE ML-eval metric
    * — does pre-1998 order count rank customers by whether they
    * order again in 1998? AUC = Mann-Whitney U normalized, with ties
    * handled by average ranks, computed EXACTLY in integers: per
    * score s, doubled rank-sum contribution = pos_s·(2·C(s)+cnt_s+1)
    * (C = count of strictly lower scores), so 2R₁, U₂ = 2R₁−n₁(n₁+1)
    * and the final AUC division are the only operations — one double
    * division at the end, floor-quantized 1e6. Scale: one
    * customer-grain aggregate; the rank arithmetic runs on the
    * VALUE-GRAIN score relation (distinct order-counts-per-customer —
    * data-shape-bounded at ~dozens of rows at any SF, the
    * event-type² convention). */
  val aggAucReorder: Q = (s, d) => {
    val perCust = table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("o_orderdate") < lit("1998-01-01"), 1L)
        .otherwise(0L)).as("score"),
        max(when(col("o_orderdate") >= lit("1998-01-01"), 1L)
          .otherwise(0L)).as("label"))
      .filter(col("score") > 0)
    val byScore = perCust.groupBy(col("score"))
      .agg(count(lit(1)).as("cnt"), sum(col("label")).as("pos"))
    val wLower = Window.orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byScore
      .withColumn("c_lower", coalesce(sum(col("cnt")).over(wLower), lit(0L)))
    val agg = ranked.agg(
      sum(col("pos") * (lit(2L) * col("c_lower") + col("cnt") + 1L)).as("r2"),
      sum(col("pos")).as("n_pos"),
      sum(col("cnt") - col("pos")).as("n_neg"))
    val u2 = col("r2") - col("n_pos") * (col("n_pos") + 1L)
    val auc = u2.cast(DoubleType) /
      (lit(2.0) * col("n_pos").cast(DoubleType) * col("n_neg").cast(DoubleType))
    // degenerate pools (all customers reorder, or none do) make AUC
    // undefined -> NULL, never a divide-by-zero (the welch convention)
    val defined = col("n_pos") > 0 && col("n_neg") > 0
    agg.select(asLong(col("n_pos")).as("n_pos"),
      asLong(col("n_neg")).as("n_neg"),
      asLong(u2).as("u2"),
      when(defined, floor(auc * 1e6).cast(LongType)).as("auc_q6"),
      when(defined, floor((auc * 2.0 - 1.0) * 1e6).cast(LongType))
        .as("gini_q6"))
  }

  /** Delta-method CI for a RATIO metric (§2.36): revenue per order
    * with the CUSTOMER as the randomization unit — the estimator
    * experimentation platforms need because orders within a customer
    * are correlated (naively treating orders as units understates the
    * variance). R̂ = ΣY/ΣN per arm; Var(R̂) ≈ (σ_y² − 2R̂σ_yn +
    * R̂²σ_n²)/(n·m_n²) — the first-order Taylor (delta) expansion.
    * Every (co)moment is an exact BIGINT/DECIMAL(38,0) integer sum
    * (welch discipline); the estimate, SE and the ±1.96 CI are one
    * shared IEEE tree, floor-quantized. Scale: one customer-grain
    * aggregate + a 2-row reduce. */
  val aggRatioDeltaCi: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val u = cupedUnits(s, d).filter(col("n_post_orders") > 0)
    val arms = u.groupBy(col("arm")).agg(
      count(lit(1)).as("n"),
      sum(col("post")).as("sy"), sum(col("n_post_orders")).as("sn"),
      sum(col("post").cast(dec38) * col("post")).as("syy"),
      sum(col("n_post_orders").cast(dec38) * col("n_post_orders")).as("snn"),
      sum(col("post").cast(dec38) * col("n_post_orders")).as("syn"))
    val nD = col("n").cast(DoubleType)
    val r = col("sy").cast(DoubleType) / col("sn").cast(DoubleType)
    def svar(ss: Column, sa: Column, sb: Column) =
      (col("n").cast(dec38) * ss - sa.cast(dec38) * sb.cast(dec38))
        .cast(DoubleType) / (nD * (nD - 1.0))
    val vy = svar(col("syy"), col("sy"), col("sy"))
    val vn = svar(col("snn"), col("sn"), col("sn"))
    val vyn = svar(col("syn"), col("sy"), col("sn"))
    val mN = col("sn").cast(DoubleType) / nD
    val se = sqrt((vy - lit(2.0) * r * vyn + r * r * vn) / nD) / mN
    arms.select(col("arm"), asLong(col("n")).as("n_cust"),
      (floor(r / 100.0 * 1e4) / 1e4).as("rev_per_order"),
      (floor(se / 100.0 * 1e6) / 1e6).as("se_q6"),
      (floor((r - lit(1.96) * se) / 100.0 * 1e4) / 1e4).as("ci_lo_95"),
      (floor((r + lit(1.96) * se) / 100.0 * 1e4) / 1e4).as("ci_hi_95"))
      .orderBy("arm")
  }

  /** Two-sample Poisson rate test (§2.37): did the order ARRIVAL RATE
    * change between 1995 and 1997? z = (λ₁−λ₂)/√(n₁/t₁² + n₂/t₂²)
    * with exposure times the 365-day literals — the count-data test
    * beside the value-data Welch (a rate shift with unchanged values
    * is invisible to a mean test and vice versa). Two exact integer
    * counts into one shared IEEE tree, floor-quantized, decision ON
    * the quantized integer. Scale: one map-combined scan; 1 row. */
  val aggPoissonRateTest: Q = (s, d) =>
    table(s, d, "orders")
      .groupBy().agg(
        sum(when(year(col("o_orderdate")) === 1995, 1L).otherwise(0L)).as("n1"),
        sum(when(year(col("o_orderdate")) === 1997, 1L).otherwise(0L)).as("n2"))
      .select(col("n1"), col("n2"),
        (floor(col("n1").cast(DoubleType) / 365.0 * 1e4) / 1e4).as("rate_1995"),
        (floor(col("n2").cast(DoubleType) / 365.0 * 1e4) / 1e4).as("rate_1997"),
        floor((col("n1").cast(DoubleType) / 365.0 -
          col("n2").cast(DoubleType) / 365.0) /
          sqrt(col("n1").cast(DoubleType) / (365.0 * 365.0) +
            col("n2").cast(DoubleType) / (365.0 * 365.0)) * 1e4)
          .cast(LongType).as("z_q4"))
      .select(col("n1"), col("n2"), col("rate_1995"), col("rate_1997"),
        col("z_q4"), (abs(col("z_q4")) > 19600L).as("significant_95"))

  /** Covariate balance check (§2.37): the standardized mean difference
    * of PRE-period spend between arms — with agg_srm_check the second
    * pre-readout guardrail (randomization can pass SRM yet hand one
    * arm the historically-heavier spenders; |SMD| < 0.1 is the
    * conventional balance bar). SMD = (m₀−m₁)/√((v₀+v₁)/2), moments
    * exact BIGINT/DECIMAL(38,0) (welch discipline), one IEEE tree,
    * verdict on the quantized integer. Scale: one customer-grain
    * aggregate + 1-row reduce. */
  val aggCovariateBalance: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val byArm = cupedUnits(s, d).groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("pre")).as("sx"),
        sum(col("pre").cast(dec38) * col("pre")).as("sxx"))
    val w = byArm.agg(
      max(when(col("arm") === 0, col("n"))).as("n0"),
      max(when(col("arm") === 0, col("sx"))).as("s0"),
      max(when(col("arm") === 0, col("sxx"))).as("q0"),
      max(when(col("arm") === 1, col("n"))).as("n1"),
      max(when(col("arm") === 1, col("sx"))).as("s1"),
      max(when(col("arm") === 1, col("sxx"))).as("q1"))
    def mean(sx: String, n: String) =
      col(sx).cast(DoubleType) / col(n).cast(DoubleType)
    def vr(n: String, sx: String, q: String) =
      (col(n).cast(dec38) * col(q) - col(sx).cast(dec38) * col(sx).cast(dec38))
        .cast(DoubleType) / (col(n) * (col(n) - 1)).cast(DoubleType)
    val smd = (mean("s0", "n0") - mean("s1", "n1")) /
      sqrt((vr("n0", "s0", "q0") + vr("n1", "s1", "q1")) / 2.0)
    w.select(asLong(col("n0")).as("n_a"), asLong(col("n1")).as("n_b"),
      (floor(mean("s0", "n0") / 100.0 * 100) / 100).as("mean_pre_a"),
      (floor(mean("s1", "n1") / 100.0 * 100) / 100).as("mean_pre_b"),
      floor(smd * 1e6).cast(LongType).as("smd_q6"))
      .select(col("n_a"), col("n_b"), col("mean_pre_a"), col("mean_pre_b"),
        col("smd_q6"),
        (abs(col("smd_q6")) < 100000L).as("balanced_01"))
  }

  /** Chapman capture–recapture estimate (§2.37): estimate the TOTAL
    * customer population from two overlapping observation windows
    * (1996 and 1997 order activity) — the ecology estimator data
    * engineering reuses to size a corpus/id-space from two partial
    * crawls without scanning it. N̂ = ⌊(n₁+1)(n₂+1)/(m+1)⌋ − 1 —
    * PURE integer arithmetic — compared against the directly counted
    * population (estimate/truth ratio, 1e4 integer division). Scale:
    * one customer-grain aggregate + 1-row reduce. */
  val aggCaptureRecapture: Q = (s, d) =>
    table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(max(when(year(col("o_orderdate")) === 1996, 1L).otherwise(0L))
        .as("in1"),
        max(when(year(col("o_orderdate")) === 1997, 1L).otherwise(0L))
          .as("in2"))
      .groupBy().agg(sum(col("in1")).as("n1"), sum(col("in2")).as("n2"),
        sum(col("in1") * col("in2")).as("m"),
        count(lit(1)).as("n_true"))
      .select(col("n1"), col("n2"), col("m"), asLong(col("n_true")).as("n_true"),
        expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").as("n_chapman"))
      .select(col("n1"), col("n2"), col("m"), col("n_true"), col("n_chapman"),
        expr("(n_chapman * 10000) div n_true").as("est_over_true_q4"))

  /** Decile lift table (§2.38): customers deciled by PRE-period spend
    * (descending), per-decile POST-period conversion rate and lift vs
    * the base rate — THE campaign-targeting readout (a model/heuristic
    * earns its keep iff the top deciles lift). Deciles via GlobalRank's
    * range-partitioned two-pass + the exact integer NTILE arithmetic
    * (ntileOf ≡ SQL NTILE, remainder to the first buckets); rates and
    * lifts are pure integer divisions; degenerate zero-conversion
    * corpora emit NULL lift. Scale: one customer-grain aggregate + one
    * range shuffle; 10 output rows. */
  val aggDecileLift: Q = (s, d) => {
    val u = cupedUnits(s, d).select(col("o_custkey"), col("pre"),
      when(col("n_post_orders") > 0, 1L).otherwise(0L).as("conv"))
    val (ranked, total) = GlobalRank.ranked(u,
      Seq(col("pre").desc, col("o_custkey")), "rn")
    val byDec = ranked
      .withColumn("decile", GlobalRank.ntileOf(col("rn"), total, 10))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("conv")).as("converted"))
    val tot = byDec.agg(sum(col("n_cust")).as("nt"),
      sum(col("converted")).as("ct"))
    byDec.crossJoin(broadcast(tot))
      .select(asLong(col("decile")).as("decile"),
        asLong(col("n_cust")).as("n_cust"),
        asLong(col("converted")).as("converted"),
        expr("(converted * 1000000) div n_cust").as("rate_q6"),
        when(col("ct") > 0,
          expr("(converted * nt * 1000000) div (n_cust * ct)")).as("lift_q6"))
      .orderBy("decile")
  }

  /** Repeat-purchase rate by acquisition-year cohort (§2.38): of the
    * customers whose FIRST order fell in year y, how many ordered
    * again in y+1 — the one-number retention KPI beside
    * agg_growth_accounting's full monthly matrix. Years as integers,
    * membership via a distinct (customer, year) relation — everything
    * integer; the final-year cohort structurally cannot repeat and is
    * reported as-is (censoring visible, not hidden). Scale: one
    * customer-grain aggregate with a bounded per-customer year set
    * (calendar-bounded array). */
  val aggRepeatPurchaseRate: Q = (s, d) =>
    table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(year(col("o_orderdate"))).as("y0"),
        collect_set(year(col("o_orderdate"))).as("ys"))
      .select(col("y0"), array_contains(col("ys"), col("y0") + 1).as("rep"))
      .groupBy(col("y0"))
      .agg(asLong(count(lit(1))).as("n_cust"),
        asLong(sum(when(col("rep"), 1L).otherwise(0L))).as("n_repeat"))
      .select(asLong(col("y0")).as("cohort_year"), col("n_cust"),
        col("n_repeat"),
        expr("(n_repeat * 1000000) div n_cust").as("repeat_rate_q6"))
      .orderBy("cohort_year")

  /** Herfindahl–Hirschman revenue concentration (§2.37): HHI = Σ s_i²
    * over customer revenue shares — the platform-risk number
    * agg_gini/agg_lorenz_points do not give (HHI answers "how many
    * EFFECTIVE customers fund this business": 1/HHI). Σr_i² exact in
    * DECIMAL(38,0) ↔ HUGEINT, total exact BIGINT; HHI = one double
    * division of scale-0 exacts (single correctly-rounded cast each,
    * welch discipline), floor-quantized 1e8; effective count = 1/HHI
    * floored at 2dp. Scale: one customer-grain aggregate + 1-row
    * reduce. */
  val aggHhiConcentration: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val perCust = table(s, d, "orders")
      .groupBy(col("o_custkey")).agg(sum(cents).as("r"))
    val agg = perCust.agg(count(lit(1)).as("n_cust"),
      sum(col("r")).as("tot"),
      sum((col("r").cast(dec38) * col("r")).cast(dec38)).as("sq"))
    val hhi = col("sq").cast(DoubleType) /
      (col("tot").cast(DoubleType) * col("tot").cast(DoubleType))
    agg.select(asLong(col("n_cust")).as("n_cust"),
      floor(hhi * 1e8).cast(LongType).as("hhi_q8"),
      (floor(lit(1.0) / hhi * 100) / 100).as("effective_customers"))
  }

  /** Simpson's-paradox slope check (§2.40): the OLS slope of line
    * price (cents) on quantity per return-flag segment NEXT TO the
    * pooled slope — the aggregation-bias audit every segmented metric
    * readout needs (a pooled trend can invert inside every segment
    * when segment mix confounds; flagged per segment as an exact SIGN
    * comparison on the INTEGER slope numerators, no float on the
    * decision path). Slope = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²), moments
    * exact BIGINT/DECIMAL(38,0) (welch discipline), value quantized
    * 1e6 for display. Scale: one segment-grain aggregate + a 3-row
    * reduce broadcast back. */
  val aggSimpsonSlopeFlip: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val li = table(s, d, "lineitem").select(
      col("l_returnflag").as("seg"),
      col("l_quantity").cast(LongType).as("x"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("y"))
    def moments(df: DataFrame) = df.agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(dec38) * col("x")).as("sxx"),
      sum(col("x").cast(dec38) * col("y")).as("sxy"))
    val bySeg = li.groupBy(col("seg")).agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(dec38) * col("x")).as("sxx"),
      sum(col("x").cast(dec38) * col("y")).as("sxy"))
    val pooled = moments(li).select(
      col("n").as("pn"), col("sx").as("psx"), col("sy").as("psy"),
      col("sxx").as("psxx"), col("sxy").as("psxy"))
    def num(n: Column, sxy: Column, sx: Column, sy: Column) =
      (n.cast(dec38) * sxy - sx.cast(dec38) * sy.cast(dec38)).cast(dec38)
    def den(n: Column, sxx: Column, sx: Column) =
      (n.cast(dec38) * sxx - sx.cast(dec38) * sx.cast(dec38)).cast(dec38)
    val sNum = num(col("n"), col("sxy"), col("sx"), col("sy"))
    val sDen = den(col("n"), col("sxx"), col("sx"))
    val pNum = num(col("pn"), col("psxy"), col("psx"), col("psy"))
    val pDen = den(col("pn"), col("psxx"), col("psx"))
    bySeg.crossJoin(broadcast(pooled))
      .select(col("seg"), asLong(col("n")).as("n_lines"),
        floor(sNum.cast(DoubleType) / sDen.cast(DoubleType) * 1e6)
          .cast(LongType).as("slope_q6"),
        floor(pNum.cast(DoubleType) / pDen.cast(DoubleType) * 1e6)
          .cast(LongType).as("pooled_slope_q6"),
        // the paradox flag compares EXACT integer numerator signs
        // (denominators are positive sums of squares)
        (signum(sNum.cast(DoubleType)) =!= signum(pNum.cast(DoubleType)))
          .as("sign_flipped"))
      .orderBy("seg")
  }

  /** Hill tail-index estimator (§2.40): how heavy is the upper tail of
    * order values — α̂ = k / Σᵢ ln(xᵢ/x₍ₖ₊₁₎) over the top k=100 order
    * statistics (α < 2 ⇒ infinite variance: means/CIs on spend are
    * lies; the Gumbel block-maxima read in ts_extreme_value_moments
    * assumes a LIGHT tail — this is the test of that assumption).
    * Exactness: the top-101 values are exact BIGINT cents picked by a
    * total key (value desc, orderkey); each ln term is ln of an
    * exact-integer-ratio double, floor-quantized 1e6 BEFORE the BIGINT
    * sum; α̂_q6 = 1e14 div Σq — pure integer division. Scale: ONE
    * distributed TakeOrderedAndProject (k+1 rows), then a bounded
    * window + 1-row reduce. */
  val aggTailIndexHill: Q = (s, d) => {
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val top = table(s, d, "orders")
      .select(cents.as("v"), col("o_orderkey").as("okey"))
      .orderBy(col("v").desc, col("okey")).limit(101)
    val w = Window.orderBy(col("v").desc, col("okey"))
    val ranked = top.withColumn("rn", row_number().over(w))
    val xref = ranked.filter(col("rn") === 101)
      .select(col("v").as("x_ref"))
    val terms = ranked.filter(col("rn") <= 100)
      .crossJoin(broadcast(xref))
      .select(floor(log(col("v").cast(DoubleType) /
        col("x_ref").cast(DoubleType)) * 1e6).cast(LongType).as("lq"),
        col("x_ref"))
    terms.groupBy(col("x_ref"))
      .agg(count(lit(1)).as("k"), sum(col("lq")).as("sum_ln_q6"))
      .select(asLong(col("k")).as("k"), asLong(col("x_ref")).as("x_ref_cents"),
        col("sum_ln_q6"),
        expr("(k * 1000000000000) div sum_ln_q6").as("alpha_q6"))
  }

  /** Two-way ANOVA with interaction (§2.41): order value by market
    * segment × order priority — agg_anova_f asks "does the mean differ
    * across ONE factor"; this decomposes the variance across BOTH
    * factors AND their interaction, the readout that tells a pricing
    * analyst whether priority effects are segment-specific (a large
    * F_inter) or additive. Unbalanced cells use the proportional
    * (Type-I cell-means) decomposition: SS_cells = Σ_c S_c²/n_c − C,
    * marginal SS_A/SS_B likewise, SS_AB = SS_cells − SS_A − SS_B,
    * SS_within = SS_total − SS_cells — the convention is stated
    * because unbalanced two-way SS are convention-dependent.
    * Exactness: cell sums are exact DECIMAL(38,0) cents and Σy²
    * DECIMAL cents² (↔ HUGEINT); each bounded group's S²/n term
    * floor-quantizes to integer dollars² on identical doubles before
    * the exact sum (the agg_anova_f recipe at a money-safe scale); F values are one double tree.
    * Scale: ONE map-combined (seg, prio) fact aggregate (the
    * customer join broadcasts the dimension); marginals and totals
    * reduce the 25-cell bounded relation. */
  val aggAnovaTwoWay: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val y = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val cells = table(s, d, "orders")
      .join(broadcast(table(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"), sum(y.cast(dec38)).as("sc"),
        sum(y.cast(dec38) * y).as("ssq"))
      .localCheckpoint(true)
    // S²/n terms in dollars (cents/1e2), floor-quantized at 1e6 per
    // bounded group BEFORE the exact sum — order-independent reduce
    // NOT x1e6: S²/n · 1e6 is ~1e19 already at sf0.001, past Long,
    // where Spark's floor→LONG saturates while the oracle's HUGEINT
    // doesn't (measured divergence); integer-dollar² terms hold to
    // ~1.5e8 rows/group at this value domain — past that, loud.
    def qTerm(sCol: Column, nCol: Column): Column =
      floor((sCol.cast(DoubleType) / 1e2) * (sCol.cast(DoubleType) / 1e2) /
        nCol.cast(DoubleType)).cast(DecimalType(38, 0))
    val byCell = cells.agg(count(lit(1)).as("kc"), sum(col("n")).as("nn"),
      sum(col("sc")).as("stot"), sum(col("ssq")).as("ssqtot"),
      sum(qTerm(col("sc"), col("n"))).as("qcell"))
    val byA = cells.groupBy(col("seg"))
      .agg(sum(col("sc")).as("sa"), sum(col("n")).as("na"))
      .agg(count(lit(1)).as("ka"), sum(qTerm(col("sa"), col("na"))).as("qa"))
    val byB = cells.groupBy(col("prio"))
      .agg(sum(col("sc")).as("sb"), sum(col("n")).as("nb"))
      .agg(count(lit(1)).as("kb"), sum(qTerm(col("sb"), col("nb"))).as("qb"))
    val t = byCell.crossJoin(broadcast(byA)).crossJoin(broadcast(byB))
    val nd = col("nn").cast(DoubleType)
    val stotD = col("stot").cast(DoubleType) / 1e2
    val grand = stotD * stotD / nd
    val ssCells = col("qcell").cast(DoubleType) - grand
    val ssA = col("qa").cast(DoubleType) - grand
    val ssB = col("qb").cast(DoubleType) - grand
    val ssAB = ssCells - ssA - ssB
    val ssTot = col("ssqtot").cast(DoubleType) / 1e4 - grand
    val ssW = ssTot - ssCells
    val dfA = col("ka").cast(DoubleType) - 1.0
    val dfB = col("kb").cast(DoubleType) - 1.0
    val dfAB = dfA * dfB
    val dfW = nd - col("kc").cast(DoubleType)
    val msW = ssW / dfW
    // ss values are dollars² ~1e14 at sf0.1 — round(x, k) there is the
    // §5.3 knife-edge; floor of identical doubles is engine-independent
    t.select(asLong(col("nn")).as("n"), asLong(col("ka")).as("k_seg"),
      asLong(col("kb")).as("k_prio"), asLong(col("kc")).as("k_cells"),
      asLong(floor(ssA)).as("ss_seg"), asLong(floor(ssB)).as("ss_prio"),
      asLong(floor(ssAB)).as("ss_inter"), asLong(floor(ssW)).as("ss_within"),
      asLong(floor(ssA / dfA / msW * 1e6)).as("f_seg_q6"),
      asLong(floor(ssB / dfB / msW * 1e6)).as("f_prio_q6"),
      asLong(floor(ssAB / dfAB / msW * 1e6)).as("f_inter_q6"))
  }

  /** Quantile treatment effects (§2.42): per-decile difference between
    * the treatment and control order-value distributions (arms =
    * deterministic md5 split) — agg_welch_ttest reads the MEAN shift;
    * QTE reads WHERE in the distribution the effect lives (a whale-only
    * lift shows at q90 and nowhere else; agg_qq_price_segments plots
    * two segments, this contrasts experiment arms). Exactness: type-1
    * discrete quantiles — the value at per-arm rank ceil(q·n/10) =
    * (q·n+9) div 10, pure integers end to end, zero interpolation.
    * Scale (round 16): the per-arm order statistics come from
    * ExactQuantile's bounded two-pass histogram (map-combined, shuffle
    * bounded by histogram width) — no fact sort, no window, never a
    * per-arm single-task anything. */
  val aggQuantileTreatmentEffect: Q = (s, d) => {
    // round 16: the per-arm decile order statistics (the ⌈q·n/10⌉-th
    // smallest y per arm) come from ExactQuantile.valueAtRanks — two
    // bounded map-combined histogram passes per the object scaladoc —
    // instead of the old GlobalRank range shuffle + persist + offsets
    // collect over the whole fact (1.6 → ~0.5 CPU-s at sf0.1; values
    // at a rank of the (y, key)-ordered relation ARE the rank-counted
    // multiset order statistics, so the selected cents are identical).
    import s.implicits._
    val arms = table(s, d, "orders")
      .select((Sampling.bucket16(col("o_orderkey")) % 2).as("arm"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("y"))
    def deciles(n: Long): Seq[Long] =
      (1L to 9L).map(q => (q * n + 9) / 10 - 1)
    val stats = ExactQuantile.valueAtRanks(arms, col("y"),
      Some(col("arm")), deciles, 65536.0)
    val (n0, at0) = stats("0")
    val (n1, at1) = stats("1")
    (1 to 9).map { q =>
      (q.toLong,
        at0((q * n0 + 9) / 10 - 1).toLong,
        at1((q * n1 + 9) / 10 - 1).toLong)
    }.toDF("decile", "ctrl_cents", "treat_cents")
      .select(asLong(col("decile")).as("decile"),
        asLong(col("ctrl_cents")).as("ctrl_cents"),
        asLong(col("treat_cents")).as("treat_cents"),
        asLong(col("treat_cents") - col("ctrl_cents")).as("qte_cents"))
      .orderBy("decile")
  }

  /** Intraclass correlation ICC(1) (§2.43): how much of order-value
    * variance lives BETWEEN customers vs within them — the number
    * that decides whether per-customer clustering must be modeled
    * (clustered standard errors, cluster-randomized experiments:
    * design effect ≈ 1 + (m̄−1)·ICC). One-way random-effects
    * components with the unbalanced-size correction
    * k₀ = (N − Σnᵢ²/N)/(k−1). Exactness: per-customer sums are exact
    * DECIMAL cents; each Sᵢ²/nᵢ term floors to integer dollars²
    * per customer before the exact sum (the agg_anova_two_way money
    * recipe; error ≤ k dollars² against ~1e13 components); Σnᵢ² is
    * exact; MSB/MSW/k₀/ICC evaluate one double tree. Scale: ONE
    * customer-grain map-combined aggregate + a 1-row reduce. */
  val aggIccIntraclass: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val y = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val perC = table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("ni"), sum(y.cast(dec38)).as("si"),
        sum(y.cast(dec38) * y).as("ssqi"))
    val term = floor((col("si").cast(DoubleType) / 1e2) *
      (col("si").cast(DoubleType) / 1e2) / col("ni").cast(DoubleType))
      .cast(dec38)
    val t = perC.agg(count(lit(1)).as("k"), sum(col("ni")).as("n"),
      sum(col("si")).as("st"), sum(col("ssqi")).as("ssqt"),
      sum(term).as("qb"), sum(col("ni") * col("ni")).as("sn2"))
    val nd = col("n").cast(DoubleType)
    val kd = col("k").cast(DoubleType)
    val stD = col("st").cast(DoubleType) / 1e2
    val grand = stD * stD / nd
    val ssb = col("qb").cast(DoubleType) - grand
    val ssw = col("ssqt").cast(DoubleType) / 1e4 - col("qb").cast(DoubleType)
    val msb = ssb / (kd - 1.0)
    val msw = ssw / (nd - kd)
    val k0 = (nd - col("sn2").cast(DoubleType) / nd) / (kd - 1.0)
    val icc = (msb - msw) / (msb + (k0 - 1.0) * msw)
    t.select(asLong(col("n")).as("n_orders"), asLong(col("k")).as("k_customers"),
      asLong(floor(msb)).as("msb_floor"), asLong(floor(msw)).as("msw_floor"),
      asLong(floor(k0 * 1e6)).as("k0_q6"),
      asLong(floor(icc * 1e6)).as("icc_q6"))
  }

  /** Partial correlation (§2.43): corr(quantity, line price) with the
    * discount level HELD FIXED — agg_corr_regr reads the raw
    * association; this removes the confounder a pricing analyst knows
    * is there (discount moves both quantity and realized price), the
    * first-order "controlling for" read before any regression:
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)). Exactness:
    * all 2nd-order moment sums accumulate DECIMAL(38,0) ↔ HUGEINT on
    * the 2dp-exact grids (quantity, cents, discount·100); the three
    * pairwise r's and the partial evaluate in one fixed double tree,
    * each floored at 1e6. Scale: ONE map-combined fact aggregate —
    * a single linear scan, no joins. */
  val aggPartialCorr: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val x = dec2(col("l_quantity")).cast(LongType).cast(dec38)
    val yv = (dec2(col("l_extendedprice")) * 100).cast(LongType).cast(dec38)
    val z = (dec2(col("l_discount")) * 100).cast(LongType).cast(dec38)
    val t = table(s, d, "lineitem").agg(count(lit(1)).as("n"),
      sum(x).as("sx"), sum(yv).as("sy"), sum(z).as("sz"),
      sum(x * x).as("sxx"), sum(yv * yv).as("syy"), sum(z * z).as("szz"),
      sum(x * yv).as("sxy"), sum(x * z).as("sxz"), sum(yv * z).as("syz"))
    def D(c: String) = col(c).cast(DoubleType)
    val nd = col("n").cast(DoubleType)
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      (nd * D(sab) - D(sa) * D(sb)) /
        sqrt((nd * D(saa) - D(sa) * D(sa)) * (nd * D(sbb) - D(sb) * D(sb)))
    val rxy = r("sxy", "sx", "sy", "sxx", "syy")
    val rxz = r("sxz", "sx", "sz", "sxx", "szz")
    val ryz = r("syz", "sy", "sz", "syy", "szz")
    val pc = (rxy - rxz * ryz) /
      sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    t.select(asLong(col("n")).as("n"),
      asLong(floor(rxy * 1e6)).as("r_xy_q6"),
      asLong(floor(rxz * 1e6)).as("r_xz_q6"),
      asLong(floor(ryz * 1e6)).as("r_yz_q6"),
      asLong(floor(pc * 1e6)).as("partial_r_q6"))
  }

  /** 1-D Wasserstein distance (§2.45): the earth-mover's distance
    * between the click and purchase value distributions — agg_ks_test
    * reads the WORST ECDF gap, W₁ integrates ALL of it (two
    * distributions can share their KS point yet differ wildly in
    * transported mass; W₁ is the drift magnitude a retraining trigger
    * actually wants, in cents). W₁ = Σ |F₁(v)−F₂(v)|·Δv over the
    * value grid. Exactness: scaled by n₁·n₂ every step is the exact
    * integer |cum1·n₂ − cum2·n₁| · Δcents accumulated in
    * DECIMAL(38,0) ↔ HUGEINT; ONE division at the end, floored 1e4.
    * Scale: reuses the SHARED GlobalRank ECDF relation (built once
    * per session, the ks/mann-whitney lineage); the step window rides
    * the domain-bounded distinct-value grid. */
  val aggWasserstein1d: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val cum = cpEcdf(s, d)
      .select((dec2(col("v")) * 100).cast(LongType).as("vc"),
        col("cum1"), col("cum2"))
    val tot = cum.agg(max(col("cum1")).as("n1"), max(col("cum2")).as("n2"),
      count(lit(1)).as("npts"))
    val wV = Window.orderBy(col("vc"))
    val steps = cum
      .withColumn("dv", lead(col("vc"), 1).over(wV) - col("vc"))
      .filter(col("dv").isNotNull)
      .crossJoin(broadcast(tot))
      .select(col("n1"), col("n2"), col("npts"),
        // cast BEFORE the multiply: cum·n products must already be
        // DECIMAL(38,0) (HUGEINT in the oracle) or they wrap in 64-bit
        // past ~3e9 events per arm while DuckDB errors
        (abs(col("cum1").cast(dec38) * col("n2") -
          col("cum2").cast(dec38) * col("n1")) * col("dv")).as("term"))
    steps.groupBy(col("n1"), col("n2"), col("npts"))
      .agg(sum(col("term")).as("scaled"))
      .select(asLong(col("n1")).as("n1"), asLong(col("n2")).as("n2"),
        asLong(col("npts")).as("n_points"),
        asLong(floor(col("scaled").cast(DoubleType) /
          (col("n1").cast(DoubleType) * col("n2").cast(DoubleType)) * 1e4))
          .as("w1_cents_q4"))
  }

  /** Bivariate Mahalanobis outliers (§2.45): the 20 lineitems whose
    * (quantity, price) pair is furthest from the joint distribution in
    * covariance-adjusted distance — agg_iqr_outliers screens each
    * margin alone and misses exactly the points that are unremarkable
    * per-axis but impossible JOINTLY (tiny quantity at huge price);
    * d² = (Δᵀ Σ⁻¹ Δ) with the closed-form 2×2 inverse. Exactness: the
    * five moments accumulate DECIMAL(38,0) ↔ HUGEINT; every row's d²
    * is one fixed double tree over exact broadcast scalars, floored
    * 1e6 with (orderkey, linenumber) ties. Scale: ONE moment
    * aggregate + ONE fused rescan with the 1-row moments broadcast;
    * the cut is a distributed TakeOrderedAndProject. */
  val aggMahalanobisOutliers: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val x = dec2(col("l_quantity")).cast(LongType)
    val yv = (dec2(col("l_extendedprice")) * 100).cast(LongType)
    val li = table(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        x.as("x"), yv.as("y"))
    val m = li.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec38)).as("sx"), sum(col("y").cast(dec38)).as("sy"),
      sum(col("x").cast(dec38) * col("x")).as("sxx"),
      sum(col("y").cast(dec38) * col("y")).as("syy"),
      sum(col("x").cast(dec38) * col("y")).as("sxy"))
    def D(c: String) = col(c).cast(DoubleType)
    val nd = col("n").cast(DoubleType)
    val mx = D("sx") / nd
    val my = D("sy") / nd
    val vx = D("sxx") / nd - mx * mx
    val vy = D("syy") / nd - my * my
    val cv = D("sxy") / nd - mx * my
    val det = vx * vy - cv * cv
    val dx = col("x").cast(DoubleType) - mx
    val dy = col("y").cast(DoubleType) - my
    val d2 = (dx * dx * vy - lit(2.0) * dx * dy * cv + dy * dy * vx) / det
    li.crossJoin(broadcast(m))
      .select(col("l_orderkey"), col("l_linenumber"),
        asLong(col("x")).as("quantity"), asLong(col("y")).as("price_cents"),
        asLong(floor(d2 * 1e6)).as("d2_q6"))
      .orderBy(col("d2_q6").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(20)
  }

  /** Bucketed-join roundtrip (§2.45): orders and customer written as
    * BUCKETED managed tables on c/o_custkey (8 buckets, sorted) and
    * joined WITHOUT A SINGLE EXCHANGE (EngineSpec pins zero shuffles
    * under the join) — bucketing is the write-side layout lever that
    * makes the repeated big-dim join free at 100 TB, and this query is
    * the declared-contract proof (the oracle aggregates the ORIGINAL
    * parquet, so bucket routing that lost or duplicated one row fails
    * the hash gate). */
  val srcBucketedRoundtrip: Q = (s, d) => {
    val o = graft.sources.Sources.bucketed(s, d, "orders", "o_custkey", 8)
    val c = graft.sources.Sources.bucketed(s, d, "customer", "c_custkey", 8)
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(asLong(count(lit(1))).as("n_orders"),
        asLong(countDistinct(col("o_custkey"))).as("n_customers"),
        asLong(sum((dec2(col("o_totalprice")) * 100).cast(LongType)))
          .as("revenue_cents"))
      .orderBy("c_mktsegment")
  }

  /** Mood's median test (§2.49): do click and purchase values sit on
    * the same side of the POOLED median equally often? The
    * median-robust two-sample test completing the family — KS reads
    * the worst ECDF gap, Mann–Whitney the rank mass, W₁ the
    * transported mass; Mood's is the coarse-but-assumption-free 2×2
    * census a monitoring gate wants when tails are wild (it only
    * trusts the counts). Pooled lower median selected by the integer
    * rule 2·cum ≥ n + (n mod 2); χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d))
    * — exact DECIMAL(38,0) ↔ HUGEINT integer arithmetic, ONE integer
    * division, q6. Scale: reuses the SHARED GlobalRank ECDF relation
    * (the ks/mann-whitney/wasserstein lineage) — everything after
    * runs on the domain-bounded distinct-value grid. */
  val aggMoodMedianTest: Q = (s, d) => {
    val cum = cpEcdf(s, d)
      .select((dec2(col("v")) * 100).cast(LongType).as("vc"),
        col("cum1"), col("cum2"))
      .localCheckpoint(true) // two consumers: totals+median, at-median row
    val tot = cum.agg(max(col("cum1")).as("n1"), max(col("cum2")).as("n2"))
    val med = cum.crossJoin(broadcast(tot))
      .filter(lit(2) * (col("cum1") + col("cum2")) >=
        (col("n1") + col("n2")) + pmod(col("n1") + col("n2"), lit(2)))
      .agg(min(col("vc")).as("m"))
    cum.crossJoin(broadcast(med)).filter(col("vc") === col("m"))
      .crossJoin(broadcast(tot))
      .select(col("m").as("median_cents"),
        (col("n1") - col("cum1")).as("a"), col("cum1").as("b"),
        (col("n2") - col("cum2")).as("c"), col("cum2").as("dd"))
      .select(asLong(col("median_cents")).as("median_cents"),
        asLong(col("a")).as("click_above"), asLong(col("b")).as("click_le"),
        asLong(col("c")).as("purchase_above"),
        asLong(col("dd")).as("purchase_le"),
        // each ad−bc factor promotes an OPERAND to DECIMAL(38,0) before
        // the multiply (not just the product) — a·dd alone wraps 64-bit
        // past ~3e9 events per cell, the agg_wasserstein_1d overflow
        // class; the oracle HUGEINT-casts identically
        asLong(expr(
          """((a + b + c + dd) *
             (cast(a as decimal(38,0)) * dd - cast(b as decimal(38,0)) * c)
             * (cast(a as decimal(38,0)) * dd - cast(b as decimal(38,0)) * c)
             * 1000000) div
             (cast(a + b as decimal(38,0)) * (c + dd) * (a + c) * (b + dd))"""))
          .as("chi2_q6"))
  }

  /** k-anonymity / l-diversity census (§2.50): the PRIVACY readout
    * beside PII detection — under the quasi-identifier pair
    * (nation, market segment), how many customers sit in groups of
    * size k (small groups are re-identifiable), and how diverse is
    * the sensitive attribute (account-balance band) within them
    * (k-anonymous but l=1 still leaks the value). The census a
    * release-review runs BEFORE publishing "anonymized" aggregates.
    * Exactness: pure integer group sizes + distinct counts; the
    * share is one integer division. Scale: one dimension-grain
    * aggregate + a |distinct sizes| census — map-combined, no joins
    * beyond the 1-row total broadcast. */
  val aggKAnonymity: Q = (s, d) => {
    val g = table(s, d, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        countDistinct(floor(col("c_acctbal") / 1000).cast(LongType)).as("l"))
    val tot = g.agg(sum(col("n")).as("tot"))
    g.crossJoin(broadcast(tot))
      .groupBy(col("n"), col("tot"))
      .agg(count(lit(1)).as("n_groups"), sum(col("n")).as("n_customers"),
        min(col("l")).as("l_min"))
      .select(asLong(col("n")).as("group_size"),
        asLong(col("n_groups")).as("n_groups"),
        asLong(col("n_customers")).as("n_customers"),
        asLong(col("l_min")).as("l_min"),
        asLong(when(col("n") < 5, 1L).otherwise(0L)).as("below_k5"),
        expr("(n_customers * 1000000) div tot").as("share_q6"))
      .orderBy("group_size")
  }

  /** Wilcoxon signed-rank test (§2.50): the PAIRED two-sample test —
    * per day, clicks vs purchases are a natural pair (same day, same
    * traffic), so mann_whitney's unpaired ranks waste the pairing;
    * Wilcoxon ranks |click−purchase| with zero-diff days dropped and
    * AVERAGE ranks on ties, and reads how one-sided the signed rank
    * mass is. Exactness: doubled average ranks are exact integers
    * (2·avg = 2·cum_less + ties + 1); W⁺ₓ₂ + W⁻ₓ₂ = n(n+1) by
    * construction (the spec-checkable invariant). Scale: one
    * date-grain aggregate; the tie census and exclusive running sum
    * ride the |distinct diffs| relation. */
  val aggWilcoxonSignedRank: Q = (s, d) => {
    val daily = table(s, d, "events")
      .groupBy(col("ts").cast(DateType).as("dt"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("p"))
      .filter(col("c") =!= col("p"))
      .select((col("c") - col("p")).as("diff"), abs(col("c") - col("p")).as("ad"))
    val byv = daily.groupBy(col("ad"))
      .agg(count(lit(1)).as("ce"),
        sum(when(col("diff") > 0, 1L).otherwise(0L)).as("pos"))
    val wEx = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byv
      .withColumn("cl", coalesce(sum(col("ce")).over(wEx), lit(0L)))
      .agg(sum(col("ce")).as("n_eff"),
        sum(col("pos") * (lit(2) * col("cl") + col("ce") + 1)).as("wp"),
        sum((col("ce") - col("pos")) * (lit(2) * col("cl") + col("ce") + 1))
          .as("wm"))
      .select(asLong(col("n_eff")).as("n_eff"),
        asLong(col("wp")).as("w_plus_x2"), asLong(col("wm")).as("w_minus_x2"),
        asLong(col("n_eff") * (col("n_eff") + 1)).as("check_sum"))
  }

  /** Brown–Forsythe robust variance-homogeneity test (§2.53): the
    * assumption check agg_anova_f silently makes — are the order-value
    * spreads equal across the three order statuses? BF is Levene's
    * test on |x − group MEDIAN| (median, not mean, so heavy tails
    * can't fake heterogeneity). Group medians are the LOWER medians in
    * exact cents (the agg_mood_median_test integer rule 2·cum ≥
    * n + (n mod 2) — a documented convention so every deviation is an
    * exact BIGINT), found scale-safely by [[ExactQuantile.valueAtRanks]]
    * at rank (n−1) div 2. Per-group Σz and Σz² fold as exact
    * DECIMAL(38,0); the three groups PIVOT to one row, so the final
    * F's double tree has ONE deterministic evaluation order in both
    * engines (no cross-partition double summation anywhere). Scale:
    * the two-pass bucketed median + one fused deviation scan — all
    * map-combined, wall ≪ CPU by construction. */
  val aggBrownForsythe: Q = (s, d) => {
    val o = table(s, d, "orders")
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val med = ExactQuantile.valueAtRanks(
      o.select(col("o_orderstatus"), cents.cast(DoubleType).as("vc")),
      col("vc"), Some(col("o_orderstatus")),
      n => Seq((n - 1) / 2), bucketWidth = 6400.0)
    val mExpr = med.foldLeft(lit(null).cast(LongType): Column) {
      case (acc, (g, (_, at))) =>
        when(col("o_orderstatus") === g, lit(at.head._2.toLong)).otherwise(acc)
    }
    val grp = o.select(col("o_orderstatus").as("g"),
        abs(cents - mExpr).as("zc"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"),
        sum(col("zc").cast(DecimalType(38, 0))).as("sg"),
        // operand promoted BEFORE the multiply (the mood-median
        // overflow class): zc² alone would wrap 64-bit past ~3e9 cents
        sum(col("zc").cast(DecimalType(38, 0)) * col("zc")).as("qg"))
    def pick(g: String, c: String) =
      max(when(col("g") === g, col(c))).as(c + "_" + g.toLowerCase)
    val one = grp.agg(
      pick("F", "ng"), pick("F", "sg"), pick("F", "qg"),
      pick("O", "ng"), pick("O", "sg"), pick("O", "qg"),
      pick("P", "ng"), pick("P", "sg"), pick("P", "qg"))
    def dbl(c: String) = col(c).cast(DoubleType)
    val a = dbl("sg_f") * dbl("sg_f") / dbl("ng_f") +
      dbl("sg_o") * dbl("sg_o") / dbl("ng_o") +
      dbl("sg_p") * dbl("sg_p") / dbl("ng_p")
    val nTot = col("ng_f") + col("ng_o") + col("ng_p")
    val sTot = (col("sg_f") + col("sg_o") + col("sg_p")).cast(DoubleType)
    val qTot = (col("qg_f") + col("qg_o") + col("qg_p")).cast(DoubleType)
    val ssb = a - sTot * sTot / nTot.cast(DoubleType)
    val ssw = qTot - a
    one.select(Seq(asLong(nTot).as("n_rows"),
        asLong(lit(3)).as("k_groups")) ++
      med.toSeq.sortBy(_._1).map { case (g, (_, at)) =>
        lit(at.head._2.toLong).as("med_cents_" + g.toLowerCase)
      } ++
      Seq(asLong(floor(
        (ssb / 2) / (ssw / (nTot.cast(DoubleType) - 3)) * 1e6)).as("f_q6")): _*)
  }

  // ---- §2.56 (round 15) ----

  /** Quantile skewness of order value (§2.56): Bowley's quartile
    * coefficient (q3+q1−2·med)/(q3−q1) and Kelly's decile widening
    * (p90+p10−2·med)/(p90−p10) — the robust skewness reads that, unlike
    * agg_higher_moments' third moment, a single whale order cannot
    * move. Thresholds via [[ExactQuantile.quantiles]] (bit-identical
    * to quantile_cont — the agg_median_quantile contract); each
    * coefficient is ONE driver-side double tree over those identical
    * doubles, floor-quantized q6; the quantiles themselves floor to
    * 2dp for display (the winsorized knife-edge rule). Scale: two
    * bounded ExactQuantile passes — no data-sized percentile buffer,
    * no shuffle beyond the bucket histogram. */
  val aggQuantileSkew: Q = (s, d) => {
    val (n, qm) = ExactQuantile.quantiles(table(s, d, "orders"),
      col("o_totalprice"), None, Seq(0.10, 0.25, 0.50, 0.75, 0.90),
      bucketWidth = 64.0)("")
    val (q10, q25, q50, q75, q90) =
      (qm(0.10), qm(0.25), qm(0.50), qm(0.75), qm(0.90))
    val bowley = (q75 + q25 - 2.0 * q50) / (q75 - q25)
    val kelly = (q90 + q10 - 2.0 * q50) / (q90 - q10)
    val spark = s
    import spark.implicits._
    Seq((n, q10, q25, q50, q75, q90,
        math.floor(bowley * 1e6).toLong, math.floor(kelly * 1e6).toLong))
      .toDF("n0", "q10r", "q25r", "q50r", "q75r", "q90r", "b6", "k6")
      .select(col("n0").as("n"),
        (floor(col("q10r") * 100) / 100.0).as("q10"),
        (floor(col("q25r") * 100) / 100.0).as("q25"),
        (floor(col("q50r") * 100) / 100.0).as("q50"),
        (floor(col("q75r") * 100) / 100.0).as("q75"),
        (floor(col("q90r") * 100) / 100.0).as("q90"),
        col("b6").as("bowley_q6"), col("k6").as("kelly_q6"))
  }

  /** Grubbs extreme-outlier statistics (§2.56): G = (max−mean)/s and
    * (mean−min)/s over order-value cents — the single-most-extreme
    * screen beside agg_iqr_outliers' fence census (Grubbs asks "is THE
    * maximum an outlier", the fences ask "how many are"). All inputs
    * exact: BIGINT cents, DECIMAL(38,0) Σ and Σ² (operand promoted
    * before the multiply, the mood-median overflow rule), integer
    * max/min; both statistics evaluate in one fixed double tree,
    * floored q6. Scale: ONE map-combined aggregate, nothing else. */
  val aggGrubbsMax: Q = (s, d) => {
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val agg = table(s, d, "orders")
      .select(cents.as("v"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast(DecimalType(38, 0))).as("sv"),
        sum(col("v").cast(DecimalType(38, 0)) * col("v")).as("qv"),
        max(col("v")).as("mx"), min(col("v")).as("mn"))
    val nd = col("n").cast(DoubleType)
    val sd0 = sqrt((col("qv").cast(DoubleType) -
      col("sv").cast(DoubleType) * col("sv").cast(DoubleType) / nd) /
      (nd - 1.0))
    val mean = col("sv").cast(DoubleType) / nd
    agg.select(asLong(col("n")).as("n"),
      asLong(col("mx")).as("max_cents"), asLong(col("mn")).as("min_cents"),
      asLong(floor((col("mx").cast(DoubleType) - mean) / sd0 * 1e6))
        .as("g_max_q6"),
      asLong(floor((mean - col("mn").cast(DoubleType)) / sd0 * 1e6))
        .as("g_min_q6"))
  }

  /** Kruskal–Wallis k-sample rank test (§2.56): does order value
    * differ across the three order statuses — the k-group extension of
    * agg_mann_whitney (same doubled-average-rank discipline: for each
    * distinct cent value, 2·avgrank = 2·pooled-count-below + ties + 1,
    * so every per-group rank sum R2ⱼ is an exact integer) with the
    * standard tie-correction divisor 1 − Σ(t³−t)/(N³−N). H evaluates
    * in ONE fixed double tree over the exact totals (the 3 groups
    * pivot to one row — brown_forsythe's deterministic-order rule),
    * floored q6. Scale: one value-grain aggregate; pooled cumulative
    * counts ride [[GlobalRank.withRunningSum]]'s range-partitioned
    * two-pass (never a single-task window); the rank-sum fold
    * map-combines. */
  val aggKruskalWallis: Q = (s, d) => {
    val e = table(s, d, "orders").select(col("o_orderstatus").as("g"),
      (dec2(col("o_totalprice")) * 100).cast(LongType).as("v"))
    val grain = e.groupBy(col("v")).agg(count(lit(1)).as("c"),
      sum(when(col("g") === "F", 1L).otherwise(0L)).as("cf"),
      sum(when(col("g") === "O", 1L).otherwise(0L)).as("co"),
      sum(when(col("g") === "P", 1L).otherwise(0L)).as("cp"))
    val cum = GlobalRank.withRunningSum(grain, Seq(col("v")), "c", "cumall")
    val b4 = col("cumall") - col("c")
    def r2(cg: String) = sum((col(cg) * (lit(2L) * b4 + col("c") + 1L))
      .cast(DecimalType(38, 0)))
    val t = cum.agg(r2("cf").as("r2f"), r2("co").as("r2o"), r2("cp").as("r2p"),
      sum((col("c") * col("c") * col("c") - col("c"))
        .cast(DecimalType(38, 0))).as("ties"),
      sum(col("cf")).as("nf"), sum(col("co")).as("no_"),
      sum(col("cp")).as("np_"))
    def dbl(c: String) = col(c).cast(DoubleType)
    val nd = (col("nf") + col("no_") + col("np_")).cast(DoubleType)
    val a = dbl("r2f") * dbl("r2f") / (lit(4.0) * dbl("nf")) +
      dbl("r2o") * dbl("r2o") / (lit(4.0) * dbl("no_")) +
      dbl("r2p") * dbl("r2p") / (lit(4.0) * dbl("np_"))
    val h0 = lit(12.0) / (nd * (nd + 1.0)) * a - lit(3.0) * (nd + 1.0)
    val corr = lit(1.0) - dbl("ties") / (nd * nd * nd - nd)
    t.select(asLong(col("nf") + col("no_") + col("np_")).as("n"),
      asLong(col("nf")).as("n_f"), asLong(col("no_")).as("n_o"),
      asLong(col("np_")).as("n_p"),
      asLong(col("r2f")).as("r2_f"), asLong(col("r2o")).as("r2_o"),
      asLong(col("r2p")).as("r2_p"),
      asLong(floor(h0 / corr * 1e6)).as("h_q6"))
  }

  /** Bartlett's variance-homogeneity test (§2.57): the PARAMETRIC
    * member beside agg_brown_forsythe — most powerful under normality,
    * fragile off it (which is why both ship; BF is the robust screen).
    * Per-group variances come from exact DECIMAL(38,0) Σ/Σ² (operands
    * promoted before the multiply); the three groups pivot to ONE row
    * so χ² = [(N−k)·ln(s²ₚ) − Σ(nᵢ−1)·ln(s²ᵢ)] / C with C = 1 +
    * [Σ1/(nᵢ−1) − 1/(N−k)] / (3(k−1)) evaluates in one deterministic
    * double tree, q6. Scale: ONE map-combined aggregate + a 3-row
    * pivot. */
  val aggBartlett: Q = (s, d) => {
    val o = table(s, d, "orders")
    val cents = (dec2(col("o_totalprice")) * 100).cast(LongType)
    val grp = o.select(col("o_orderstatus").as("g"), cents.as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("ng"),
        sum(col("v").cast(DecimalType(38, 0))).as("sg"),
        sum(col("v").cast(DecimalType(38, 0)) * col("v")).as("qg"))
    def pick(g: String, c: String) =
      max(when(col("g") === g, col(c))).as(c + "_" + g.toLowerCase)
    val one = grp.agg(
      pick("F", "ng"), pick("F", "sg"), pick("F", "qg"),
      pick("O", "ng"), pick("O", "sg"), pick("O", "qg"),
      pick("P", "ng"), pick("P", "sg"), pick("P", "qg"))
    def dbl(c: String) = col(c).cast(DoubleType)
    def a(g: String) =
      dbl("qg_" + g) - dbl("sg_" + g) * dbl("sg_" + g) / dbl("ng_" + g)
    def s2(g: String) = a(g) / (dbl("ng_" + g) - 1.0)
    val nd = (col("ng_f") + col("ng_o") + col("ng_p")).cast(DoubleType)
    val sp2 = (a("f") + a("o") + a("p")) / (nd - 3.0)
    val chi0 = (nd - 3.0) * log(sp2) -
      ((dbl("ng_f") - 1.0) * log(s2("f")) +
       (dbl("ng_o") - 1.0) * log(s2("o")) +
       (dbl("ng_p") - 1.0) * log(s2("p")))
    val cFac = lit(1.0) +
      (lit(1.0) / (dbl("ng_f") - 1.0) + lit(1.0) / (dbl("ng_o") - 1.0) +
        lit(1.0) / (dbl("ng_p") - 1.0) - lit(1.0) / (nd - 3.0)) / 6.0
    one.select(
      asLong(col("ng_f") + col("ng_o") + col("ng_p")).as("n"),
      asLong(col("ng_f")).as("n_f"), asLong(col("ng_o")).as("n_o"),
      asLong(col("ng_p")).as("n_p"),
      asLong(floor(chi0 / cFac * 1e6)).as("chi2_q6"))
  }

  /** Jonckheere–Terpstra ordered k-sample trend test (§2.57): the
    * ORDERED alternative agg_kruskal_wallis can't see (does order
    * value RISE along the status order F < O < P — statuses ordered
    * lexicographically, the declared convention). JT = Σ_{j<k} U_jk
    * over the three ordered pairs; each doubled U (2U = 2·#less +
    * #ties, the mann-whitney recipe) folds from the value-grain
    * per-group cumulative counts — ONE range shuffle computes all
    * three running sums ([[GlobalRank.withRunningSums]]). The z
    * standardization uses the classical UNTIED null moments
    * E = (N² − Σnᵢ²)/4, Var = [N²(2N+3) − Σnᵢ²(2nᵢ+3)]/72 (declared
    * semantics; ties exist in cents data, as in ts_page_trend's
    * untied moments). Exact integers throughout; one double tree q6.
    */
  val aggJonckheere: Q = (s, d) => {
    val e = table(s, d, "orders").select(col("o_orderstatus").as("g"),
      (dec2(col("o_totalprice")) * 100).cast(LongType).as("v"))
    val grain = e.groupBy(col("v")).agg(
      sum(when(col("g") === "F", 1L).otherwise(0L)).as("cf"),
      sum(when(col("g") === "O", 1L).otherwise(0L)).as("co"),
      sum(when(col("g") === "P", 1L).otherwise(0L)).as("cp"))
    val cum = GlobalRank.withRunningSums(grain, Seq(col("v")),
      Seq("cf" -> "cumf", "co" -> "cumo", "cp" -> "cump"))
    def u2(later: String, bCum: String, bCnt: String) =
      sum((col(later) * (lit(2L) * (col(bCum) - col(bCnt)) + col(bCnt)))
        .cast(DecimalType(38, 0)))
    val t = cum.agg(
      u2("co", "cumf", "cf").as("u2fo"),
      u2("cp", "cumf", "cf").as("u2fp"),
      u2("cp", "cumo", "co").as("u2op"),
      sum(col("cf")).as("nf"), sum(col("co")).as("no_"),
      sum(col("cp")).as("np_"))
    def dbl(c: String) = col(c).cast(DoubleType)
    val nd = (col("nf") + col("no_") + col("np_")).cast(DoubleType)
    def m(c: String) = dbl(c) * dbl(c) * (lit(2.0) * dbl(c) + 3.0)
    val jtd = (dbl("u2fo") + dbl("u2fp") + dbl("u2op")) / 2.0
    val ed = (nd * nd -
      (dbl("nf") * dbl("nf") + dbl("no_") * dbl("no_") +
        dbl("np_") * dbl("np_"))) / 4.0
    val vard = (nd * nd * (lit(2.0) * nd + 3.0) -
      (m("nf") + m("no_") + m("np_"))) / 72.0
    t.select(asLong(col("nf") + col("no_") + col("np_")).as("n"),
      asLong(col("nf")).as("n_f"), asLong(col("no_")).as("n_o"),
      asLong(col("np_")).as("n_p"),
      asLong(col("u2fo") + col("u2fp") + col("u2op")).as("jt_x2"),
      asLong(floor((jtd - ed) / sqrt(vard) * 1e6)).as("z_q6"))
  }

  /** G-test of daily order counts vs a uniform week (§2.56): the
    * likelihood-ratio companion to agg_chi2_dow — G = 2·Σ O·ln(O/E)
    * with E = N/7, the statistic that IS the deviance the chi-squared
    * approximates. Day-of-week from epoch-day % 7 (engine-identical
    * integer arithmetic — no DOW convention). Each of the 7 cell terms
    * floor-quantizes to BIGINT at 1e6 before the sum (the chi2/JSD
    * accumulation-order rule). Scale: one map-combined 7-cell
    * aggregate. */
  val aggGTestDow: Q = (s, d) => {
    val c = table(s, d, "orders")
      .groupBy(expr("datediff(o_orderdate, DATE '1970-01-01') % 7").as("dow"))
      .agg(count(lit(1)).as("o"))
    val tot = c.agg(sum(col("o")).as("n"))
    val term = lit(2.0) * col("o").cast(DoubleType) *
      log(col("o").cast(DoubleType) * 7.0 / col("n").cast(DoubleType))
    c.crossJoin(broadcast(tot))
      .select(col("n"), col("o"), floor(term * 1e6).cast(LongType).as("t6"))
      .groupBy(col("n"))
      .agg(count(lit(1)).as("k_cells"), min(col("o")).as("o_min"),
        max(col("o")).as("o_max"), sum(col("t6")).as("g_q6"))
      .select(asLong(col("n")).as("n"), asLong(col("k_cells")).as("k_cells"),
        asLong(col("o_min")).as("o_min"), asLong(col("o_max")).as("o_max"),
        asLong(col("g_q6")).as("g_q6"))
  }

}
