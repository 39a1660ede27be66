package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Time-series reshaping (SURVEY §2.9 adjunct): regular-grid resample
  * with forward fill — the operator behind dashboards and feature
  * windows ("one row per entity per day, carrying the last observed
  * value"). Spark-first shape: the day grid is sequence()+explode over
  * the observed bounds (no driver loop), the fill is one
  * last(ignoreNulls) window per entity — a single shuffle on the
  * entity key, linear rows. The DuckDB oracle mirrors it with
  * generate_series + last_value IGNORE NULLS. */
object TimeSeries {

  /** (l_orderkey, close_day): each order's last ship date — the
    * identical per-order fact aggregate ts_survival_km and
    * ts_order_backlog both open with, materialized once per sfDir
    * (round 16, the minhashWide shared-build policy; |orders|-grain,
    * localCheckpoint truncates the aggregate lineage). */
  private val orderClose = graft.SharedBuild[String, DataFrame]("TimeSeries.orderClose") {
    (s, d) =>
      table(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(max(to_date(col("l_shipdate"))).as("close_day"))
        .localCheckpoint(true)
  }

  /** Daily resample of per-user event values (users 0-4), forward-
    * filled across observation gaps; days before a user's first
    * observation stay null. Grid bounds are the corpus-wide min/max
    * event day, so both engines derive the identical frame. */
  val tsResampleGapfill: Q = (s, d) => {
    val ev = table(s, d, "events").filter(col("user_id") < 5)
    // last observation per (user, day) = value at the day's highest
    // event_id (unique, so the pick is total-ordered cross-engine).
    // null values are excluded BEFORE the pick — DuckDB's arg_max
    // ignores null args, and struct-max would otherwise return a null
    // value sitting at the max event_id
    val daily = ev
      .filter(col("value").isNotNull)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
        struct(col("event_id"), col("value")).as("obs"))
      .groupBy(col("user_id"), col("day"))
      .agg(max(col("obs")).as("o"))
      .select(col("user_id"), col("day"), col("o.value").as("v"))
    val bounds = table(s, d, "events")
      .agg(date_trunc("day", min(col("ts"))).as("d0"),
        date_trunc("day", max(col("ts"))).as("d1"))
    val days = bounds
      .select(explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val users = ev.select(col("user_id")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    users.crossJoin(days)
      .join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", last(col("v"), ignoreNulls = true).over(w))
      .select(col("user_id"), col("day"),
        round(col("filled").cast(DoubleType), 2).as("value_ff"),
        col("v").isNotNull.as("observed"))
      .orderBy("user_id", "day")
  }

  /** SCD type-2 build from a change stream (round 3): collapse each
    * user's event_type runs into validity intervals
    * [valid_from, valid_to) with an is_current flag — the CDC pattern
    * behind dimension history tables. One window shuffle on user_id;
    * ties on ts are totally ordered by the unique event_id so both
    * engines pick identical run boundaries. */
  val cdcScd2: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(s, d, "events")
      .filter(col("user_id").isNotNull && col("user_id") % 20 === 0)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
      // total order over ALL output columns (house rule §5.3): equal-ts
      // change rows would otherwise interleave engine-dependently; any
      // remaining ties are fully identical rows. NULLS FIRST explicit —
      // Spark defaults nulls-first, DuckDB nulls-last.
      .orderBy(col("user_id"), col("valid_from"),
        col("event_type").asc_nulls_first, col("valid_to").asc_nulls_first)
  }

  /** Point-in-time (AS OF) dimension lookup — the most common
    * warehouse join: each purchase of the tracked users joined to the
    * SCD2 state interval valid at its timestamp
    * (valid_from <= ts < valid_to, open current row included). Equi
    * prefix on user_id keeps it a hash/sort-merge join with a range
    * residual; per-key interval counts are bounded by the dimension's
    * change rate, so the residual never goes quadratic. */
  val joinPointInTime: Q = (s, d) => {
    val dim = cdcScd2(s, d).select(col("user_id").as("d_user"),
      col("event_type").as("state"), col("valid_from"), col("valid_to"))
    val purchases = table(s, d, "events")
      .filter(col("user_id").isNotNull && col("user_id") % 20 === 0 &&
        col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    purchases.join(dim,
        col("user_id") === col("d_user") && col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"), col("state"))
      .orderBy("event_id")
  }

  /** Trailing-window z-score anomaly detection (round 3): each daily
    * total is scored against the mean/stddev of its own trailing 7 days
    * (frame EXCLUDES the current row — the score must not see itself).
    * Cross-engine discipline: the window pieces (n, Σx, Σx²) are exact
    * DECIMAL sums — the daily total is re-anchored to DECIMAL(18,4) so
    * its square stays inside precision 38 in both engines — and only
    * the final z is computed in DOUBLE, where both engines perform the
    * identical IEEE divisions and sqrt. Scale: one shuffle on the
    * series key; the frame is bounded (8 rows) so state is O(1)/row. */
  val tsAnomalyZscore: Q = (s, d) => {
    val D18_4 = DecimalType(18, 4)
    val daily = table(s, d, "events")
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast(DateType).as("d"))
      .agg(sum(col("value").cast(D18_4)).cast(D18_4).as("v"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("d")).rowsBetween(-7, -1)
    val vd = col("v").cast(DoubleType)
    val sd = col("sx").cast(DoubleType)
    val ssd = col("ss").cast(DoubleType)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("v")).over(w))
      .withColumn("ss", sum(col("v") * col("v")).over(w))
      .filter(col("n") >= 4)
      .select(col("event_type"), col("d"),
        round(vd, 2).as("v"),
        round((vd - sd / col("n")) /
          sqrt((ssd - sd * sd / col("n")) / (col("n") - 1)), 3).as("z"))
      .orderBy("event_type", "d")
  }

  /** Hourly OHLC candles (downsampling with positional endpoints):
    * open/close are the FIRST/LAST value in the hour under the total
    * (ts, event_id) order — selected by rank flags so both engines pin
    * identical rows — plus high/low/count. One window + one aggregate
    * over the same hour key: a single shuffle. */
  val tsOhlc: Q = (s, d) => {
    val hour = date_trunc("hour", col("ts"))
    val wA = Window.partitionBy(hour).orderBy(col("ts"), col("event_id"))
    val wD = Window.partitionBy(hour).orderBy(col("ts").desc, col("event_id").desc)
    table(s, d, "events")
      .select(hour.as("h"), col("ts"), col("event_id"), col("value"),
        row_number().over(wA).as("ra"), row_number().over(wD).as("rd"))
      .groupBy(col("h"))
      .agg(
        round(max(when(col("ra") === 1, col("value"))), 2).as("open"),
        round(max(col("value")), 2).as("high"),
        round(min(col("value")), 2).as("low"),
        round(max(when(col("rd") === 1, col("value"))), 2).as("close"),
        count(lit(1)).as("n"))
      .orderBy("h")
  }

  /** Calendar heatmap (§2.12, r6): event counts, distinct users and
    * exact value sums per (day-of-week, hour) cell — the seasonality
    * profile behind capacity planning. One aggregation pass; Spark's
    * Sunday-based dayofweek and DuckDB's 0-based dow are normalized
    * to the same 1-7 convention in the oracle. */
  /** Trailing-24h rolling correlation (§2.12, r6) between hourly
    * purchase revenue and hourly click count — the cross-signal
    * health metric behind anomaly dashboards. Spark-first shape:
    * pre-aggregate to the series grain (hourly — bounded rows), then
    * ONE range window over the tiny series; the fact scan is a single
    * aggregation pass. The correlation is assembled from exact
    * DECIMAL/BIGINT power sums (Σx, Σy, Σxy, Σx², Σy², n) so both
    * engines feed the identical IEEE division/sqrt tree; scales stay
    * unshrunk through every product, so no decimal rounding occurs.
    * The global window is NOT a scale concern: it runs over hours,
    * not events (24·365·years rows regardless of SF). */
  val tsRollingCorr: Q = (s, d) => {
    val hourly = table(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        coalesce(sum(when(col("event_type") === "purchase", dec2(col("value")))),
          dec2(lit(0))).cast(DecimalType(18, 2)).as("x"),
        count(when(col("event_type") === "click", 1)).as("y"))
      .withColumn("hs", unix_timestamp(col("h")))
    val w = Window.orderBy(col("hs")).rangeBetween(-23 * 3600L, 0L)
    // widths are chosen so every product stays <= DECIMAL(38,_) in
    // BOTH engines (a >38-wide product silently goes double in one
    // engine and stays decimal in the other): n as INT (<=24),
    // sums re-narrowed after the window. All six sums share one
    // select so CollapseWindow plans a SINGLE Window operator (casts
    // interleaved between .over calls would wedge Projects in and
    // split it into four).
    val corr = hourly
      .select(col("h"),
        count(lit(1)).over(w).as("n_raw"),
        sum(col("x")).over(w).as("sx_raw"),
        sum(col("y")).over(w).as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(18, 2))).over(w).as("sxy_raw"),
        sum((col("x") * col("x")).cast(DecimalType(20, 4))).over(w).as("sx2_raw"),
        sum(col("y") * col("y")).over(w).as("sy2"))
      .select(col("h"),
        col("n_raw").cast(IntegerType).as("n"),
        col("sx_raw").cast(DecimalType(18, 2)).as("sx"), col("sy"),
        col("sxy_raw").cast(DecimalType(18, 2)).as("sxy"),
        col("sx2_raw").cast(DecimalType(20, 4)).as("sx2"), col("sy2"))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy").cast(DecimalType(12, 0)))
      .withColumn("d1", col("n") * col("sx2") - col("sx") * col("sx"))
      .withColumn("d2", col("n") * col("sy2") - col("sy") * col("sy"))
    corr.select(col("h"), asLong(col("n")).as("n_hours"),
        when(col("d1") > 0 && col("d2") > 0,
          round(col("num").cast(DoubleType) /
            (sqrt(col("d1").cast(DoubleType)) * sqrt(col("d2").cast(DoubleType))), 4))
          .as("corr_xy"))
      .orderBy("h")
  }

  /** Inter-arrival-time quantiles per user (§2.12, r6): the activity-
    * cadence profile (bot detection, engagement scoring). One lag
    * window and one aggregation, both on the user_id shuffle; gaps in
    * exact integral microseconds so the quantile interpolation's
    * operands are identical in both engines (ties broken by event_id
    * for a total lag order). */
  val tsInterarrivalQuantiles: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("user_id"))
      .agg(asLong(count(lit(1))).as("n_gaps"),
        asLong(min(col("gap_us"))).as("min_gap_us"),
        round(expr("percentile(gap_us, 0.5D)"), 2).as("p50_gap_us"),
        round(expr("percentile(gap_us, 0.9D)"), 2).as("p90_gap_us"))
      .orderBy("user_id")
  }

  /** Cohort retention matrix (§2.12, r6): users bucketed by first-
    * activity DAY (the corpus spans one month, so a monthly grain
    * would be a degenerate 1-cell sham), distinct actives per
    * (cohort, days-since) cell — the canonical growth-analytics
    * operator. The first-event lookup is a window min over the SAME
    * user_id shuffle the events already need (no self-join, no second
    * scan); the day difference is exact integer arithmetic. */
  val tsCohortRetention: Q = (s, d) => {
    val wu = Window.partitionBy(col("user_id"))
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .withColumn("cohort", min(col("ts")).over(wu).cast(DateType))
      .withColumn("d_act", col("ts").cast(DateType))
      .groupBy(col("cohort").as("cohort_day"),
        asLong(datediff(col("d_act"), col("cohort"))).as("days_since"))
      .agg(asLong(count_distinct(col("user_id"))).as("n_users"))
      .orderBy("cohort_day", "days_since")
  }

  val tsCalendarHeatmap: Q = (s, d) =>
    table(s, d, "events")
      .groupBy(asLong(dayofweek(col("ts"))).as("dow"),
        asLong(hour(col("ts"))).as("hour"))
      .agg(asLong(count(lit(1))).as("n_events"),
        asLong(count_distinct(col("user_id"))).as("n_users"),
        round(sum(dec2(col("value"))).cast(DoubleType), 2).as("value_sum"))
      .orderBy("dow", "hour")

  /** Per-user OLS trend slope (§2.12, r6): the regression slope of
    * event value against time — trend detection, the agg_corr_regr
    * discipline applied per entity. x is microseconds since the
    * user's FIRST event (a window min, no collect): re-anchoring
    * keeps x small enough that every power sum stays an exact
    * DECIMAL within width 38 in both engines (raw epoch-µs squares
    * would not); the closed form then runs once per user on
    * identical double casts, scaled to value/hour. Zero-variance
    * users (all events in one microsecond) are filtered on the
    * DOUBLE variance numerator — exact anyway, because the numerator
    * is an integer (scale-0 decimals): any positive value is ≥ 1 and
    * survives the double cast, so the test cannot flip at the
    * boundary (a DECIMAL filter would overflow DuckDB's width-38
    * multiply). Scale: the window min and the aggregation share one
    * user_id shuffle. */
  val tsTrendSlope: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
    val base = table(s, d, "events")
      .filter(col("user_id") < 50 && col("value").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        dec2(col("value")).as("y"))
      .withColumn("x",
        (col("us") - min(col("us")).over(w)).cast(DecimalType(14, 0)))
    def D(c: String) = col(c).cast(DoubleType)
    val nD = D("n")
    val den = nD * D("sxx") - D("sx") * D("sx")
    base.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2 && den > 0)
      .select(col("user_id"), asLong(col("n")).as("n"),
        round((nD * D("sxy") - D("sx") * D("sy")) / den *
          lit(3600000000d), 6).as("slope_per_hour"))
      .orderBy("user_id")
  }

  /** Last-touch attribution (§2.12, r6): every purchase is credited
    * to the user's most recent PRIOR click's campaign bucket (the
    * `k` property) — the standard marketing-attribution join, done
    * without a self-join: one `last(..., ignoreNulls)` carry-forward
    * window over the user's event stream (frame ends at -1 so a
    * click never attributes itself), then a tiny group-by on the
    * bucket. Purchases with no prior click land in the NULL bucket
    * (reported, not dropped — unattributed revenue is the number
    * marketers actually argue about). Scale: ONE shuffle on user_id;
    * no event-to-event join, no skew (frames are per-user). */
  val tsAttributionLastTouch: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val clickK = when(col("event_type") === "click",
      get_json_object(col("props"), "$.k").cast(LongType))
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .withColumn("attr_k", last(clickK, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(col("attr_k"))
      .agg(asLong(count(lit(1))).as("n_purchases"),
        round(sum(dec2(col("value"))).cast(DoubleType), 2).as("revenue"))
      .orderBy(asc_nulls_first("attr_k"))
  }

  /** Event-type transition matrix (§2.12, r6): first-order Markov
    * transition counts and probabilities over each user's event
    * stream — the session-flow telemetry behind "what happens after
    * an error?". One lead() per event, then the matrix aggregate;
    * probabilities divide two exact BIGINTs (row-normalized by a
    * window over the 25-cell matrix). Scale: one user_id shuffle for
    * the lead; the matrix itself is event-type², constant at any SF. */
  val tsMarkovTransitions: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(asLong(count(lit(1))).as("n"))
      .withColumn("prob", round(col("n").cast(DoubleType) /
        sum(col("n")).over(Window.partitionBy(col("from_type")))
          .cast(DoubleType), 6))
      .orderBy("from_type", "to_type")
  }

  /** Trailing exponentially-weighted moving average (§2.12, r6):
    * EWMA(α=0.5) over each user's last 5 observed values, renormalized
    * over the weights actually present so the series starts unbiased
    * (the standard finite-history EWMA). True recursive EWMA is a
    * sequential fold — unbounded lookback, hostile to both engines and
    * to distribution; the trailing-k form is the windowed equivalent
    * every metrics store ships and is ONE window pass: 4 lag()s over
    * the same (ts, event_id)-totalized frame, then a single arithmetic
    * tree evaluated identically in both engines (no aggregation-order
    * float risk — additions are written in one fixed chain). Scale:
    * one shuffle on user_id; frames are bounded (5 rows). */
  val tsEwma: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    def lg(i: Int) = lag(col("value"), i).over(w)
    def term(c: Column, wt: Double) =
      when(c.isNotNull, c * wt).otherwise(lit(0.0))
    def wt(c: Column, wtv: Double) =
      when(c.isNotNull, lit(wtv)).otherwise(lit(0.0))
    val num = col("value") + term(lg(1), 0.5) + term(lg(2), 0.25) +
      term(lg(3), 0.125) + term(lg(4), 0.0625)
    val den = lit(1.0) + wt(lg(1), 0.5) + wt(lg(2), 0.25) +
      wt(lg(3), 0.125) + wt(lg(4), 0.0625)
    table(s, d, "events")
      .filter(col("user_id") < 20 && col("value").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("ewma", round(num / den, 4))
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("value"), col("ewma"))
      .orderBy("event_id")
  }

  /** Peak session concurrency per day (§2.12, r7): sessionize each
    * user's events (new session when the gap exceeds 30 min — the
    * stream_sessionize rule), then sweep-line the session intervals:
    * +1 at each start, −1 at each end, starts ordered before ends at
    * the same instant (touching sessions count as concurrent), and
    * report the maximum running count observed at any sweep point of
    * each day — capacity-planning telemetry no plain groupBy
    * expresses. Tie order among equal (ts, kind) points is
    * engine-dependent but provably irrelevant: within a tie group all
    * deltas share a sign, so the group's running extremum is reached
    * after the whole group regardless of internal order. Scale: one
    * user_id shuffle for sessionization; the sweep (2 rows/session)
    * range-partitions by time with broadcast per-slice offsets
    * (GlobalRank.withRunningSum) — no single-task window anywhere in
    * the plan. */
  val tsPeakConcurrency: Q = (s, d) => {
    // (ts, event_id) totalizes the per-user order and the running sum
    // uses an explicit ROWS frame — Spark's default window frame is
    // RANGE (peers collapse) while the oracle's is written ROWS; under
    // a (user_id, ts) tie the two disagree about which session a tied
    // row joins unless the order is total
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wuSum = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wu))
          > 1800L * 1000000L, 1L).otherwise(lit(0L)))
      .withColumn("sid", sum(col("new_s")).over(wuSum))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s_ts"), max(col("ts")).as("e_ts"))
    val points = sessions.select(col("s_ts").as("t"), lit(0).as("kind"), lit(1L).as("delta"))
      .unionAll(sessions.select(col("e_ts").as("t"), lit(1).as("kind"), lit(-1L).as("delta")))
    // round-8: the sweep no longer runs an unpartitioned window —
    // GlobalRank.withRunningSum range-partitions on (t, kind) and adds
    // broadcast per-slice prefix offsets to partition-LOCAL running
    // sums. (t, kind) tie groups may straddle slice boundaries, which
    // is safe here by the same argument as the single-window tie
    // order: all deltas in a tie group share a sign, so the group's
    // running extremum — all the day-grain max() sees — is reached
    // after the whole group regardless of internal order or split.
    GlobalRank.withRunningSum(points, Seq(col("t"), col("kind")), "delta", "running")
      .groupBy(to_date(col("t")).as("day"))
      .agg(asLong(max(col("running"))).as("peak_concurrency"),
        asLong(sum(when(col("kind") === 0, 1L).otherwise(0L))).as("sessions_started"))
      .orderBy("day")
  }

  /** Hourly error-rate monitor (§2.12, r7): per hour, the error-event
    * share and an alert flag when it exceeds 2x the corpus-wide rate —
    * the SLO burn-rate view every operations dashboard ships. The
    * threshold decision is EXACT integer cross-multiplication
    * (n_err · total_all > 2 · n_all · total_err — no float enters the
    * boolean), shares are one rounded division each. Scale: one
    * hour-grain map-combined aggregate + a 1-row broadcast. */
  val tsErrorRateHourly: Q = (s, d) => {
    val hourly = table(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val tot = hourly.agg(sum(col("n_all")).as("t_all"), sum(col("n_err")).as("t_err"))
    hourly.crossJoin(broadcast(tot))
      .select(col("h"), asLong(col("n_all")).as("n_all"),
        asLong(col("n_err")).as("n_err"),
        round(col("n_err").cast(DoubleType) / col("n_all"), 6).as("err_rate"),
        (col("n_err") * col("t_all") > col("n_all") * col("t_err") * 2)
          .as("burn_alert"))
      .orderBy("h")
  }

  /** Time-to-conversion (§2.12, r7): for each click, seconds until the
    * same user's NEXT purchase — the forward-looking conditional
    * window (min over the FOLLOWING frame) behind every conversion-lag
    * metric; NULL = never converted, reported. Exact integral µs
    * difference, one rounded division to seconds. Scale: one user_id
    * shuffle; the frame is unbounded-following but the aggregate is a
    * running min computed in one backward pass. */
  val tsTimeToPurchase: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    table(s, d, "events")
      .filter(col("user_id") < 20 && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("next_p_us",
        min(when(col("event_type") === "purchase", unix_micros(col("ts")))).over(w))
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        round((col("next_p_us") - unix_micros(col("ts"))).cast(DoubleType) / 1e6, 3)
          .as("sec_to_purchase"))
      .orderBy("event_id")
  }

  /** Session duration stats per day (§2.12, r7): how long the 30-min-
    * gap sessions started each day actually run — count, average and
    * max duration in seconds, and the share of single-event sessions
    * (duration 0) — the engagement-depth companion to
    * ts_peak_concurrency, over the SAME sessionization CTE so the two
    * can't disagree about what a session is. Durations are exact
    * integral µs; the average divides an exact sum and rounds once.
    * Scale: one user_id shuffle, then a date-grain aggregate. */
  val tsSessionDurationStats: Q = (s, d) => {
    val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wuSum = wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("new_s",
        when(unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(wu))
          > 1800L * 1000000L, 1L).otherwise(lit(0L)))
      .withColumn("sid", sum(col("new_s")).over(wuSum))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("s_ts"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur_us"))
      .groupBy(to_date(col("s_ts")).as("day"))
      .agg(asLong(count(lit(1))).as("n_sessions"),
        round(sum(col("dur_us")).cast(DoubleType) / count(lit(1)) / 1e6, 3)
          .as("avg_duration_sec"),
        round(max(col("dur_us")).cast(DoubleType) / 1e6, 3).as("max_duration_sec"),
        round(sum(when(col("dur_us") === 0L, 1L).otherwise(0L)).cast(DoubleType) /
          count(lit(1)), 4).as("singleton_share"))
      .orderBy("day")
  }

  /** Rolling active-user telemetry (§2.12, r7): per day, DAU, trailing
    * 7-day WAU, and the DAU/WAU stickiness ratio — the product-health
    * triple every analytics engine ships. WAU is a DISTINCT over the
    * trailing window, not a sum of dailies (a user active twice in the
    * week counts once), so it is computed as a day-grid × (day, user)
    * range join at DAY grain — the grid is ≤ tens of rows at any SF
    * and broadcasts; the distinct-pair relation is the only shuffle.
    * stickiness divides two exact BIGINTs. */
  val tsActiveUsersRolling: Q = (s, d) => {
    val pairs = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val dau = pairs.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val grid = dau.select(col("day").as("g_day"))
    val wau = grid.join(pairs,
        col("day") <= col("g_day") && col("day") >= date_sub(col("g_day"), 6))
      .groupBy(col("g_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, col("day") === col("g_day"))
      .select(col("day"), asLong(col("dau")).as("dau"),
        asLong(col("wau")).as("wau"),
        round(col("dau").cast(DoubleType) / col("wau").cast(DoubleType), 4)
          .as("stickiness"))
      .orderBy("day")
  }

  /** Naive-seasonal forecast error (§2.21): score the "same day last
    * week" forecast of daily order revenue with per-month WAPE
    * (sum |actual-forecast| / sum actual) and signed bias — the
    * baseline every real forecasting model must beat, and the
    * monitoring metric a revenue pipeline alarms on. Revenue stays an
    * exact DECIMAL(18,2) sum end to end (error sums too); the two
    * ratios each divide once at output on identical operands in both
    * engines. Scale: one date-grain aggregate, a calendar-bounded
    * day-to-day-minus-7 equi-join (the identical aggregate subplan is
    * computed once and reused by Spark's exchange reuse), and a
    * month-grain map-combined reduction. */
  val tsForecastWape: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val f = daily.select(col("day").as("fday"), col("rev").as("fc"))
    daily.join(f, col("fday") === date_sub(col("day"), 7))
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("rev") - col("fc"))).as("sae"),
        sum(col("rev")).as("sa"),
        sum(col("rev") - col("fc")).as("sb"))
      .select(col("month"), asLong(col("n_days")).as("n_days"),
        round(col("sae").cast(DoubleType) / col("sa").cast(DoubleType), 4)
          .as("wape"),
        round(col("sb").cast(DoubleType) / col("sa").cast(DoubleType), 4)
          .as("bias"))
      .orderBy("month")
  }

  /** Difference-in-differences lift (§2.22): mean daily revenue of
    * the high-priority segment (1-URGENT/2-HIGH) vs the rest, before
    * and after a 1998-01-01 cutover, and the DiD estimate
    * (Δtreat − Δcontrol) — the standard pre/post causal read that
    * subtracts market-wide drift out of a segment-level change.
    * Revenue sums stay DECIMAL(18,2); the four cell means and the DiD
    * evaluate one deterministic IEEE tree on identical operands in
    * both engines, rounded once at output. Scale: ONE map-combined
    * pass over orders into a 4-cell domain; everything after is
    * constant-size. */
  val tsDidLift: Q = (s, d) => {
    val cells = table(s, d, "orders")
      .select(
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "treat")
          .otherwise("control").as("grp"),
        when(to_date(col("o_orderdate")) >= lit("1998-01-01").cast(DateType),
          "post").otherwise("pre").as("period"),
        to_date(col("o_orderdate")).as("day"),
        dec2(col("o_totalprice")).as("p"))
      .groupBy(col("grp"), col("period"))
      .agg(sum(col("p")).as("rev"), countDistinct(col("day")).as("days"))
    def mean(g: String, p: String): Column =
      max(when(col("grp") === g && col("period") === p,
        col("rev").cast(DoubleType) / col("days"))).as(s"${g}_$p")
    val m = cells.agg(mean("treat", "pre"), mean("treat", "post"),
      mean("control", "pre"), mean("control", "post"))
    m.select(round(col("treat_pre"), 2).as("treat_pre"),
      round(col("treat_post"), 2).as("treat_post"),
      round(col("control_pre"), 2).as("control_pre"),
      round(col("control_post"), 2).as("control_post"),
      round((col("treat_post") - col("treat_pre")) -
        (col("control_post") - col("control_pre")), 2).as("did"))
  }

  /** Monthly seasonal index (§2.22): month-of-year average daily
    * revenue relative to the overall average daily revenue — the
    * multiplicative seasonality profile a demand planner normalizes
    * by (index 1.05 = that calendar month runs 5% hot). Computed as
    * the exact cross-product ratio (mrev·tdays)/(mdays·trev): DECIMAL
    * × integer products stay exact, ONE division at output — no
    * mean-of-means double rounding. Scale: one date-grain aggregate,
    * then a 12-key month reduce crossed with a broadcast 1-row total. */
  val tsSeasonalIndex: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val m = daily.groupBy(month(col("day")).as("mo"))
      .agg(sum(col("rev")).as("mrev"), count(lit(1)).as("mdays"))
    val tot = daily.agg(sum(col("rev")).as("trev"), count(lit(1)).as("tdays"))
    m.crossJoin(broadcast(tot))
      .select(asLong(col("mo")).as("mo"), asLong(col("mdays")).as("n_days"),
        round((col("mrev") * col("tdays")).cast(DoubleType) /
          (col("mdays") * col("trev")).cast(DoubleType), 4).as("seasonal_index"))
      .orderBy("mo")
  }

  /** Daily revenue growth (§2.12, r7): purchase revenue per day and
    * its day-over-day percent change — the lag-based growth idiom.
    * Revenue is an exact DECIMAL sum cast once to double; the growth
    * division runs on those identical operands (first day NULL).
    * Scale: one date-grain aggregation, then a window over DAYS. */
  val tsDailyRevenueGrowth: Q = (s, d) => {
    val daily = table(s, d, "events")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(dec2(col("value"))).as("rev_d"), count(lit(1)).as("n"))
    val w = Window.orderBy(col("day"))
    daily
      .withColumn("prev", lag(col("rev_d"), 1).over(w))
      .select(col("day"), asLong(col("n")).as("n_purchases"),
        round(col("rev_d").cast(DoubleType), 2).as("revenue"),
        round((col("rev_d").cast(DoubleType) - col("prev").cast(DoubleType)) /
          col("prev").cast(DoubleType) * 100, 4).as("growth_pct"))
      .orderBy("day")
  }

  /** Peak 10-minute event burst per user (§2.12, r7): for every event
    * the count of the same user's events in the trailing 10-minute
    * RANGE frame (peers at the boundary included identically in both
    * engines), reduced to each user's maximum — rate-limit / abuse
    * telemetry. Same range-frame shape as win_range_1h, reduced per
    * key. Scale: one user_id shuffle, frames bounded by per-user
    * 10-minute density. */
  val tsBurst10min: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(unix_micros(col("ts")))
      .rangeBetween(-600L * 1000000L, 0L)
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"))
      .withColumn("burst", count(lit(1)).over(w))
      .groupBy(col("user_id"))
      .agg(asLong(max(col("burst"))).as("peak_burst_10min"),
        asLong(count(lit(1))).as("n_events"))
      .orderBy("user_id")
  }

  // ---- §2.18 (round 8) ----

  /** Day-of-week traffic profile (§2.18): events, purchases, purchase
    * revenue and traffic share per weekday — the weekly-seasonality
    * read behind every capacity/campaign decision. dow normalized to
    * DuckDB's 0=Sunday (Spark's dayofweek is 1=Sunday). Share divides
    * exact counts (one rounded division); revenue through the DECIMAL
    * sum. Scale: one 7-group map-combined aggregate + a 1-row
    * broadcast total. */
  val tsDowProfile: Q = (s, d) => {
    val e = table(s, d, "events")
    val byDow = e.groupBy((dayofweek(col("ts")) - 1).as("dow"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purch"),
        sum(when(col("event_type") === "purchase", dec2(col("value")))).as("rev"))
    val tot = e.agg(count(lit(1)).as("n_total"))
    byDow.crossJoin(broadcast(tot))
      .select(asLong(col("dow")).as("dow"),
        asLong(col("n_events")).as("n_events"),
        asLong(col("n_purch")).as("n_purchases"),
        round(col("rev").cast(DoubleType), 2).as("purchase_revenue"),
        round(col("n_events").cast(DoubleType) / col("n_total"), 6).as("share"))
      .orderBy("dow")
  }

  /** (weekday x hour) activity heatmap (§2.18): the calendar grid every
    * operations dashboard renders. 7x24 bounded output; value mass via
    * the DECIMAL sum (null-heavy cells stay null identically in both
    * engines). One map-combined aggregate. */
  val tsDayHourHeatmap: Q = (s, d) =>
    table(s, d, "events")
      .groupBy((dayofweek(col("ts")) - 1).as("dow"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).as("v"))
      .select(asLong(col("dow")).as("dow"), asLong(col("h")).as("h"),
        asLong(col("n")).as("n"),
        round(col("v").cast(DoubleType), 2).as("v_sum"))
      .orderBy("dow", "h")

  /** MAU / avg-DAU / stickiness per month (§2.18): the
    * engagement-ratio telemetry (DAU/MAU) in its exact form — both
    * distinct counts are exact, the two divisions run left-to-right
    * on identical operands in both engines. Scale: two user_id-keyed
    * aggregates (day grain and month grain) joined on the bounded
    * month relation. */
  val tsMauStickiness: Q = (s, d) => {
    val e = table(s, d, "events").filter(col("user_id").isNotNull)
    val daily = e.groupBy(to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val perMonth = daily.groupBy(date_trunc("month", col("day")).as("month"))
      .agg(sum(col("dau")).as("sum_dau"), count(lit(1)).as("n_days"))
    val mau = e.groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    perMonth.join(mau, Seq("month"))
      .select(col("month").cast(DateType).as("month"),
        asLong(col("mau")).as("mau"),
        asLong(col("n_days")).as("n_days"),
        round(col("sum_dau").cast(DoubleType) / col("n_days"), 2).as("avg_dau"),
        round(col("sum_dau").cast(DoubleType) / col("n_days") / col("mau"), 6)
          .as("stickiness"))
      .orderBy("month")
  }

  /** Lag-1 autocorrelation of daily purchase revenue (§2.18): the
    * one-number momentum/seasonality screen next to ts_trend_slope.
    * Consecutive-day pairs come from an equi-join on day+1 (identical
    * missing-day semantics in both engines — absent days break pairs);
    * the Pearson r runs on exact DECIMAL power sums (products stay
    * within DECIMAL(38,4)) cast once to double into one fixed IEEE
    * closed form, the ts_rolling_corr discipline. Scale: one
    * date-grain aggregate, a self-join on the bounded day relation. */
  val tsAutocorrLag1: Q = (s, d) => {
    val daily = table(s, d, "events")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(dec2(col("value"))).as("rev"))
    val pairs = daily.select(col("day"), col("rev").as("x"))
      .join(daily.select(date_add(col("day"), 1).as("day"), col("rev").as("y")),
        Seq("day"))
    val sums = pairs.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum((col("x") * col("y")).cast(DecimalType(38, 4))).as("sxy"),
      sum((col("x") * col("x")).cast(DecimalType(38, 4))).as("sxx"),
      sum((col("y") * col("y")).cast(DecimalType(38, 4))).as("syy"))
    val nD = col("n").cast(DoubleType)
    def D(c: String) = col(c).cast(DoubleType)
    sums.select(asLong(col("n")).as("n_pairs"),
      round((nD * D("sxy") - D("sx") * D("sy")) /
        (sqrt(nD * D("sxx") - D("sx") * D("sx")) *
          sqrt(nD * D("syy") - D("sy") * D("sy"))), 6).as("autocorr_lag1"))
  }

  /** Robust daily-revenue anomaly screen (§2.18): |x − median| >
    * 3·1.4826·MAD — the outlier detector that, unlike
    * ts_anomaly_zscore, is not itself distorted by the outliers it
    * hunts. Two-pass median/MAD (the agg_mad recipe) on the 2dp-
    * rounded daily revenue, broadcast back; the fence comparison runs
    * one identical double product in both engines (single fused
    * constant 4.4478 = 3·1.4826). Scale: date-grain aggregate + two
    * bounded median passes + a 1-row broadcast. */
  val tsAnomalyMad: Q = (s, d) => {
    val daily = table(s, d, "events")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(round(sum(dec2(col("value"))).cast(DoubleType), 2).as("rev"))
    val med = daily.agg(median(col("rev")).as("med"))
    val mad = daily.crossJoin(broadcast(med))
      .agg(first(col("med")).as("med"),
        median(abs(col("rev") - col("med"))).as("mad"))
    // abs_dev runs in EXACT DECIMAL(18,3): rev is 2dp, a median of 2dp
    // values has at most 3 decimals (interpolated midpoint), and the
    // doubles sit within ~1e-13 of those decimals so both engines cast
    // to the identical DECIMAL — where round(rev - med, 2) hit a
    // literal .885 knife edge at sf0.001 (Spark rounds the expansion,
    // DuckDB the scaled double). The exact decimal difference needs no
    // rounding at all.
    daily.crossJoin(broadcast(mad))
      .select(col("day"), col("rev").as("revenue"),
        abs(col("rev").cast(DecimalType(18, 3)) - col("med").cast(DecimalType(18, 3)))
          .cast(DoubleType).as("abs_dev"),
        (abs(col("rev") - col("med")) > col("mad") * 4.4478).as("is_anomaly"))
      .orderBy("day")
  }

  /** New-vs-returning daily split (§2.18b): per day, active users
    * partitioned into first-seen-today vs returning — the acquisition/
    * retention split next to ts_cohort_retention (which reads the same
    * fact by cohort, not by day). Exact counts; first-seen day from a
    * user-grain min. Scale: one user_id aggregate broadcast against
    * the distinct (day, user) relation. */
  val tsNewVsReturning: Q = (s, d) => {
    val e = table(s, d, "events").filter(col("user_id").isNotNull)
    val first = e.groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("first_day"))
    e.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .join(first, Seq("user_id"))
      .groupBy(col("day"))
      .agg(asLong(count(lit(1))).as("n_active"),
        asLong(sum(when(col("first_day") === col("day"), 1L).otherwise(0L)))
          .as("n_new"))
      .select(col("day"), col("n_active"), col("n_new"),
        (col("n_active") - col("n_new")).as("n_returning"))
      .orderBy("day")
  }

  /** Per-user lifecycle table (§2.18): first/last active day, active
    * days, events and calendar span — the cohort-independent LTV/churn
    * input every growth model starts from. All exact (dates, counts,
    * datediff). Scale: one user_id map-combined aggregate. */
  val tsUserLifecycle: Q = (s, d) =>
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("first_day"),
        max(to_date(col("ts"))).as("last_day"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("first_day"), col("last_day"),
        asLong(col("active_days")).as("active_days"),
        asLong(col("n_events")).as("n_events"),
        asLong(datediff(col("last_day"), col("first_day"))).as("span_days"))
      .orderBy("user_id")

  /** Longest consecutive-day activity streak per user (§2.18c): the
    * habit-formation metric growth teams track. Classic gaps-islands
    * on the distinct (user, day) relation — `day − row_number()` is
    * constant within a consecutive run — all integer/date arithmetic,
    * exact in both engines. Scale: one user_id shuffle (the window and
    * both aggregates share it). */
  val tsStreakLongest: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("grp", date_sub(col("day"), row_number().over(w)))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(asLong(sum(col("len"))).as("active_days"),
        asLong(max(col("len"))).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  /** Theil–Sen slope of 1998 daily order revenue (§2.18c): the robust
    * trend estimator (median of all pairwise slopes) that one outlier
    * day cannot move — the companion to the OLS ts_trend_slope. Each
    * slope is exact-DECIMAL revenue difference cast to DOUBLE divided
    * by the integer day gap (identical IEEE operands both engines);
    * the median is the exact interpolated percentile over the bounded
    * pair set. Scale: the day relation is calendar-bounded (≤365 rows
    * here, ≤ days-in-history ever), so the pairwise self-join is
    * constant-size regardless of fact rows; the only fact-sized step
    * is the one date-grain aggregate. */
  val tsTheilSen: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast(TimestampType) &&
        col("o_orderdate") < lit("1999-01-01").cast(TimestampType))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val a = daily.select(col("day").as("day_a"), col("rev").as("rev_a"))
    val b = daily.select(col("day").as("day_b"), col("rev").as("rev_b"))
    val pairs = a.join(b, col("day_b") > col("day_a"))
      .select(((col("rev_b") - col("rev_a")).cast(DoubleType) /
        datediff(col("day_b"), col("day_a"))).as("slope"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    pairs
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5D)"), 6).as("ts_slope"))
      .crossJoin(broadcast(nDays))
      .select(col("n_days"), col("n_pairs"), col("ts_slope"))
  }

  /** Month-over-month revenue growth per order priority (§2.18c): the
    * grouped-lag growth read (ts_daily_revenue_growth is the global
    * daily twin). Exact DECIMAL month sums; the pct change divides
    * identical doubles. Scale: one map-combined (month, priority)
    * aggregate; the lag window runs over the bounded month×priority
    * relation, partitioned by priority. */
  val tsMomGrowth: Q = (s, d) => {
    val w = Window.partitionBy(col("pri")).orderBy(col("mon"))
    table(s, d, "orders")
      .groupBy(to_date(date_trunc("month", col("o_orderdate"))).as("mon"),
        col("o_orderpriority").as("pri"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("mon"), col("pri"),
        round(col("rev").cast(DoubleType), 2).as("rev"),
        round(col("prev").cast(DoubleType), 2).as("prev_rev"),
        round((col("rev").cast(DoubleType) - col("prev").cast(DoubleType)) /
          col("prev").cast(DoubleType), 6).as("mom"))
      .orderBy("pri", "mon")
  }

  /** Per-user hour-of-day activity entropy (§2.18d): how concentrated
    * each user's activity is across the 24-hour clock — bots pin to a
    * few hours (low H), humans spread (high H). H = ln N − (Σ c·ln c)/N
    * with the per-hour c·ln c terms floor-quantized to BIGINT before
    * the ≤24-term sum (the chi2/JSD recipe), so accumulation order is
    * irrelevant. Scale: one (user, hour) map-combined aggregate. */
  val tsActivityEntropy: Q = (s, d) =>
    table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(asLong(sum(col("n"))).as("n_events"),
        asLong(count(lit(1))).as("n_hours"),
        sum(floor(col("n").cast(DoubleType) *
          log(col("n").cast(DoubleType)) * 1e6).cast(LongType)).as("q"))
      .select(col("user_id"), col("n_events"), col("n_hours"),
        round(log(col("n_events").cast(DoubleType)) -
          col("q").cast(DoubleType) / 1e6 / col("n_events").cast(DoubleType), 6)
          .as("hour_entropy"))
      .orderBy("user_id")

  /** Wald–Wolfowitz runs test on daily revenue vs its median
    * (§2.18d): are above-median and below-median days randomly
    * interleaved, or do they clump (momentum / regime shifts)? Runs
    * are counted with one lag over the day order; n1/n2/R are exact
    * integers feeding a single double tree for the z-statistic.
    * Scale: one date-grain aggregate; everything else runs on the
    * calendar-bounded day relation. */
  val tsRunsTest: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).cast(DoubleType).as("rev"))
    val med = daily.agg(expr("percentile(rev, 0.5D)").as("med"))
    val w = Window.orderBy(col("day"))
    val signed = daily.crossJoin(broadcast(med))
      .select(col("day"), (col("rev") > col("med")).as("above"))
      .withColumn("chg",
        when(lag(col("above"), 1).over(w).isNull ||
          lag(col("above"), 1).over(w) =!= col("above"), 1L).otherwise(0L))
    val agg = signed.agg(
      count(lit(1)).as("n_days"),
      sum(when(col("above"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("above"), 1L).otherwise(0L)).as("n2"),
      sum(col("chg")).as("r"))
    val n1 = col("n1").cast(DoubleType)
    val n2 = col("n2").cast(DoubleType)
    val mu = lit(2.0) * n1 * n2 / (n1 + n2) + 1
    val sig2 = (lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2)) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    agg.select(asLong(col("n_days")).as("n_days"),
      asLong(col("n1")).as("n_above"), asLong(col("n2")).as("n_below"),
      asLong(col("r")).as("n_runs"),
      round((col("r").cast(DoubleType) - mu) / sqrt(sig2), 6).as("z"))
  }

  /** CUSUM control chart of daily revenue (§2.18e): the cumulative sum
    * of deviations from the overall daily mean — the classic
    * change-point visual (a sustained level shift bends the curve;
    * ts_runs_test scores the same signal as one statistic). The
    * mean-division is deferred: cusum_t = (nd·Σ_{≤t} rev − t·total)/nd
    * where the running sum and total are exact DECIMAL and the final
    * expression is one fixed double tree per row — no accumulated
    * float error. Scale: one date-grain aggregate; the window runs
    * over the calendar-bounded day relation (win_drawdown precedent).
    */
  val tsCusum: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
    val tot = daily.agg(count(lit(1)).as("nd"), sum(col("rev")).as("trev"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("run", sum(col("rev")).over(w))
      .withColumn("k", row_number().over(Window.orderBy(col("day"))))
      .crossJoin(broadcast(tot))
      .select(col("day"),
        round(col("rev").cast(DoubleType), 2).as("rev"),
        round((col("nd").cast(DoubleType) * col("run").cast(DoubleType) -
          col("k").cast(DoubleType) * col("trev").cast(DoubleType)) /
          col("nd").cast(DoubleType), 4).as("cusum"))
      .orderBy("day")
  }

  /** Order-to-ship lag histogram (§2.18e): days between o_orderdate
    * and each lineitem's l_shipdate, bucketed by week — the
    * fulfillment-latency distribution (tpch_q12's late-line count is
    * one cell of it). Lags are exact integer date arithmetic;
    * nonnegative by the fixture's generation rule and asserted by
    * filter so the integer-division bucket is floor for both engines.
    * Scale: one orderkey equi-join between the two fact tables (AQE
    * handles skew), then a bounded-bucket map-combined aggregate. */
  val tsOrderToShipLag: Q = (s, d) => {
    val lags = table(s, d, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
      .join(table(s, d, "orders")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord")),
        col("l_orderkey") === col("o_orderkey"))
      .select(datediff(col("ship"), col("ord")).as("lag"))
      .filter(col("lag") >= 0)
    val tot = lags.agg(count(lit(1)).as("n_total"))
    lags
      .groupBy((col("lag") - pmod(col("lag"), lit(7))).as("bucket_lo"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(asLong(col("bucket_lo")).as("bucket_lo"), asLong(col("n")).as("n"),
        round(col("n").cast(DoubleType) / col("n_total"), 6).as("share"))
      .orderBy("bucket_lo")
  }

  /** User dormancy buckets (§2.18e): users binned by HOURS since their
    * last event relative to the corpus's last instant — the churn-risk
    * tiers (<6h active, 6–24h cooling, 24–72h dormant, 72h+ lost;
    * hour-granular because the fixture's event stream spans weeks, not
    * years) that ts_user_lifecycle's per-user rows feed. Exact integer
    * microsecond arithmetic (truncating division of nonnegative
    * longs — identical in both engines) against one broadcast
    * corpus-max scalar. Scale: one user-grain max aggregate + a
    * 4-bucket reduce. */
  val tsDormancyBuckets: Q = (s, d) => {
    val lastTs = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"))
    val end = lastTs.agg(max(col("last_ts")).as("corpus_end"))
    val tot = lastTs.agg(count(lit(1)).as("n_users_total"))
    lastTs.crossJoin(broadcast(end))
      .select(expr(
        "(unix_micros(corpus_end) - unix_micros(last_ts)) div 3600000000")
        .as("hrs"))
      .select(when(col("hrs") < 6, 0L)
        .when(col("hrs") < 24, 6L)
        .when(col("hrs") < 72, 24L)
        .otherwise(72L).as("bucket_lo"),
        when(col("hrs") < 6, "0-6h")
          .when(col("hrs") < 24, "6-24h")
          .when(col("hrs") < 72, "24-72h")
          .otherwise("72h+").as("bucket"))
      .groupBy(col("bucket_lo"), col("bucket"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(tot))
      .select(col("bucket_lo"), col("bucket"), asLong(col("n_users")).as("n_users"),
        round(col("n_users").cast(DoubleType) / col("n_users_total"), 6).as("share"))
      .orderBy("bucket_lo")
  }

  /** Open-order backlog sweep (§2.18f): orders in flight per activity
    * day — an order opens at o_orderdate and closes at its last
    * lineitem ship date; +1/−1 deltas aggregated per day and
    * running-summed give the backlog curve (ts_peak_concurrency is the
    * same sweep on sessions). Exact integer deltas; the window runs
    * over the calendar-bounded day relation (win_drawdown precedent;
    * at an unbounded day domain this routes through GlobalRank like
    * the peak-concurrency sweep). Orders with no lineitems never open.
    * Scale: one orderkey fact-fact equi-join + a date-grain
    * map-combined aggregate. */
  val tsOrderBacklog: Q = (s, d) => {
    val close = orderClose(s, d) // shared with ts_survival_km (r16)
    val spans = table(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("open_day"))
      .join(close, col("o_orderkey") === col("l_orderkey"))
    val deltas = spans
      .select(col("open_day").as("day"), lit(1L).as("delta"), lit(1L).as("opened"))
      .unionAll(spans.select(date_add(col("close_day"), 1).as("day"),
        lit(-1L).as("delta"), lit(0L).as("opened")))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .groupBy(col("day"))
      .agg(sum(col("delta")).as("net"), sum(col("opened")).as("opened"))
      .withColumn("open_orders", sum(col("net")).over(w))
      .select(col("day"), asLong(col("opened")).as("opened"),
        asLong(col("net")).as("net"), asLong(col("open_orders")).as("open_orders"))
      .orderBy("day")
  }

  /** Kaplan–Meier fulfillment survival curve (§2.18k): P(order still
    * unshipped after t days), with ADMINISTRATIVE right-censoring at a
    * cutoff 30 days before the last order date — the survival-analysis
    * operator (time-to-event with censoring) none of the lag
    * histograms model: ts_order_to_ship_lag describes completed lags
    * only, which biases early if observation ends. Orders placed
    * before the cutoff are observed up to it: duration =
    * min(ship_lag, cutoff − orderdate), event iff shipped by cutoff.
    * Per duration day: at-risk n (running-sum complement over the
    * bounded lag domain), events d, censored c, hazard d/n (one
    * division), and the log survival Σ ln(1 − d/n) with per-day terms
    * floor-quantized at 1e12 (the logprob recipe — no cross-engine
    * exp/product dependency; S = e^log_s for readers). Scale: one
    * orderkey fact-fact join + a bounded-lag-domain reduce. */
  val tsSurvivalKm: Q = (s, d) => {
    // shared with ts_order_backlog (r16): same per-order last-ship fact
    val close = orderClose(s, d).withColumnRenamed("close_day", "ship")
    val orders = table(s, d, "orders")
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
    val cut = orders.agg(date_sub(max(col("od")), 30).as("cutoff"))
    val obs = orders.join(close, col("o_orderkey") === col("l_orderkey"))
      .crossJoin(broadcast(cut))
      .filter(col("od") <= col("cutoff"))
      .select(
        least(datediff(col("ship"), col("od")),
          datediff(col("cutoff"), col("od"))).as("t"),
        (datediff(col("ship"), col("od")) <=
          datediff(col("cutoff"), col("od"))).as("event"))
    val tot = obs.agg(count(lit(1)).as("n_total"))
    val byT = obs.groupBy(col("t"))
      .agg(sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("event"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wi = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        (col("n_total") - coalesce(sum(col("d") + col("c")).over(w), lit(0L)))
          .cast(LongType))
      // d == n_risk absorbs the curve at S = 0 (ln 0 undefined): emit
      // NULL log_survival from that day on, a convention both engines
      // evaluate identically
      .withColumn("qln", when(col("d") < col("n_risk"), floor(
        log(lit(1.0) - col("d").cast(DoubleType) / col("n_risk")) * 1e12)
        .cast(LongType)))
      .withColumn("qcum", sum(col("qln")).over(wi))
      .withColumn("absorbed",
        max(when(col("d") === col("n_risk"), 1L).otherwise(0L)).over(wi))
      .select(asLong(col("t")).as("t"), col("n_risk"),
        asLong(col("d")).as("d"), asLong(col("c")).as("c"),
        round(col("d").cast(DoubleType) / col("n_risk"), 6).as("hazard"),
        when(col("absorbed") === 0,
          round(col("qcum").cast(DoubleType) / 1e12, 6)).as("log_survival"))
      .orderBy("t")
  }

  /** Weekly cohort LTV curves (§2.18j): per signup-week cohort and
    * week-of-life, active users, purchase revenue, CUMULATIVE revenue
    * and LTV per cohort member — the money twin of ts_cohort_retention
    * (which counts the same triangle). Weeks via date_trunc (Monday
    * ISO start in BOTH engines), ages by exact integer day division;
    * revenue exact DECIMAL; the cumulative window partitions by
    * cohort over the week-bounded age axis. Scale: one user-grain min
    * + one (cohort, age) aggregate; windows never global. */
  val tsCohortLtv: Q = (s, d) => {
    val ev = table(s, d, "events").filter(col("user_id").isNotNull)
    val cohorts = ev.groupBy(col("user_id"))
      .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort"))
    val sizes = cohorts.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    val acts = ev
      .join(cohorts, "user_id")
      .select(col("cohort"), col("user_id"),
        expr("datediff(to_date(date_trunc('week', ts)), cohort) div 7").as("age_weeks"),
        when(col("event_type") === "purchase", dec2(col("value"))).as("rev"))
      .groupBy(col("cohort"), col("age_weeks"))
      .agg(count_distinct(col("user_id")).as("active_users"),
        coalesce(sum(col("rev")), dec2(lit(0))).as("rev"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age_weeks"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acts
      .withColumn("cum_rev", sum(col("rev")).over(w))
      .join(broadcast(sizes), "cohort")
      .select(col("cohort"), asLong(col("age_weeks")).as("age_weeks"),
        asLong(col("cohort_size")).as("cohort_size"),
        asLong(col("active_users")).as("active_users"),
        round(col("rev").cast(DoubleType), 2).as("rev"),
        round(col("cum_rev").cast(DoubleType), 2).as("cum_rev"),
        round(col("cum_rev").cast(DoubleType) / col("cohort_size"), 4).as("ltv"))
      .orderBy("cohort", "age_weeks")
  }

  /** Year-over-year revenue bridge (§2.18j): 1997 → 1998 revenue per
    * order priority with the signed delta and each segment's share of
    * the total ABSOLUTE movement — the waterfall decomposition every
    * finance review reads (ts_mom_growth is the same read at month
    * grain without attribution). All sums exact DECIMAL; one division
    * per row against the Σ|delta| broadcast (abs of exact decimals —
    * sign-stable, unlike a share of the possibly-near-zero net).
    * Scale: one map-combined (priority, year) aggregate; everything
    * else on the ≤|priorities| relation. */
  val tsRevenueBridge: Q = (s, d) => {
    val byPy = table(s, d, "orders")
      .filter(year(col("o_orderdate")).isin(1997, 1998))
      .groupBy(col("o_orderpriority").as("pri"))
      .agg(
        coalesce(sum(when(year(col("o_orderdate")) === 1997,
          dec2(col("o_totalprice")))), dec2(lit(0))).as("r97"),
        coalesce(sum(when(year(col("o_orderdate")) === 1998,
          dec2(col("o_totalprice")))), dec2(lit(0))).as("r98"))
      .withColumn("delta", col("r98") - col("r97"))
    val tot = byPy.agg(sum(abs(col("delta"))).as("tabs"))
    byPy.crossJoin(broadcast(tot))
      .select(col("pri"),
        round(col("r97").cast(DoubleType), 2).as("rev_1997"),
        round(col("r98").cast(DoubleType), 2).as("rev_1998"),
        round(col("delta").cast(DoubleType), 2).as("delta"),
        round(col("delta").cast(DoubleType) / col("tabs").cast(DoubleType), 6)
          .as("share_of_abs_delta"))
      .orderBy("pri")
  }

  /** Order-priority mix-shift monitor (§2.18h): per month, the χ²
    * distance between that month's priority mix and the corpus-wide
    * mix — the drift detector a pipeline points at any categorical
    * column (agg_chi2_dow tests one global association; this tracks
    * WHEN the mix moves). Expected counts divide exact integers; each
    * month's ≤|priorities| (O−E)²/E terms floor-quantize at 1e6
    * before the bounded sum (the chi2 recipe). max_share reports the
    * dominant priority's share — a numeric mode that cannot tie-flake.
    * Scale: one (month, priority) map-combined aggregate; everything
    * else on the bounded month×priority grid. */
  val tsPriorityMixShift: Q = (s, d) => {
    val cells = table(s, d, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mon"),
        col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val months = cells.groupBy(col("mon")).agg(sum(col("c")).as("mtot"))
    val pris = cells.groupBy(col("pri")).agg(sum(col("c")).as("ptot"))
    val tot = cells.agg(sum(col("c")).as("n"))
    val e = col("mtot").cast(DoubleType) * col("ptot").cast(DoubleType) /
      col("n").cast(DoubleType)
    val o = col("c").cast(DoubleType)
    cells.join(broadcast(months), "mon").join(broadcast(pris), "pri")
      .crossJoin(broadcast(tot))
      .groupBy(col("mon"))
      .agg(asLong(max(col("mtot"))).as("n_orders"),
        sum(floor((o - e) * (o - e) / e * 1e6).cast(LongType)).as("qchi"),
        max(col("c")).as("maxc"))
      .select(col("mon"), col("n_orders"),
        round(col("qchi").cast(DoubleType) / 1e6, 6).as("chi2"),
        round(col("maxc").cast(DoubleType) / col("n_orders"), 6).as("max_share"))
      .orderBy("mon")
  }

  /** Weekend vs weekday revenue (§2.18g): per-side day counts, total
    * and mean daily revenue, plus the weekend/weekday mean ratio on
    * every row — the one-number seasonal split ts_weekday_anova tests
    * at full 7-way resolution. Daily revenue is an exact DECIMAL sum;
    * per-side totals stay DECIMAL (scaled ints far under 2^53 on the
    * bounded day relation); means and the ratio are one double tree.
    * Scale: date-grain aggregate + a 2-row reduce. */
  val tsWeekendEffect: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
      .select((dayofweek(col("day")) - 1).as("dow"), col("rev"))
    val sides = daily
      .groupBy((col("dow") === 0 || col("dow") === 6).as("is_weekend"))
      .agg(count(lit(1)).as("n_days"), sum(col("rev")).as("trev"))
    val mean = col("trev").cast(DoubleType) / col("n_days")
    val ratio = sides
      .agg((max(when(col("is_weekend"), col("trev").cast(DoubleType) /
        col("n_days"))) /
        max(when(!col("is_weekend"), col("trev").cast(DoubleType) /
          col("n_days")))).as("wknd_over_wkday"))
    sides.crossJoin(broadcast(ratio))
      .select(col("is_weekend"), asLong(col("n_days")).as("n_days"),
        round(col("trev").cast(DoubleType), 2).as("total_rev"),
        round(mean, 4).as("avg_daily_rev"),
        round(col("wknd_over_wkday"), 6).as("wknd_over_wkday"))
      .orderBy("is_weekend")
  }

  /** Weekday effect on revenue, tested (§2.18f): one-way ANOVA F of
    * DAILY revenue across the 7 weekdays — ts_dow_profile shows the
    * means; this says whether the weekly seasonality is signal or
    * noise. Observations are daily revenues scaled to millions (F is
    * scale-invariant; the scaling keeps the floor-quantized 1e6 terms
    * inside BIGINT at any SF). Daily revenue is an exact DECIMAL sum;
    * rev_m divides by an exact power of ten; per-day squared terms and
    * per-group (Σv)²/n terms floor-quantize before their bounded sums
    * (the agg_anova_f recipe on the day grain). dow normalized to
    * DuckDB's 0=Sunday. Scale: date-grain aggregate; everything else
    * on the calendar-bounded day relation. */
  val tsWeekdayAnova: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"))
      .select((dayofweek(col("day")) - 1).as("dow"),
        (col("rev").cast(DoubleType) / 1e6).as("rev_m"))
    val g = daily.groupBy(col("dow"))
      .agg(count(lit(1)).as("ng"),
        sum(floor(col("rev_m") * 1e6).cast(LongType)).as("qsg"),
        sum(floor(col("rev_m") * col("rev_m") * 1e6).cast(LongType)).as("qssqg"))
    val t = g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
      sum(col("qsg")).as("qstot"), sum(col("qssqg")).as("qssqtot"),
      sum(floor((col("qsg").cast(DoubleType) / 1e6) *
        (col("qsg").cast(DoubleType) / 1e6) /
        col("ng").cast(DoubleType) * 1e6).cast(LongType)).as("qb"))
    val nd = col("n").cast(DoubleType)
    val kd = col("k").cast(DoubleType)
    val stot = col("qstot").cast(DoubleType) / 1e6
    val grand = stot * stot / nd
    val ssb = col("qb").cast(DoubleType) / 1e6 - grand
    val sst = col("qssqtot").cast(DoubleType) / 1e6 - grand
    val ssw = sst - ssb
    t.select(asLong(col("k")).as("k"), asLong(col("n")).as("n_days"),
      round(ssb, 6).as("ssb"), round(ssw, 6).as("ssw"),
      round((ssb / (kd - 1.0)) / (ssw / (nd - kd)), 6).as("f"))
  }

  /** Mean-shift changepoint of daily revenue (§2.19): the day
    * splitting the series into the most-different before/after means
    * — ts_cusum draws the curve; this names its elbow (the binary
    * segmentation step every changepoint detector iterates). The
    * argmax is decided on EXACT integers: with daily revenue in cents
    * (BIGINT) and run_k its GlobalRank running sum, the CUSUM
    * deviation at day k is |nd·run_k − k·total| / nd — maximizing the
    * NUMERATOR (exact product of BIGINTs in DECIMAL(38,0)) picks the
    * same day without a float anywhere; ties break to the earliest
    * day. Pre/post means then divide exact sums in one double tree.
    * Scale: date-grain aggregate + ONE GlobalRank range shuffle over
    * the calendar-bounded day relation. */
  val tsChangepoint: Q = (s, d) => {
    val dl = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
      // round 16: the day index k is the running sum of a 1-column in
      // the same total order, so ONE GlobalRank pass yields run AND k
      // (the old shape paid a second range shuffle + persist + offsets
      // collect just to rank the already-ordered day relation)
      .withColumn("__one", lit(1L))
    val withK = GlobalRank.withRunningSums(dl, Seq(col("day")),
      Seq("cents" -> "run", "__one" -> "k"))
    val tot = withK.agg(max(col("run")).as("total"), count(lit(1)).as("nd"))
    val d19 = DecimalType(19, 0)
    val dev = abs(col("nd").cast(d19) * col("run").cast(d19) -
      col("k").cast(d19) * col("total").cast(d19)).cast(DecimalType(38, 0))
    val scored = withK.crossJoin(broadcast(tot))
      .select(col("day"), col("k"), col("run"), col("total"), col("nd"),
        dev.as("dev"))
    val mx = scored.agg(max(col("dev")).as("mxdev"))
    scored.crossJoin(broadcast(mx))
      .filter(col("dev") === col("mxdev"))
      .orderBy(col("day")).limit(1)
      .select(col("day").as("split_day"), asLong(col("k")).as("n_days_before"),
        asLong(col("nd") - col("k")).as("n_days_after"),
        round(col("run").cast(DoubleType) / col("k").cast(DoubleType) / 1e2, 2)
          .as("mean_before"),
        round((col("total") - col("run")).cast(DoubleType) /
          (col("nd") - col("k")).cast(DoubleType) / 1e2, 2).as("mean_after"),
        round(((col("total") - col("run")).cast(DoubleType) /
          (col("nd") - col("k")).cast(DoubleType) -
          col("run").cast(DoubleType) / col("k").cast(DoubleType)) / 1e2, 2)
          .as("mean_shift"))
  }

  /** Classical seasonal decomposition of daily revenue (§2.19):
    * rev = trend + seasonal + residual at the day grain — trend is the
    * centered 7-day moving average (complete windows only), the
    * seasonal index is the per-weekday mean of the detrended series,
    * and the residual is what neither explains (the forecasting
    * baseline every STL variant refines). Exactness: revenue in cents
    * is BIGINT; the window SUM and the detrended term d7 = 7·cents −
    * S7 are exact integers; the weekday index aggregates d7 exactly
    * and divides once. Every output double derives from scale-0
    * integers through the same operation order in both engines.
    * Scale: the rolling window and weekday join run on the
    * CALENDAR-BOUNDED day relation (≤ a few thousand rows at any SF —
    * the win_drawdown class, single-task by design); the only
    * data-sized step is the date-grain aggregate. */
  val tsSeasonalDecompose: Q = (s, d) => {
    val dl = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
    val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val t7 = dl
      .withColumn("s7", sum(col("cents")).over(w))
      .withColumn("n7", count(lit(1)).over(w))
      .filter(col("n7") === 7)
      .withColumn("d7", lit(7L) * col("cents") - col("s7"))
    val dow = t7.groupBy((dayofweek(col("day")) - 1).as("dow"))
      .agg(sum(col("d7")).as("sd7"), count(lit(1)).as("nd"))
    t7.select(col("day"), (dayofweek(col("day")) - 1).as("dow"),
        col("cents"), col("s7"), col("d7"))
      .join(broadcast(dow), Seq("dow"))
      .select(col("day"),
        round(col("cents").cast(DoubleType) / 1e2, 2).as("rev"),
        round(col("s7").cast(DoubleType) / 7.0 / 1e2, 4).as("trend"),
        round(col("sd7").cast(DoubleType) / col("nd").cast(DoubleType) / 7.0 / 1e2,
          4).as("seasonal"),
        round((col("d7").cast(DoubleType) -
          col("sd7").cast(DoubleType) / col("nd").cast(DoubleType)) / 7.0 / 1e2,
          4).as("residual"))
      .orderBy("day")
  }

  /** Fano factor of hourly event counts (§2.19): dispersion index
    * var/mean per event type over the OBSERVED hour spine — F ≈ 1 is
    * Poisson arrivals, F >> 1 is bursty traffic (the one-number
    * burstiness read; ts_burst_10min lists the bursts, this scores
    * the process). The spine is every hour any event occurred, so
    * zero-hours for a type count as zeros instead of silently
    * vanishing. F = (n·Σc² − (Σc)²)/(n·Σc) evaluates from exact
    * integer sums in one double tree (population variance over mean).
    * Scale: one (type, hour) map-combined aggregate; the spine cross
    * join is bounded by types × calendar hours. */
  val tsFanoFactor: Q = (s, d) => {
    val ev = table(s, d, "events")
    val ch = ev.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("c"))
    val spine = ev.select(date_trunc("hour", col("ts")).as("h")).distinct()
    val types = ev.select(col("event_type")).distinct()
    val full = types.crossJoin(spine)
      .join(ch, Seq("event_type", "h"), "left")
      .select(col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
    val t = full.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("sc"),
        sum(col("c") * col("c")).as("scc"))
    val nd = col("n_hours").cast(DoubleType)
    t.select(col("event_type"), asLong(col("n_hours")).as("n_hours"),
        asLong(col("sc")).as("n_events"),
        round(col("sc").cast(DoubleType) / nd, 4).as("mean_per_hour"),
        round((nd * col("scc").cast(DoubleType) -
          col("sc").cast(DoubleType) * col("sc").cast(DoubleType)) /
          (nd * col("sc").cast(DoubleType)), 6).as("fano"))
      .orderBy("event_type")
  }

  /** MERGE / upsert application audit (§2.24): a per-customer
    * snapshot (orders before 1996) merged with a delta batch (1996
    * orders) under MERGE INTO semantics — matched rows update,
    * unmatched-by-source rows insert, the rest carry over — reported
    * as per-action counts and post-merge totals. This is the batch
    * face of the engine's CDC stack (cdc_scd2 tracks history;
    * VersionedTable.changeFeed streams row deltas; this applies a
    * delta). Money stays DECIMAL until the single output cast.
    * Scale: two map-combined aggregates over the SAME pruned orders
    * scan, then ONE full-outer equi-join on the customer key — the
    * canonical key-partitioned MERGE shuffle; per-action output is
    * 3 rows at any SF. */
  val cdcMergeApply: Q = (s, d) => {
    val o = table(s, d, "orders")
    def slab(from: String, until: String) = o
      .filter((if (from == null) lit(true)
        else col("o_orderdate") >= lit(from).cast(TimestampType)) &&
        col("o_orderdate") < lit(until).cast(TimestampType))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(dec2(col("o_totalprice"))).as("sp"))
    val snap = slab(null, "1996-01-01").toDF("ck_s", "n_s", "sp_s")
    val delta = slab("1996-01-01", "1997-01-01").toDF("ck_d", "n_d", "sp_d")
    val action = when(col("ck_s").isNull, "insert")
      .when(col("ck_d").isNull, "unchanged").otherwise("update")
    snap.join(delta, col("ck_s") === col("ck_d"), "full_outer")
      .select(action.as("action"),
        (coalesce(col("n_s"), lit(0L)) + coalesce(col("n_d"), lit(0L))).as("n"),
        (coalesce(col("sp_s"), dec2(lit(0))) + coalesce(col("sp_d"), dec2(lit(0))))
          .as("sp"))
      .groupBy(col("action"))
      .agg(asLong(count(lit(1))).as("n_customers"),
        asLong(sum(col("n"))).as("orders_after"),
        round(sum(col("sp")).cast(DoubleType), 2).as("spend_after"))
      .orderBy("action")
  }

  /** Kaufman efficiency ratio per month (§2.25): |last − first| daily
    * revenue over the month divided by the summed |day-over-day|
    * moves — 1.0 = pure trend, →0 = pure chop; the signal-vs-noise
    * read a forecasting pipeline uses to decide whether trend models
    * apply at all. Exact: revenue is BIGINT cents; first/last come
    * from min_by/max_by on the unique day key; net and volatility
    * stay integer, and the ratio is ONE double division of exact
    * integers floor-quantized at 1e4 (single-day months have no
    * moves → er is NULL, not a 0/0). Scale: date-grain map-combined
    * aggregate, then a lag window PARTITIONED by month (≤31-row
    * partitions at any SF — the documented bounded-window family),
    * then a month-grain reduce. */
  val tsEfficiencyRatio: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("dy"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("c"))
      .withColumn("mo", date_trunc("month", col("dy")))
    val w = Window.partitionBy(col("mo")).orderBy(col("dy"))
    daily.withColumn("prev", lag(col("c"), 1).over(w))
      .groupBy(col("mo"))
      .agg(count(lit(1)).as("nd"),
        min_by(col("c"), col("dy")).as("first_c"),
        max_by(col("c"), col("dy")).as("last_c"),
        sum(abs(col("c") - col("prev"))).as("vol"))
      .select(date_format(col("mo"), "yyyy-MM").as("month"),
        asLong(col("nd")).as("n_days"),
        (abs(col("last_c") - col("first_c")).cast(DoubleType) / 100).as("net_move"),
        (col("vol").cast(DoubleType) / 100).as("total_move"),
        when(col("vol") > 0,
          floor(abs(col("last_c") - col("first_c")).cast(DoubleType) /
            col("vol").cast(DoubleType) * 1e4) / 1e4).as("er"))
      .orderBy("month")
  }

  /** Extreme-value moments (§2.27): Gumbel location/scale fitted by
    * method-of-moments to the MONTHLY MAXIMA of daily revenue (block
    * maxima — the EVT read behind capacity planning: "what daily
    * peak should next year's p99 month expect"). Exactness: maxima
    * are BIGINT cents, their mean/variance come from exact integer
    * sums (the bounded month-grain relation), and β̂ = s·√6/π,
    * μ̂ = m̄ − γ·β̂, and the 99th-percentile return level
    * μ̂ − β̂·ln(−ln 0.99) are IEEE expressions on identical operands
    * with γ/π as shared literals — floor-quantized at 1e2. Scale:
    * date-grain aggregate → month maxima (calendar-bounded) → 1-row
    * moments. */
  val tsExtremeValueMoments: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("dy"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("c"))
    val mx = daily.groupBy(date_trunc("month", col("dy")).as("mo"))
      .agg(max(col("c")).as("m"))
    val st = mx.agg(count(lit(1)).as("n"), sum(col("m")).as("sx"),
      sum(col("m").cast(DecimalType(38, 0)) * col("m")).as("sxx"))
    val nD = col("n").cast(DoubleType)
    val dec38 = DecimalType(38, 0)
    val mean = col("sx").cast(DoubleType) / nD / 100
    // n·Σm² and (Σm)² overflow BIGINT at cents scale — exact in
    // DECIMAL(38,0) (HUGEINT on the oracle side), ONE cast to double
    val varNum = col("n").cast(dec38) * col("sxx").cast(dec38) -
      col("sx").cast(dec38) * col("sx").cast(dec38)
    val sd = sqrt(varNum.cast(DoubleType) /
      (col("n") * (col("n") - 1)).cast(DoubleType)) / 100
    val beta = sd * math.sqrt(6.0) / math.Pi
    val mu = mean - lit(0.5772156649015329) * beta
    val p99 = mu - beta * math.log(-math.log(0.99))
    st.select(asLong(col("n")).as("n_months"),
      (floor(mean * 100) / 100).as("mean_max"),
      (floor(beta * 100) / 100).as("gumbel_beta"),
      (floor(mu * 100) / 100).as("gumbel_mu"),
      (floor(p99 * 100) / 100).as("p99_return_level"))
  }

  /** Multi-lag autocorrelation (§2.34): ACF of daily purchase revenue
    * at lags 1 / 7 / 14 / 28 — weekly seasonality shows as the lag-7
    * spike the single-lag ts_autocorr_lag1 cannot see. Same recipe
    * per lag (calendar-shifted self-join of the day-grain aggregate,
    * DECIMAL(38,4) cross-moments, one Pearson expression on exact
    * operands, round 6), the four lags unioned with their label.
    * Scale: ONE date-grain aggregate persisted; each lag join is
    * calendar-bounded. */
  val tsAcfWeekly: Q = (s, d) => {
    val daily = table(s, d, "events")
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(dec2(col("value"))).as("rev"))
      .localCheckpoint(true)
    def acf(lag: Int): DataFrame = {
      val pairs = daily.select(col("day"), col("rev").as("x"))
        .join(daily.select(date_add(col("day"), lag).as("day"),
          col("rev").as("y")), Seq("day"))
      val sums = pairs.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast(DecimalType(38, 4))).as("sxy"),
        sum((col("x") * col("x")).cast(DecimalType(38, 4))).as("sxx"),
        sum((col("y") * col("y")).cast(DecimalType(38, 4))).as("syy"))
      val nD = col("n").cast(DoubleType)
      def D(c: String) = col(c).cast(DoubleType)
      sums.select(lit(lag.toLong).as("lag"), asLong(col("n")).as("n_pairs"),
        round((nD * D("sxy") - D("sx") * D("sy")) /
          (sqrt(nD * D("sxx") - D("sx") * D("sx")) *
            sqrt(nD * D("syy") - D("sy") * D("sy"))), 6).as("acf"))
    }
    acf(1).unionByName(acf(7)).unionByName(acf(14)).unionByName(acf(28))
      .orderBy("lag")
  }

  /** Growth accounting (§2.32): the monthly new / retained /
    * resurrected / churned customer matrix — the canonical growth
    * decomposition (every MAU delta is exactly new + resurrected −
    * churned, which the spec asserts) that ts_mau_stickiness and
    * retention_daily only summarize. ENTIRELY integer: months are the
    * index y·12+m, so "previous month" is mi−1 with no date
    * arithmetic to diverge cross-engine; states are set-membership
    * joins on the distinct (customer, month) relation; churn is
    * attributed to the month AFTER last activity. Scale: one distinct
    * (customer, month) aggregate; every state join is keyed on
    * (customer, month) — the same shuffle partitioning reused four
    * times; output is calendar-bounded. */
  val aggGrowthAccounting: Q = (s, d) => {
    val um = table(s, d, "orders")
      .select(col("o_custkey").as("u"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate"))).as("mi"))
      .distinct().localCheckpoint(true)
    val first = um.groupBy(col("u")).agg(min(col("mi")).as("fmi"))
    val prev = um.select(col("u"), (col("mi") + 1).as("mi"), lit(1).as("hadPrev"))
    val maxMi = um.agg(max(col("mi")).as("mx"))
    val states = um
      .join(first, Seq("u"))
      .join(prev, Seq("u", "mi"), "left")
      .select(col("mi"),
        when(col("mi") === col("fmi"), 1L).otherwise(0L).as("isNew"),
        when(col("mi") =!= col("fmi") && col("hadPrev").isNotNull, 1L)
          .otherwise(0L).as("isRet"),
        when(col("mi") =!= col("fmi") && col("hadPrev").isNull, 1L)
          .otherwise(0L).as("isRes"))
      .groupBy(col("mi"))
      .agg(sum(col("isNew")).as("n_new"), sum(col("isRet")).as("n_retained"),
        sum(col("isRes")).as("n_resurrected"))
    val churn = um.select(col("u"), (col("mi") + 1).as("mi"))
      .join(um.select(col("u"), col("mi"), lit(1).as("still")),
        Seq("u", "mi"), "left")
      .filter(col("still").isNull)
      .crossJoin(broadcast(maxMi)).filter(col("mi") <= col("mx"))
      .groupBy(col("mi")).agg(count(lit(1)).as("n_churned"))
    states.join(churn, Seq("mi"), "left")
      .select(expr("(mi - 1) div 12").cast(LongType).as("year"),
        (col("mi") - expr("(mi - 1) div 12") * 12).cast(LongType).as("month"),
        asLong(col("n_new")).as("n_new"),
        asLong(col("n_retained")).as("n_retained"),
        asLong(col("n_resurrected")).as("n_resurrected"),
        asLong(coalesce(col("n_churned"), lit(0L))).as("n_churned"))
      .orderBy("year", "month")
  }

  /** Cumulative acquisition curve (§2.32): distinct customers ever
    * seen, by first-order day — the growth curve every dashboard
    * opens with, and the user-side face of pipeline_vocab_growth's
    * Heaps plot. first-order day is a per-customer min; the
    * cumulative sum runs over the CALENDAR-BOUNDED day grain (the
    * ts_active_users_rolling convention — a no-partition window over
    * ≤ a few thousand day rows at ANY SF, by design). */
  val aggDistinctGrowthCurve: Q = (s, d) => {
    val f = table(s, d, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    f.withColumn("cum_customers", sum(col("n_new")).over(w))
      .select(col("day"), asLong(col("n_new")).as("n_new"),
        asLong(col("cum_customers")).as("cum_customers"))
      .orderBy("day")
  }

  /** Inter-purchase gap quantiles (§2.32): the reorder-cadence read —
    * per customer, day gaps between consecutive orders (lead over the
    * customer-bounded window), then the LOWER median / p90 / max over
    * all gaps via the day-grain histogram running sum (gap values are
    * calendar-bounded integers, so the quantile window runs over a
    * bounded value grain — the weighted-median convention, no
    * data-sized sort). Lower quantile rule (smallest value with
    * cum·k ≥ total·q) decided on exact integers. */
  val aggInterPurchaseGap: Q = (s, d) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"), col("o_orderkey"))
    val gaps = table(s, d, "orders")
      .select(col("o_custkey"), col("o_orderkey"), to_date(col("o_orderdate")).as("day"))
      .withColumn("nxt", lead(col("day"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(datediff(col("nxt"), col("day")).cast(LongType).as("gap"))
    val hist = gaps.groupBy(col("gap")).agg(count(lit(1)).as("c"))
    val wv = Window.orderBy(col("gap"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("c")).over(wv))
      .crossJoin(broadcast(gaps.agg(count(lit(1)).as("n"))))
    cum.agg(
        max(col("n")).as("n_gaps"),
        min(when(col("cum") * 2 >= col("n"), col("gap"))).as("median_gap_days"),
        min(when(col("cum") * 10 >= col("n") * 9, col("gap"))).as("p90_gap_days"),
        max(col("gap")).as("max_gap_days"))
      .select(asLong(col("n_gaps")).as("n_gaps"),
        asLong(col("median_gap_days")).as("median_gap_days"),
        asLong(col("p90_gap_days")).as("p90_gap_days"),
        asLong(col("max_gap_days")).as("max_gap_days"))
  }

  /** Daily bounce rate (§2.32): share of 30-min-gap sessions with
    * EXACTLY ONE event, by session-start day — the engagement-quality
    * read stream_sessionize's per-user rollup doesn't expose. Session
    * machinery is the shared gaps rule (user-bounded windows); the
    * rate is one division, floor 1e4. */
  val tsBounceRateDaily: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    val sess = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(prevTs.isNull ||
          (col("ts").cast(DoubleType) - prevTs.cast(DoubleType)) > 1800, 1)
          .otherwise(0).as("ns"))
      .withColumn("sid", sum(col("ns"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("cnt"), min(col("ts")).as("start"))
    sess.groupBy(to_date(col("start")).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n_bounce"))
      .select(col("day"), asLong(col("n_sessions")).as("n_sessions"),
        asLong(col("n_bounce")).as("n_bounce"),
        (floor(col("n_bounce").cast(DoubleType) /
          col("n_sessions").cast(DoubleType) * 1e4) / 1e4).as("bounce_rate"))
      .orderBy("day")
  }

  /** Daily abandoned-cart rate (§2.32): among sessions that CLICKED,
    * the share that never purchased — the conversion-loss read
    * funnel_click_purchase (event-pair, time-bounded) and
    * ts_bounce_rate_daily (engagement) both miss; same session
    * machinery, flags folded in the same per-session aggregate. */
  val tsAbandonedCartDaily: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(col("ts"), 1).over(w)
    val sess = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        when(prevTs.isNull ||
          (col("ts").cast(DoubleType) - prevTs.cast(DoubleType)) > 1800, 1)
          .otherwise(0).as("ns"))
      .withColumn("sid", sum(col("ns"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts")).as("start"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("ck"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("pu"))
    sess.filter(col("ck") === 1)
      .groupBy(to_date(col("start")).as("day"))
      .agg(count(lit(1)).as("n_click_sessions"),
        sum(when(col("pu") === 0, 1L).otherwise(0L)).as("n_abandoned"))
      .select(col("day"),
        asLong(col("n_click_sessions")).as("n_click_sessions"),
        asLong(col("n_abandoned")).as("n_abandoned"),
        (floor(col("n_abandoned").cast(DoubleType) /
          col("n_click_sessions").cast(DoubleType) * 1e4) / 1e4)
          .as("abandon_rate"))
      .orderBy("day")
  }

  /** Holt's linear trend smoothing (§2.31): level + trend double
    * exponential smoothing over monthly revenue (α = 0.2, β = 0.1)
    * with the one-step-ahead forecast — the simplest forecast that
    * follows a trending series (ts_ewma smooths level only;
    * ts_forecast_wape scores a seasonal-naive baseline; this is the
    * recursive-state forecaster between them). The recursion is
    * GENUINELY sequential, and the engine runs it the only
    * scale-correct way: the series is first reduced to its
    * CALENDAR-BOUNDED month grain (≤ a few hundred rows at ANY SF),
    * then the fold runs in-row over the sorted month array via the
    * aggregate HOF — never a driver loop, never an unbounded window.
    * Exactness: month totals are BIGINT cents; both engines execute
    * the IDENTICAL double recurrence (Spark: aggregate-HOF lambda;
    * DuckDB: recursive CTE with the same expression tree, constants
    * CAST(0.2 AS DOUBLE) etc. on both sides), and deterministic IEEE
    * arithmetic on identical inputs yields identical state at every
    * step; outputs floor to cents. */
  val tsHoltLinear: Q = (s, d) => {
    val m = table(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("c"))
    m.agg(
        transform(array_sort(collect_list(struct(col("mo"), col("c")))),
          x => x.getField("c").cast(DoubleType)).as("xs"),
        count(lit(1)).as("n"))
      .select(col("n"), expr(
        """aggregate(
             slice(xs, 2, size(xs) - 1),
             named_struct(
               'l', element_at(xs, 1),
               'b', element_at(xs, 2) - element_at(xs, 1)),
             (a, x) -> named_struct(
               'l', CAST(0.2 AS DOUBLE) * x + CAST(0.8 AS DOUBLE) * (a.l + a.b),
               'b', CAST(0.1 AS DOUBLE) * ((CAST(0.2 AS DOUBLE) * x
                      + CAST(0.8 AS DOUBLE) * (a.l + a.b)) - a.l)
                    + CAST(0.9 AS DOUBLE) * a.b))""").as("st"))
      .select(asLong(col("n")).as("n_months"),
        (floor(col("st.l")) / 100.0).as("level"),
        (floor(col("st.b")) / 100.0).as("trend"),
        (floor(col("st.l") + col("st.b")) / 100.0).as("forecast_next"))
  }

  /** Mann–Kendall trend test (§2.28): the nonparametric "is there a
    * monotone trend at all" TEST on monthly revenue — the hypothesis
    * complement to ts_theil_sen's slope ESTIMATE (same pair machinery,
    * opposite question). S = Σ sign(xⱼ−xᵢ) over i<j and the tie
    * correction Σt(t−1)(2t+5) are pure BIGINT-cents arithmetic over
    * the CALENDAR-bounded pair relation; the normal approximation
    * z = (S∓1)/√(varS) is one IEEE expression on exact integers,
    * floor-quantized at 1e4, with the 95% decision taken ON the
    * quantized integer. Scale: month-grain map-combined aggregate →
    * broadcast mo<mo' self-join (≤n²/2 month pairs at ANY SF) →
    * 1-row reduce; ties fold from a value-grain aggregate. */
  val tsMannKendall: Q = (s, d) => {
    val m = table(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mo"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("c"))
    val a = m.toDF("mo1", "c1")
    val b = m.toDF("mo2", "c2")
    val sPairs = a.join(broadcast(b), col("mo1") < col("mo2"))
      .agg(sum(when(col("c2") > col("c1"), 1L)
        .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("sStat"))
    val ties = m.groupBy(col("c")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(when(col("t") > 1,
        col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))), lit(0L)).as("tsum"))
    val nRel = m.agg(count(lit(1)).as("n"))
    val varS = ((col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tsum"))
      .cast(DoubleType)) / 18.0
    val z = when(col("sStat") > 0, (col("sStat") - 1).cast(DoubleType) / sqrt(varS))
      .when(col("sStat") < 0, (col("sStat") + 1).cast(DoubleType) / sqrt(varS))
      .otherwise(lit(0.0))
    sPairs.crossJoin(broadcast(nRel)).crossJoin(broadcast(ties))
      .select(asLong(col("n")).as("n_months"), asLong(col("sStat")).as("s_stat"),
        (floor(varS * 100) / 100).as("var_s"),
        (floor(z * 1e4) / 1e4).as("z"),
        when(floor(abs(z) * 1e4) > 19600,
          when(col("sStat") > 0, "increasing").otherwise("decreasing"))
          .otherwise("none").as("trend_95"))
  }

  /** Upper-side CUSUM drift detector on daily order volume (§2.35):
    * the SEQUENTIAL change-point monitor beside psi_drift's two-window
    * snapshot — S_d = max(0, S_{d-1} + x_d − μ − k) accumulates
    * persistent upward drift and forgets noise, the classic
    * Page (1954) recursion every volume-anomaly pager reimplements.
    * μ = ⌊Σx/n⌋ and k = 1 are INTEGERS, so the whole recursion is
    * exact BIGINT arithmetic (no float anywhere); the per-day S comes
    * from ONE aggregate-HOF fold over the calendar-sorted day array —
    * the ts_holt_linear recipe, ≡ DuckDB's recursive CTE bit-exactly —
    * with the running S trace emitted, not just the final state.
    * Output: the 20 highest-S days (drift peaks), tiebreak day. Scale:
    * one date-grain map-combined aggregate; the fold runs in-row over
    * a CALENDAR-bounded array (~2.4k days), then TakeOrderedAndProject
    * for the top-k. */
  val tsCusumTop: Q = (s, d) =>
    cusumTopFromDaily(table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(count(lit(1)).as("x")))

  /** The CUSUM fold over ANY day-grain count relation (dt, x) — shared
    * by ts_cusum_top (raw orders), the incrementally-maintained
    * day-grain MaterializedView monitor pass (round 12, MonitorSpec)
    * and the batch twin of Streams.cusumMonitor, so the three readers
    * cannot drift. */
  private[graft] def cusumTopFromDaily(byDay: DataFrame): DataFrame =
    byDay
      .agg(array_sort(collect_list(struct(col("dt"), col("x")))).as("a"),
        sum(col("x")).as("tot"), count(lit(1)).as("nd"))
      .select(col("a"), expr("tot div nd").as("mu"))
      .select(col("a"), expr(
        """aggregate(a,
             named_struct('s', CAST(0 AS BIGINT),
                          'out', CAST(array() AS ARRAY<BIGINT>)),
             (acc, e) -> named_struct(
               's', greatest(CAST(0 AS BIGINT), acc.s + e.x - mu - 1),
               'out', concat(acc.out,
                 array(greatest(CAST(0 AS BIGINT), acc.s + e.x - mu - 1)))),
             acc -> acc.out)""").as("ss"))
      .select(posexplode(arrays_zip(col("a"), col("ss"))).as(Seq("i", "z")))
      .select(col("z.a.dt").as("dt"), asLong(col("z.a.x")).as("x"),
        col("z.ss").as("cusum_s"))
      .orderBy(col("cusum_s").desc, col("dt"))
      .limit(20)

  /** Additive Holt-Winters with weekly seasonality (§2.37): the
    * level + trend + 7-seasonal-state recursion on DAILY revenue —
    * the forecaster between ts_holt_linear (no seasonality) and
    * ts_forecast_wape's seasonal-naive (no level/trend). α=0.2,
    * β=0.05, γ=0.1; init l₀ = mean of week 1 (one explicit
    * left-associated 7-term sum — identical tree both engines),
    * b₀ = 0, s_i = x_i − l₀. The seasonal state rides a ROTATING
    * 7-array inside the same aggregate-HOF fold as ts_holt_linear
    * (element 1 is always s_{t−7}; each step appends the refreshed
    * season), ≡ DuckDB's recursive CTE carrying s1..s7 columns —
    * the identical IEEE recurrence at every step. Output: the 7-day
    * forecast l + h·b + s'[h], floored to cents. Scale: one
    * date-grain map-combined aggregate; the fold is in-row over the
    * calendar-bounded day array. */
  val tsHoltWinters: Q = (s, d) =>
    holtWintersFromDaily(table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("c")))

  /** The Holt-Winters fold over ANY day-grain revenue relation
    * (dt, c BIGINT cents) — shared by ts_holt_winters (raw orders) and
    * the day-grain MaterializedView monitor pass (round 12), so the
    * O(delta)-maintained state and the full-scan read cannot drift. */
  private[graft] def holtWintersFromDaily(byDay: DataFrame): DataFrame =
    byDay
      .agg(transform(array_sort(collect_list(struct(col("dt"), col("c")))),
        x => x.getField("c").cast(DoubleType)).as("xs"))
      .select(expr(
        """aggregate(
             slice(xs, 8, size(xs) - 7),
             named_struct(
               'l', (element_at(xs, 1) + element_at(xs, 2) + element_at(xs, 3)
                 + element_at(xs, 4) + element_at(xs, 5) + element_at(xs, 6)
                 + element_at(xs, 7)) / CAST(7 AS DOUBLE),
               'b', CAST(0 AS DOUBLE),
               's', array(
                 element_at(xs, 1) - (element_at(xs, 1) + element_at(xs, 2)
                   + element_at(xs, 3) + element_at(xs, 4) + element_at(xs, 5)
                   + element_at(xs, 6) + element_at(xs, 7)) / CAST(7 AS DOUBLE),
                 element_at(xs, 2) - (element_at(xs, 1) + element_at(xs, 2)
                   + element_at(xs, 3) + element_at(xs, 4) + element_at(xs, 5)
                   + element_at(xs, 6) + element_at(xs, 7)) / CAST(7 AS DOUBLE),
                 element_at(xs, 3) - (element_at(xs, 1) + element_at(xs, 2)
                   + element_at(xs, 3) + element_at(xs, 4) + element_at(xs, 5)
                   + element_at(xs, 6) + element_at(xs, 7)) / CAST(7 AS DOUBLE),
                 element_at(xs, 4) - (element_at(xs, 1) + element_at(xs, 2)
                   + element_at(xs, 3) + element_at(xs, 4) + element_at(xs, 5)
                   + element_at(xs, 6) + element_at(xs, 7)) / CAST(7 AS DOUBLE),
                 element_at(xs, 5) - (element_at(xs, 1) + element_at(xs, 2)
                   + element_at(xs, 3) + element_at(xs, 4) + element_at(xs, 5)
                   + element_at(xs, 6) + element_at(xs, 7)) / CAST(7 AS DOUBLE),
                 element_at(xs, 6) - (element_at(xs, 1) + element_at(xs, 2)
                   + element_at(xs, 3) + element_at(xs, 4) + element_at(xs, 5)
                   + element_at(xs, 6) + element_at(xs, 7)) / CAST(7 AS DOUBLE),
                 element_at(xs, 7) - (element_at(xs, 1) + element_at(xs, 2)
                   + element_at(xs, 3) + element_at(xs, 4) + element_at(xs, 5)
                   + element_at(xs, 6) + element_at(xs, 7)) / CAST(7 AS DOUBLE))),
             (a, x) -> named_struct(
               'l', CAST(0.2 AS DOUBLE) * (x - element_at(a.s, 1))
                 + CAST(0.8 AS DOUBLE) * (a.l + a.b),
               'b', CAST(0.05 AS DOUBLE)
                 * ((CAST(0.2 AS DOUBLE) * (x - element_at(a.s, 1))
                     + CAST(0.8 AS DOUBLE) * (a.l + a.b)) - a.l)
                 + CAST(0.95 AS DOUBLE) * a.b,
               's', concat(slice(a.s, 2, 6), array(
                 CAST(0.1 AS DOUBLE)
                   * (x - (CAST(0.2 AS DOUBLE) * (x - element_at(a.s, 1))
                       + CAST(0.8 AS DOUBLE) * (a.l + a.b)))
                 + CAST(0.9 AS DOUBLE) * element_at(a.s, 1)))))""").as("st"))
      .select(posexplode(expr(
        "transform(sequence(1, 7), h -> st.l + CAST(h AS DOUBLE) * st.b" +
          " + element_at(st.s, h))")).as(Seq("i", "f")))
      .select((col("i") + 1).cast(LongType).as("h"),
        (floor(col("f")) / 100.0).as("forecast"))
      .orderBy("h")

  /** Cohort retention half-life (§2.36): for each weekly signup
    * cohort, the FIRST week-of-life where active users fall below
    * half the cohort — the one-number summary of the retention curve
    * ts_cohort_retention tabulates (a product team tracks the
    * half-life trend, not the full triangle). Monday-ISO weeks in
    * both engines (the ts_cohort_ltv convention); the 50% test is
    * 2·retained < cohort_size — pure integers, no percentage float.
    * Cohorts that never dip within the observed span report -1.
    * Scale: one user-grain min + one (cohort, week) distinct
    * aggregate; the half-life fold is a bounded reduce over the
    * calendar-bounded (cohort, age) relation. */
  val tsRetentionHalfLife: Q = (s, d) => {
    val wu = Window.partitionBy(col("user_id"))
    val act = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .withColumn("cohort_wk",
        date_trunc("week", min(col("ts")).over(wu)).cast(DateType))
      .select(col("user_id"), col("cohort_wk"),
        (datediff(date_trunc("week", col("ts")).cast(DateType),
          col("cohort_wk")) / 7).cast(LongType).as("wk"))
      .distinct()
    val sizes = act.filter(col("wk") === 0)
      .groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_size"))
    val ret = act.filter(col("wk") > 0)
      .groupBy(col("cohort_wk"), col("wk"))
      .agg(count(lit(1)).as("retained"))
    val last = act.groupBy(col("cohort_wk")).agg(max(col("wk")).as("last_wk"))
    // dense week spine 1..last_wk per cohort (calendar-bounded): a
    // GAP week — zero retained users — IS 0% retention and must be
    // eligible as the half-life week, which a sparse min over
    // existing rows would skip
    val spine = sizes.join(last, Seq("cohort_wk"))
      .select(col("cohort_wk"), col("cohort_size"),
        explode(sequence(lit(1L), greatest(col("last_wk"), lit(1L))))
          .as("wk"))
    val hl = spine
      .join(ret, Seq("cohort_wk", "wk"), "left")
      .withColumn("retained", coalesce(col("retained"), lit(0L)))
      .groupBy(col("cohort_wk"))
      .agg(min(when(col("retained") * 2 < col("cohort_size"), col("wk")))
        .as("hl"))
    sizes
      .join(hl, Seq("cohort_wk"), "left")
      .join(last, Seq("cohort_wk"))
      .select(col("cohort_wk"), asLong(col("cohort_size")).as("cohort_size"),
        asLong(col("last_wk")).as("weeks_observed"),
        asLong(coalesce(col("hl"), lit(-1L))).as("half_life_weeks"))
      .orderBy("cohort_wk")
  }

  /** Conditional entropy of the event chain (§2.36): H(next | current)
    * over each user's event-type sequence — how PREDICTABLE the next
    * action is given the current one, the sequence-model read of
    * ts_markov_transitions' matrix (uniform rows → ln k nats; a
    * deterministic funnel → 0). Per (i,j) cell the term
    * n_ij·ln(n_i/n_ij) is floor-quantized at 1e6 BEFORE summation
    * (ln on an exact-integer-ratio double — the collocation_llr
    * precedent), so the per-state entropy is an exact integer
    * division of quantized BIGINTs — fold-order-proof. Scale: one
    * lead() window on the user_id shuffle; everything after runs on
    * the event-type² relation (bounded by the type vocabulary). */
  val tsConditionalEntropy: Q = (s, d) => {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = table(s, d, "events")
      .filter(col("user_id").isNotNull)
      .select(col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("nij"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("nij")).as("ni"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .withColumn("t6",
        floor(col("nij").cast(DoubleType) *
          log(col("ni").cast(DoubleType) / col("nij").cast(DoubleType)) * 1e6)
          .cast(LongType))
      .groupBy(col("from_type"))
      .agg(max(col("ni")).as("ni"), sum(col("t6")).as("st6"),
        count(lit(1)).as("n_successors"))
      .select(col("from_type"), asLong(col("ni")).as("n_transitions"),
        asLong(col("n_successors")).as("n_successors"),
        expr("st6 div ni").as("h_nats_q6"))
      .orderBy("from_type")
  }

  /** Lead–lag cross-correlation (§2.41): Pearson r between daily
    * revenue and the daily order COUNT shifted by lag −7..+7 days —
    * does volume LEAD money (operational signals often do) or move
    * with it? ts_rolling_corr reads the contemporaneous relation over
    * time; this reads the temporal OFFSET structure at one glance
    * (the argmax lag is the lead time a forecaster would exploit).
    * Exactness: day sums are exact BIGINT cents/counts; cross and
    * square sums accumulate DECIMAL(38,0) ↔ HUGEINT (cents² wraps
    * BIGINT past ~3e9-cent days); each lag's r evaluates one fixed
    * double tree over exact sums, floor-quantized at 1e6. Scale: the
    * date-grain aggregate is the only fact-sized pass; 15 lags × the
    * calendar-bounded day relation join on shifted dates — the
    * documented bounded family, never fact². */
  val tsXcorrLags: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("rev"),
        count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val lags = s.range(-7, 8).select(col("id").cast(IntegerType).as("lag"))
    val a = daily.select(col("dt"), col("rev"))
    val b = daily.select(col("dt").as("dt2"), col("cnt"))
    val st = a.crossJoin(broadcast(lags))
      .join(broadcast(b), date_add(col("dt"), col("lag")) === col("dt2"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"), sum(col("rev")).as("sx"),
        sum(col("cnt")).as("sy"),
        sum(col("rev").cast(dec38) * col("cnt")).as("sxy"),
        sum(col("rev").cast(dec38) * col("rev")).as("sxx"),
        sum(col("cnt").cast(dec38) * col("cnt")).as("syy"))
    def D(c: String) = col(c).cast(DoubleType)
    val num = D("n") * D("sxy") - D("sx") * D("sy")
    val den = sqrt((D("n") * D("sxx") - D("sx") * D("sx")) *
      (D("n") * D("syy") - D("sy") * D("sy")))
    st.select(asLong(col("lag")).as("lag"), asLong(col("n")).as("n_days"),
        asLong(floor(num / den * 1e6)).as("r_q6"))
      .orderBy("lag")
  }

  /** Epoch-folding periodogram (§2.42): which period 2..30 days best
    * explains the daily order-count series — the DOMINANT-cycle
    * detector built from folding, not Fourier (astronomy's
    * epoch-folding search): for each candidate period p, fold days
    * onto phase t mod p and measure the between-phase explained
    * variance Σ_ph S_ph²/n_ph − T²/D over SS_total. No trig anywhere —
    * libm cos/sin differ across engines in the last ulp; folding is
    * pure integer phase assignment, so the whole statistic is the
    * anova recipe (phase terms floored at 1e6 on identical doubles
    * before the exact sum). A weekly cycle shows as the p=7 (and
    * harmonics 14/21/28) ratio standing clear of its neighbors.
    * Scale: ONE date-grain fact aggregate; the 29 × |days| fold
    * relation is calendar-bounded (the documented family); phase
    * aggregates map-combine. */
  val tsDominantPeriod: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(count(lit(1)).as("x"))
      .localCheckpoint(true)
    val base = daily.agg(min(col("dt")).as("d0"), count(lit(1)).as("dd"),
      sum(col("x")).as("t"), sum(col("x") * col("x")).as("sxx"))
    val periods = s.range(2, 31).select(col("id").cast(IntegerType).as("p"))
    val folded = daily.crossJoin(broadcast(base))
      .crossJoin(broadcast(periods))
      .select(col("p"), col("dd"), col("t"), col("sxx"),
        pmod(datediff(col("dt"), col("d0")), col("p")).as("ph"), col("x"))
    val byPhase = folded
      .groupBy(col("p"), col("ph"), col("dd"), col("t"), col("sxx"))
      .agg(count(lit(1)).as("nph"), sum(col("x")).as("sph"))
    val term = floor(col("sph").cast(DoubleType) * col("sph").cast(DoubleType) /
      col("nph").cast(DoubleType) * 1e6).cast(LongType)
    val byP = byPhase.groupBy(col("p"), col("dd"), col("t"), col("sxx"))
      .agg(sum(term).as("qb"), count(lit(1)).as("nphases"))
    val grand = col("t").cast(DoubleType) * col("t").cast(DoubleType) /
      col("dd").cast(DoubleType)
    val ssb = col("qb").cast(DoubleType) / 1e6 - grand
    val sst = col("sxx").cast(DoubleType) - grand
    byP.select(asLong(col("p")).as("period"),
        asLong(col("nphases")).as("n_phases"),
        asLong(floor(ssb)).as("ss_between_floor"),
        asLong(floor(ssb / sst * 1e6)).as("var_explained_q6"))
      .orderBy("period")
  }

  /** Maximum-sum streak, Kadane via prefix extrema (§2.42): the
    * contiguous day range where revenue ran hottest above its own
    * mean (and the coldest range below it) — the "best/worst stretch"
    * readout behind every drawdown/runs story, answered EXACTLY: with
    * x_d = y_d·D − T (demeaned scaled by D — integer, sums to zero),
    * the best streak is max_t [P_t − min_{s<t} P_s] over prefix sums,
    * the classic O(n) identity. Exactness: P is exact BIGINT; the
    * running min/max carry (P, date) structs so ties break to the
    * EARLIEST start deterministically in both engines (struct order
    * verified cross-engine); the best gain filters to its earliest
    * end day. excess cents = gain div D, floor on identical doubles.
    * Scale: one date-grain fact aggregate; prefix windows ride the
    * calendar-bounded day relation (documented bounded family). */
  val tsHotStreakKadane: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
    val tot = daily.agg(count(lit(1)).as("dd"), sum(col("y").cast(dec38)).as("t"),
      min(col("dt")).as("d0"))
    val wOrd = Window.orderBy(col("dt"))
    val px = daily.crossJoin(broadcast(tot))
      .select(col("dt"), col("dd"), col("d0"),
        (col("y").cast(dec38) * col("dd") - col("t")).as("x"))
      .withColumn("pf", sum(col("x")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("minb", min(struct(col("pf").as("p"), col("dt").as("sd")))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("maxb", max(struct(col("pf").as("p"), col("dt").as("sd")))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .localCheckpoint(true)
    // the virtual P₀ = 0 sentinel (streaks may start at day 1) must
    // COMPETE with the running extrema, not only fill the first row's
    // null: it wins the min on ≥ 0 (earliest-start tie rule — the
    // sentinel's position precedes every day) and the max on ≤ 0
    val zero = lit(0).cast(dec38)
    val useMinSent = col("minb.p").isNull || col("minb.p") >= zero
    val useMaxSent = col("maxb.p").isNull || col("maxb.p") <= zero
    val rows = px
      .select(col("dt"), col("dd"),
        (col("pf") - when(useMinSent, zero).otherwise(col("minb.p"))).as("gain"),
        when(useMinSent, date_sub(col("d0"), 1)).otherwise(col("minb.sd"))
          .as("gstart0"),
        (col("pf") - when(useMaxSent, zero).otherwise(col("maxb.p"))).as("loss"),
        when(useMaxSent, date_sub(col("d0"), 1)).otherwise(col("maxb.sd"))
          .as("lstart0"))
      .localCheckpoint(true)
    val bg = rows.agg(max(col("gain")).as("bg"), min(col("loss")).as("wl"),
      max(col("dd")).as("ddt"))
    val best = rows.join(broadcast(bg), col("gain") === col("bg"))
      .groupBy(col("bg"), col("ddt"))
      .agg(min(struct(col("dt").as("e"), col("gstart0").as("st"))).as("b"))
    val worst = rows.join(broadcast(bg), col("loss") === col("wl"))
      .groupBy(col("wl"))
      .agg(min(struct(col("dt").as("e"), col("lstart0").as("st"))).as("w"))
    best.crossJoin(broadcast(worst))
      .select(asLong(col("ddt")).as("n_days"),
        date_add(col("b.st"), 1).as("best_start"),
        col("b.e").as("best_end"),
        asLong(floor(col("bg").cast(DoubleType) / col("ddt").cast(DoubleType)))
          .as("best_excess_cents"),
        date_add(col("w.st"), 1).as("worst_start"),
        col("w.e").as("worst_end"),
        asLong(floor(col("wl").cast(DoubleType) / col("ddt").cast(DoubleType)))
          .as("worst_excess_cents"))
  }

  /** Two-sample log-rank test (§2.43): does time-to-repeat-purchase
    * differ between the BUILDING and MACHINERY segments —
    * ts_survival_km draws each curve; this is the TEST a retention
    * experiment reads before believing the separation (the standard
    * censoring-correct comparison; a t-test on observed gaps is
    * biased by exactly the customers who never returned). Subjects:
    * per-customer first→second order gap, censored at the study end
    * (max order date). Exactness: the risk table is pure integers on
    * the bounded gap-day grid (events e_gt and at-risk n_gt via
    * suffix sums over the grid); each event time's hypergeometric
    * E/V terms floor-quantize at 1e6/1e8 on identical doubles before
    * BIGINT sums; χ² = (O₁−E₁)²/V is one double tree, floored 1e4.
    * Scale: ONE customer-grain fact aggregate; everything after
    * lives on the ≤|distinct gap days| bounded grid (documented
    * bounded-window family). */
  val tsLogrankSegments: Q = (s, d) => {
    val w2 = Window.partitionBy(col("ck")).orderBy(col("odt"))
    val firstTwo = table(s, d, "orders")
      .join(broadcast(table(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))
          .filter(col("seg").isin("BUILDING", "MACHINERY"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey").as("ck"), col("seg"),
        col("o_orderdate").cast(DateType).as("odt"))
      .withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= 2)
    val endD = table(s, d, "orders")
      .agg(max(col("o_orderdate").cast(DateType)).as("endd"))
    val subj = firstTwo.groupBy(col("ck"), col("seg"))
      .agg(min(col("odt")).as("f"),
        max(when(col("rn") === 2, col("odt"))).as("sec"))
      .crossJoin(broadcast(endD))
      .select(col("seg"),
        when(col("sec").isNotNull, datediff(col("sec"), col("f")))
          .otherwise(datediff(col("endd"), col("f"))).cast(LongType).as("t"),
        when(col("sec").isNotNull, 1L).otherwise(0L).as("e"))
    // bounded grid: per gap day, both groups' event/arrival counts in
    // ONE conditional aggregate — a (t)-keyed pivot, no join at all
    // (a full-outer of per-group relations cannot broadcast in Spark)
    val full = subj.groupBy(col("t"))
      .agg(sum(when(col("seg") === "BUILDING", col("e")).otherwise(0L))
          .as("ev1"),
        sum(when(col("seg") === "BUILDING", 1L).otherwise(0L)).as("arr1"),
        sum(when(col("seg") === "MACHINERY", col("e")).otherwise(0L))
          .as("ev2"),
        sum(when(col("seg") === "MACHINERY", 1L).otherwise(0L)).as("arr2"))
    val wSuf = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val risk = full
      .withColumn("n1", sum(col("arr1")).over(wSuf))
      .withColumn("n2", sum(col("arr2")).over(wSuf))
      .filter(col("ev1") + col("ev2") > 0)
    val dt = col("ev1") + col("ev2")
    val nt = col("n1") + col("n2")
    val eTerm = floor(col("n1").cast(DoubleType) * dt.cast(DoubleType) /
      nt.cast(DoubleType) * 1e6).cast(LongType)
    val vTerm = when(nt > 1,
      floor(col("n1").cast(DoubleType) * col("n2").cast(DoubleType) *
        dt.cast(DoubleType) * (nt - dt).cast(DoubleType) /
        (nt.cast(DoubleType) * nt.cast(DoubleType) * (nt - 1).cast(DoubleType))
        * 1e8)).otherwise(lit(0.0)).cast(LongType)
    val agg = risk.agg(sum(col("ev1")).as("o1"), sum(col("ev2")).as("o2"),
      sum(eTerm).as("e1q6"), sum(vTerm).as("vq8"),
      max(col("n1")).as("nsub1"), max(col("n2")).as("nsub2"))
    val o1d = col("o1").cast(DoubleType)
    val e1d = col("e1q6").cast(DoubleType) / 1e6
    val vd = col("vq8").cast(DoubleType) / 1e8
    agg.select(asLong(col("nsub1")).as("n_building"),
      asLong(col("nsub2")).as("n_machinery"),
      asLong(col("o1")).as("events_building"),
      asLong(col("o2")).as("events_machinery"),
      asLong(col("e1q6")).as("e1_q6"), asLong(col("vq8")).as("v_q8"),
      asLong(floor((o1d - e1d) * (o1d - e1d) / vd * 1e4)).as("chi2_q4"))
  }

  /** Hurst exponent via rescaled-range analysis (§2.44): is daily
    * revenue long-memory (H > 0.5 — shocks persist, naive CIs lie) or
    * mean-reverting (H < 0.5)? Classic R/S: for block sizes 16..256,
    * split the day series into complete blocks, per block R/S =
    * (max−min of mean-adjusted prefix sums) / population sd, fit
    * ln(mean R/S) on ln(n). Exactness: with W'_k = n·P_k − k·S (exact
    * BIGINT — prefix scaled by the block size), R/S reduces to
    * R' / √(n·Σy²−S²), one double per block floored at 1e6; per-size
    * means are integer div; the 5-point OLS is one double tree.
    * Scale: ONE date-grain fact aggregate; blocks/prefixes ride the
    * calendar-bounded day relation (documented bounded family). */
  val tsHurstExponent: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("dt")))
        .cast(LongType))
      .localCheckpoint(true)
    val sizes = {
      import s.implicits._
      Seq(16L, 32L, 64L, 128L, 256L).toDF("bn")
    }
    val blocks = daily.crossJoin(broadcast(sizes))
      .select(col("bn"), expr("(t - 1) div bn").as("blk"),
        expr("(t - 1) % bn + 1").as("k"), col("y"))
    val wB = Window.partitionBy(col("bn"), col("blk")).orderBy(col("k"))
    // W'_k = bn·P_k − k·S needs the block total S inside the per-row
    // expression — one bounded aggregate broadcast back onto the rows
    val blockTot = blocks.groupBy(col("bn").as("b2"), col("blk").as("k2"))
      .agg(sum(col("y").cast(dec38)).as("stot"), count(lit(1)).as("m2"))
    val wdev = blocks
      .withColumn("pk", sum(col("y")).over(
        wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(blockTot),
        col("bn") === col("b2") && col("blk") === col("k2"))
      .filter(col("m2") === col("bn")) // complete blocks only
      .select(col("bn"), col("blk"),
        (col("bn").cast(dec38) * col("pk") - col("k").cast(dec38) * col("stot"))
          .as("wk"),
        col("stot"), col("m2"))
    val perBlock = wdev.groupBy(col("bn"), col("blk"), col("stot"))
      .agg(max(col("wk")).as("wmax"), min(col("wk")).as("wmin"))
      .join(blocks.groupBy(col("bn").as("b3"), col("blk").as("k3"))
          .agg(sum(col("y").cast(dec38) * col("y")).as("ssq")),
        col("bn") === col("b3") && col("blk") === col("k3"))
    val rsq = floor((col("wmax") - col("wmin")).cast(DoubleType) /
      sqrt((col("bn").cast(dec38) * col("ssq") - col("stot") * col("stot"))
        .cast(DoubleType)) * 1e6).cast(LongType)
    val bySize = perBlock.select(col("bn"), rsq.as("rsq"))
      .groupBy(col("bn"))
      .agg(count(lit(1)).as("nblocks"), sum(col("rsq")).as("srs"))
      .select(col("bn"), col("nblocks"),
        expr("srs div nblocks").as("mean_rs_q6"))
      .localCheckpoint(true)
    // 5-point OLS of ln(mean_rs) on ln(bn): quantized ln at 1e6, exact
    // BIGINT power sums, one double tree (the zipf recipe)
    val xy = bySize.select(
      floor(log(col("bn").cast(DoubleType)) * 1e6).cast(LongType).as("lx"),
      floor(log(col("mean_rs_q6").cast(DoubleType) / 1e6) * 1e6)
        .cast(LongType).as("ly"))
    val ols = xy.agg(count(lit(1)).as("np"), sum(col("lx")).as("sx"),
      sum(col("ly")).as("sy"),
      sum(col("lx").cast(dec38) * col("lx")).as("sxx"),
      sum(col("lx").cast(dec38) * col("ly")).as("sxy"))
    def D(c: String) = col(c).cast(DoubleType)
    val hurst = (D("np") * D("sxy") - D("sx") * D("sy")) /
      (D("np") * D("sxx") - D("sx") * D("sx"))
    bySize.crossJoin(broadcast(
        ols.select(floor(hurst * 1e6).cast(LongType).as("hurst_q6"))))
      .select(asLong(col("bn")).as("block_n"),
        asLong(col("nblocks")).as("n_blocks"),
        asLong(col("mean_rs_q6")).as("mean_rs_q6"), col("hurst_q6"))
      .orderBy("block_n")
  }

  /** Chow structural-break test (§2.44): did the linear trend of daily
    * revenue CHANGE at the calendar midpoint — ts_changepoint hunts
    * the argmax mean shift; Chow is the formal F-test of "same line
    * before and after" at a KNOWN date (launch, policy change), the
    * difference a regression reader asks for. F = ((SSR_p − SSR₁ −
    * SSR₂)/2) / ((SSR₁+SSR₂)/(n−4)). Exactness: x = day index, y =
    * cents; all power sums DECIMAL(38,0) ↔ HUGEINT per segment; the
    * three SSR terms and F evaluate one double tree, floored (SSR at
    * integer dollars², F at 1e6). Scale: ONE date-grain aggregate +
    * three 1-row segment reduces of the bounded day relation. */
  val tsChowBreak: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
    val bounds = daily.agg(min(col("dt")).as("d0"), max(col("dt")).as("d1"))
      .select(col("d0"),
        date_add(col("d0"), (datediff(col("d1"), col("d0")) / 2)
          .cast(IntegerType)).as("mid"))
    val pts = daily.crossJoin(broadcast(bounds))
      .select((datediff(col("dt"), col("d0")) + 1).cast(LongType).as("x"),
        col("y"), (col("dt") < col("mid")).as("pre"))
    def moments(df: DataFrame) = df.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec38)).as("sx"), sum(col("y").cast(dec38)).as("sy"),
      sum(col("x").cast(dec38) * col("x")).as("sxx"),
      sum(col("x").cast(dec38) * col("y")).as("sxy"),
      sum(col("y").cast(dec38) * col("y")).as("syy"))
    def ssr(p: String) = {
      def D(c: String) = col(p + c).cast(DoubleType)
      val sxxC = D("n") * D("sxx") - D("sx") * D("sx")
      val sxyC = D("n") * D("sxy") - D("sx") * D("sy")
      val syyC = D("n") * D("syy") - D("sy") * D("sy")
      (syyC - sxyC * sxyC / sxxC) / D("n") / 1e4 // dollars², per-n scaled
    }
    def ren(df: DataFrame, p: String) =
      df.columns.foldLeft(df)((acc, c) => acc.withColumnRenamed(c, p + c))
    val t = ren(moments(pts), "p")
      .crossJoin(broadcast(ren(moments(pts.filter(col("pre"))), "a")))
      .crossJoin(broadcast(ren(moments(pts.filter(!col("pre"))), "b")))
    // un-scale: ssr(p) above is SSR/n in dollars² — multiply back by n
    def D2(c: String) = col(c).cast(DoubleType)
    val ssrP = ssr("p") * D2("pn")
    val ssrA = ssr("a") * D2("an")
    val ssrB = ssr("b") * D2("bn")
    val f = ((ssrP - ssrA - ssrB) / 2.0) /
      ((ssrA + ssrB) / (D2("pn") - 4.0))
    // SSR in MILLIONS of dollars² — raw dollars² is ~3e19 at sf0.1,
    // past BIGINT (measured: DuckDB cast error, Spark floor saturates)
    t.select(asLong(col("an")).as("n_pre"), asLong(col("bn")).as("n_post"),
      asLong(floor(ssrP / 1e6)).as("ssr_pooled_m"),
      asLong(floor(ssrA / 1e6)).as("ssr_pre_m"),
      asLong(floor(ssrB / 1e6)).as("ssr_post_m"),
      asLong(floor(f * 1e6)).as("f_q6"))
  }

  /** Newey–West long-run variance (§2.44): the HAC standard error of
    * mean daily revenue with a Bartlett kernel at L=7 — the
    * autocorrelation-correct uncertainty every "is this week's mean
    * up" readout needs when ts_acf_weekly shows serial dependence
    * (iid SEs understate by the γ mass this op reports lag by lag).
    * Exactness: demeaned products scale by D² ((y_t·D−T)(y_{t+l}·D−T)
    * — exact DECIMAL(38,0) ↔ HUGEINT), per-lag γ floors to integer
    * dollars²; the weighted long-run variance and SE are one double
    * tree. Scale: ONE date-grain aggregate + an 8-lag broadcast
    * self-join of the bounded day relation (the xcorr shape). */
  val tsNeweyWest: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
      .localCheckpoint(true)
    val tot = daily.agg(count(lit(1)).as("dd"), sum(col("y").cast(dec38)).as("t"))
    val lags = s.range(0, 8).select(col("id").cast(IntegerType).as("lag"))
    val a = daily.select(col("dt"), col("y"))
    val b = daily.select(col("dt").as("dt2"), col("y").as("y2"))
    val gam = a.crossJoin(broadcast(lags))
      .join(broadcast(b), date_add(col("dt"), col("lag")) === col("dt2"))
      .crossJoin(broadcast(tot))
      .groupBy(col("lag"), col("dd"))
      .agg(sum((col("y").cast(dec38) * col("dd") - col("t")) *
        (col("y2").cast(dec38) * col("dd") - col("t"))).as("sp"))
      // γ_l in dollars²: Σ[(y·D−T)(y'·D−T)] / D³ / 1e4 (the 1/D of the
      // autocovariance times the D² scaling), floored per lag
      .select(col("lag"), col("dd"),
        floor(col("sp").cast(DoubleType) /
          (col("dd").cast(DoubleType) * col("dd").cast(DoubleType) *
            col("dd").cast(DoubleType)) / 1e4).cast(LongType).as("gamma_d2"))
      .localCheckpoint(true)
    val wgt = (lit(8.0) - col("lag").cast(DoubleType)) / 8.0
    val lrv = gam.select(col("dd"),
        when(col("lag") === 0, col("gamma_d2").cast(DoubleType))
          .otherwise(lit(2.0) * wgt * col("gamma_d2").cast(DoubleType))
          .as("term"))
      .groupBy(col("dd")).agg(sum(col("term")).as("lrv"))
      .select(col("dd").as("dd2"), col("lrv"),
        floor(sqrt(col("lrv") / col("dd").cast(DoubleType)) * 1e2)
          .cast(LongType).as("se_dollars_q2"))
    gam.crossJoin(broadcast(lrv.select(col("lrv"), col("se_dollars_q2"))))
      .select(asLong(col("lag")).as("lag"),
        asLong((lit(1000000L) * (lit(8L) - col("lag")) / 8L).cast(LongType))
          .as("weight_ppm"),
        col("gamma_d2"), asLong(floor(col("lrv"))).as("lrv_d2_floor"),
        col("se_dollars_q2"))
      .orderBy("lag")
  }

  /** Partial autocorrelation at lag 2 (§2.45): does yesterday's
    * revenue carry information BEYOND what the day before already
    * explains — φ₂₂ = (r₂ − r₁²)/(1 − r₁²), the Durbin–Levinson step
    * that identifies AR order (ts_autocorr_lag1/ts_acf_weekly read
    * raw correlations; the PACF cutoff is what picks the model). Both
    * autocorrelations use the lag-join convention over the day grid,
    * each floored at 1e6 from its exact-moment double tree; φ₂₂ is
    * then a deterministic function OF THE QUANTIZED integers (no
    * fresh float path). Scale: one date-grain aggregate + two
    * calendar-bounded lag joins. */
  val tsPacfLag2: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
      .localCheckpoint(true)
    def rAtLag(l: Int): DataFrame = {
      val pairs = daily.select(col("dt"), col("y").as("x"))
        .join(broadcast(daily.select(date_add(col("dt"), l).as("dt"),
          col("y").as("z"))), Seq("dt"))
      pairs.agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec38)).as("sx"), sum(col("z").cast(dec38)).as("sz"),
        sum(col("x").cast(dec38) * col("z")).as("sxz"),
        sum(col("x").cast(dec38) * col("x")).as("sxx"),
        sum(col("z").cast(dec38) * col("z")).as("szz"))
        .select(floor((col("n").cast(DoubleType) * col("sxz").cast(DoubleType) -
          col("sx").cast(DoubleType) * col("sz").cast(DoubleType)) /
          (sqrt(col("n").cast(DoubleType) * col("sxx").cast(DoubleType) -
            col("sx").cast(DoubleType) * col("sx").cast(DoubleType)) *
            sqrt(col("n").cast(DoubleType) * col("szz").cast(DoubleType) -
              col("sz").cast(DoubleType) * col("sz").cast(DoubleType))) * 1e6)
          .cast(LongType).as(s"r${l}_q6"), col("n").as(s"n$l"))
    }
    val r1d = col("r1_q6").cast(DoubleType) / 1e6
    val r2d = col("r2_q6").cast(DoubleType) / 1e6
    rAtLag(1).crossJoin(broadcast(rAtLag(2)))
      .select(asLong(col("n1")).as("n_pairs_lag1"),
        asLong(col("n2")).as("n_pairs_lag2"),
        col("r1_q6"), col("r2_q6"),
        asLong(floor((r2d - r1d * r1d) / (lit(1.0) - r1d * r1d) * 1e6))
          .as("pacf2_q6"))
  }

  /** Permutation entropy ordinal census (§2.48, Bandt–Pompe): the
    * distribution of order-3 ordinal patterns of daily order counts —
    * a complexity readout that sees STRUCTURE acf can't (a monotone
    * ramp and a noisy series can share autocorrelations; their ordinal
    * pattern distributions differ maximally). Each day's (x_t, x_t+1,
    * x_t+2) triple maps to the permutation that sorts it, ties broken
    * by POSITION (the standard stable convention) — rank_i = #{j :
    * x_j < x_i ∨ (x_j = x_i ∧ j < i)}, pattern = r0·100+r1·10+r2, pure
    * integer CASE arithmetic identical in both engines. Per pattern:
    * count, share, and the −p·ln p entropy contribution (ONE ln on the
    * exact rational, the logprob recipe). Scale: one date-grain
    * aggregate; lead windows ride the calendar-bounded day relation
    * (documented bounded family). */
  val tsPermutationEntropy: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("dt"))
    val tri = daily
      .select(col("x").as("a"), lead(col("x"), 1).over(w).as("b"),
        lead(col("x"), 2).over(w).as("c"))
      .filter(col("c").isNotNull)
    def lt(p: Column, q: Column) = when(p < q, 1L).otherwise(0L)
    def ltEq(p: Column, q: Column) = when(p <= q, 1L).otherwise(0L)
    // stable ranks: earlier position wins ties
    val r0 = lt(col("b"), col("a")) + lt(col("c"), col("a"))
    val r1 = ltEq(col("a"), col("b")) + lt(col("c"), col("b"))
    val r2 = ltEq(col("a"), col("c")) + ltEq(col("b"), col("c"))
    val pats = tri.select((r0 * 100 + r1 * 10 + r2).as("pattern"))
      .groupBy(col("pattern")).agg(count(lit(1)).as("n"))
    val tot = pats.agg(sum(col("n")).as("t"))
    pats.crossJoin(broadcast(tot))
      .select(asLong(col("pattern")).as("pattern"), asLong(col("n")).as("n"),
        expr("(n * 1000000) div t").as("share_q6"),
        asLong(floor(col("n").cast(DoubleType) / col("t") *
          log(col("t").cast(DoubleType) / col("n")) * 1e6)).as("plogp_q6"))
      .orderBy("pattern")
  }

  /** Sample entropy (§2.48, Richman–Moorman m=2): the regularity
    * statistic behind physiological/ops monitoring — the negative log
    * of the conditional probability that two day-windows matching for
    * 2 days keep matching for a 3rd. Low SampEn = the series repeats
    * its own motifs (predictable); high = each window is novel.
    * Template rows are the N−2 complete (x, x₊₁, x₊₂) triples;
    * B = pairs agreeing within r on (x, x₊₁), A = those also agreeing
    * on x₊₂; SampEn = ln(B/A). Tolerance r = ⌊0.2·σ⌋ cents, σ from
    * exact DECIMAL(38,0) moments in ONE double tree. Exactness: match
    * predicates are integer |Δ| ≤ r; one final ln on the exact B/A
    * rational, floored 1e6. Scale: a days² template pair join — the
    * hodges_lehmann calendar-bounded family, never fact². */
  val tsSampleEntropy: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
      .localCheckpoint(true)
    val w = Window.orderBy(col("dt"))
    val tpl = daily
      .select(col("dt"), col("y").as("x0"),
        lead(col("y"), 1).over(w).as("x1"), lead(col("y"), 2).over(w).as("x2"))
      .filter(col("x2").isNotNull)
      .localCheckpoint(true)
    val mom = tpl.agg(count(lit(1)).as("n"),
      sum(col("x0").cast(dec38)).as("sx"),
      sum(col("x0").cast(dec38) * col("x0")).as("sxx"))
    def D(c: Column) = c.cast(DoubleType)
    val tol = mom.select(col("n"),
      floor(lit(0.2) * sqrt(D(col("n").cast(dec38) * col("sxx") -
        col("sx") * col("sx"))) / D(col("n"))).cast(LongType).as("r"))
    val a = tpl.select(col("dt"), col("x0"), col("x1"), col("x2"))
    val b = tpl.select(col("dt").as("dt2"), col("x0").as("y0"),
      col("x1").as("y1"), col("x2").as("y2"))
    val pairs = a.join(b, col("dt") < col("dt2"))
      .crossJoin(broadcast(tol))
      .filter(abs(col("x0") - col("y0")) <= col("r") &&
        abs(col("x1") - col("y1")) <= col("r"))
    pairs
      .groupBy(col("n"), col("r"))
      .agg(count(lit(1)).as("b_pairs"),
        sum(when(abs(col("x2") - col("y2")) <= col("r"), 1L).otherwise(0L))
          .as("a_pairs"))
      .select(asLong(col("n")).as("n_templates"), asLong(col("r")).as("tol_cents"),
        asLong(col("b_pairs")).as("b_pairs"), asLong(col("a_pairs")).as("a_pairs"),
        asLong(floor(log(D(col("b_pairs")) / D(col("a_pairs"))) * 1e6))
          .as("sampen_q6"))
  }

  /** Seasonal-naive skill (§2.50): MAE(seasonal-naive-7) /
    * MAE(naive-1) on daily revenue, both scored over the SAME days —
    * the MASE-style one-number answer to "does weekly seasonality
    * actually help forecasting here" (skill < 1: yes — last week's
    * same-day beats yesterday; > 1: the series is drift-dominated).
    * Complements ts_forecast_wape (which scores a fitted model; this
    * scores the two canonical baselines every forecast must beat).
    * Exactness: absolute diffs are exact BIGINT cents; the two MAEs
    * and the skill are integer divisions. Scale: one date-grain
    * aggregate + one lag window pass. */
  val tsSeasonalNaiveSkill: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
    val w = Window.orderBy(col("dt"))
    daily
      .select(col("y"), lag(col("y"), 1).over(w).as("y1"),
        lag(col("y"), 7).over(w).as("y7"))
      .filter(col("y7").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(abs(col("y") - col("y1"))).as("sn"),
        sum(abs(col("y") - col("y7"))).as("ss"))
      .select(asLong(col("n")).as("n_days_scored"),
        expr("sn div n").as("mae_naive1_cents"),
        expr("ss div n").as("mae_snaive7_cents"),
        expr("(ss * 1000000) div sn").as("skill_q6"))
  }

  /** Ljung–Box portmanteau statistic (§2.49): Q(h) = n(n+2)·
    * Σ_{k≤h} r_k²/(n−k) over daily revenue, lags 1..7 — THE standard
    * "is there ANY autocorrelation left" gate (ts_acf_weekly reads the
    * individual r_k; Ljung–Box is the joint test a residual check or
    * white-noise screen actually thresholds). Exactness: demeaned
    * values scaled by n are exact DECIMAL(38,0) (z_t = n·y_t − S);
    * each r_k is ONE double division of exact sums floored 1e6; the
    * Q terms are pure integer arithmetic ON THE QUANTIZED r's
    * (n(n+2)·r_q6² div (n−k), running-summed, reported q4) — both
    * engines see identical integers. Row-lag semantics (lead over the
    * day order) so every lag has exactly n−k pairs regardless of
    * calendar gaps. Scale: one date-grain aggregate; ONE window pass
    * computes all 7 leads; the Q fold runs on 7 rows. */
  val tsLjungBox: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
      .localCheckpoint(true)
    val base = daily.agg(count(lit(1)).as("n"),
      sum(col("y").cast(dec38)).as("s"))
    val w = Window.orderBy(col("dt"))
    val z = daily.crossJoin(broadcast(base))
      .select(col("dt"), col("n"),
        (col("n").cast(dec38) * col("y") - col("s")).as("zz"))
    val withLeads = z.select(Seq(col("n"), col("zz")) ++
      (1 to 7).map(k => lead(col("zz"), k).over(w).as(s"l$k")): _*)
    val agg = withLeads.groupBy(col("n"))
      .agg(sum(col("zz") * col("zz")).as("den"),
        (1 to 7).map(k => sum(col("zz") * col(s"l$k")).as(s"num$k")): _*)
    agg.select(col("n"), col("den"), expr("stack(7, " +
        (1 to 7).map(k => s"$k, num$k").mkString(", ") + ")").as(Seq("k", "num")))
      .select(col("k"), col("n"),
        floor(col("num").cast(DoubleType) / col("den").cast(DoubleType) * 1e6)
          .cast(LongType).as("r_q6"))
      .withColumn("term",
        expr("(cast(n as decimal(38,0)) * (n + 2) * (r_q6 * r_q6)) div (n - k)"))
      .withColumn("qrun", sum(col("term")).over(Window.orderBy(col("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(asLong(col("k")).as("lag"), asLong(col("n")).as("n_days"),
        col("r_q6"), asLong(expr("qrun div 100000000")).as("lb_q_q4"))
      .orderBy("lag")
  }

  /** Variance-ratio test statistic (§2.48, Lo–MacKinlay): VR(q) =
    * Var(y_t − y_t−q) / (q · Var(y_t − y_t−1)) on daily revenue — the
    * random-walk diagnostic (VR≈1 under iid increments; <1 mean
    * reversion, >1 trending) that reads the SAME autocorrelation mass
    * acf reports, but as the one number a backtest gate thresholds.
    * Exactness: per-q difference moments accumulate DECIMAL(38,0);
    * VR is one double tree over exact sums, floored 1e6. Scale: one
    * date-grain aggregate; the q-lag differences are lead windows on
    * the calendar-bounded day relation; per-q moments map-combine. */
  val tsVarianceRatio: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val daily = table(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("dt"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("y"))
      .localCheckpoint(true)
    val w = Window.orderBy(col("dt"))
    def momentsAt(q: Int) = daily
      .select((lead(col("y"), q).over(w) - col("y")).as("dy"))
      .filter(col("dy").isNotNull)
      .agg(count(lit(1)).as(s"n$q"), sum(col("dy").cast(dec38)).as(s"s$q"),
        sum(col("dy").cast(dec38) * col("dy")).as(s"ss$q"))
    def D(c: Column) = c.cast(DoubleType)
    // Var from exact sums: (n·ss − s²) / n² — identical tree per q
    def varOf(q: Int) = (D(col(s"n$q").cast(dec38) * col(s"ss$q") -
      col(s"s$q") * col(s"s$q"))) / (D(col(s"n$q")) * D(col(s"n$q")))
    val base = momentsAt(1)
    Seq(2, 4, 8).map { q =>
      momentsAt(q).crossJoin(broadcast(base))
        .select(lit(q.toLong).as("q"), asLong(col(s"n$q")).as("n_diffs"),
          asLong(floor(varOf(q) / (lit(q.toDouble) * varOf(1)) * 1e6))
            .as("vr_q6"))
    }.reduce(_ unionAll _).orderBy("q")
  }

  /** Within-week doubled average ranks of daily order counts — the
    * shared relation under the §2.54 repeated-measures pair
    * (ts_friedman_test / ts_page_trend). Blocks are epoch weeks
    * (datediff div 7 — engine-identical integer arithmetic, no DOW
    * convention to reconcile), FULL weeks only; the rank of each day
    * within its week uses AVERAGE ranks on ties as exact doubled
    * integers (2·avg = 2·less + ties_incl_self + 1 — the wilcoxon
    * recipe), so Σr2 = 56 per week by construction. The 7×7 in-week
    * self-join is calendar-bounded.
    *
    * Round 17 (the orderClose recipe): FOUR k-sample queries (friedman,
    * page trend, kendall W, cochran Q) each rebuilt this daily
    * aggregate + in-week rank self-join (and its eager inner
    * checkpoint). weeks×7 rows — built once per sfDir. */
  private val weekRanks =
    graft.SharedBuild[String, DataFrame]("TimeSeries.weekRanks")(weekRanksBuild)

  private def weekRanksBuild(s: SparkSession, d: String): DataFrame = {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("y"))
      .select(col("y"),
        expr("datediff(dt, DATE '1970-01-01') div 7").as("wk"),
        expr("datediff(dt, DATE '1970-01-01') % 7").as("dow"))
    val fullWk = daily.groupBy(col("wk")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") === 7).select(col("wk"))
    val f = daily.join(fullWk, Seq("wk"), "left_semi")
      .localCheckpoint(true) // both sides of the in-week self-join
    // explicit rename (round 15): the using-join output order is an
    // analyzer detail — positional toDF would silently swap columns
    // if it ever changed
    val a = f.select(col("wk"), col("y").as("ya"), col("dow"))
    val b = f.select(col("wk"), col("y").as("yb"))
    a.join(b, Seq("wk"))
      .groupBy(col("wk"), col("dow"), col("ya"))
      .agg((lit(2) * sum(when(col("yb") < col("ya"), 1L).otherwise(0L)) +
        sum(when(col("yb") === col("ya"), 1L).otherwise(0L)) + 1).as("r2"),
        // strict-less count (round 15): ts_cochran_q's above-median
        // indicator reads it; r2 consumers are unchanged
        sum(when(col("yb") < col("ya"), 1L).otherwise(0L)).as("lcnt"))
      .select(col("wk"), col("dow"), col("r2"), col("lcnt"))
      // weeks·7 rows; consumed twice per caller (per-dow totals + the
      // distinct-week count), so the self-join runs once
      .localCheckpoint(true)
  }

  /** Friedman repeated-measures rank test (§2.54): does the day-of-week
    * effect survive BLOCKING by week — the nonparametric two-way
    * companion to ts_weekday_anova (which assumes normality) and the
    * k-sample extension of agg_wilcoxon_signed_rank's pairing. Exact
    * doubled average ranks (Σ = 56/week by construction); Q =
    * 12/(nk(k+1))·ΣR_j² − 3n(k+1) evaluated as ONE double tree over
    * exact integer totals, floored q6 (classic uncorrected form; ties
    * use average ranks). Scale: date-grain aggregate + the
    * calendar-bounded in-week self-join + a 7-row fold. */
  val tsFriedmanTest: Q = (s, d) => {
    val wr = weekRanks(s, d) // one call: checkpointed, read twice
    val byd = wr.groupBy(col("dow"))
      .agg(sum(col("r2")).as("r2j"))
    val n1 = wr.select(col("wk")).distinct()
      .agg(count(lit(1)).as("n"))
    byd.agg(sum(col("r2j") * col("r2j")).as("ss"),
        min(col("r2j")).as("r2_min"), max(col("r2j")).as("r2_max"))
      .crossJoin(broadcast(n1))
      .select(asLong(col("n")).as("n_weeks"),
        asLong(col("ss")).as("sum_r2_sq"),
        asLong(col("r2_min")).as("r2_min"),
        asLong(col("r2_max")).as("r2_max"),
        asLong(floor((lit(3.0) * col("ss") / (lit(56.0) * col("n")) -
          lit(24.0) * col("n")) * 1e6)).as("q_q6"))
  }

  /** Page trend test (§2.54): the ORDERED alternative Friedman can't
    * see — is the weekday effect a monotone ramp across the week
    * (L = Σ j·R_j over the same doubled week ranks)? L2 is an exact
    * integer; the standardization uses the untied null moments
    * E[L2] = nk(k+1)²/2 = 224n, Var[L2] = 4·nk²(k+1)(k²−1)/144 =
    * 1568n/3, one double tree floored q6. Shares weekRanks with
    * ts_friedman_test (the ks/mann-whitney shared-ECDF discipline). */
  val tsPageTrend: Q = (s, d) => {
    val wr = weekRanks(s, d) // one call: checkpointed, read twice
    val byd = wr.groupBy(col("dow"))
      .agg(sum(col("r2")).as("r2j"))
    val n1 = wr.select(col("wk")).distinct()
      .agg(count(lit(1)).as("n"))
    byd.agg(sum((col("dow") + 1) * col("r2j")).as("l2"))
      .crossJoin(broadcast(n1))
      .select(asLong(col("n")).as("n_weeks"),
        asLong(col("l2")).as("l2_x2"),
        asLong(floor((col("l2") - lit(224.0) * col("n")) /
          sqrt(lit(1568.0) * col("n") / 3) * 1e6)).as("z_q6"))
  }

  /** Kendall's coefficient of concordance W (§2.54/§2.56): HOW STRONG
    * is the weekday agreement across weeks that ts_friedman_test only
    * tests for — W ∈ [0,1] normalizes the rank-column dispersion
    * S = Σⱼ(Rⱼ − n(k+1)/2)². With the shared doubled ranks (Σr2 =
    * 56/week, mean column total 8n), S·4 = Σ(R2ⱼ − 8n)² is an EXACT
    * integer and W = S·4 / (112·n²) (k = 7, 12/(4·7·48) = 1/112) is
    * one double division, floored q6. Shares the weekRanks relation
    * (one 7-row fold). */
  val tsKendallW: Q = (s, d) => {
    val wr = weekRanks(s, d)
    val byd = wr.groupBy(col("dow")).agg(sum(col("r2")).as("r2j"))
    val n1 = wr.select(col("wk")).distinct().agg(count(lit(1)).as("n"))
    byd.crossJoin(broadcast(n1))
      .agg(first(col("n")).as("n"),
        sum((col("r2j") - lit(8L) * col("n")) *
          (col("r2j") - lit(8L) * col("n"))).as("s4"))
      .select(asLong(col("n")).as("n_weeks"),
        asLong(col("s4")).as("s_x4"),
        asLong(floor(col("s4").cast(DoubleType) /
          (lit(112.0) * col("n").cast(DoubleType) * col("n").cast(DoubleType))
          * 1e6)).as("w_q6"))
  }

  /** Cochran's Q over the week × weekday binary design (§2.57): is
    * "this weekday runs ABOVE its week's median" a day-of-week effect
    * or noise — the BINARY repeated-measures member beside Friedman's
    * rank test (Q is literally Friedman on 0/1 responses). The
    * indicator is exact: a day is above its week's median (the 4th
    * order statistic of 7) iff its strict-less count ≥ 4 — read
    * straight off the shared weekRanks relation (lcnt), no value
    * comparison against an interpolated median anywhere. Q = (k−1)·
    * [k·ΣCⱼ² − N²] / (k·N − ΣRᵢ²), k = 7, all-integer operands, one
    * double tree q6. Scale: two folds over the calendar-bounded
    * week-rank relation. */
  val tsCochranQ: Q = (s, d) => {
    val x = weekRanks(s, d).select(col("wk"), col("dow"),
      when(col("lcnt") >= 4, 1L).otherwise(0L).as("x"))
    val rows = x.groupBy(col("wk")).agg(sum(col("x")).as("ri"))
    val byCol = x.groupBy(col("dow")).agg(sum(col("x")).as("cj"))
    val t1 = byCol.agg(sum(col("cj") * col("cj")).as("sc2"),
      sum(col("cj")).as("nn"))
    val t2 = rows.agg(count(lit(1)).as("n_weeks"),
      sum(col("ri") * col("ri")).as("sr2"))
    t1.crossJoin(broadcast(t2))
      .select(asLong(col("n_weeks")).as("n_weeks"),
        asLong(col("nn")).as("n_above"),
        asLong(col("sc2")).as("sum_c2"),
        asLong(col("sr2")).as("sum_r2"),
        asLong(floor(lit(6.0) *
          (lit(7.0) * col("sc2") - col("nn").cast(DoubleType) * col("nn")) /
          (lit(7.0) * col("nn") - col("sr2").cast(DoubleType)) * 1e6))
          .as("q_q6"))
  }

  /** Turning-point randomness census (§2.53): count the daily
    * order-count series' local extrema (strictly above or below both
    * neighbors) and compare against the i.i.d. expectation 2(n−2)/3
    * with variance (16n−29)/90 — the nonparametric "is this series
    * random noise" screen beside runs_test (which reads sign runs;
    * turning points read the local GEOMETRY, catching smooth trends
    * runs can miss). Exactness: extrema are strict integer
    * comparisons; expected is ONE integer division; z is one double
    * tree over exact integer operands, floored q6. Scale: one
    * date-grain aggregate + lag/lead on the calendar-bounded day
    * relation. */
  val tsTurningPoints: Q = (s, d) => {
    val daily = table(s, d, "orders")
      .groupBy(to_date(col("o_orderdate")).as("dt"))
      .agg(count(lit(1)).as("y"))
    val w = Window.orderBy(col("dt"))
    daily.select(col("y"), lag(col("y"), 1).over(w).as("p"),
        lead(col("y"), 1).over(w).as("nx"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull && col("nx").isNotNull &&
          ((col("y") > col("p") && col("y") > col("nx")) ||
           (col("y") < col("p") && col("y") < col("nx"))), 1L)
          .otherwise(0L)).as("tp"))
      .select(asLong(col("n")).as("n_days"),
        asLong(col("tp")).as("turning_points"),
        expr("(2 * (n - 2) * 1000000) div 3").as("expected_q6"),
        asLong(floor((col("tp").cast(DoubleType) - lit(2.0) * (col("n") - 2) / 3) /
          sqrt((lit(16.0) * col("n") - 29) / 90) * 1e6)).as("z_q6"))
  }

}
