package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dataset-shaping operators a training-data pipeline needs around the
  * query engine (build brief §2.11 adjuncts): deterministic sampling,
  * reproducible train/test splits, and column profiling. All
  * hash-deterministic — no RNG state, so results are identical across
  * runs, partitionings and clusters (the property that matters when a
  * 100 TB split must be reproducible months later).
  */
object Sampling {

  /** Deterministic row sample: keep ~fraction of rows, decided by
    * md5(key) — stable under repartitioning, unlike rand(). */
  def deterministicSample(df: DataFrame, keyCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]: $fraction")
    val bucket = bucket16(col(keyCol))
    df.filter(bucket < (fraction * 65536).toLong)
  }

  /** Stratified sample with per-stratum fractions (class balancing):
    * e.g. Map("en" -> 0.1, "de" -> 1.0) keeps 10% of English docs and
    * every German one. Strata absent from the map are dropped. */
  def stratifiedSample(df: DataFrame, stratumCol: String,
      keyCol: String, fractions: Map[String, Double]): DataFrame = {
    fractions.foreach { case (stratum, f) =>
      require(f >= 0 && f <= 1, s"fraction for stratum '$stratum' must be in [0,1]: $f")
    }
    val bucket = bucket16(col(keyCol))
    val keep = fractions.foldLeft(lit(false)) { case (acc, (stratum, f)) =>
      acc || (col(stratumCol) === stratum && bucket < (f * 65536).toLong)
    }
    df.filter(keep)
  }

  /** Reproducible train/test split by key hash: rows with the same key
    * always land on the same side (no leakage of a key across the
    * split), ~testFraction of the key space goes to test. Returns
    * (train, test). */
  def hashSplit(df: DataFrame, keyCol: String, testFraction: Double): (DataFrame, DataFrame) = {
    require(testFraction > 0 && testFraction < 1, s"testFraction in (0,1): $testFraction")
    val isTest = bucket16(col(keyCol)) < (testFraction * 65536).toLong
    (df.filter(!isTest), df.filter(isTest))
  }

  /** Uniform 16-bit bucket from a key column via md5 — deterministic,
    * engine-portable (DuckDB computes the identical md5 hex). NULL
    * keys hash like the sentinel string "__null__" so they are
    * sampled/split deterministically instead of silently vanishing
    * from both sides of every filter. */
  private[graft] def bucket16(key: Column): Column =
    conv(substring(md5(coalesce(key.cast(StringType), lit("__null__"))), 1, 4), 16, 10)
      .cast(LongType)

  // ---- oracle-checked query forms (SURVEY §2.11 additions) ----

  /** Deterministic 30% document sample (md5-bucketed). */
  val sampleDeterministic: Q = (s, d) =>
    deterministicSample(table(s, d, "documents"), "doc_id", 0.3)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")

  /** Stratified per-language sample (class rebalancing): keep 25% of
    * 'en', all of 'de', half of 'zh'; other strata dropped. */
  val sampleStratified: Q = (s, d) =>
    stratifiedSample(table(s, d, "documents"), "lang", "doc_id",
      Map("en" -> 0.25, "de" -> 1.0, "zh" -> 0.5))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")

  /** Fixed-size per-stratum sample ("k examples per class"): the 5
    * docs per language with the smallest md5(doc_id) — deterministic
    * reservoir sampling's batch twin. A rank window per stratum, one
    * shuffle on the stratum key; at 100 TB the same shape holds (the
    * window's top-k needs only k rows of state per stratum under
    * partial aggregation via the rank filter pushdown). */
  val sampleKPerGroup: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    table(s, d, "documents")
      .withColumn("rk", asLong(row_number().over(w)))
      .filter(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rk")
  }

  /** Reproducible 80/20 train/test split summary (key-hash split — the
    * same doc can never appear on both sides). */
  val sampleHashSplit: Q = (s, d) => {
    val (train, test) = hashSplit(table(s, d, "documents"), "doc_id", 0.2)
    train.select(lit("train").as("side"), col("doc_id"))
      .unionAll(test.select(lit("test").as("side"), col("doc_id")))
      .groupBy(col("side"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("side")
  }

  /** Importance-weighted rebalancing sample (§2.18g): deterministic
    * per-source keep rates that move the corpus toward a UNIFORM
    * token mix (pipeline_domain_mix reports the imbalance; this is
    * the sampler that fixes it). rate_src = min(1, uniform_share /
    * actual_share) — both engines compute the identical double from
    * exact token counts — and the keep decision compares the md5
    * 16-bit bucket against floor(rate·65536), an exact integer
    * threshold, so the kept SET (not just its size) is reproducible
    * under repartitioning, across runs and across engines. Scale: one
    * (source) token aggregate + a broadcast threshold join + one
    * map-combined count — never a shuffle of the corpus itself. */
  val sampleRebalance: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast(LongType)).as("n_tokens"))
    val total = bySrc.agg(sum(col("n_tokens")).as("tot"),
      count(lit(1)).as("n_src"))
    val rates = bySrc.crossJoin(broadcast(total))
      .select(col("source").as("r_source"), col("n_docs"),
        least(lit(1.0), (col("tot").cast(DoubleType) / col("n_src")) /
          col("n_tokens").cast(DoubleType)).as("rate"))
      .select(col("r_source"), col("n_docs"), col("rate"),
        floor(col("rate") * 65536).cast(LongType).as("thr"))
    docs.join(broadcast(rates), col("source") === col("r_source"))
      .select(col("source"), col("n_docs"), col("rate"), col("thr"),
        (bucket16(col("doc_id")) < col("thr")).as("keep"))
      .groupBy(col("source"))
      .agg(first(col("n_docs")).as("n_docs"), first(col("rate")).as("rate"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_kept")).as("n_kept"),
        round(col("rate"), 6).as("target_rate"),
        round(col("n_kept").cast(DoubleType) / col("n_docs"), 6).as("achieved_rate"))
      .orderBy("source")
  }

  /** Weight-proportional Bernoulli sample (§2.20): each document is
    * kept with probability proportional to its WEIGHT (n_chars here —
    * importance sampling's deterministic batch twin; uniform and
    * stratified sampling can only re-weight whole strata, not rows).
    * Keep rule: bucket16(doc_id) · max_chars < 65536 · n_chars — an
    * exact integer cross-multiplication, no float probability
    * anywhere, so the decision is engine-portable AND
    * repartition-stable (re-running the sample on a re-sharded corpus
    * keeps the identical rows). Reported per source: achieved vs
    * expected keep rate (expected = Σw / (n·wmax), exact integer sums
    * divided once) and the kept share of character mass. Scale: the
    * corpus max is ONE broadcast scalar; everything else is a per-row
    * predicate + one map-combined aggregate. */
  val sampleWeightedBernoulli: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val mx = docs.agg(max(col("n_chars")).as("wmax"))
    val d19 = DecimalType(19, 0)
    docs.crossJoin(broadcast(mx))
      .select(col("source"), col("n_chars"), col("wmax"),
        (bucket16(col("doc_id")) * col("wmax") <
          lit(65536L) * col("n_chars")).as("keep"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars").cast(d19)).as("chars_all"),
        sum(when(col("keep"), col("n_chars")).otherwise(0L).cast(d19))
          .as("chars_kept"),
        max(col("wmax")).as("wmax"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_kept")).as("n_kept"),
        round(col("n_kept").cast(DoubleType) / col("n_docs").cast(DoubleType), 6)
          .as("achieved_rate"),
        round(col("chars_all").cast(DoubleType) /
          (col("n_docs") * col("wmax")).cast(DoubleType), 6).as("expected_rate"),
        round(col("chars_kept").cast(DoubleType) / col("chars_all").cast(DoubleType), 6)
          .as("char_share_kept"))
      .orderBy("source")
  }

  /** Per-column profile of a DataFrame: rows, nulls, distinct
    * (approx), min/max rendered as strings. One aggregation pass over
    * the data per metric family (no per-column jobs). */
  def profile(df: DataFrame): DataFrame = {
    val total = count(lit(1))
    val aggs = df.schema.fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        // coalesce: sum over ZERO rows is null — an empty frame must
        // profile as 0 nulls, not NPE
        coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L)).as(s"${f.name}__nulls"),
        approx_count_distinct(c).as(s"${f.name}__distinct"),
        min(c).cast(StringType).as(s"${f.name}__min"),
        max(c).cast(StringType).as(s"${f.name}__max"))
    }
    val row = df.agg(total.as("__rows"), aggs.toSeq: _*).collect()(0)
    val spark = df.sparkSession
    val rows = row.getLong(0)
    val out = df.schema.fields.map { f =>
      def s(metric: String) = {
        val v = row.get(row.fieldIndex(s"${f.name}__$metric"))
        if (v == null) null else v.toString
      }
      (f.name, f.dataType.simpleString, rows,
        s("nulls").toLong, s("distinct").toLong, s("min"), s("max"))
    }
    import spark.implicits._
    out.toSeq.toDF("column", "type", "rows", "nulls", "approx_distinct", "min", "max")
  }

  /** Neyman-optimal stratified allocation (§2.25): split a budget of
    * B=10000 sampled docs across sources ∝ N_h·S_h (stratum size ×
    * length std-dev) — the design that minimizes estimator variance
    * for a fixed budget, i.e. HOW MANY to sample per stratum before
    * sample_stratified decides WHICH. Integerization is largest-
    * remainder (floor every quota, hand the leftovers to the largest
    * fractional parts, source-name ties), so allocations sum to B
    * exactly. Exactness: N_h·S_h = √(n·Σx² − (Σx)²) — the variance
    * numerator is BIGINT and the weight floor-quantizes straight
    * back to BIGINT (unit granularity on a ~1e6-magnitude weight), so
    * Σw is an integer sum with NO float fold order; quota/remainder
    * are then single IEEE ops on identical exact integers, and the
    * remainder ranking runs over the ≤|sources|-row relation (a
    * bounded window by construction). Scale: ONE map-combined
    * aggregate over the corpus; everything after runs on |sources|
    * rows. */
  val sampleNeymanAllocation: Q = (s, d) => {
    val bud = 10000L
    // localCheckpoint: four consumers (weights, total, base, leftover)
    // — ONE corpus aggregate instead of four re-scans
    // sx/sxx accumulate in DECIMAL(38,0): DuckDB's sum() widens to
    // HUGEINT, and the nh·Σx²−(Σx)² numerator overflows Long once a
    // stratum holds ~3e9 total chars — same guard as
    // tsExtremeValueMoments (advice r9)
    val dec38 = DecimalType(38, 0)
    val st = table(s, d, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nh"),
        sum(col("n_chars").cast(dec38)).as("sx"),
        sum((col("n_chars") * col("n_chars")).cast(dec38)).as("sxx"))
      .select(col("source"), col("nh"),
        floor(sqrt((col("nh").cast(dec38) * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType))).cast(LongType).as("w"))
      .localCheckpoint(true)
    val tot = st.agg(sum(col("w")).as("tw"))
    val q = st.crossJoin(broadcast(tot))
      .select(col("source"), col("nh"),
        ((lit(bud) * col("w")).cast(DoubleType) / col("tw")).as("quota"))
      .select(col("source"), col("nh"), col("quota"),
        floor(col("quota")).cast(LongType).as("base"))
    val left = q.agg((lit(bud) - sum(col("base"))).as("leftover"))
    val wR = Window.orderBy((col("quota") - col("base")).desc, col("source"))
    q.crossJoin(broadcast(left))
      .withColumn("r", row_number().over(wR))
      .select(col("source"), asLong(col("nh")).as("n_docs"),
        (col("base") + when(col("r") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc"),
        (floor(col("quota") * 1e4) / 1e4).as("quota_frac"))
      .orderBy("source")
  }

  /** Horvitz–Thompson estimation from the weighted Bernoulli sample
    * (§2.27): the step that makes sample_weighted_bernoulli USEFUL —
    * re-weight each kept row by 1/π and recover the population total
    * unbiasedly. The inclusion probability is known EXACTLY from the
    * keep rule (bucket16 < 65536·w/wmax accepts exactly
    * c = ⌈65536·w/wmax⌉ of the 65536 buckets, so π = c/65536), and
    * each kept row's w/π contribution is the integer division
    * (w·65536·1e4) div c — engine-identical, no float weight
    * anywhere. Reported per source: the true char total (from the
    * full scan — the check only a benchmark can do), the HT estimate,
    * and the relative error. Scale: one broadcast wmax, ONE linear
    * scan, map-combined per-source sums. */
  val sampleHtEstimate: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val mx = docs.agg(max(col("n_chars")).as("wmax"))
    val d19 = DecimalType(19, 0)
    docs.crossJoin(broadcast(mx))
      .select(col("source"), col("n_chars"),
        (bucket16(col("doc_id")) * col("wmax") <
          lit(65536L) * col("n_chars")).as("keep"),
        expr("(n_chars * 65536 + wmax - 1) div wmax").as("c"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars").cast(d19)).as("truth"),
        sum(when(col("keep"),
          expr("(n_chars * 65536 * 10000) div c")).otherwise(0L)).as("htq"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_kept")).as("n_kept"),
        asLong(col("truth")).as("true_chars"),
        (floor(col("htq").cast(DoubleType) / 1e4)).cast(LongType)
          .as("ht_estimate"),
        (floor((col("htq").cast(DoubleType) / 1e4 -
            col("truth").cast(DoubleType)) /
          col("truth").cast(DoubleType) * 1e4) / 1e4).as("rel_err"))
      .orderBy("source")
  }

  /** Allocation-design comparison (§2.34): the estimator variance of
    * the stratified mean under the NEYMAN allocation vs the
    * PROPORTIONAL one at the same 10000-doc budget — the "what did
    * optimality actually buy" read that justifies (or retires)
    * sample_neyman_allocation's extra complexity. Both allocations
    * integerize by the same largest-remainder rule; V = Σ Nh²·Sh²/nh
    * has every per-stratum term built from exact integers
    * (DECIMAL(38,0) variance numerators) and floor-quantized to
    * BIGINT BEFORE the cross-stratum sum (fold-order-proof); the
    * efficiency ratio is one division on the two quantized totals.
    * Scale: ONE corpus aggregate; everything after runs on the
    * ≤|sources|-row relation (bounded windows by construction). */
  val sampleAllocationCompare: Q = (s, d) => {
    val bud = 10000L
    val dec38 = DecimalType(38, 0)
    val st = table(s, d, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("nh"),
        sum(col("n_chars").cast(dec38)).as("sx"),
        sum((col("n_chars") * col("n_chars")).cast(dec38)).as("sxx"))
      .select(col("source"), col("nh"),
        floor(sqrt((col("nh").cast(dec38) * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType))).cast(LongType).as("w"),
        ((col("nh").cast(dec38) * col("sxx") - col("sx") * col("sx"))
          .cast(DoubleType) /
          (col("nh") * (col("nh") - 1)).cast(DoubleType)).as("sh2"))
      .localCheckpoint(true)
    val tot = st.agg(sum(col("w")).as("tw"), sum(col("nh")).as("tn"))
    def alloc(quota: Column, name: String): DataFrame = {
      val q = st.crossJoin(broadcast(tot))
        .select(col("source"), col("nh"), col("sh2"), quota.as("quota"))
        .withColumn("base", floor(col("quota")).cast(LongType))
      val left = q.agg((lit(bud) - sum(col("base"))).as("leftover"))
      val wR = Window.orderBy((col("quota") - col("base")).desc, col("source"))
      q.crossJoin(broadcast(left))
        .withColumn("r", row_number().over(wR)) // ≤|sources| rows
        .select(col("source"), col("nh"), col("sh2"),
          (col("base") + when(col("r") <= col("leftover"), 1L).otherwise(0L))
            .as(name))
    }
    val ney = alloc((lit(bud) * col("w")).cast(DoubleType) /
      col("tw").cast(DoubleType), "a_ney")
    val prop = alloc((lit(bud) * col("nh")).cast(DoubleType) /
      col("tn").cast(DoubleType), "a_prop")
    def vterm(a: String) =
      floor((col("nh") * col("nh")).cast(DoubleType) * col("sh2") /
        col(a).cast(DoubleType)).cast(LongType)
    ney.join(prop.select(col("source"), col("a_prop")), Seq("source"))
      .filter(col("a_ney") > 0 && col("a_prop") > 0)
      .agg(count(lit(1)).as("n_strata"),
        sum(vterm("a_ney")).as("v_ney"), sum(vterm("a_prop")).as("v_prop"))
      .select(asLong(col("n_strata")).as("n_strata"),
        asLong(col("v_ney")).as("var_neyman_q0"),
        asLong(col("v_prop")).as("var_proportional_q0"),
        (floor(col("v_prop").cast(DoubleType) / col("v_ney").cast(DoubleType)
          * 1e4) / 1e4).as("efficiency_ratio"))
  }

  /** Deterministic Poisson bootstrap CI (§2.31): a 95% confidence
    * interval for mean order value from B = 100 replicates — THE
    * distributed bootstrap (Poisson weights need no global resample:
    * each row draws its replicate multiplicity independently, so the
    * whole thing is one scan × B in-row weights, the formulation
    * every large-scale ML eval uses). Weights approximate Poisson(1)
    * truncated at 3 via md5 buckets against INLINED integer
    * thresholds (⌊65536·CDF⌋ = 24109 / 48218 / 60273 — both engines
    * identical); each replicate mean divides exact integer sums once
    * and floor-quantizes to cents BEFORE ranking, so the percentile
    * pick (3rd / 98th of 100 sorted values) is a total-order
    * selection on BIGINTs. Scale: explode ×B of a 2-column
    * projection, map-combined per-replicate sums; the rank runs on
    * the 100-row replicate relation (bounded by design). */
  val sampleBootstrapCi: Q = (s, d) => {
    val b = 100
    val o = table(s, d, "orders")
      .select(col("o_orderkey"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"))
    val reps = o.select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .select(col("b"), col("cents"),
        conv(substring(md5(concat(col("o_orderkey").cast(StringType), lit("#"),
          col("b").cast(StringType))), 1, 4), 16, 10).cast(LongType).as("u"))
      .select(col("b"), col("cents"),
        when(col("u") < 24109, 0L).when(col("u") < 48218, 1L)
          .when(col("u") < 60273, 2L).otherwise(3L).as("w"))
    val means = reps.groupBy(col("b"))
      .agg(sum(col("w") * col("cents")).as("sw"), sum(col("w")).as("nw"))
      .select(col("b"),
        floor(col("sw").cast(DoubleType) / col("nw").cast(DoubleType))
          .cast(LongType).as("mq"))
    // 100-row relation: the rank window is bounded by design
    val wR = Window.orderBy(col("mq"), col("b"))
    val ci = means.withColumn("r", row_number().over(wR))
      .agg(max(when(col("r") === 3, col("mq"))).as("lo"),
        max(when(col("r") === 98, col("mq"))).as("hi"))
    val full = o.agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
    full.crossJoin(broadcast(ci))
      .select(asLong(col("n")).as("n_rows"), lit(100L).as("n_replicates"),
        (floor(col("sc").cast(DoubleType) / col("n").cast(DoubleType)) / 100.0)
          .as("mean_full"),
        (col("lo").cast(DoubleType) / 100.0).as("ci_lo_95"),
        (col("hi").cast(DoubleType) / 100.0).as("ci_hi_95"))
  }

  /** Systematic sampling (§2.29): every 50th order in md5-of-key
    * order — the equal-probability design whose draws are SPREAD
    * across the frame instead of clustered (survey sampling's classic
    * alternative to Bernoulli when you want a guaranteed, evenly
    * spaced sample size: exactly ⌈N/50⌉ rows, always). The md5 sort
    * key is the suite's deterministic randomization device, so the
    * "random start" is implicit and cross-engine identical. Scale:
    * the global position comes from GlobalRank's range-partitioned
    * two-pass (one range shuffle + broadcast offsets) — NEVER a
    * no-partition window; the keep test is then per-row modular
    * arithmetic. */
  val sampleSystematic: Q = (s, d) => {
    // price as BIGINT cents, not bare DECIMAL(18,2): the driver's hash
    // canonicalization of DECIMAL differs between engines (round-10's
    // one red row was value-identical yet hash-mismatched); integers
    // hash identically everywhere. Suite rule recorded in SURVEY §5.3.
    val keyed = table(s, d, "orders")
      .select(col("o_orderkey"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("price_cents"),
        md5(col("o_orderkey").cast(StringType)).as("mk"))
    val (ranked, _) = GlobalRank.ranked(keyed,
      Seq(col("mk"), col("o_orderkey")), "rn")
    ranked.filter((col("rn") % 50) === 1)
      .select(asLong(col("rn")).as("rn"), col("o_orderkey"),
        col("price_cents"))
      .orderBy("rn")
  }

  /** Class-balanced downsample (§2.37): cap every language class at
    * the MINORITY class size — the training-set rebalancer that
    * equalizes class priors by dropping, not reweighting (the
    * complement of sample_rebalance's rate-based thinning, which
    * targets token shares, not equal counts). Kept rows are each
    * class's k smallest (md5(doc_id), doc_id) — deterministic,
    * repartition-stable, engine-portable. Output: per class, total vs
    * kept with the kept id range (the sample itself is reproducible
    * from the rule). Scale: one class-partitioned rank window + a
    * broadcast 1-row minority size. */
  val sampleClassBalance: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast(StringType)), col("doc_id"))
    val ranked = table(s, d, "documents")
      .withColumn("rk", row_number().over(w).cast(LongType))
    val minority = ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("class_size"))
      .agg(min(col("class_size")).as("k"))
    ranked.crossJoin(broadcast(minority))
      .groupBy(col("lang"))
      .agg(asLong(count(lit(1))).as("class_size"),
        asLong(sum(when(col("rk") <= col("k"), 1L).otherwise(0L))).as("kept"),
        asLong(min(when(col("rk") <= col("k"), col("doc_id")))).as("min_kept_id"),
        asLong(max(when(col("rk") <= col("k"), col("doc_id")))).as("max_kept_id"))
      .orderBy("lang")
  }

  /** Deterministic k-fold CV assignment (§2.38): fold =
    * bucket16(doc_id) % 5 — the cross-validation splitter beside
    * sample_hash_split's single train/test cut; same-key docs always
    * share a fold (no leakage), folds reproducible across runs,
    * partitionings and engines. Output: per-fold census with the
    * share as an exact 1e6 integer division. Scale: one map-combined
    * aggregate + broadcast 1-row total; 5 rows. */
  val sampleKfoldAssign: Q = (s, d) => {
    val folds = table(s, d, "documents")
      .select(col("doc_id"), pmod(bucket16(col("doc_id")), lit(5)).as("fold"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    val tot = folds.agg(sum(col("n")).as("nt"))
    folds.crossJoin(broadcast(tot))
      .select(asLong(col("fold")).as("fold"), asLong(col("n")).as("n_docs"),
        asLong(col("min_id")).as("min_id"), asLong(col("max_id")).as("max_id"),
        expr("(n * 1000000) div nt").as("share_q6"))
      .orderBy("fold")
  }

  /** Shared relation for the §2.35 conformal pair: orders md5-split
    * into train (bucket < 1/3), calibration (1/3..2/3) and test
    * (rest); the "model" is the per-segment (custkey%4) mean order
    * value fitted on train ONLY — floor-integer cents, so predictions
    * and every residual |y - pred| are exact BIGINTs. */
  private def conformalSplit(s: SparkSession, d: String): DataFrame =
    table(s, d, "orders")
      .select(col("o_orderkey"),
        pmod(col("o_custkey"), lit(4)).cast(LongType).as("seg"),
        (dec2(col("o_totalprice")) * 100).cast(LongType).as("cents"),
        bucket16(col("o_orderkey")).as("b"))
      .withColumn("split",
        when(col("b") < 21845L, "train")
          .when(col("b") < 43690L, "calib").otherwise("test"))

  private def conformalPred(o: DataFrame): DataFrame =
    o.filter(col("split") === "train")
      .groupBy(col("seg"))
      .agg(floor(sum(col("cents")).cast(DoubleType) /
        count(lit(1)).cast(DoubleType)).cast(LongType).as("pred_cents"))

  // round 17 (the orderClose recipe): the conformal PAIR (interval +
  // coverage) each re-derived this split+prediction relation and
  // checkpointed its own copy — one shared checkpoint now serves
  // both (|orders|-grain, same contract as their previous per-query
  // checkpoints).
  private val conformalBase = graft.SharedBuild[String, DataFrame]("Sampling.conformalBase") {
    (s, d) =>
      val o = conformalSplit(s, d)
      o.join(broadcast(conformalPred(o)), Seq("seg"))
        .withColumn("resid", abs(col("cents") - col("pred_cents")))
        .localCheckpoint(true)
  }

  /** The ⌈(n+1)(1−α)⌉ calibration rank at α = 0.1, clamped to n —
    * shared by the §2.35 conformal pair (1-based within segment). */
  private def conformalRank(n: Long): Long =
    math.min((9 * (n + 1) + 9) / 10, n)

  /** Per-segment conformal quantile q (the `conformalRank`-th smallest
    * calibration residual), computed by [[ExactQuantile.valueAtRanks]]
    * — two bounded map-combined histogram passes (round 16; the old
    * GlobalRank route paid a range shuffle + persist + offsets collect
    * of the whole calibration split to read ONE order statistic per
    * segment). Returns (seg, n_calib, q_cents) rows, driver-bounded at
    * 4 segments. */
  private def conformalQ(s: SparkSession, calib: DataFrame): DataFrame = {
    import s.implicits._
    val qm = ExactQuantile.valueAtRanks(calib, col("resid"),
      Some(col("seg")), n => Seq(conformalRank(n) - 1), 65536.0)
    qm.toSeq
      .map { case (g, (n, at)) =>
        (g.toLong, n, at(conformalRank(n) - 1).toLong) }
      .sortBy(_._1)
      .toDF("seg", "n_calib", "q_cents")
  }

  /** Split conformal prediction interval (§2.35): the
    * distribution-free interval beside sample_bootstrap_ci's resampled
    * one — pred ± q where q is the ⌈(n+1)(1−α)⌉-th smallest
    * calibration residual (α = 0.1), guaranteeing ≥ 90% coverage on
    * exchangeable test rows with NO distributional assumption. The
    * rank index is exact integer arithmetic (⌈9(n+1)/10⌉ clamped to
    * n); the order statistic is rank-counted multiset selection on
    * BIGINT residuals. Scale (round 16): the per-segment order
    * statistic comes from ExactQuantile's bounded two-pass histogram
    * ([[conformalQ]]) — no sort or persist of the calibration split;
    * the 4-row q/pred relations attach back as broadcasts. */
  val sampleConformalInterval: Q = (s, d) => {
    // both ExactQuantile passes and the per-seg pred read the SHARED
    // checkpointed base (round 17) — no per-query re-materialization
    val calib = conformalBase(s, d).filter(col("split") === "calib")
    val q = conformalQ(s, calib)
    val pred = calib.groupBy(col("seg"))
      .agg(max(col("pred_cents")).as("pred_cents"))
    q.join(broadcast(pred), Seq("seg"))
      .select(col("seg"), asLong(col("n_calib")).as("n_calib"),
        col("pred_cents"), col("q_cents"),
        (col("pred_cents") - col("q_cents")).as("lo_cents"),
        (col("pred_cents") + col("q_cents")).as("hi_cents"))
      .orderBy("seg")
  }

  /** Empirical coverage of the conformal interval on the held-out test
    * split (§2.35): the validity CHECK — per segment, the fraction of
    * test rows whose value lands inside pred ± q must be ≈ 90%
    * (conformal's finite-sample guarantee is ≥ 1−α in expectation).
    * covered/n as floor-quantized 1e6 integer division — no floats
    * anywhere. Scale: the interval relation is 4 broadcast rows; the
    * test scan is one map-combined aggregate. */
  val sampleConformalCoverage: Q = (s, d) => {
    // the two ExactQuantile passes AND the test scan read the SHARED
    // checkpointed base (round 17)
    val base = conformalBase(s, d)
    val q = conformalQ(s, base.filter(col("split") === "calib"))
      .select(col("seg"), col("q_cents"))
    base.filter(col("split") === "test")
      .join(broadcast(q), Seq("seg"))
      .groupBy(col("seg"))
      .agg(asLong(count(lit(1))).as("n_test"),
        asLong(sum(when(col("resid") <= col("q_cents"), 1L).otherwise(0L)))
          .as("covered"))
      .select(col("seg"), col("n_test"), col("covered"),
        expr("(covered * 1000000) div n_test").as("coverage_q6"))
      .orderBy("seg")
  }

  /** PPS systematic sampling (§2.42): 100 sampling points stride the
    * cumulative-revenue line (skip = T div 100, start = skip div 2), so
    * each customer is drawn with probability ∝ lifetime revenue — the
    * design every audit/estimation pass uses when big accounts MUST be
    * in the sample (sample_systematic strides row counts; this strides
    * MASS, and whales can absorb several points). Report: per-segment
    * census of points landed, the Horvitz–Thompson segment-total
    * estimate n_pts·(T div 100), and its signed error. Exactness: the
    * points inside a customer's interval (lo, hi] count as
    * (hi−start+skip) div skip − (lo−start+skip) div skip — shifted
    * POSITIVE so BIGINT division is floor division in both engines
    * (negative `div` truncates toward zero in SQL but floors in
    * DuckDB's `//` — the shift makes the question moot); err_bp floors
    * one double. Scale: cumulative revenue comes from GlobalRank's
    * range-partitioned running sum over the customer-grain aggregate —
    * never a single-task global window. */
  val samplePpsSystematic: Q = (s, d) => {
    val cust = table(s, d, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast(LongType)).as("rev"))
      .join(broadcast(table(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("ck") === col("c_custkey"))
      .select(col("ck"), col("seg"), col("rev"))
    val ranked = GlobalRank.withRunningSum(
      cust, Seq(col("ck")), "rev", "hi")
    val tot = ranked.agg(max(col("hi")).as("t"))
      .select(col("t"), expr("t div 100").as("skip"),
        expr("(t div 100) div 2").as("strt"))
    val pts = ranked.crossJoin(broadcast(tot))
      .select(col("seg"), col("rev"), col("t"), col("skip"),
        (expr("(hi - strt + skip) div skip") -
          expr("(hi - rev - strt + skip) div skip")).as("npts"))
    pts.groupBy(col("seg"))
      .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("true_cents"),
        sum(col("npts")).as("n_points"),
        sum(col("npts") * col("skip")).as("ht_est_cents"))
      .select(col("seg"), asLong(col("n_cust")).as("n_cust"),
        asLong(col("true_cents")).as("true_cents"),
        asLong(col("n_points")).as("n_points"),
        asLong(col("ht_est_cents")).as("ht_est_cents"),
        asLong(floor((col("ht_est_cents").cast(DoubleType) -
            col("true_cents").cast(DoubleType)) /
          col("true_cents").cast(DoubleType) * 1e4)).as("err_bp"))
      .orderBy("seg")
  }

  /** Coarsened-exact-matching ATT (§2.45): Iacus–King–Porro's CEM —
    * the observational-causal estimator a pipeline runs when it
    * CANNOT randomize: coarsen the confounder (pre-period spend) into
    * 64 equal-width strata, pair treated/control units WITHIN each
    * stratum by rank, read the average treatment effect off the
    * matched pairs (agg_quantile_treatment_effect reads randomized
    * arms; this corrects selection on X first). Arms are the md5
    * split; pre = 1995–97 spend, post = 1998+ spend. Exactness:
    * integer bucket = (x−xmin)·64 div (xmax−xmin+1); per-(bucket,arm)
    * ranks from ONE GlobalRank pass with ≤128 bounded offsets
    * broadcast back; matches are an exact (bucket, rank) equi-join;
    * ATT sums are integer cents, ONE div per bucket. Scale: one
    * customer-grain aggregate + one range shuffle — never a
    * partitionBy(bucket,arm) window over fact rows. */
  val sampleCemMatching: Q = (s, d) => {
    val cust = table(s, d, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(sum(when(col("o_orderdate") < lit("1998-01-01").cast(TimestampType),
          (dec2(col("o_totalprice")) * 100).cast(LongType)).otherwise(0L))
          .as("x"),
        sum(when(col("o_orderdate") >= lit("1998-01-01").cast(TimestampType),
          (dec2(col("o_totalprice")) * 100).cast(LongType)).otherwise(0L))
          .as("yy"))
      .filter(col("x") > 0)
      .select(col("ck"), col("x"), col("yy"),
        (bucket16(col("ck")) % 2).as("arm"))
    val rng = cust.agg(min(col("x")).as("x0"), max(col("x")).as("x1"))
    val bucketed = cust.crossJoin(broadcast(rng))
      .select(col("ck"), col("x"), col("yy"), col("arm"),
        expr("least(bigint(63), ((x - x0) * 64) div (x1 - x0 + 1))").as("b"))
    val (ranked, _) = GlobalRank.ranked(
      bucketed, Seq(col("b"), col("arm"), col("x"), col("ck")), "rn")
    val offs = ranked.groupBy(col("b").as("ob"), col("arm").as("oa"))
      .agg(min(col("rn")).as("o0"))
    val pr = ranked.join(broadcast(offs),
        col("b") === col("ob") && col("arm") === col("oa"))
      .select(col("b"), col("arm"), col("x"), col("yy"),
        (col("rn") - col("o0") + 1).as("prank"))
    val t = pr.filter(col("arm") === 1)
      .select(col("b"), col("prank"), col("x").as("xt"), col("yy").as("yt"))
    val c = pr.filter(col("arm") === 0)
      .select(col("b").as("cb"), col("prank").as("cr"),
        col("x").as("xc"), col("yy").as("yc"))
    val matched = t.join(c, col("b") === col("cb") && col("prank") === col("cr"))
    val perArm = pr.groupBy(col("b"))
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_treated"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_control"))
    val att = matched.groupBy(col("b"))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("yt") - col("yc")).as("dsum"),
        sum(abs(col("xt") - col("xc"))).as("xgap"))
    perArm.join(att, Seq("b"), "left")
      .select(asLong(col("b")).as("stratum"),
        asLong(col("n_treated")).as("n_treated"),
        asLong(col("n_control")).as("n_control"),
        asLong(coalesce(col("n_matched"), lit(0L))).as("n_matched"),
        // floor(double), NOT integer div: dsum can be negative and
        // SQL div truncates toward zero while DuckDB's // floors
        asLong(coalesce(floor(col("dsum").cast(DoubleType) /
          col("n_matched").cast(DoubleType)), lit(0L))).as("att_cents"),
        asLong(coalesce(floor(col("xgap").cast(DoubleType) /
          col("n_matched").cast(DoubleType)), lit(0L)))
          .as("mean_xgap_cents"))
      .orderBy("stratum")
  }
}
