package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.types._
import graft.functions.CosineSimilarity.cosineSim

/** Training-data pipeline operators beyond the reference surface
  * (build brief: dedup at scale, similarity search, text analysis) —
  * SURVEY.md §2.11. All deterministic (md5-based hashing, fixed
  * seeds/bands, rounded doubles) so each has a DuckDB oracle.
  *
  * Scale shapes: MinHash-LSH is the linear-candidate near-dedup path
  * (band-key equi-join, no all-pairs); SimHash joins 8-byte
  * fingerprints only; ANN-IVF probes only nprobe buckets instead of
  * the full corpus. The token-set Jaccard variants in TextSim are the
  * exact-arithmetic stand-ins; these are what survives 100 TB.
  */
object Pipelines {

  /** Materialize the shared shingle + verified-LSH-pair sets for `d`.
    * Bench priming: charges the engine-level materializations to an
    * explicit prime step instead of whichever query touches them first
    * (under concurrent submission the first toucher would otherwise be
    * billed the whole build while the rest wait for it). */
  def prime(s: SparkSession, d: String): Unit = {
    shingles(s, d).count()
    dedupMinhashLsh(s, d) // localCheckpoint(eager) — materialized on return
  }

  /** Shingle build only (ScalingBench: bills the LSH pair build to
    * dedup_minhash_lsh itself, so per-op curves stay marginal). */
  private[graft] def primeShingles(s: SparkSession, d: String): Unit =
    shingles(s, d).count()

  /** 3-gram shingles per doc (distinct), shared by fingerprint, simhash
    * and minhash-LSH — built once per sfDir and persisted (same
    * engine-level materialization policy as Tables.edges). Token-set
    * similarity degenerates on small vocabularies; shingling is the
    * standard fix. Built with posexplode + window lead() — fully
    * codegen'd, one shuffle on doc_id, no per-row array-of-strings
    * allocation (a higher-order `transform` here was the suite's
    * dominant GC source).
    *
    * Deliberately does NOT precompute the dedup family's md5 columns
    * (h = md5(g), h0..h3 = md5("k|" ++ g)) into the cached relation,
    * although fingerprint/simhash re-hash g once per scan and minhash
    * 4x/row. MEASURED (r6 A/B, ScalingBench CPU at sf0.1 / the 10x
    * fixture tier): caching the five 32-char hash columns doubles the
    * shingle-build CPU (22.5 -> 47.0 s at 10x) and makes every hash
    * consumer SLIGHTLY SLOWER (simhash 27.6 -> 30.9 s, minhash-LSH
    * 76.8 -> 83.6 s CPU) — md5 over a ~20-char shingle inside
    * WholeStageCodegen is cheaper than deserializing a 32-char string
    * column from the columnar cache, and the +160 bytes/row pushes the
    * MEMORY_AND_DISK cache toward spill. Full numbers in SCALING.md
    * ("md5 precompute A/B"). */
  /** Distinct 3-gram shingles of an arbitrary (doc_id, lang, text)
    * relation — the doc-parameterized core shared by the cached
    * per-sfDir path below and [[IncrementalDedup]] (which must produce
    * byte-identical shingles for its full-vs-incremental equality to
    * hold). */
  private[ops] def shingleDocs(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    docs
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", col("w"), lead(col("w"), 1).over(w), lead(col("w"), 2).over(w))
          .as("g"),
        lead(col("w"), 2).over(w).isNotNull.as("full"))
      .filter(col("full"))
      .select(col("doc_id"), col("lang"), col("g"))
      .distinct()
  }

  private val shingles = graft.SharedBuild[String, DataFrame]("Pipelines.shingles") {
    (s, d) =>
      shingleDocs(table(s, d, "documents"))
        // persist (columnar cache), NOT localCheckpoint: five
        // consumers scan this relation and the columnar batches beat
        // row-block checkpoint scans ~4x (measured on dedup_simhash)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  // ---- text analysis ----

  val pipelineTokenCount: Q = (s, d) =>
    table(s, d, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select(
        col("doc_id"), col("lang"),
        asLong(size(split(col("text"), " "))).as("ws_tokens"),
        asLong(size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))).as("bpe_tokens"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Frozen subword vocabulary — a BPE-style merge-table snapshot, the
    * way production tokenizers ship a fixed vocab. High-frequency
    * corpus words are whole tokens; the rest segment greedily into the
    * listed pieces, any residual character is its own token (the
    * `[^ ]` fallback). At 100 TB the vocab is a broadcast lookup
    * (kilobytes); here it compiles into ONE codegen'd
    * `regexp_extract_all` pattern — alternatives sorted by (length
    * desc, lex), which makes Java's leftmost-FIRST alternation and
    * RE2/DuckDB's matching both implement greedy longest-match, so the
    * token stream is engine-independent (verified: the DuckDB oracle
    * runs the identical pattern). */
  private[graft] val subwordVocab: Seq[String] = Seq(
    // whole-word tokens (top corpus frequency)
    "the", "a", "scan", "sort", "key", "row", "agg", "fast", "data", "big",
    // merge pieces — everything else segments through these
    "ta", "ble", "val", "ue", "qu", "er", "y", "win", "dow", "str", "eam",
    "ba", "tch", "fil", "ter", "gr", "oup", "or", "der", "lin", "e",
    "col", "umn", "cust", "om", "mer", "ge", "jo", "in", "sl", "ow",
    "sm", "all", "sp", "ark", "ha", "sh", "vec", "tor", "part", "que",
    "ry", "st", "an", "lu", "ind", "ex")

  /** The vocab as a greedy longest-match pattern (see subwordVocab). */
  private[graft] def subwordPattern: String =
    (subwordVocab.distinct.sortBy(t => (-t.length, t)) :+ "[^ ]").mkString("|")

  /** Subword token counts per doc: whitespace tokens vs vocab-driven
    * subword tokens, plus fertility (subwords per word — THE tokenizer
    * quality metric an LLM-data pipeline tracks). Linear single pass,
    * no shuffle before the ORDER BY; the pattern is a literal so the
    * whole projection stays inside WholeStageCodegen. */
  val pipelineSubwordCount: Q = (s, d) =>
    table(s, d, "documents")
      .filter(col("doc_id") % 13 === 0)
      .select(col("doc_id"), col("lang"),
        asLong(size(split(col("text"), " "))).as("ws_tokens"),
        asLong(size(regexp_extract_all(col("text"),
          lit(subwordPattern), lit(0)))).as("subword_tokens"))
      .withColumn("fertility",
        round(col("subword_tokens").cast(DoubleType) / col("ws_tokens"), 4))
      .orderBy("doc_id")

  /** Shared quality heuristics (also the Curation quality gate — one
    * definition, no drift between the oracle-checked score and the
    * curation filter). */
  private[ops] val stopWords = Seq("the", "a", "table", "value", "query")
  private[ops] def tokenCount: Column = size(split(col("text"), " "))
  private[ops] def stopRatio: Column = {
    val toks = split(col("text"), " ")
    size(filter(toks, w => w.isin(stopWords: _*))).cast(DoubleType) / size(toks)
  }

  val pipelineQualityScore: Q = (s, d) => {
    val nTok = tokenCount
    val stopRatio = this.stopRatio
    table(s, d, "documents")
      .filter(col("doc_id") % 7 === 0)
      .select(
        col("doc_id"), col("lang"),
        asLong(nTok).as("n_tokens"),
        round(col("n_chars").cast(DoubleType) / nTok, 4).as("avg_tok_len"),
        round(stopRatio, 4).as("stop_ratio"),
        round(least(lit(1.0), log(lit(1) + nTok) / 5) * (lit(1.0) - stopRatio), 4)
          .as("quality"),
        when(nTok >= 40, "long").when(nTok >= 15, "mid").otherwise("short").as("bucket"))
      .orderBy("doc_id")
  }

  /** Corpus-trained language ID: top-5 distinguishing tokens per lang by
    * document frequency become markers; each doc votes by marker
    * overlap. Output is the confusion matrix. */
  val pipelineLangId: Q = (s, d) =>
    langConfusion(s, d).orderBy("actual", "predicted")

  /** The lang-id confusion relation (actual, predicted, docs) shared
    * by pipeline_lang_id and agg_cohens_kappa — one construction, so
    * the classifier and its agreement score cannot drift (the
    * lang_margin precedent). Bounded at ≤ (|langs|+1)² rows. */
  private def langConfusion(s: SparkSession, d: String): DataFrame = {
    val docs = table(s, d, "documents")
    // tk feeds both marker training and voting — persist it instead of
    // building it twice. round 16: the per-doc dedup is row-local
    // (array_distinct at doc grain == the old relation-level
    // .distinct()) so the build pays NO exchange at all.
    val tk = docs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val freq = tk.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("df"))
    val wm = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("w"))
    val markers = freq.withColumn("rn", row_number().over(wm))
      .filter(col("rn") <= 5)
      .select(col("lang").as("mlang"), col("w"))
    val votes = tk.join(markers, Seq("w"))
      .groupBy(col("doc_id"), col("mlang"))
      .agg(count(lit(1)).as("hits"))
    val wv = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("mlang"))
    val pred = votes.withColumn("rn", row_number().over(wv))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("p_id"), col("mlang").as("predicted"))
    docs.join(pred, docs("doc_id") === col("p_id"), "left")
      .groupBy(col("lang").as("actual"), coalesce(col("predicted"), lit("unknown")).as("predicted"))
      .agg(count(lit(1)).as("docs"))
  }

  /** Cohen's kappa of the lang-id classifier (§2.40): chance-corrected
    * agreement between predicted and actual language — THE one-number
    * eval for a categorical classifier (raw accuracy flatters any
    * classifier on a skewed label mix; kappa subtracts the agreement
    * a marginal-matching random rater would get). Computed off the
    * SHARED confusion relation: p_o = Σdiag/n exact integers, p_e =
    * Σ row_i·col_i / n² with the cross products in DECIMAL(38,0) ↔
    * HUGEINT (marginal products wrap Long at corpus scale), then ONE
    * double tree (p_o − p_e)/(1 − p_e), each output floor-quantized
    * 1e6. Scale: the confusion relation is label²-bounded; everything
    * after is a broadcast of two 1-row aggregates. */
  val aggCohensKappa: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val cells = langConfusion(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nn = cells.agg(sum(col("docs")).as("n"),
      sum(when(col("actual") === col("predicted"), col("docs"))
        .otherwise(0L)).as("agree"))
    val rows = cells.groupBy(col("actual").as("k"))
      .agg(sum(col("docs")).as("rc"))
    val colsM = cells.groupBy(col("predicted").as("k"))
      .agg(sum(col("docs")).as("cc"))
    val pe = rows.join(colsM, Seq("k"))
      .agg(sum(col("rc").cast(dec38) * col("cc")).as("pe_num"))
    val nD = col("n").cast(DoubleType)
    val po = col("agree").cast(DoubleType) / nD
    val peV = col("pe_num").cast(DoubleType) / (nD * col("n"))
    nn.crossJoin(broadcast(pe))
      .select(asLong(col("n")).as("n_docs"), asLong(col("agree")).as("n_agree"),
        floor(po * 1e6).cast(LongType).as("po_q6"),
        floor(peV * 1e6).cast(LongType).as("pe_q6"),
        floor((po - peV) / (lit(1.0) - peV) * 1e6).cast(LongType)
          .as("kappa_q6"))
  }

  /** Cross-source near-dup flow (§2.11, r7): verified MinHash-LSH
    * near-dup pairs grouped by their (source, source) endpoints — the
    * "who is mirroring whom" telemetry that decides which feeds to
    * dedup against each other first (within-source duplication is
    * re-crawl noise; CROSS-source duplication is syndication or
    * scraping and shifts the mix). Reuses the engine's persisted LSH
    * pair set verbatim; the two source lookups are broadcast joins of
    * a pair relation that is near-dup-sparse by construction. share
    * divides exact BIGINTs. */
  val pipelineDedupCrossSource: Q = (s, d) => {
    val pairs = dedupMinhashLsh(s, d).select(col("d1"), col("d2"))
    val src = table(s, d, "documents").select(col("doc_id"), col("source"))
    val tot = pairs.agg(count(lit(1)).as("tot_pairs"))
    pairs
      .join(src.toDF("d1", "s1"), Seq("d1"))
      .join(src.toDF("d2", "s2"), Seq("d2"))
      .select(least(col("s1"), col("s2")).as("src_a"),
        greatest(col("s1"), col("s2")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("src_a"), col("src_b"), asLong(col("n_pairs")).as("n_pairs"),
        (col("src_a") =!= col("src_b")).as("cross_source"),
        round(col("n_pairs").cast(DoubleType) / col("tot_pairs"), 4).as("share"))
      .orderBy("src_a", "src_b")
  }

  /** Cross-language vocabulary overlap (§2.11, r7): Jaccard of the
    * distinct-token vocabularies of every language pair — the
    * cross-lingual contamination telemetry (mislabeled docs pull two
    * languages' vocabularies together; healthy corpora keep them
    * apart). Intersections come from ONE self-join of the (lang, w)
    * relation on w; unions by inclusion-exclusion from exact counts —
    * jaccard divides exact BIGINTs. Scale: vocab relations are
    * corpus-bounded (they grow with distinct tokens, not documents),
    * so both sides of the join broadcast at any SF. */
  val pipelineVocabOverlap: Q = (s, d) => {
    val lw = table(s, d, "documents")
      // round 16: per-doc array_distinct first — the (lang, w) distinct
      // exchange then shuffles doc-vocab rows, not raw token positions
      .select(col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
      .distinct()
      .localCheckpoint(true)
    val sizes = lw.groupBy(col("lang")).agg(count(lit(1)).as("sz"))
    val inter = lw.toDF("l1", "w")
      .join(lw.toDF("l2", "w2"), col("w") === col("w2") && col("l1") < col("l2"))
      .groupBy(col("l1"), col("l2")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("l1", "sz1"), Seq("l1"))
      .join(sizes.toDF("l2", "sz2"), Seq("l2"))
      .select(col("l1"), col("l2"), asLong(col("inter")).as("common_tokens"),
        round(col("inter").cast(DoubleType) /
          (col("sz1") + col("sz2") - col("inter")).cast(DoubleType), 6)
          .as("vocab_jaccard"))
      .orderBy("l1", "l2")
  }

  /** Per-source length percentiles (§2.11, r7): p50/p95 of whitespace
    * token counts per source — the data-mix telemetry that catches a
    * source drifting short (truncation bug) or long (concatenation
    * bug) before it skews a training mix. Counts are exact ints;
    * percentiles interpolate identical doubles (the
    * agg_median_quantile contract). One map-combined pass to
    * (source, len), then a tiny per-source aggregate. */
  val pipelineLengthPercentiles: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("source"), size(split(col("text"), " ")).as("len"))
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        round(expr("percentile(len, 0.5D)"), 2).as("p50_tokens"),
        round(expr("percentile(len, 0.95D)"), 2).as("p95_tokens"),
        asLong(min(col("len"))).as("min_tokens"),
        asLong(max(col("len"))).as("max_tokens"))
      .orderBy("source")

  /** Language-ID ambiguity margin (§2.11, r7): per doc, the marker-hit
    * gap between the best and second-best language — the confidence
    * telemetry that decides which docs get routed to a heavier
    * classifier (margin 0 = pure tie, unroutable by markers alone).
    * Shares pipeline_lang_id's exact marker/vote construction (same
    * per-lang top-5 df markers, same distinct-token votes), so the two
    * queries cannot drift; hits are exact BIGINTs, margin is a
    * subtraction. Scale: identical to lang_id — one explode+distinct
    * shuffle feeding a broadcast-sized marker table. */
  val pipelineLangMargin: Q = (s, d) => {
    val docs = table(s, d, "documents")
    // round 16: row-local per-doc dedup (array_distinct == the old
    // .distinct() at doc grain) — the old relation-level distinct paid
    // a data-sized exchange TWICE (tk is consumed by freq and votes)
    val tk = docs
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
    val freq = tk.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("df"))
    val wm = Window.partitionBy(col("lang")).orderBy(col("df").desc, col("w"))
    val markers = freq.withColumn("rn", row_number().over(wm))
      .filter(col("rn") <= 5)
      .select(col("lang").as("mlang"), col("w"))
    val votes = tk.join(markers, Seq("w"))
      .groupBy(col("doc_id"), col("mlang"))
      .agg(count(lit(1)).as("hits"))
    val wv = Window.partitionBy(col("doc_id")).orderBy(col("hits").desc, col("mlang"))
    votes.withColumn("rn", row_number().over(wv))
      .filter(col("rn") <= 2)
      .groupBy(col("doc_id"))
      .agg(
        asLong(max(when(col("rn") === 1, col("hits")))).as("best_hits"),
        asLong(coalesce(max(when(col("rn") === 2, col("hits"))), lit(0L)))
          .as("second_hits"))
      .select(col("doc_id"), col("best_hits"), col("second_hits"),
        (col("best_hits") - col("second_hits")).as("margin"))
      .filter(col("doc_id") % 3 === 0)
      .orderBy("doc_id")
  }

  /** Shingle-sketch document fingerprint (min/max of shingle md5s — a
    * 1-permutation MinHash). */
  val pipelineFingerprint: Q = (s, d) =>
    shingles(s, d)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), md5(col("g")).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), min(col("h")).as("fp_min"), max(col("h")).as("fp_max"))
      .orderBy("doc_id")

  // ---- near-dedup at scale ----

  /** SimHash over 3-gram shingles: 32-bit fingerprint from md5-nibble
    * MSBs, pairs within hamming <= 4 (language-blocked). The 32
    * bit-sums are computed as 32 aggregate columns in ONE pass over the
    * shingle set — no 32x row explosion (the oracle's unnest(range)
    * formulation computes the identical sums).
    *
    * Candidates via hamming-LSH pigeonhole banding: the fingerprint
    * splits into 5 chunks (7+7+6+6+6 bits); hamming <= 4 differing
    * bits can damage at most 4 chunks, so every qualifying pair shares
    * >= 1 chunk verbatim — the (chunk_id, chunk_value, lang) equi-join
    * is recall-COMPLETE, never all-pairs, and the exact bit_count
    * verify keeps the result identical to the quadratic formulation
    * (which the independent DuckDB oracle still uses). */
  /** 32-bit SimHash fingerprint per (doc, lang) — shared by
    * dedup_simhash (the pairing) and pipeline_simhash_bit_balance (the
    * sketch-quality audit). One pass over the cached shingle relation:
    * the 32 bit-sums are 32 aggregate columns, no 32× row explosion
    * (the oracle's unnest(range) formulation computes identical sums). */
  private def simhashFp(s: org.apache.spark.sql.SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d).select(col("doc_id"), col("lang"), md5(col("g")).as("h"))
    val sums = (1 to 32).map { j =>
      sum(when(substring(col("h"), j, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"), 1)
        .otherwise(-1)).as(s"sd$j")
    }
    val fpExpr = (1 to 32).map { j =>
      when(col(s"sd$j") > 0, lit(1L << (j - 1))).otherwise(lit(0L))
    }.reduce(_ + _)
    sh.groupBy(col("doc_id"), col("lang"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), col("lang"), fpExpr.as("fp"))
  }

  // round 16: the (doc, lang, fp) fingerprint table is consumed by BOTH
  // dedup_simhash (the pairing) and pipeline_simhash_bit_balance (the
  // sketch audit) — the audit used to re-run the whole 32-sum aggregate
  // over the shingle relation (~2.2 CPU-s at sf0.1). Checkpoint it once
  // per sfDir like minhashWide (|docs| rows × one BIGINT fp — KB–MB at
  // any corpus).
  private val simhashFpShared = graft.SharedBuild[String, DataFrame]("Pipelines.simhashFp") {
    (s, d) => simhashFp(s, d).localCheckpoint(true)
  }

  /** SimHash bit-balance audit (§2.20): the share of fingerprints with
    * each of the 32 bits set. A healthy SimHash has every bit near
    * 0.5 — a skewed bit carries less than one bit of information, so
    * hamming distances compress and the ≤4 pairing threshold silently
    * loses precision; this is the go/no-go check BEFORE trusting a
    * simhash dedup run (the minhash twin is pipeline_minhash_calibration).
    * Exact integer counts end to end; the two divisions happen at
    * display. Scale: ONE aggregate over the fingerprint relation (32
    * sum columns, map-combined), then a 1-row→32-row posexplode. */
  val pipelineSimhashBitBalance: Q = (s, d) => {
    val aggs = (0 until 32).map { j =>
      sum(expr(s"shiftright(fp, $j)").bitwiseAND(lit(1L))).as(s"b$j")
    }
    val one = simhashFpShared(s, d).agg(count(lit(1)).as("n_docs"), aggs: _*)
    val share = col("n_set").cast(DoubleType) / col("n_docs").cast(DoubleType)
    one.select(col("n_docs"),
        posexplode(array((0 until 32).map(j => col(s"b$j")): _*)).as(Seq("bit", "n_set")))
      .select(asLong(col("bit")).as("bit"), asLong(col("n_set")).as("n_set"),
        round(share, 6).as("share"),
        round(abs(share - 0.5), 6).as("dev"))
      .orderBy("bit")
  }

  val dedupSimhash: Q = (s, d) => {
    // round 16: the per-query persist became the shared checkpointed
    // fingerprint table (one materialization for pairing + bit audit)
    val fp = simhashFpShared(s, d)
    val chunks = Seq((0, 127L), (7, 127L), (14, 63L), (20, 63L), (26, 63L))
    // ONE scan of the cached fingerprint relation per join side: the 5
    // band keys are exploded in-row (round 12 — the old 5-way unionAll
    // rescanned the cache 5× per side, 10 InMemoryTableScans total)
    val bandArr = array(chunks.zipWithIndex.map { case ((off, mask), i) =>
      struct(lit(i).as("chunk"),
        expr(s"shiftright(fp, $off)").bitwiseAND(lit(mask)).as("ckey"))
    }: _*)
    val banded = fp
      .select(col("doc_id"), col("lang"), col("fp"),
        explode(bandArr).as("bk"))
      .select(col("doc_id"), col("lang"), col("fp"),
        col("bk.chunk").as("chunk"), col("bk.ckey").as("ckey"))
    val a = banded.toDF("d1", "lang", "fp1", "chunk", "ckey")
    val b = banded.toDF("d2", "lang2", "fp2", "chunk2", "ckey2")
    a.join(b, col("lang") === col("lang2") && col("chunk") === col("chunk2") &&
        col("ckey") === col("ckey2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("fp1"), col("fp2")).distinct()
      .withColumn("hamming", asLong(expr("bit_count(fp1 ^ fp2)")))
      .filter(col("hamming") <= 4)
      .select(col("d1"), col("d2"), col("hamming"))
      .orderBy("d1", "d2")
  }

  /** MinHash + LSH near-dedup over 3-gram shingles: 16 min-hashes,
    * 2 bands x 8 rows; candidates = band-key equi-join (linear in
    * near-duplicates, never all-pairs); candidates verified with exact
    * shingle Jaccard >= 0.5. The 16 signatures are 16 min-aggregate
    * columns in one pass, and each md5 yields FOUR independent 32-bit
    * hash values (8-hex-char substrings), so a row costs 4 md5 calls,
    * not 16. */
  // the verified pair result is shared with dedup_clusters — built
  // once per sfDir (same policy as shingles/EDGES). localCheckpoint
  // (eager): materializes like persist+count AND truncates the
  // 30-operator minhash lineage, so dedup_clusters' label-prop rounds
  // plan against a leaf, not the full build
  val dedupMinhashLsh: Q = graft.SharedBuild[String, DataFrame]("Pipelines.dedupMinhashLsh") {
    (s, d) => dedupMinhashLshBuild(s, d).localCheckpoint(true)
  }

  /** 16-minhash signature table (doc_id, lang, m0..m15) over a shingle
    * relation — shared by the LSH build, pipeline_minhash_calibration
    * and [[IncrementalDedup]]. One aggregate; each md5 yields four
    * 32-bit hashes. */
  private[ops] def minhashWideOf(sh: DataFrame): DataFrame = {
    val mins = (0 until 16).map { seed =>
      val h = md5(concat(lit(s"${seed / 4}|"), col("g")))
      min(substring(h, 1 + 8 * (seed % 4), 8)).as(s"m$seed")
    }
    sh.groupBy(col("doc_id"), col("lang")).agg(mins.head, mins.tail: _*)
  }

  // round 16: the doc-grain signature table is consumed by BOTH the LSH
  // pair build and pipeline_minhash_calibration — the calibration used
  // to re-run the full 16-min signature aggregate (4 md5/shingle-row,
  // ~1.9 CPU-s at sf0.1). Checkpoint it once per sfDir like the pair
  // set (|docs| × 16 8-char strings — KB-to-MB scale at any corpus
  // size that fits the cluster).
  private val minhashWide = graft.SharedBuild[String, DataFrame]("Pipelines.minhashWide") {
    (s, d) => minhashWideOf(shingles(s, d)).localCheckpoint(true)
  }

  /** 2-band × 8-row LSH banding of a wide signature table:
    * (doc_id, lang, band, bkey) — the join key space for candidate
    * generation, and the state relation [[IncrementalDedup]] patches
    * per version delta. */
  private[ops] def lshBands(wide: DataFrame): DataFrame = {
    def bandKey(seeds: Range): Column =
      md5(concat_ws(",", seeds.map(i => col(s"m$i")): _*))
    wide.select(col("doc_id"), col("lang"), lit(0).as("band"),
        bandKey(0 until 8).as("bkey"))
      .unionAll(wide.select(col("doc_id"), col("lang"), lit(1).as("band"),
        bandKey(8 until 16).as("bkey")))
  }

  /** Exact-Jaccard verification of candidate pairs against a shingle
    * relation: keeps (d1, d2, jaccard) with jaccard >= 0.5, 4dp. The
    * shingle relation must cover every doc appearing in `cand`. */
  private[ops] def verifyJaccard(cand: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val sa = sh.select(col("doc_id").as("ia"), col("g"))
    val sb = sh.select(col("doc_id").as("ib"), col("g").as("gb"))
    val inter = cand
      .join(sa, col("ia") === col("d1"))
      .join(sb, col("ib") === col("d2") && col("gb") === col("g"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    val s1 = sizes.toDF("i1", "sz1")
    val s2 = sizes.toDF("i2", "sz2")
    val jac = col("i").cast(DoubleType) / (col("sz1") + col("sz2") - col("i"))
    inter.join(s1, col("i1") === col("d1")).join(s2, col("i2") === col("d2"))
      .filter(jac >= 0.5)
      .select(col("d1"), col("d2"), round(jac, 4).as("jaccard"))
  }

  private def dedupMinhashLshBuild(s: SparkSession, d: String): DataFrame = {
    val sh = shingles(s, d)
    val bands = lshBands(minhashWide(s, d))
    val cand = bands.toDF("d1", "lang", "band", "bkey")
      .join(bands.toDF("d2", "lang2", "band2", "bkey2"),
        col("bkey") === col("bkey2") && col("band") === col("band2") &&
          col("lang") === col("lang2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    verifyJaccard(cand, sh).orderBy("d1", "d2")
  }

  /** Pairs -> clusters: the keep-list a dedup pipeline actually ships.
    * Near-dup pairs from the MinHash-LSH stage become an undirected
    * graph; 4 rounds of min-label propagation (self-loop trick, same
    * fixed-fixpoint discipline as graph_cc_labelprop) assign cluster
    * labels; output one row per cluster with its canonical (minimum)
    * doc and size. Docs not in any pair are singleton clusters and are
    * excluded here (size >= 2). */
  val dedupClusters: Q = (s, d) => {
    // dedupMinhashLsh returns the persisted pair result (the label-prop
    // loop in pairComponents references it ~8x — SURVEY §4.2 lineage rule)
    GraphOps.pairComponents(dedupMinhashLsh(s, d).select(col("d1"), col("d2")))
      .groupBy(col("lbl").as("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy("canonical_id")
  }

  /** IDF-weighted Jaccard over the verified LSH pair set (§2.23):
    * re-scores each near-dup pair as Σ idf(g∈A∩B) / Σ idf(g∈A∪B)
    * next to plain Jaccard — pairs that overlap only on boilerplate
    * shingles (low idf) drop, pairs sharing rare content rise; the
    * weighting a dedup keep-policy actually wants before discarding a
    * "duplicate" that shares nothing but template chrome. idf =
    * floor(ln(N/df)·1e6) as BIGINT, so both ratios divide exact
    * integer sums (the repo's quantize recipe — no float-sum order).
    * Scale: reuses the persisted LSH pair set (marginal cost, like
    * minhash_calibration); df is one map-combined aggregate of the
    * cached shingle relation; the rescore joins the tiny pair set
    * into the shingle relation — never all-pairs. */
  val dedupIdfJaccard: Q = (s, d) => {
    val sh = shingles(s, d)
    val pairs = dedupMinhashLsh(s, d).select(col("d1"), col("d2"))
    val n = table(s, d, "documents").agg(count(lit(1)).as("nd"))
    // round 16 (guide §3.2 semi-join prefilter): every consumer below
    // EXCEPT the document-frequency counts only needs shingles of docs
    // that appear in a verified pair — a near-duplicate-bounded set.
    // Broadcast-semi-join the cached shingle relation down to pair docs
    // ONCE (row-local), and count df ONLY for grams of those docs (the
    // count itself still scans the full corpus, but its shuffle carries
    // the bounded gram set instead of every distinct gram). The old
    // shape shuffled the FULL shingle relation by g twice (wdoc build +
    // pair intersect); now no data-sized shuffle remains anywhere.
    // Broadcast sizing: pg/idf are |pair docs| × (shingles per doc) —
    // two orders above the pair set the old code already broadcast,
    // same regime as the guide's semi-join/Bloom prefilter key sets.
    val pairDocs = pairs.select(col("d1").as("doc_id"))
      .unionAll(pairs.select(col("d2").as("doc_id"))).distinct()
    val shp = sh.join(broadcast(pairDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint(true) // three consumers: gram set, wdoc, both join sides
    val pg = shp.select(col("g")).distinct()
    // checkpoint: idf is consumed by BOTH the wdoc build and the pair
    // intersect — without it each broadcast re-runs the full-corpus
    // df scan + aggregate
    val idf = sh.join(broadcast(pg), Seq("g"), "left_semi")
      .groupBy(col("g")).agg(count(lit(1)).as("dfc"))
      .crossJoin(broadcast(n))
      .select(col("g"),
        floor(log(col("nd").cast(DoubleType) / col("dfc")) * 1e6)
          .cast(LongType).as("wi"))
      .localCheckpoint(true)
    val wdoc = shp.join(broadcast(idf), "g").groupBy(col("doc_id"))
      .agg(sum(col("wi")).as("wd"), count(lit(1)).as("sz"))
    val sa = shp.select(col("doc_id").as("ia"), col("g"))
    val sb = shp.select(col("doc_id").as("ib"), col("g").as("gb"))
    val inter = broadcast(pairs)
      .join(sa, col("ia") === col("d1"))
      .join(sb, col("ib") === col("d2") && col("gb") === col("g"))
      .join(broadcast(idf), "g")
      .groupBy(col("d1"), col("d2"))
      .agg(sum(col("wi")).as("wiSum"), count(lit(1)).as("ic"))
    val w1 = wdoc.toDF("j1", "wd1", "sz1")
    val w2 = wdoc.toDF("j2", "wd2", "sz2")
    inter.join(w1, col("j1") === col("d1")).join(w2, col("j2") === col("d2"))
      .select(col("d1"), col("d2"),
        round(col("wiSum").cast(DoubleType) /
          (col("wd1") + col("wd2") - col("wiSum")), 4).as("wjac"),
        round(col("ic").cast(DoubleType) /
          (col("sz1") + col("sz2") - col("ic")), 4).as("jac"))
      .orderBy("d1", "d2")
  }

  // ---- vector similarity at scale ----

  /** Embedding near-dup pairs: exact cosine >= 0.35 on a 1/2 sample via
    * the codegen'd CosineSimilarity expression, computed as a BLOCK-GRID
    * equi-join instead of a cartesian: each vector lands in B grid
    * cells (its block crossed with every block), cells equi-join on
    * (ci, cj), and the canonical-cell predicate keeps each pair exactly
    * once. Same O(n²/2) cosine evals — exactness at this threshold
    * cannot be pruned: measured on this corpus, sign-bit LSH at
    * sim>=0.35 (pairs sit at 0.35–0.51, barely above random) misses
    * 6–58% of true pairs at any sub-all-pairs banding (SCALING.md) —
    * but the plan is a shuffle-partitionable hash join with bounded
    * per-task memory, not a broadcast-nested-loop cartesian; B scales
    * with the cluster. The DuckDB oracle keeps the independent
    * all-pairs formulation. When exactness can be traded for a
    * sub-quadratic pass, `simCosineNeardupAnn` below is the
    * documented 100 TB default (IVF candidates + exact rescore,
    * precision 1.0, measured recall in SCALING.md). */
  val simCosineNeardup: Q = (s, d) => {
    val nBlocks = 8
    val e = table(s, d, "embeddings").filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"),
        expr(s"cast((vec_id div 2) % $nBlocks AS INT)").as("blk"))
    val cells = e
      .select(col("vec_id"), col("embedding"), col("blk"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("p"))
      .select(col("vec_id"), col("embedding"), col("blk"),
        least(col("blk"), col("p")).as("ci"), greatest(col("blk"), col("p")).as("cj"))
    val a = cells.toDF("v1", "e1", "b1", "ci", "cj")
    val b = cells.toDF("v2", "e2", "b2", "ci2", "cj2")
    val sim = cosineSim(s, col("e1"), col("e2"))
    a.join(b, col("ci") === col("ci2") && col("cj") === col("cj2") &&
        col("v1") < col("v2") &&
        col("ci") === least(col("b1"), col("b2")) &&
        col("cj") === greatest(col("b1"), col("b2")))
      .filter(sim >= 0.35)
      .select(col("v1"), col("v2"), round(sim, 4).as("sim"))
      .orderBy("v1", "v2")
  }

  /** Embedding-space dedup clusters (§2.22): connected components
    * over the exact cosine near-dup pairs (>= 0.35) — the SEMANTIC
    * analog of dedup_clusters (which clusters lexical MinHash pairs):
    * paraphrases and re-encodings share no shingles but sit close in
    * embedding space, so a curation pipeline runs BOTH and this is
    * the semantic leg's cluster resolution. Same 4-round min-label
    * propagation; canonical = min vec_id. Scale: the pair relation
    * comes from the block-grid equi-join (or the ANN path at corpus
    * scale — Curation swaps it); label prop is 4 t-keyed shuffles of
    * the PAIR relation, which is sparse at any threshold worth
    * deduping at. */
  val dedupSemanticClusters: Q = (s, d) => {
    GraphOps.pairComponents(simCosineNeardup(s, d).select(col("v1"), col("v2")))
      .groupBy(col("lbl").as("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .select(asLong(col("canonical_id")).as("canonical_id"),
        asLong(col("cluster_size")).as("cluster_size"))
      .orderBy("canonical_id")
  }

  /** ANN near-dup pairs — the 100 TB default for the all-pairs
    * similarity problem `simCosineNeardup` solves exactly. IVF
    * candidate generation: Lloyd-trained coarse centroids
    * (PQ.trainIvf — deterministic farthest-point init + fixed
    * iterations on a bounded driver-side sample), every vector
    * multi-assigned to its `nprobe` nearest cells (L2, the training
    * metric), candidates = pairs sharing a cell, then EXACT cosine
    * rescore at the same threshold — so precision is 1.0 by
    * construction (output ⊆ the exact result) and only recall is
    * approximate. Cost: candidates ~ Σ_cell |cell|² with cells
    * O(n/nCells); pick nCells ~ √n and the pass is O(n^1.5) instead
    * of O(n²/2). Measured recall vs the exact pair set is in
    * SCALING.md (AnnNeardupSpec re-measures at every SF); at this
    * corpus's barely-above-random threshold (0.35) recall < 1 is
    * intrinsic — SCALING.md's sign-LSH table shows why — which is
    * why the oracle-checked entry stays `simCosineNeardup` (exact)
    * and this is the opt-in scale path. */
  def simCosineNeardupAnn(s: SparkSession, d: String,
      nCells: Int = 16, nprobe: Int = 2): DataFrame = {
    val emb = annEmb(s, d)
    annRescore(s, emb,
      annCandidates(annRanked(s, emb, nCells).filter(col("rn") <= nprobe)))
  }

  /** Density-ADAPTIVE probing + PQ-code prefilter (r6) — the IVFADC
    * pipeline shape. Three stages, each standard:
    *
    * 1. ADAPTIVE coarse probing: instead of a fixed nprobe, each
    *    vector keeps its nearest cells until the cumulative CANDIDATE
    *    MASS (sum of primary cell sizes, distance order) reaches
    *    `massFactor` x the average cell size. Dense-region vectors
    *    stop early; boundary/sparse vectors probe wider — one
    *    corpus-independent knob, no nprobe retuning.
    * 2. Asymmetric probe-vs-primary candidates (annCandidatesAsym):
    *    the geometrically correlated subset of same-cell pairs.
    * 3. PQ-code prefilter: candidates are scored on their 8-byte-code
    *    RECONSTRUCTIONS (PQ.reconstruct + the codegen'd cosine_sim)
    *    and only pairs within `margin` of the threshold reach the
    *    exact full-float rescore — ~8x less arithmetic and 32x less
    *    data per skipped pair.
    *
    * Measured (AnnNeardupSpec, sf0.001, massFactor=8, margin=0.05):
    * recall >= 0.95 with the exact rescore touching a fraction of the
    * nprobe=8 candidate count; precision stays 1.0 by construction
    * (the final filter is the exact threshold).
    *
    * COST REGIME (measured round 9, SCALING.md 100× docs tier): the
    * mass target massFactor × AVG cell size grows with √n (avg cell
    * = n/nCells = √(n/2)), so total candidates grow n^1.5 by
    * construction, and at 64 dims the code-reconstruction prefilter
    * costs the same arithmetic as the full cosine it gates — CPU α
    * 2.08 on the 10×→100× leg, 9.4× plain [[simCosineNeardupAnn]]
    * (α 1.33) at 200k vectors. This is the recall-1.0 knob; the
    * fixed-nprobe path is the scale path. The prefilter earns its
    * keep in high-dim / IO-bound regimes, not at 64 floats. */
  def simCosineNeardupAnnAdaptive(s: SparkSession, d: String,
      nCells: Int = 16, massFactor: Double = 8.0,
      margin: Double = 0.05): DataFrame = {
    val emb = annEmb(s, d)
    val kept = annAssignmentsAdaptive(s, d, nCells, massFactor)
    val primary = annAssignmentsFixed(s, d, nCells, 1)
    val cand = annCodePrefilter(s, emb,
      annCandidatesAsym(kept, primary), margin)
    annRescore(s, emb, cand)
  }

  /** Stage-3 prefilter: keep candidate pairs whose PQ-reconstruction
    * cosine is within `margin` of the 0.35 threshold (package-visible
    * so the spec can count what reaches the exact rescore). */
  private[graft] def annCodePrefilter(s: SparkSession, emb: DataFrame,
      cand: DataFrame, margin: Double): DataFrame = {
    val pq = PQ.train(emb, "embedding", "vec_id", m = 8)
    val recon = PQ.reconstruct(emb, "embedding", "vec_id", pq)
    val r1 = recon.toDF("v1", "r1")
    val r2 = recon.toDF("v2", "r2")
    cand.join(r1, Seq("v1")).join(r2, Seq("v2"))
      .filter(cosineSim(s, col("r1"), col("r2")) >= 0.35 - margin)
      .select(col("v1"), col("v2"))
  }

  /** The ANN corpus slice shared by the fixed and adaptive variants. */
  private def annEmb(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings").filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))

  /** (vec_id, cid, d2, rn): every vector against every broadcast Lloyd
    * centroid, ranked by squared L2 (the training metric). */
  private def annRanked(s: SparkSession, emb: DataFrame, nCells: Int): DataFrame = {
    import s.implicits._
    val coarse = PQ.trainIvf(emb, "embedding", "vec_id", nCells = nCells)
    val cents = coarse.codebooks(0).zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "ce")
    val d2 = aggregate(
      zip_with(col("embedding"), col("ce"),
        (x, y) => (x.cast(DoubleType) - y.cast(DoubleType)) *
          (x.cast(DoubleType) - y.cast(DoubleType))),
      lit(0.0), (acc, v) => acc + v)
    val wn = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    emb.crossJoin(broadcast(cents))
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(wn))
      .select(col("vec_id"), col("cid"), col("d2"), col("rn"))
  }

  /** Distinct same-cell pairs (v1 < v2) from an assignment —
    * package-visible so AnnNeardupSpec can count the candidate set
    * the cost argument is about. */
  private[graft] def annCandidates(asg: DataFrame): DataFrame =
    asg.select(col("vec_id"), col("cid")).toDF("v1", "cid")
      .join(asg.select(col("vec_id"), col("cid")).toDF("v2", "cid2"),
        col("cid") === col("cid2") && col("v1") < col("v2"))
      .select(col("v1"), col("v2")).distinct()

  /** Asymmetric probe-vs-primary candidates: pair (v1, v2) survives
    * when ONE side's probe set reaches the OTHER side's primary
    * (rank-1) cell. Subset of the symmetric kept-∩-kept candidates,
    * but the geometrically correlated subset — a true neighbor's
    * primary centroid is close to the probe, so it ranks early in the
    * probe's distance order, while shared SECONDARY cells are mostly
    * incidental. Measured (sf0.001, massFactor=4): same recall as the
    * symmetric form at ~2.4x fewer candidates. */
  private[graft] def annCandidatesAsym(kept: DataFrame,
      primary: DataFrame): DataFrame =
    kept.toDF("va", "cid").join(primary.toDF("vb", "cid2"),
        col("cid") === col("cid2") && col("va") =!= col("vb"))
      .select(least(col("va"), col("vb")).as("v1"),
        greatest(col("va"), col("vb")).as("v2"))
      .distinct()

  /** Exact cosine rescore of candidate pairs at the 0.35 threshold —
    * precision 1.0 relative to the exact all-pairs result. */
  private def annRescore(s: SparkSession, emb: DataFrame,
      cand: DataFrame): DataFrame = {
    val e1 = emb.toDF("v1", "e1")
    val e2 = emb.toDF("v2", "e2")
    val sim = cosineSim(s, col("e1"), col("e2"))
    cand.join(e1, Seq("v1")).join(e2, Seq("v2"))
      .filter(sim >= 0.35)
      .select(col("v1"), col("v2"), round(sim, 4).as("sim"))
      .orderBy("v1", "v2")
  }

  /** Fixed-nprobe assignment exposed for the spec's candidate-count
    * comparison against the adaptive variant. */
  private[graft] def annAssignmentsFixed(s: SparkSession, d: String,
      nCells: Int, nprobe: Int): DataFrame =
    annRanked(s, annEmb(s, d), nCells).filter(col("rn") <= nprobe)
      .select(col("vec_id"), col("cid"))

  /** Adaptive assignment (the plan of [[simCosineNeardupAnnAdaptive]]
    * up to the rescore; package-visible for the spec's candidate-count
    * comparison). */
  private[graft] def annAssignmentsAdaptive(s: SparkSession, d: String,
      nCells: Int, massFactor: Double): DataFrame = {
    val ranked = annRanked(s, annEmb(s, d), nCells)
    // primary cell sizes (rank-1 assignment = where the vector lives)
    val sizes = ranked.filter(col("rn") === 1)
      .groupBy(col("cid")).agg(count(lit(1)).as("csz"))
    val avgRow = sizes.agg(avg(col("csz")).as("avg_csz"))
    val wcum = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    ranked
      .join(sizes, Seq("cid"), "left").na.fill(0, Seq("csz"))
      .crossJoin(broadcast(avgRow))
      .withColumn("cum", sum(col("csz")).over(wcum))
      // keep a cell while the mass BEFORE it is under target: the
      // crossing cell is included, rank-1 always survives (mass 0)
      .filter(col("cum") - col("csz") < col("avg_csz") * massFactor)
      .select(col("vec_id"), col("cid"))
  }

  /** ANN via a deterministic IVF index: 8 centroids (vec_id < 8), each
    * vector assigned to its nearest centroid; probes search only their
    * top-2 centroid buckets (nprobe=2) then rescore exactly. This
    * entry keeps the closed-form centroid pick so its DuckDB oracle
    * can reproduce the assignment; `simCosineNeardupAnn` above and
    * `PQ.trainIvf/searchIvfPq` are the Lloyd-TRAINED variants
    * (spec-tested with measured recall) a real corpus would use. At
    * scale the assignment is one linear pass and each probe touches
    * ~2/8 of the corpus. */
  val annIvfTopk: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val cent = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    def nearest(src: DataFrame, vecCol: String, idCol: String, keep: Int): DataFrame = {
      val w = Window.partitionBy(col(idCol))
        .orderBy(round(cosineSim(s, col(vecCol), col("ce")), 6).desc, col("cid"))
      src.crossJoin(broadcast(cent))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= keep)
    }
    val asg = nearest(emb, "embedding", "vec_id", 1)
      .select(col("vec_id").as("member"), col("cid"))
    val probes = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val pb = nearest(probes, "pe", "pid", 2).select(col("pid"), col("cid"))
    val cand = pb.join(asg, Seq("cid")).select(col("pid"), col("member")).distinct()
    val scored = cand
      .join(probes, Seq("pid"))
      .join(emb.select(col("vec_id").as("member"), col("label"),
        col("embedding").as("me")), Seq("member"))
      .filter(col("member") =!= col("pid"))
      .select(col("pid"), col("member").as("cand"), col("label"),
        round(cosineSim(s, col("pe"), col("me")), 4).as("sim"))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cand"))
    scored.withColumn("rk", asLong(row_number().over(w)))
      .filter(col("rk") <= 5)
      .select("pid", "rk", "cand", "label", "sim")
      .orderBy("pid", "rk")
  }

  /** ANN recall calibration (§2.20): recall@5 of the IVF index
    * (nprobe=2) against the exact brute-force top-5 on the SAME 10
    * probes — pipeline_minhash_calibration's twin for the vector
    * side: the measured answer to "is nprobe=2 enough for THIS
    * corpus", which an ANN deployment must re-check whenever the
    * embedding distribution drifts. Both rankings use the identical
    * rounded-cosine + vec_id tiebreak, so the overlap count is
    * deterministic. Scale: the exact side is the 10-probe broadcast
    * crossJoin (linear in corpus — the rescoring baseline, not
    * all-pairs); the IVF side touches nprobe buckets; the overlap
    * join is 50 rows against 50. */
  val simAnnRecall: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val exact = broadcast(probes).crossJoin(emb)
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id").as("cand"),
        round(cosineSim(s, col("pe"), col("embedding")), 4).as("sim"))
    val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cand"))
    val exactTop = exact.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select(col("pid"), col("cand"))
    val ivf = annIvfTopk(s, d).select(col("pid"), col("cand"))
    val hits = exactTop.join(ivf, Seq("pid", "cand"), "left_semi")
      .groupBy(col("pid")).agg(count(lit(1)).as("n_hits"))
    probes.select(col("pid"))
      .join(hits, Seq("pid"), "left")
      .select(col("pid"), asLong(coalesce(col("n_hits"), lit(0L))).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast(DoubleType) / 5.0, 2)
          .as("recall_at_5"))
      .orderBy("pid")
  }

  /** One k-means Lloyd iteration with exact integer geometry (§2.20):
    * assign every vector to its nearest of the 8 deterministic seeds
    * (ann_ivf_topk's centroids), recompute centroids as per-dimension
    * means, and report per-cell inertia BEFORE vs AFTER plus centroid
    * shift — the clustering-quality step every IVF/PQ build runs, made
    * oracle-checkable: lanes are floor-quantized to 1e7 integers, so
    * every squared distance is an EXACT integer (argmin needs no
    * rounded-float tiebreak at all), means floor to integers via one
    * correctly-rounded double division (sum(q) stays under 2^53 up to
    * ~7e8 vectors per cell), and the three reported sums are emitted
    * as exact integer quotients (`x - pmod(x, m)` is an exact multiple
    * of m, so the decimal division is exact) — NOT as a >2^53
    * decimal→double cast, which is the double-rounding hazard
    * ADVICE.md flags on agg_cov_matrix. Scale: assignment is a
    * broadcast-8 crossJoin + per-vector min; means and inertias are
    * map-combined lane aggregates over a 8×64-key domain. */
  /** Row-local nearest-centroid fold (round 16): (d2, cid) of the
    * closest centroid in `cents` (an array of (cid, qc) structs,
    * broadcast as ONE collected row) — exact integer distances with
    * the (d2, cid) tie-break replayed in the fold. The old shape
    * (broadcast-8 crossJoin + per-vector row_number window) shuffled
    * the whole 8×n relation, every row carrying its 64-lane array,
    * just to keep one argmin row per vector; this keeps assignment
    * entirely inside the scan projection — zero exchanges. */
  private def nearestCentroid(cents: Column, ql: Column): Column =
    aggregate(cents,
      struct(lit(Long.MaxValue).as("d2"), lit(Long.MaxValue).as("cid")),
      (acc, c) => {
        val dd = aggregate(zip_with(ql, c.getField("qc"),
          (a, b) => (a - b) * (a - b)), lit(0L), (s2, v) => s2 + v)
        when(dd < acc.getField("d2") ||
          (dd === acc.getField("d2") &&
            c.getField("cid") < acc.getField("cid")),
          struct(dd.as("d2"), c.getField("cid").as("cid"))).otherwise(acc)
      })

  val simKmeansInertia: Q = (s, d) => {
    val d38 = DecimalType(38, 0)
    val qemb = table(s, d, "embeddings").select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1e7).cast(LongType)).as("ql"))
    val cent = qemb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("ql").as("qc"))
    val centArr = cent.agg(collect_list(struct(col("cid"), col("qc"))).as("cents"))
    // checkpoint: three consumers (means lanes, inertia-before,
    // inertia-after) would otherwise each re-run the interpreted
    // centroid fold over the corpus (measured +1.9 CPU-s at sf0.1)
    val asg = qemb.crossJoin(broadcast(centArr))
      // ADVICE r16: an empty centroid set must degrade to an EMPTY
      // assignment (the old crossJoin-with-empty-cent shape), never to
      // the fold's Long.MaxValue init sentinel posing as a cluster
      .filter(size(col("cents")) > 0)
      .withColumn("best", nearestCentroid(col("cents"), col("ql")))
      .select(col("vec_id"), col("best.cid").as("cid"),
        col("best.d2").as("d2"), col("ql"))
      .localCheckpoint(true)
    val lanes = asg.select(col("cid"),
      posexplode(col("ql")).as(Seq("dim", "q")))
    val means = lanes.groupBy(col("cid"), col("dim"))
      .agg(floor(sum(col("q")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("qm"))
    val before = asg.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("d2").cast(d38)).as("ib"))
    val after = lanes.join(means, Seq("cid", "dim"))
      .groupBy(col("cid"))
      .agg(sum(((col("q") - col("qm")) * (col("q") - col("qm"))).cast(d38))
        .as("ia"))
    val shift = cent.select(col("cid"), posexplode(col("qc")).as(Seq("dim", "qc1")))
      .join(means, Seq("cid", "dim"))
      .groupBy(col("cid"))
      .agg(sum(((col("qc1") - col("qm")) * (col("qc1") - col("qm"))).cast(d38))
        .as("sh"))
    // exact integer quotient: numerator is a multiple of m, so the
    // decimal division carries no rounding at any magnitude
    def qdiv(c: Column, m: Long): Column =
      ((c - pmod(c, lit(m))) / lit(m)).cast(LongType)
    before.join(after, Seq("cid")).join(shift, Seq("cid"))
      .select(asLong(col("cid")).as("cid"),
        asLong(col("n_assigned")).as("n_assigned"),
        qdiv(col("ib"), 10000000000L).as("inertia_before_q4"),
        qdiv(col("ia"), 10000000000L).as("inertia_after_q4"),
        qdiv(col("sh"), 100000000L).as("centroid_shift_q6"))
      .orderBy("cid")
  }

  /** Next-Lloyd-iteration assignment drift (§2.21): after the
    * sim_kmeans_inertia step recomputes the 8 cell means, how many
    * vectors would REASSIGN to a different cell — the convergence
    * check a k-means/IVF build loops on (near-zero switch share =
    * converged codebook; a high share says the seeds were bad and the
    * IVF cells will churn). Same exact integer geometry as the
    * inertia step: 1e7-quantized lanes make every squared distance an
    * exact integer and the (d2, cid) nearest-mean tiebreak needs no
    * float rounding; the only division is the per-cell share at
    * output. Scale: two broadcast-8 crossJoins (assign to seeds,
    * re-assign to means) + one map-combined 8-key aggregate; the
    * means themselves are an 8x64-key lane aggregate rebuilt from the
    * assignment — everything linear in corpus size. */
  val simKmeansReassign: Q = (s, d) => {
    val qemb = table(s, d, "embeddings").select(col("vec_id"),
      transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1e7).cast(LongType)).as("ql"))
    val cent = qemb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("ql").as("qc"))
    // round 16: both assignment passes are the row-local
    // nearestCentroid fold over a broadcast collected centroid row —
    // the old two crossJoin + row_number windows shuffled 2·8·n rows
    // (each with the 64-lane array); see simKmeansInertia
    val centArr = cent.agg(collect_list(struct(col("cid"), col("qc"))).as("cents"))
    // checkpoint: two consumers (means lanes, the re-assignment pass)
    // share one run of the interpreted centroid fold
    val asg = qemb.crossJoin(broadcast(centArr))
      .filter(size(col("cents")) > 0) // ADVICE r16: see simKmeansInertia
      .withColumn("best", nearestCentroid(col("cents"), col("ql")))
      .select(col("vec_id"), col("best.cid").as("cid"), col("ql"))
      .localCheckpoint(true)
    val lanes = asg.select(col("cid"),
      posexplode(col("ql")).as(Seq("dim", "q")))
    val means = lanes.groupBy(col("cid"), col("dim"))
      .agg(floor(sum(col("q")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("qm"))
    // per-cell mean vectors reassembled as arrays (struct sort keys on
    // dim first), so the re-assignment pass is the same row-local fold
    // as the seed assignment — no 64x lane-join blowup
    val marr = means.groupBy(col("cid")).agg(
      transform(array_sort(collect_list(struct(col("dim"), col("qm")))),
        x => x.getField("qm")).as("qmv"))
      .agg(collect_list(struct(col("cid"), col("qmv").as("qc"))).as("mcents"))
    val near = asg.crossJoin(broadcast(marr))
      .withColumn("b2", nearestCentroid(col("mcents"), col("ql")))
      .select(col("vec_id"), col("cid"), col("b2.cid").as("mcid"))
    near.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_assigned"),
        sum(when(col("mcid") =!= col("cid"), 1L).otherwise(0L)).as("n_switch"))
      .select(asLong(col("cid")).as("cid"),
        asLong(col("n_assigned")).as("n_assigned"),
        asLong(col("n_switch")).as("n_switch"),
        round(col("n_switch").cast(DoubleType) / col("n_assigned"), 4)
          .as("switch_share"))
      .orderBy("cid")
  }

  /** Per-doc shingle stats (doc_id, total, u): total distinct 3-gram
    * shingles and how many are corpus-UNIQUE (df == 1 — owned by
    * exactly this doc, the min(doc_id)-of-a-1-row-group trick).
    * Round 17: pipeline_dup_ngram_coverage and pipeline_ngram_novelty
    * derive their readouts from this IDENTICAL relation — one
    * checkpointed build (two map-combined aggregates over the shared
    * shingle relation + a doc-grain join) instead of two. Doc-grain,
    * so the checkpoint is |docs|-bounded at any SF. */
  private val docShingleStats = graft.SharedBuild[String, DataFrame]("Pipelines.docShingleStats") {
    (s, d) =>
      val sh = shingles(s, d).select(col("doc_id"), col("g"))
      val tot = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("total"))
      val uni = sh.groupBy(col("g"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("d0"))
        .filter(col("df") === 1)
        .groupBy(col("d0").as("doc_id")).agg(count(lit(1)).as("u"))
      tot.join(uni, Seq("doc_id"), "left")
        .select(col("doc_id"), col("total"),
          coalesce(col("u"), lit(0L)).as("u"))
        .localCheckpoint(true)
  }

  /** Per-doc duplicated-ngram coverage histogram (§2.21): the share of
    * each document's distinct 3-gram shingles that also appear in at
    * least one OTHER document, bucketed into exact integer deciles
    * ((10*dup) DIV total, 0..10) and counted per source — the
    * "how much of each source is boilerplate/copied text" distribution
    * that decides whether a source needs line-level dedup before
    * training, finer-grained than the pair-level LSH family (a doc can
    * be 60% duplicated without any single near-dup partner). The
    * decile is a pure integer quotient, so there is no float knife
    * edge anywhere. Scale (round 16): dup = total − unique, and a
    * df == 1 shingle belongs to exactly ONE doc — so the per-doc dup
    * count comes from the df aggregate directly (min(doc_id) of a
    * 1-row group IS the owner) with NO shingle-grain join-back (the
    * old sh ⋈ df re-shuffled the whole shingle relation by g); per-doc
    * totals map-combine off the scan, everything after is doc-grain.
    * Never all-pairs. */
  val pipelineDupNgramCoverage: Q = (s, d) => {
    // round 17: the (total, unique) per-doc relation is IDENTICAL to
    // pipeline_ngram_novelty's — one shared checkpointed build
    // (docShingleStats) serves both
    val per = docShingleStats(s, d)
      .select(col("doc_id"), col("total"),
        (col("total") - col("u")).as("dup"))
    table(s, d, "documents").select(col("doc_id"), col("source"))
      .join(per, Seq("doc_id"))
      .select(col("source"), expr("(10 * dup) DIV total").as("cov_decile"))
      .groupBy(col("source"), col("cov_decile"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), asLong(col("cov_decile")).as("cov_decile"),
        asLong(col("n_docs")).as("n_docs"))
      .orderBy("source", "cov_decile")
  }

  /** Dedup keep policy audit (§2.21): resolve the verified LSH pair
    * set to clusters (same 4-round min-label propagation as
    * dedup_clusters), elect one canonical doc per cluster (longest
    * n_chars, then lowest doc_id — the usual "keep the most complete
    * copy" rule) and report per source how many docs the dedup run
    * would actually DROP — the number a curation pipeline signs off
    * on before deleting data, one level more actionable than cluster
    * sizes. Scale: reuses the persisted LSH pair set (marginal cost,
    * like minhash_calibration); label prop is 4 t-keyed shuffles of
    * the pair relation (pairs, not corpus); the canonical election is
    * a window over cluster members only; the final aggregate is one
    * map-combined pass over documents left-joined to the (tiny)
    * member relation. */
  val pipelineDedupKeepPolicy: Q = (s, d) => {
    val membership =
      GraphOps.pairComponents(dedupMinhashLsh(s, d).select(col("d1"), col("d2")))
    val docs = table(s, d, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val wk = Window.partitionBy(col("lbl"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val mem = membership.join(docs, col("v") === col("doc_id"))
      .withColumn("rn", row_number().over(wk))
      .select(col("doc_id").as("mid"), col("rn"))
    docs.join(mem, col("doc_id") === col("mid"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn").isNotNull, 1L).otherwise(0L)).as("n_clustered"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_clustered")).as("n_clustered"),
        asLong(col("n_dropped")).as("n_dropped"),
        round((col("n_docs") - col("n_dropped")).cast(DoubleType) /
          col("n_docs"), 4).as("kept_share"))
      .orderBy("source")
  }

  /** Shard balance audit (§2.21): hash-shard the corpus into 32
    * md5-bucketed shards (the same deterministic bucketing the
    * sampling family uses) and report doc/token-count spread plus the
    * max-shard skew factor — the "will my writers/readers be balanced"
    * check run before committing a sharding key, because one hot
    * shard serializes every downstream stage that consumes shards in
    * parallel. All counts exact integers; the skew factor divides
    * once at output. Scale: ONE map-combined aggregate over documents
    * into a 32-key domain, then a 1-row reduction — no shuffle wider
    * than 32 rows. */
  val pipelineShardBalance: Q = (s, d) => {
    val per = table(s, d, "documents")
      .select((Sampling.bucket16(col("doc_id")) % 32).as("shard"),
        tokenCount.cast(LongType).as("n_tok"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"))
    per.agg(count(lit(1)).as("n_shards"),
        min(col("n_docs")).as("min_docs"), max(col("n_docs")).as("max_docs"),
        min(col("toks")).as("min_tokens"), max(col("toks")).as("max_tokens"),
        sum(col("toks")).as("total"))
      .select(asLong(col("n_shards")).as("n_shards"),
        asLong(col("min_docs")).as("min_docs"),
        asLong(col("max_docs")).as("max_docs"),
        asLong(col("min_tokens")).as("min_tokens"),
        asLong(col("max_tokens")).as("max_tokens"),
        asLong(col("total")).as("total_tokens"),
        round((col("max_tokens") * col("n_shards")).cast(DoubleType) /
          col("total").cast(DoubleType), 4).as("skew"))
  }

  /** Context-window packing audit (§2.21): concatenate the corpus in
    * doc_id order and split into 512-token training chunks (the
    * GPT-style pack-then-chunk layout), reporting how many documents
    * straddle a chunk boundary (their text is split across training
    * examples) and the final fill share — the layout stats that decide
    * chunk size vs document-truncation tradeoffs before a training
    * run. The running token offset is GlobalRank.withRunningSum (range
    * shuffle + broadcast prefix offsets — no single-partition window),
    * and every boundary test is integer DIV arithmetic. Scale: the
    * GlobalRank two-pass is the measured α<1 family (SCALING.md);
    * everything after is one map-combined 1-row aggregate. */
  val pipelineChunkPacking: Q = (s, d) => {
    val docs = table(s, d, "documents")
      .select(col("doc_id"), tokenCount.cast(LongType).as("n_tok"))
    val cum = GlobalRank.withRunningSum(docs, Seq(col("doc_id")), "n_tok", "cum")
    cum.agg(sum(col("n_tok")).as("total"), count(lit(1)).as("n_docs"),
        sum(when(expr("(cum - n_tok) DIV 512") =!= expr("(cum - 1) DIV 512"), 1L)
          .otherwise(0L)).as("boundary_docs"))
      .select(asLong(col("total")).as("total_tokens"),
        asLong(col("n_docs")).as("n_docs"),
        asLong(col("boundary_docs")).as("boundary_docs"),
        asLong(expr("(total + 511) DIV 512")).as("n_chunks"),
        round(col("total").cast(DoubleType) /
          (expr("(total + 511) DIV 512") * lit(512L)).cast(DoubleType), 4)
          .as("fill_share"))
  }

  /** Benchmark decontamination: flag training documents that share
    * >= 3 distinct 3-gram shingles with any held-out eval document
    * (eval set = doc_id % 10 == 0). The shape is the production one —
    * shingle both sides once (shared persisted shingle set), equi-join
    * train shingles against the eval shingle set, count per
    * (train, eval) pair, threshold. At 100 TB the eval set is tiny and
    * fixed (a benchmark suite), so its shingle set broadcasts and the
    * train side streams through map-side hash lookups — no shuffle of
    * the corpus; here the eval fraction is 10 % so the equi-join
    * shuffles normally and AQE picks the strategy. */
  val pipelineContamination: Q = (s, d) => {
    val sh = shingles(s, d)
    val ev = sh.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("e_id"), col("g"))
    val tr = sh.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("g"))
    tr.join(ev, Seq("g"))
      .groupBy(col("doc_id"), col("e_id"))
      .agg(count(lit(1)).as("o"))
      .filter(col("o") >= 3)
      .groupBy(col("doc_id"))
      .agg(asLong(count(lit(1))).as("n_eval_hits"), asLong(max(col("o"))).as("max_overlap"))
      .orderBy("doc_id")
  }

  /** Containment near-dup (asymmetric): pairs where the SMALLER doc's
    * shingles are >= 50 % contained in the pair's intersection —
    * catches quote-inclusion and excerpt duplication that symmetric
    * Jaccard misses (a 10-line quote inside a 500-line doc has tiny
    * Jaccard but full containment). Shares the persisted shingle set.
    *
    * Candidates are ONE-SIDED and recall-COMPLETE: each doc posts only
    * a bounded sketch — its min(floor(0.7·|d|)+1, |d|) rarest shingles
    * under the global (df asc, shingle) order (longer than the
    * floor(0.50005·|d|)+1 coverage minimum so the sketch ALSO supports
    * an exact shared-count lower bound; see containmentCandidates for
    * the two-bound derivation) — and the sketch joins the OTHER
    * side's full shingle set with the size predicate sz_sketch <=
    * sz_full, so only the smaller doc of a pair is reduced to a
    * sketch. Pigeonhole proof of completeness at threshold t = 0.5:
    * for a qualifying pair with |A| <= |B|, at most floor(0.50005·|A|)
    * shingles of A are missing from B (the verify admits
    * round(i/|A|,4) >= 0.5); A's sketch holds strictly more shingles
    * than that, hence at least one lands in B and the lang-blocked
    * equi-join surfaces the pair. Result is therefore
    * IDENTICAL to the raw shingle x shingle join (`ContainmentSpec`
    * property-checks sketch-candidates ⊇ qualifying pairs), but the
    * hot-shingle blowup is gone: rarity ordering keeps boilerplate
    * shingles (high df) out of every sketch, so the candidate join
    * cost is Σ_g sketch_df(g)·df(g) with sketch_df ≈ 0 exactly where
    * df explodes — the same PPJoin-style fix dedup_near_jaccard uses,
    * here in its asymmetric containment form (deterministic, so
    * strictly stronger than probabilistic one-sided MinHash banding).
    * The exact-count verify below runs only over candidate pairs;
    * the DuckDB oracle keeps the independent quadratic formulation. */
  val dedupContainment: Q = (s, d) => {
    val sh = shingles(s, d)
    // checkpoint: sizes is consumed FOUR times (twice inside the
    // candidate build, twice in the verify's s1/s2 joins) — each
    // occurrence used to re-run the doc-grain aggregate over the full
    // shingle relation
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      .localCheckpoint(true)
    // round 16 (guide §3.2): the exact-intersection verify only reads
    // shingles of docs in a candidate pair (count-filtered to ~dozens),
    // but its b side used to shuffle the FULL shingle relation by
    // (d2, g). Checkpoint the tiny candidate set once and broadcast-
    // semi-join both shingle sides down to candidate docs first — the
    // verify then runs entirely on near-dup-bounded relations.
    val cand = containmentCandidates(sh, sizes).localCheckpoint(true)
    // round 17 (re-A/B of the round-16 prefilter, verdict item 8): the
    // TWO per-side broadcast semi-joins measured 1.4–2× the whole
    // query's CPU at sf0.1 (alternated QBench: prefilter-off converges
    // 4.2–4.4 CPU-s / 2.2–2.5 s wall, the two-sided shape 5.8–11.1 /
    // 3.7–3.8). The scale property they bought (§3.2: the verify never
    // shuffles the corpus-sized shingle relation) is kept by ONE
    // union-keyed semi-join whose candidate-doc-bounded result is
    // checkpointed and read by BOTH verify sides — half the prefilter
    // scans, same guarantee.
    val candDocs = cand.select(col("d1").as("doc_id"))
      .unionAll(cand.select(col("d2").as("doc_id"))).distinct()
    val shc = sh.join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val a = shc.select(col("doc_id").as("ia"), col("g"))
    val b = shc.select(col("doc_id").as("ib"), col("g").as("gb"))
    val inter = cand
      .join(a, col("ia") === col("d1"))
      .join(b, col("ib") === col("d2") && col("gb") === col("g"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.toDF("s1_id", "s1"), col("d1") === col("s1_id"))
      .join(sizes.toDF("s2_id", "s2"), col("d2") === col("s2_id"))
      .withColumn("containment",
        round(col("i").cast(DoubleType) / least(col("s1"), col("s2")), 4))
      .filter(col("containment") >= 0.5)
      .select(col("d1"), col("d2"), col("containment"))
      .orderBy("d1", "d2")
  }

  /** Candidate pairs (d1 < d2, distinct) for containment >= 0.5 via the
    * one-sided rarest-shingle sketch — see dedupContainment's scaladoc
    * for the completeness proof. Exposed package-private so the spec
    * can property-check sketch-candidates ⊇ qualifying pairs. */
  private[graft] def containmentCandidates(sh: DataFrame, sizes: DataFrame): DataFrame = {
    val gdf = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // Two exact counting bounds drive this. (1) COVERAGE: the verify
    // admits round(i/|A|, 4) >= 0.5, i.e. i >= 0.49995·|A|, so at most
    // floor(0.50005·|A|) shingles of A are missing from B — any sketch
    // longer than that is pigeonhole-complete. (2) COUNT FILTER: with
    // a sketch of slen = min(floor(0.7·|A|)+1, |A|) rarest shingles,
    // the same bound means a qualifying pair shares at least
    // slen - floor(0.50005·|A|) (~0.2·|A|) SKETCH shingles — so the
    // candidate join can aggregate its match count and discard the
    // long tail of pairs sharing only a few rare shingles BEFORE the
    // expensive full-intersection verify, still losing no qualifying
    // pair (ContainmentSpec property-checks this at all three SFs).
    // Measured at sf0.1: 119,630 -> 95 candidates for 79 final pairs,
    // and the verify join shrinks proportionally.
    // round 17 (guide §2.4, the span-island recipe): the sketch is the
    // slen rarest (df, g) entries PER DOC — selected in-row from one
    // groupBy(doc) collect + array_sort + slice, replacing the
    // doc-keyed row_number window (a full sort of the sh⋈gdf relation)
    // AND the sizes join (the collected group size IS the doc's
    // shingle count, since every shingle carries a df row). (df, g) is
    // a total key within a doc (g is distinct per doc), so the sliced
    // set is exactly the old rn <= slen set.
    val sketch = sh
      .join(gdf, Seq("g"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("a"))
      .select(col("doc_id"), col("lang"),
        explode(expr(
          "slice(a, 1, int(least(floor(size(a) * 0.7) + 1, size(a))))"))
          .as("e"),
        expr("bigint(size(a))").as("sz"),
        expr("least(floor(size(a) * 0.7) + 1, bigint(size(a)))").as("slen"))
      .select(col("doc_id"), col("lang"), col("e.g").as("g"), col("sz"),
        col("slen"))
    val full = sh.join(sizes, Seq("doc_id"))
      .select(col("doc_id").as("fd"), col("lang").as("flang"),
        col("g").as("fg"), col("sz").as("fsz"))
    sketch.join(full,
        col("g") === col("fg") && col("lang") === col("flang") &&
          col("doc_id") =!= col("fd") && col("sz") <= col("fsz"))
      .groupBy(col("doc_id"), col("fd"), col("sz"), col("slen"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= col("slen") - floor(col("sz") * 0.50005))
      .select(least(col("doc_id"), col("fd")).as("d1"),
        greatest(col("doc_id"), col("fd")).as("d2"))
      .distinct()
  }

  /** TF-IDF top terms: document frequency trained over the WHOLE
    * corpus (one explode + two map-combined aggs), term frequency only
    * for the scored sample (doc_id % 11 == 0), top-3 terms per doc by
    * rounded tf*ln(N/df) with a lexicographic tiebreak. Ranking uses
    * the ROUNDED score so the cross-engine contract never depends on
    * sub-ulp ln() agreement. df is a broadcast-sized relation (vocab),
    * so at scale the scoring join is map-side. */
  val pipelineTfidfTopterms: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    // round 16: df via row-local per-doc dedup (array_distinct at doc
    // grain == distinct (doc_id, w)) — drops the data-sized exchange
    val df = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val tf = tok.filter(col("doc_id") % 11 === 0)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val scored = tf.join(broadcast(df), Seq("w")).join(broadcast(n))
      .select(col("doc_id"), col("w"),
        round(col("tf").cast(DoubleType) *
          log(col("n").cast(DoubleType) / col("df").cast(DoubleType)), 4).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("w"))
    scored.withColumn("rk", asLong(row_number().over(w)))
      .filter(col("rk") <= 3)
      .select("doc_id", "rk", "w", "tfidf")
      .orderBy("doc_id", "rk")
  }

  /** Gopher-style repetition quality signals (doc_id % 3 sample):
    * top-bigram share (what fraction of a doc is its most repeated
    * bigram) and type-token ratio, with the repetitive verdict taken
    * on the ROUNDED scores so the cross-engine contract is exact.
    * Scale (round 16): every per-doc statistic is ROW-LOCAL — token
    * and distinct counts via `size`/`array_distinct`, and the top
    * bigram count as the longest equal-run of the SORTED in-row
    * bigram array (one `aggregate` fold; sorting groups equal bigrams
    * exactly as the old (doc, g) count did). The old shape paid a
    * token-relation persist + a doc-keyed lead window + two doc-grain
    * exchanges + a join; zero exchanges remain before the orderBy. */
  val pipelineRepetitionScore: Q = (s, d) => {
    val perDoc = table(s, d, "documents")
      .filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"),
        size(col("l")).cast(LongType).as("n_tok"),
        size(array_distinct(col("l"))).cast(LongType).as("n_distinct"),
        (size(col("l")) - 1).cast(LongType).as("total"),
        expr("aggregate(array_sort(transform(slice(l, 1, size(l) - 1), " +
          "(x, i) -> concat(x, ' ', element_at(l, i + 2)))), " +
          "named_struct('p', cast(null as string), 'r', 0L, 'b', 0L), " +
          "(a, x) -> named_struct('p', x, " +
          "'r', if(a.p <=> x, a.r + 1L, 1L), " +
          "'b', greatest(a.b, if(a.p <=> x, a.r + 1L, 1L))), " +
          "a -> a.b)").as("top"))
    perDoc
      .select(col("doc_id"), col("n_tok"),
        round(col("top").cast(DoubleType) / col("total"), 4).as("top_bigram_share"),
        round(col("n_distinct").cast(DoubleType) / col("n_tok"), 4).as("ttr"))
      .withColumn("verdict",
        when(col("top_bigram_share") >= 0.05 || col("ttr") <= 0.35, "repetitive")
          .otherwise("ok"))
      .orderBy("doc_id")
  }

  /** Domain-mixture reweighting: per-source token counts -> corpus
    * share -> the resampling weight that flattens the mixture to the
    * uniform target (weight = target_share / actual_share). One
    * map-side-combined aggregation over the corpus plus a broadcast
    * scalar total — linear, no wide shuffle, the exact shape of a
    * data-mixing pass before training. */
  val pipelineDomainMix: Q = (s, d) => {
    val bySrc = table(s, d, "documents")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(size(split(col("text"), " ")))).as("n_tokens"))
    val total = bySrc.agg(sum(col("n_tokens")).as("tot"), count(lit(1)).as("n_src"))
    bySrc.join(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast(DoubleType) / col("tot"), 6).as("share"),
        round((lit(1.0) / col("n_src")) /
          (col("n_tokens").cast(DoubleType) / col("tot")), 4).as("weight"))
      .orderBy("source")
  }

  /** Corpus length histogram (§2.11, r6): fixed-width (64-char)
    * length buckets per language with doc counts, char ranges and the
    * mean whitespace-token count — the corpus-shape profile a
    * training-data pipeline tracks per ingest. Single aggregation
    * pass; integer bucket arithmetic (`div`) so both engines bucket
    * identically. */
  val pipelineLenHistogram: Q = (s, d) =>
    table(s, d, "documents")
      .groupBy(col("lang"), expr("n_chars div 64").as("bucket"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(min(col("n_chars"))).as("min_chars"),
        asLong(max(col("n_chars"))).as("max_chars"),
        round(sum(size(split(col("text"), " "))).cast(DoubleType) / count(lit(1)), 4)
          .as("avg_tokens"))
      .orderBy("lang", "bucket")

  /** Dedup-rate telemetry per source (§2.13, r6): doc count, distinct
    * content hashes, and the duplicate rate — the per-ingest health
    * metric a dedup pipeline reports before/after each stage. One
    * aggregation pass; the rate divides two exact integers so both
    * engines emit the identical double. */
  val pipelineDedupRateBySource: Q = (s, d) =>
    table(s, d, "documents")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(count_distinct(md5(col("text")))).as("n_uniq"))
      .withColumn("dup_rate",
        round(lit(1) - col("n_uniq").cast(DoubleType) / col("n_docs").cast(DoubleType), 6))
      .orderBy("source")

  /** Vocabulary growth per source (§2.13, r6): token count, distinct
    * types, and the type-token ratio — the Heaps-law telemetry that
    * flags template/boilerplate-heavy sources (low TTR) during corpus
    * curation. One explode + one aggregation pass on the source key;
    * the whitespace split matches the oracle's string_split exactly. */
  val pipelineVocabGrowth: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_tokens"),
        asLong(count_distinct(col("w"))).as("n_types"))
      .withColumn("ttr",
        round(col("n_types").cast(DoubleType) / col("n_tokens").cast(DoubleType), 6))
      .orderBy("source")

  /** Unigram language-model scoring (§2.13, r6): each document's mean
    * token log-probability under the corpus's own unigram distribution
    * — the CCNet/Gopher-style "perplexity filter" quality signal
    * (docs far below the corpus mean are boilerplate or noise; far
    * above are repetitive). Counts are exact BIGINTs; ln(cnt/N) is
    * computed once per VOCAB ROW (not per token), rounded at 6 and
    * DECIMAL-summed per doc so the per-doc mean divides identical
    * operands in both engines (the sim_label_cohesion discipline).
    * Scale: vocab is corpus-bounded (kilobytes at 100 TB) so the freq
    * relation broadcasts; the token explode never shuffles token-grain
    * rows — partial aggregation collapses each doc's tokens map-side
    * and the doc_id shuffle carries ~1 row per doc. */
  val pipelineUnigramLogprob: Q = (s, d) => {
    val tok = table(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val n = freq.agg(sum(col("cnt")).as("n_tok"))
    // floor(x*1e6) quantization, not round(x, 6) — same rationale as
    // pipeline_bigram_logprob (round-of-double diverges cross-engine;
    // floor of the same double cannot)
    val lp = freq.crossJoin(broadcast(n))
      .select(col("w"),
        floor(log(col("cnt").cast(DoubleType) / col("n_tok")) * 1e6)
          .cast(LongType).as("lp6"))
    tok.join(broadcast(lp), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(asLong(count(lit(1))).as("n_tokens"),
        round(sum(col("lp6")).cast(DoubleType) / count(lit(1)) / 1e6, 4)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Bigram LM scoring (§2.13, r7): per-document average conditional
    * log-probability ln p(w2|w1) under the corpus's own MLE bigram
    * model — the sequence-aware upgrade of pipeline_unigram_logprob
    * (a doc of common words in an improbable ORDER now scores low;
    * unigram scoring can't see order at all). p(w2|w1) = c(w1,w2) /
    * c(w1 as context), both exact counts over the same bigram
    * relation so the model is trivially consistent. Bigrams are built
    * IN-ROW by an indexed transform over the token array (codegen'd
    * HOF — no positional self-join, no extra shuffle); per-bigram
    * log-probs are quantized by floor(lp·1e6) to BIGINT before the
    * per-doc sum — exact integer arithmetic, order-insensitive and
    * engine-independent (see the inline note below). Scale:
    * the bigram-type relation is vocab², corpus-bounded kilobytes
    * that broadcast; everything else is one map-combined group-by
    * plus a broadcast join — linear, like unigram. */
  val pipelineBigramLogprob: Q = (s, d) => {
    val big = table(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(l, 1, size(l) - 1), (x, i) -> " +
          "struct(x AS w1, element_at(l, i + 2) AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    // lp quantized by floor(x*1e6) -> BIGINT, NOT round(x, 6): round
    // diverges between engines (Spark rounds the decimal expansion,
    // DuckDB the scaled double — SURVEY §5.3's ~2e-5 hazard), and with
    // vocab² distinct lp values one knife-edge hit is near-certain at
    // sf0.1 (it happened: round-6 lp hash-matched at sf0.01 and missed
    // at sf0.1). floor of the SAME double is engine-independent.
    val lp = c12.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        floor(log(col("c12").cast(DoubleType) / col("c1")) * 1e6)
          .cast(LongType).as("lp6"))
    big.join(broadcast(lp), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(asLong(count(lit(1))).as("n_bigrams"),
        round(sum(col("lp6")).cast(DoubleType) / count(lit(1)) / 1e6, 4)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Zipf rank-frequency fit (§2.13, r6): log-log OLS of token
    * frequency against rank — the one-number corpus-health telemetry
    * (natural text sits near slope −1; template spam flattens it).
    * Rank is total-ordered (count desc, token asc); ln(rank)/ln(cnt)
    * are rounded at 6 and DECIMAL-summed so all four OLS power sums
    * are exact and the closed-form slope/intercept evaluate one
    * identical IEEE tree per engine. Scale: runs on the vocab
    * relation (sub-linear in corpus by Heaps' law but still ~100M
    * tokens at 100 TB), so the global rank goes through
    * GlobalRank.ranked (range shuffle + broadcast offsets) rather
    * than a single-task window — round 8. */
  val pipelineZipfFit: Q = (s, d) => {
    val freq = table(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val ranked = GlobalRank.ranked(
      freq, Seq(col("cnt").desc, col("w")), "r")._1
      .select(col("cnt"), col("r"))
    val xy = ranked.select(
      round(log(col("r").cast(DoubleType)), 6).cast(DecimalType(18, 6)).as("x"),
      round(log(col("cnt").cast(DoubleType)), 6).cast(DecimalType(18, 6)).as("y"))
    // the four power sums are exact decimals; cast each ONCE to double
    // (exact-to-identical operands) and run the OLS closed form in a
    // fixed double tree — decimal×bigint promotion above precision 38
    // rounds differently across engines, doubles do not
    val nD = col("n").cast(DoubleType)
    def D(c: String) = col(c).cast(DoubleType)
    val slope = (nD * D("sxy") - D("sx") * D("sy")) /
      (nD * D("sxx") - D("sx") * D("sx"))
    xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(asLong(col("n")).as("n_words"),
        round(slope, 4).as("slope"),
        round((D("sy") - slope * D("sx")) / nD, 4).as("intercept"))
  }

  /** N-gram novelty (§2.13, r6): per-document share of 3-gram
    * shingles that appear in NO other document — the memorization-risk
    * / contribution-value telemetry curation pipelines rank sources by
    * (a doc whose shingles all recur elsewhere adds nothing; one full
    * of singletons is novel). Reuses the SHARED persisted shingle
    * relation; novelty divides two exact integers. Scale (round 16): a
    * df == 1 shingle belongs to exactly ONE doc, so per-doc unique
    * counts come straight out of the df aggregate (min(doc_id) of a
    * 1-row group IS the owner) — no shingle-grain join-back; the old
    * sh ⋈ df re-shuffled the whole shingle relation by g a second
    * time. Per-doc totals map-combine off the scan; the doc-grain
    * join is |docs|-bounded. */
  val pipelineNgramNovelty: Q = (s, d) =>
    // round 17: reads the shared per-doc (total, unique) checkpoint —
    // see docShingleStats / pipeline_dup_ngram_coverage
    docShingleStats(s, d)
      .select(col("doc_id"), asLong(col("total")).as("n_shingles"),
        asLong(col("u")).as("n_unique"),
        round(col("u").cast(DoubleType) /
          col("total").cast(DoubleType), 6).as("novelty"))
      .orderBy("doc_id")

  /** Boilerplate n-gram detection (§2.13, r6): the 20 highest
    * document-frequency 3-gram shingles — the template/banner content
    * a curation pipeline strips before training (C4/RefinedWeb-style
    * line dedup, at shingle granularity since this corpus has no line
    * structure). Reuses the SHARED persisted shingle relation (one
    * build serves six dedup-family queries); doc-share divides two
    * exact integers. Top-20 is a total order (df desc, then shingle),
    * so the limit is deterministic in both engines. */
  val pipelineBoilerplateNgrams: Q = (s, d) => {
    val n = table(s, d, "documents").agg(count(lit(1)).as("n_docs"))
    shingles(s, d)
      .groupBy(col("g"))
      .agg(asLong(count(lit(1))).as("df"))
      .crossJoin(broadcast(n))
      .select(col("g"), col("df"),
        round(col("df").cast(DoubleType) / col("n_docs"), 6).as("doc_share"))
      .orderBy(col("df").desc, col("g"))
      .limit(20)
  }

  // ---- §2.18 (round 8) ----

  /** Type-token-ratio histogram (§2.18): per-doc lexical diversity
    * (distinct tokens / tokens) bucketed at 0.1 — template spam and
    * boilerplate sit in the low buckets, natural prose high; the
    * corpus-level screen next to pipeline_repetition. The bucket is
    * PURE INTEGER arithmetic — (10·distinct) div tokens — so no
    * float round ever sits on a bucket boundary (a 4dp round of the
    * rational distinct/tokens can land exactly on a .xxxx5 knife
    * edge, where the two engines' round implementations disagree).
    * Scale (round 16): the per-doc token and distinct-token counts
    * are ROW-LOCAL (`size(split)` / `size(array_distinct(split))` —
    * the distinct-after-explode family recipe), so the old token
    * explode + doc-grain countDistinct exchange is gone; only the
    * 11-bucket reduce remains. */
  val pipelineTtr: Q = (s, d) =>
    table(s, d, "documents")
      .select(size(split(col("text"), " ")).cast(LongType).as("n_tok"),
        size(array_distinct(split(col("text"), " "))).cast(LongType)
          .as("n_distinct"))
      .groupBy(expr("(10 * n_distinct) div n_tok").as("bucket"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        round(sum(col("n_tok")).cast(DoubleType) / count(lit(1)), 2).as("avg_tokens"))
      .orderBy("bucket")

  /** Corpus bigram conditional entropy H(w2|w1) (§2.18): the one-number
    * sequence-predictability telemetry next to pipeline_bigram_logprob
    * (H = (Σ c1·ln c1 − Σ c12·ln c12)/N from exact counts). Each
    * c·ln c term is quantized floor(x·1e6)→BIGINT before the
    * order-insensitive integer sum — the logprob family's
    * engine-independent discipline. Scale: one in-row bigram
    * expansion, two vocab-bounded aggregates. */
  val pipelineBigramCondEntropy: Q = (s, d) => {
    val big = table(s, d, "documents")
      .select(split(col("text"), " ").as("l"))
      .select(explode(expr(
        "transform(slice(l, 1, size(l) - 1), (x, i) -> " +
          "struct(x AS w1, element_at(l, i + 2) AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(true)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val s12 = c12.agg(
      sum(floor(col("c12").cast(DoubleType) * log(col("c12").cast(DoubleType)) * 1e6)
        .cast(LongType)).as("s12"),
      sum(col("c12")).as("n"), count(lit(1)).as("n_types"))
    val s1 = c1.agg(
      sum(floor(col("c1").cast(DoubleType) * log(col("c1").cast(DoubleType)) * 1e6)
        .cast(LongType)).as("s1"),
      count(lit(1)).as("n_contexts"))
    s12.crossJoin(s1)
      .select(asLong(col("n")).as("n_bigrams"),
        asLong(col("n_types")).as("n_bigram_types"),
        asLong(col("n_contexts")).as("n_contexts"),
        round((col("s1") - col("s12")).cast(DoubleType) / 1e6 / col("n"), 6)
          .as("cond_entropy"))
  }

  /** Near-dup degree distribution (§2.18): how many LSH-verified
    * near-dup partners each affected doc has, histogrammed — the
    * shape that distinguishes "isolated pairs" from "one giant
    * template cluster" before dedup_clusters runs the full CC. Reuses
    * the persisted verified pair set (marginal cost, like
    * pipeline_dedup_cross_source). Docs with zero partners are not in
    * the pair set and therefore not rows here (by construction, same
    * in the oracle). */
  val pipelineDupDegreeDistribution: Q = (s, d) => {
    val pairs = dedupMinhashLsh(s, d).select(col("d1"), col("d2"))
    pairs.unionAll(pairs.select(col("d2").as("d1"), col("d1").as("d2")))
      .groupBy(col("d1"))
      .agg(count(lit(1)).as("degree"))
      .groupBy(col("degree"))
      .agg(asLong(count(lit(1))).as("n_docs"))
      .select(asLong(col("degree")).as("degree"), col("n_docs"))
      .orderBy("degree")
  }

  /** Hapax-legomena ratio per source (§2.18b): the share of a source's
    * vocabulary occurring exactly once — the lexical-richness /
    * template-detection number (boilerplate sources have tiny hapax
    * shares; natural text large). Exact counts, one rounded division.
    * Scale: one (source, token) map-combined aggregate over the
    * source-bounded vocab relation. */
  val pipelineHapaxRatio: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("vocab"),
        asLong(sum(when(col("cnt") === 1, 1L).otherwise(0L))).as("hapax"),
        asLong(sum(col("cnt"))).as("n_tokens"))
      .select(col("source"), col("vocab"), col("hapax"), col("n_tokens"),
        round(col("hapax").cast(DoubleType) / col("vocab"), 6).as("hapax_ratio"))
      .orderBy("source")

  /** Pointwise mutual information over the top-40 tokens (§2.18):
    * collocation mining — PMI = ln(N·c_ab/(df_a·df_b)) on document
    * co-occurrence, restricted to the 40 highest-document-frequency
    * tokens (ties broken lexicographically) so the pair space is
    * bounded at 780 regardless of corpus size — the standard
    * frequency-cutoff PMI shape. All counts exact; the PMI is one
    * double tree rounded at 4. Scale: df aggregate + a broadcast
    * top-40 semi-join + a per-doc bounded self-join. */
  val pipelinePmiTop: Q = (s, d) => {
    // round 16: per-doc dedup is row-local (array_distinct before the
    // explode — the doc grain is unique, so this IS distinct (doc_id,
    // w)) — the old relation-level .distinct() paid a data-sized
    // exchange before the df aggregate, twice (df + the pair side).
    val td = table(s, d, "documents")
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
    val df = td.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val top = df.orderBy(col("df").desc, col("w")).limit(40)
    val nDocs = table(s, d, "documents").agg(count(lit(1)).as("n_docs"))
    val tdTop = td.join(broadcast(top), Seq("w"))
      .select(col("doc_id"), col("w"), col("df"))
    val pairs = tdTop.as("a")
      .join(tdTop.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
      .groupBy(col("a.w").as("w1"), col("b.w").as("w2"))
      .agg(count(lit(1)).as("c_ab"),
        first(col("a.df")).as("df_a"), first(col("b.df")).as("df_b"))
    pairs.crossJoin(broadcast(nDocs))
      .select(col("w1"), col("w2"), asLong(col("c_ab")).as("c_ab"),
        asLong(col("df_a")).as("df_a"), asLong(col("df_b")).as("df_b"),
        round(log((col("n_docs") * col("c_ab")).cast(DoubleType) /
          (col("df_a") * col("df_b")).cast(DoubleType)), 4).as("pmi"))
      .orderBy("w1", "w2")
  }

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions (§2.18c): the symmetric, bounded [0, ln 2]
    * distribution distance curation uses to spot sources that drifted
    * or duplicate each other (pipeline_vocab_overlap is its set-level
    * cousin). Probabilities divide exact counts (identical doubles);
    * each token's JSD term is floor-quantized to BIGINT at 1e12
    * BEFORE the cross-token sum — the pipeline_bigram_logprob recipe,
    * scaled for terms of magnitude ≤ p·ln2 — so accumulation order
    * cannot flip a bit. Scale: one (source, token) map-combined
    * aggregate; the pair grid is (sources² × vocab), both bounded
    * relations broadcast. */
  val pipelineJsDivergence: Q = (s, d) => {
    val f = table(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
    val tt = f.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val p = f.join(broadcast(tt), Seq("source"))
      .select(col("source"), col("w"),
        (col("c").cast(DoubleType) / col("n").cast(DoubleType)).as("p"))
    val pairs = tt.select(col("source").as("s1"))
      .join(tt.select(col("source").as("s2")), col("s1") < col("s2"))
    val vocab = f.select(col("w")).distinct()
    val grid = broadcast(pairs).crossJoin(vocab)
    val pa = p.select(col("source").as("s1"), col("w"), col("p").as("pa"))
    val pb = p.select(col("source").as("s2"), col("w"), col("p").as("pb"))
    val paC = coalesce(col("pa"), lit(0.0))
    val pbC = coalesce(col("pb"), lit(0.0))
    val mid = (paC + pbC) / 2
    val term = when(paC > 0, lit(0.5) * paC * log(paC / mid)).otherwise(0.0) +
      when(pbC > 0, lit(0.5) * pbC * log(pbC / mid)).otherwise(0.0)
    grid
      .join(broadcast(pa), Seq("s1", "w"), "left")
      .join(broadcast(pb), Seq("s2", "w"), "left")
      .select(col("s1"), col("s2"), floor(term * 1e12).cast(LongType).as("t12"))
      .groupBy(col("s1"), col("s2"))
      .agg(sum(col("t12")).as("jsd_q12"))
      .select(col("s1"), col("s2"), asLong(col("jsd_q12")).as("jsd_q12"),
        round(col("jsd_q12").cast(DoubleType) / 1e12, 6).as("jsd"))
      .orderBy("s1", "s2")
  }

  /** Top-k token coverage curve (§2.18c): what fraction of total token
    * mass the k most frequent tokens carry, k ∈ {1,5,10,20,50} — the
    * head-heaviness read behind stopword lists and vocab sizing
    * (pipeline_zipf_fit fits the same curve's exponent). Counts
    * exact; coverage divides identical doubles. Scale: one token
    * aggregate, then the top-50 via TakeOrderedAndProject (per-
    * partition heaps, never a global sort — vocabulary grows ~n^0.5
    * by Heaps' law, so a global rank would be a one-task window over
    * 10⁸⁺ rows at corpus scale; only k ≤ 50 matters). covered(k) is
    * the sum of the k largest counts — invariant to tie order among
    * equal counts, so the plan change cannot move the oracle hash —
    * folded from the sorted 50-element count array. */
  val pipelineTopTokenCoverage: Q = (s, d) => {
    import s.implicits._
    val f = table(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val tot = f.agg(sum(col("c")).as("n"))
    val top = f.orderBy(col("c").desc, col("w")).limit(50)
      .agg(reverse(array_sort(collect_list(col("c")))).as("cs"))
    val ks = Seq(1, 5, 10, 20, 50).toDF("k")
    broadcast(ks).crossJoin(broadcast(top))
      .select(col("k"),
        aggregate(slice(col("cs"), lit(1), col("k")), lit(0L), _ + _)
          .as("covered"))
      .crossJoin(broadcast(tot))
      .select(asLong(col("k")).as("k"), asLong(col("covered")).as("covered"),
        round(col("covered").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("coverage"))
      .orderBy("k")
  }

  /** MinHash estimator calibration (§2.18e): over the LSH-verified
    * near-dup pair set, how far the 16-permutation signature estimate
    * (matching minhashes / 16) sits from the exact shingle Jaccard —
    * the measurement that justifies (or indicts) the signature size
    * before anyone trusts dedup_minhash_lsh at corpus scale. The
    * estimate k/16 is an exact binary double; the exact Jaccard
    * arrives 4dp-rounded from the persisted pair set; the per-pair
    * |est − jac| and jac are floor-quantized to BIGINT at 1e6 before
    * the per-bucket means (identical doubles → identical floors).
    * Scale: reuses the persisted verified pairs (marginal, like
    * pipeline_dedup_cross_source) + one signature aggregate over the
    * cached shingles and two broadcast-sized joins on doc_id — the
    * pair set is the small side by construction. */
  val pipelineMinhashCalibration: Q = (s, d) => {
    val pairs = dedupMinhashLsh(s, d)
    val wide = minhashWide(s, d)
    val w1 = wide.toDF("d1" +: "lang1" +: (0 until 16).map(i => s"a$i"): _*)
    val w2 = wide.toDF("d2" +: "lang2" +: (0 until 16).map(i => s"b$i"): _*)
    val matches = (0 until 16)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(w1, "d1").join(w2, "d2")
      .select(matches.as("matches"), col("jaccard"))
      .select(col("matches"),
        floor(abs(col("matches").cast(DoubleType) / 16.0 - col("jaccard")) * 1e6)
          .cast(LongType).as("qerr"),
        floor(col("jaccard") * 1e6).cast(LongType).as("qjac"))
      .groupBy(col("matches"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("qerr")).as("se"),
        sum(col("qjac")).as("sj"))
      .select(col("matches"), asLong(col("n_pairs")).as("n_pairs"),
        round(col("matches").cast(DoubleType) / 16.0, 6).as("est_jaccard"),
        round(col("sj").cast(DoubleType) / 1e6 / col("n_pairs"), 6)
          .as("mean_exact_jaccard"),
        round(col("se").cast(DoubleType) / 1e6 / col("n_pairs"), 6)
          .as("mean_abs_err"))
      .orderBy("matches")
  }

  /** Token burstiness (§2.18e): Fano factor (variance/mean of per-doc
    * counts, zeros included) for the 20 highest-document-frequency
    * tokens — function words spread evenly (Fano ≈ dispersion 1),
    * topical/template tokens clump in few docs (Fano >> 1); the
    * Church–Gale burstiness screen that tells a stopword from a
    * boilerplate marker before either list is built. Per-token Σc and
    * Σc² are exact integers over docs containing the token (zero docs
    * contribute 0 to both), so mean/variance/Fano evaluate in one
    * double tree — no quantization needed. Scale: one (doc, token)
    * map-combined aggregate; the top-20 selection ranks the
    * vocab-bounded df relation (PMI's broadcast top-k precedent). */
  val pipelineBurstiness: Q = (s, d) => {
    val tc = table(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val stats = tc.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("c")).as("tf"),
        sum(col("c") * col("c")).as("tf2"))
    val top = stats.orderBy(col("df").desc, col("w")).limit(20)
    val nDocs = table(s, d, "documents").agg(count(lit(1)).as("n_docs"))
    val nd = col("n_docs").cast(DoubleType)
    val mean = col("tf").cast(DoubleType) / nd
    val fano = (col("tf2").cast(DoubleType) / nd - mean * mean) / mean
    top.crossJoin(broadcast(nDocs))
      .select(col("w"), asLong(col("df")).as("df"), asLong(col("tf")).as("tf"),
        round(mean, 6).as("mean_tf"), round(fano, 6).as("fano"))
      .orderBy(col("df").desc, col("w"))
  }

  /** Length–vocabulary correlation (§2.18h): Pearson r between a
    * doc's token count and its distinct-token count — the corpus-level
    * Herdan/Heaps' law read (pipeline_ttr histograms the per-doc
    * ratio; this one number says how tightly vocabulary tracks
    * length, and template spam shows up as a low r at high mean TTR).
    * Every power sum is a PURE INTEGER (counts and their products) —
    * no decimals, no quantization — and r evaluates in one fixed
    * double tree. Scale: one (doc, token) map-combined aggregate +
    * a 1-row reduce. */
  val pipelineLenVocabCorr: Q = (s, d) => {
    val perDoc = table(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("x"), count_distinct(col("w")).as("y"))
    val t = perDoc.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val nd = col("n").cast(DoubleType)
    def d2(c: String): Column = col(c).cast(DoubleType)
    val r = (nd * d2("sxy") - d2("sx") * d2("sy")) /
      sqrt((nd * d2("sxx") - d2("sx") * d2("sx")) *
        (nd * d2("syy") - d2("sy") * d2("sy")))
    t.select(asLong(col("n")).as("n_docs"),
      round(d2("sx") / nd, 4).as("mean_tokens"),
      round(d2("sy") / nd, 4).as("mean_vocab"),
      round(r, 6).as("pearson_r"))
  }

  /** Top character trigrams (§2.18g): the 15 most frequent 3-character
    * substrings (spaces included) across the corpus — the
    * script/orthography fingerprint char-level language ID and
    * encoding-corruption detectors read (the shingle/token families
    * are all word-grain; this is the only char-grain profile). Exact
    * counts; one division per output row. Scale: the expansion is one
    * row per character position (linear, in-row `sequence` explode —
    * no join); the count is a map-combined aggregate over the bounded
    * trigram alphabet; top-15 ranks the bounded relation. */
  val pipelineCharTrigrams: Q = (s, d) => {
    val grams = table(s, d, "documents")
      // the length guard matters: Spark's sequence(1, n) REVERSES when
      // n < 1 (step -1 inferred) where DuckDB's generate_series is empty
      .filter(length(col("text")) >= 3)
      .select(col("text"), explode(sequence(lit(1), length(col("text")) - 2)).as("i"))
      .select(expr("substr(text, cast(i AS INT), 3)").as("g"))
    val counts = grams.groupBy(col("g")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("n_total"))
    counts.orderBy(col("n").desc, col("g")).limit(15)
      .crossJoin(broadcast(tot))
      .select(col("g"), asLong(col("n")).as("n"),
        round(col("n").cast(DoubleType) / col("n_total"), 6).as("share"))
      .orderBy(col("n").desc, col("g"))
  }

  /** Positional profile of the top-10 df tokens (§2.18f): mean and
    * spread of each token's RELATIVE position (1-based pos / doc
    * length) across all its occurrences — sentence-initial discourse
    * markers, document-final boilerplate and uniformly-spread function
    * words separate on this axis (pipeline_burstiness measures
    * across-doc clumping; this measures within-doc placement). Each
    * occurrence's relpos (one int/int IEEE division) and its square
    * are floor-quantized to BIGINT (1e6 / 1e10 — the square scale leaves
    * BIGINT headroom for ~1e9 occurrences per token) before the per-token
    * sums — the logprob recipe — so accumulation order is irrelevant;
    * mean/std then evaluate in one double tree per token. Scale: one
    * exploded-corpus pass + the PMI broadcast top-k pattern. */
  val pipelineTokenPositions: Q = (s, d) => {
    val toks = table(s, d, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).as("pos1"), col("col").as("w"))
    val lens = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    // round 16: row-local per-doc dedup (array_distinct at doc grain ==
    // distinct (doc_id, w)) — drops the data-sized exchange
    val df = table(s, d, "documents")
      .select(explode(array_distinct(split(col("text"), " "))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    val top = df.orderBy(col("df").desc, col("w")).limit(10)
    val rel = toks
      .join(broadcast(top), Seq("w"))
      .join(lens, Seq("doc_id"))
      .select(col("w"), col("df"),
        (col("pos1").cast(DoubleType) / col("len")).as("rp"))
    rel
      .groupBy(col("w"))
      .agg(first(col("df")).as("df"), count(lit(1)).as("tf"),
        sum(floor(col("rp") * 1e6).cast(LongType)).as("q1"),
        sum(floor(col("rp") * col("rp") * 1e10).cast(LongType)).as("q2"))
      .select(col("w"), asLong(col("df")).as("df"), asLong(col("tf")).as("tf"),
        round(col("q1").cast(DoubleType) / 1e6 / col("tf"), 6).as("mean_relpos"),
        round(sqrt(col("q2").cast(DoubleType) / 1e10 / col("tf") -
          (col("q1").cast(DoubleType) / 1e6 / col("tf")) *
            (col("q1").cast(DoubleType) / 1e6 / col("tf"))), 6).as("std_relpos"))
      .orderBy(col("df").desc, col("w"))
  }

  /** Length bias of near-duplicate documents (§2.19): do the docs the
    * MinHash-LSH dedup flags skew shorter or longer than the unique
    * corpus? A dedup pass that systematically removes one length band
    * silently reshapes the training length distribution — this is the
    * one-look check before accepting a dedup run (the length twin of
    * pipeline_dedup_rate_by_source's provenance view). Reuses the
    * engine's persisted verified LSH pair set; counts and token sums
    * are exact BIGINTs, shares/averages divide them once. Scale: the
    * pair set is near-dup-sparse by construction; the flag join is
    * one doc_id-keyed left join; everything else map-combines. */
  val pipelineDupLengthBias: Q = (s, d) => {
    val pairs = dedupMinhashLsh(s, d).select(col("d1"), col("d2"))
    val dup = pairs.select(col("d1").as("doc_id"))
      .unionAll(pairs.select(col("d2").as("doc_id"))).distinct()
      .withColumn("hit", lit(true))
    val docs = table(s, d, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"))
    val tot = docs.agg(count(lit(1)).as("nd_total"), sum(col("n_tok")).as("tok_total"))
    docs.join(dup, Seq("doc_id"), "left")
      .groupBy(coalesce(col("hit"), lit(false)).as("is_dup"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("n_tok")).as("mn"), max(col("n_tok")).as("mx"))
      .crossJoin(broadcast(tot))
      .select(col("is_dup"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_tokens")).as("n_tokens"),
        round(col("n_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType), 4)
          .as("avg_tokens"),
        asLong(col("mn")).as("min_tokens"), asLong(col("mx")).as("max_tokens"),
        round(col("n_docs").cast(DoubleType) / col("nd_total").cast(DoubleType), 6)
          .as("doc_share"),
        round(col("n_tokens").cast(DoubleType) / col("tok_total").cast(DoubleType), 6)
          .as("token_share"))
      .orderBy("is_dup")
  }

  /** Winnowing fingerprints (§2.25): the MOSS/Stanford local
    * fingerprinting scheme — hash every 3-gram shingle, slide a
    * window of 4 consecutive hashes per document, keep each window's
    * MINIMUM — which guarantees any shared run of ≥ 6 tokens
    * contributes at least one shared fingerprint, a positional
    * locality property neither minhash (global min) nor simhash
    * (bitwise blend) offers. Candidate pairs = documents sharing ≥ 3
    * distinct rare fingerprints (document frequency ≤ 10 — the
    * boilerplate guard, pigeonhole-bounding pair fanout at ≤45 pairs
    * per fingerprint at ANY corpus size). Determinism: hashes are md5
    * hex strings, window minima are lexicographic string minima —
    * identical in both engines; every decision is on exact
    * counts. Scale: posexplode + lead build the positioned shingles
    * (one doc-keyed window), the rolling min is the SAME doc-keyed
    * sort lineage, and the pair join is fingerprint-keyed on the
    * df-capped relation — banded-not-all-pairs, the LSH family's
    * audited shape. */
  val dedupWinnowing: Q = (s, d) => {
    // round 16: the positioned 3-gram hashes, the rolling 4-window
    // minima AND the per-doc distinct are all ROW-LOCAL (grams, the
    // rolling window and the doc-grain distinct never cross docs) —
    // the in-row transform/array_min/array_distinct chain replaces
    // posexplode + TWO doc-keyed window passes + a distinct exchange
    // with zero exchanges before the mh groupBy. `array_min` picks the
    // same lexicographic string minimum as the old window min; windows
    // of exactly 4 full shingles ⇔ positions 4..|hs| of the hash array.
    val fp = table(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 6) // ≥4 full 3-gram windows ⇒ ≥6 tokens
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(l) - 2), " +
          "q -> md5(concat_ws(' ', slice(l, q, 3))))").as("hs"))
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(4, size(hs)), " +
          "p -> array_min(slice(hs, int(p) - 3, 4)))"))).as("mh"))
    // round 16: ONE groupBy(mh) collects the doc ids per retained
    // fingerprint and [[Pairs.cooccurring]] expands them in-row, in
    // place of an mh-keyed self-join; group bound: df∈[2,10].
    val byMh = fp.groupBy(col("mh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"), count(lit(1)).as("df"))
      .filter(col("df").between(2, 10))
    Pairs.cooccurring(byMh, col("ids"), 3)
      .select(col("a").as("d1"), col("b").as("d2"), asLong(col("n")).as("n_shared"))
      .orderBy("d1", "d2")
  }

  /** Held-out language-model evaluation (§2.27): an add-1-smoothed
    * unigram LM estimated on the hash-split TRAIN fold (bucket16 %
    * 10 < 8) and scored on the held-out TEST fold — the eval loop
    * every data-curation experiment runs (pipeline_unigram_logprob
    * scores in-sample; this is the out-of-sample read, with OOV mass
    * handled by the smoothing). Reported per language: test tokens,
    * OOV rate, and average negative log-likelihood in nats —
    * deliberately NOT perplexity, so no exp() sits on the
    * cross-engine path; each token's −ln((c+1)/(N+V)) is a log of an
    * exact-integer ratio floor-quantized at 1e6 (the idf/logprob
    * precedent) and summed as BIGINT. Scale: train counts
    * map-combine; the test join is vocab-keyed; totals broadcast. */
  val pipelineHeldoutNll: Q = (s, d) => {
    val toks = table(s, d, "documents")
      .select(col("doc_id"), col("lang"),
        (Sampling.bucket16(col("doc_id")) % 10 < 8).as("is_train"),
        explode(split(col("text"), " ")).as("w"))
    val train = toks.filter(col("is_train"))
      .groupBy(col("w").as("tw")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = train.agg(sum(col("c")).as("nTrain"), count(lit(1)).as("v"))
    val test = toks.filter(!col("is_train"))
      .join(train, col("w") === col("tw"), "left")
      .crossJoin(broadcast(tot))
    val lq = floor(-log((coalesce(col("c"), lit(0L)) + 1).cast(DoubleType) /
      (col("nTrain") + col("v")).cast(DoubleType)) * 1e6).cast(LongType)
    test.groupBy(col("lang"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("oov"),
        sum(lq).as("sq"))
      .select(col("lang"), asLong(col("m")).as("n_test_tokens"),
        (floor(col("oov").cast(DoubleType) / col("m") * 1e4) / 1e4).as("oov_rate"),
        (floor(col("sq").cast(DoubleType) / col("m") / 1e2) / 1e4).as("avg_nll"))
      .orderBy("lang")
  }

  /** Per-source document-length Gini (§2.34): how unequally each
    * source's token mass is spread over its documents — a source
    * whose Gini spikes is a few huge documents wearing a corpus
    * costume, the curation smell pipeline_len_histogram's buckets
    * blur (agg_gini is the revenue face; this is the corpus face).
    * The exact rank formula on INTEGER lengths: ranks from the
    * source-bounded window with doc_id ties, Σi·x in DECIMAL(38,0) /
    * HUGEINT (rank × length × docs wraps Long at corpus scale),
    * gini = (2Σix − (n+1)Σx)/(nΣx) rounded 4. */
  val pipelineDoclenGini: Q = (s, d) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
    val dec38 = DecimalType(38, 0)
    table(s, d, "documents")
      .select(col("source"), col("n_chars"),
        row_number().over(w).cast(LongType).as("i"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sx"),
        sum((col("i") * col("n_chars")).cast(dec38)).as("six"))
      .select(col("source"), asLong(col("n")).as("n_docs"),
        round((lit(2) * col("six") - ((col("n") + 1) * col("sx")).cast(dec38))
            .cast(DoubleType) /
          (col("n") * col("sx")).cast(DoubleType), 4).as("len_gini"))
      .orderBy("source")
  }

  /** Gopher-style rule-based quality report (§2.29): per source, how
    * many docs each curation rule would reject — the pre-filter audit
    * run before committing a rule set to a corpus (pipeline_quality
    * _score is the continuous score; this is the hard gate's dry
    * run). Four rules, ALL decided in integer arithmetic: word count
    * in [20, 1000]; mean word length in [3, 5] tested as
    * 3·n_tok ≤ letters ≤ 5·n_tok (letters = non-space chars — no
    * division anywhere); ≥ 2 stopword tokens (the shared stopWords
    * list, so the gate and the score cannot drift); symbol-to-word
    * ratio ≤ 0.1 tested as 10·symbols ≤ n_tok. pass_rate is the one
    * final division, round 4. Scale: ONE linear scan, every rule a
    * row-local expression fused into it, map-combined per-source
    * sums. */
  val pipelineGopherQuality: Q = (s, d) => {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast(LongType)
    val letters = length(regexp_replace(col("text"), " ", "")).cast(LongType)
    val nStop = size(filter(toks, w => w.isin(stopWords: _*))).cast(LongType)
    val nSym = length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast(LongType)
    val fWc = nTok < 20 || nTok > 1000
    val fMwl = letters < lit(3L) * nTok || letters > lit(5L) * nTok
    val fStop = nStop < 2
    val fSym = lit(10L) * nSym > nTok
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    table(s, d, "documents")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(cnt(fWc)).as("fail_word_count"),
        asLong(cnt(fMwl)).as("fail_mean_word_len"),
        asLong(cnt(fStop)).as("fail_stopwords"),
        asLong(cnt(fSym)).as("fail_symbol_ratio"),
        asLong(cnt(!fWc && !fMwl && !fStop && !fSym)).as("n_pass"))
      .withColumn("pass_rate",
        round(col("n_pass").cast(DoubleType) / col("n_docs").cast(DoubleType), 4))
      .orderBy("source")
  }

  /** DSIR-style importance selection (§2.29): score every doc by how
    * much more likely its tokens are under the TARGET domain's
    * unigram LM (lang = 'de' here) than under the corpus LM, then
    * take the top-200 — the data-selection step that tilts a training
    * mix toward a target domain (Xie et al.'s DSIR, reduced to its
    * deterministic core: importance weights from smoothed unigram
    * ratios). Exactness: both LMs are add-1 smoothed on exact integer
    * counts over the SAME vocabulary V, so each token's log-ratio
    * ln((cnt_t+1)·(n_c+V) / ((cnt_c+1)·(n_t+V))) takes identical
    * integer-product doubles in both engines and floor-quantizes to
    * BIGINT at 1e6 BEFORE the per-doc sum (the unigram_logprob
    * recipe); selection ranks (score, doc_id) — a total order on
    * BIGINTs. Scale: token counts map-combine; the weight table is
    * vocab-keyed (one broadcast-sized join per token relation); the
    * top-200 is TakeOrdered, never a global window; the report is a
    * 5-row lang rollup (left join keeps zero-selected langs). */
  val pipelineDsirSelection: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val corpus = tok.groupBy(col("w")).agg(count(lit(1)).as("cc"))
      .localCheckpoint(true)
    val target = tok.filter(col("lang") === "de")
      .groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val totals = corpus.agg(sum(col("cc")).as("nc"), count(lit(1)).as("v"))
    val targetTot = target.agg(coalesce(sum(col("ct")), lit(0L)).as("nt"))
    val weights = corpus.join(target, Seq("w"), "left")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(targetTot))
      .select(col("w"),
        floor(log(((coalesce(col("ct"), lit(0L)) + 1) * (col("nc") + col("v")))
            .cast(DoubleType) /
          ((col("cc") + 1) * (col("nt") + col("v"))).cast(DoubleType)) * 1e6)
          .cast(LongType).as("lr6"))
    val scored = tok.join(weights, Seq("w"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("lr6")).as("s6"))
    val selected = scored.orderBy(col("s6").desc, col("doc_id")).limit(200)
    val byLang = selected.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_selected"), sum(col("s6")).as("sum_s6"))
    docs.select(col("lang")).distinct()
      .join(byLang, Seq("lang"), "left")
      .select(col("lang"),
        asLong(coalesce(col("n_selected"), lit(0L))).as("n_selected"),
        asLong(coalesce(col("sum_s6"), lit(0L))).as("sum_score_q6"),
        round(coalesce(col("n_selected"), lit(0L)).cast(DoubleType) / 200.0, 4)
          .as("share"))
      .orderBy("lang")
  }

  /** Per-language tokenizer fertility (§2.35): the corpus-level cost
    * model beside §2.29's per-doc selection ops — how many subword
    * tokens a language pays per whitespace word and per 100
    * characters, the number that decides per-language training-token
    * budgets (high-fertility languages burn context length faster).
    * Tokenization is pipeline_token_count's BPE-ish alternation regex
    * (letters | digits | one-symbol — identical in both engines);
    * fertility ratios are floor-quantized 1e6/1e8 INTEGER DIVISIONS
    * (`div` ↔ `//`) of exact BIGINT token sums — no float, no decimal
    * division rounding. Capacity note: the scaled numerator wraps Long
    * above ~9e12 tokens per language (≫ any tested SF); past that,
    * shard the per-lang aggregate or drop a quantization decade.
    * Scale: ONE linear scan, map-combined per-lang aggregate; output
    * = |langs| rows. */
  val pipelineBpeFertility: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("lang"),
        size(split(col("text"), " ")).cast(LongType).as("ws"),
        size(regexp_extract_all(col("text"),
          lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0)))
          .cast(LongType).as("bpe"),
        col("n_chars"))
      .groupBy(col("lang"))
      .agg(asLong(count(lit(1))).as("docs"),
        sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"),
        sum(col("n_chars")).as("chars"))
      .select(col("lang"), col("docs"), col("ws_tokens"), col("bpe_tokens"),
        expr("(bpe_tokens * 1000000) div ws_tokens").as("tok_per_word_q6"),
        expr("(bpe_tokens * 100000000) div chars").as("tok_per_100chars_q6"))
      .orderBy("lang")

  /** Vocabulary coverage points (§2.38): how many DISTINCT tokens
    * cover 50 / 90 / 99% of corpus token mass — the inverse read of
    * pipeline_top_token_coverage (that one fixes k=50 and reports the
    * share; this fixes the share and reports k — the number that
    * sizes a frozen vocab). The cumulative mass over the (freq desc,
    * token) order comes from GlobalRank's range-partitioned running
    * sums — NEVER a global vocab window (vocab grows ~n^0.5 by Heaps'
    * law; the one-task sort is the exact plan the re-routed
    * top_token_coverage refuses); the per-point pick is min-struct
    * selection on the unique rank. All integers. Scale: one token
    * aggregate + one range shuffle over the corpus-bounded vocab
    * relation; 3 output rows. */
  val pipelineVocabCoveragePoints: Q = (s, d) => {
    val vocab = table(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("one", lit(1L))
    val tot = vocab.agg(sum(col("f"))).head().getLong(0)
    val cum = GlobalRank.withRunningSums(vocab,
        Seq(col("f").desc, col("w")), Seq("f" -> "cum", "one" -> "rnk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val points = Seq(50, 90, 99).map { p =>
      cum.filter(col("cum") * 100 >= lit(p.toLong) * tot)
        .agg(min(struct(col("rnk"), col("cum"))).as("m"))
        .select(lit(p.toLong).as("pct"),
          col("m.rnk").as("n_tokens"),
          expr(s"(m.cum * 1000000) div ${tot}L").as("share_q6"))
    }
    points.reduce(_ unionAll _).orderBy("pct")
  }

  /** Prefix-boilerplate clusters (§2.38): documents sharing an
    * IDENTICAL first-5-word prefix — the crawl-artifact detector
    * (templated headers, licence boilerplate) that exact dedup misses
    * (bodies differ) and near-dedup over-triggers on (prefix mass is
    * a small Jaccard share). Top-20 clusters by size; all grouping on
    * exact strings. Scale: one prefix-keyed aggregate (map-combined)
    * + TakeOrderedAndProject. */
  val dedupPrefixCluster: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("doc_id"),
        concat_ws(" ", slice(split(col("text"), " "), 1, 5)).as("prefix"))
      .groupBy(col("prefix"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(min(col("doc_id"))).as("min_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("min_doc"))
      .limit(20)

  /** Positioned 8-gram shingle relation (doc_id, pos, h) shared by the
    * substring-span dedup family (§2.39): pos is the 1-BASED token
    * index of the gram's first token (1-based so span starts feed
    * 1-based slice() in both engines), h = md5 of the 8 space-joined
    * tokens. Docs shorter than 8 tokens contribute nothing. Scale: one
    * posexplode + one doc-keyed window (the winnowing lineage). */
  /** Positioned 8-gram md5 shingles of an arbitrary (doc_id, text)
    * relation — the doc-parameterized core shared by the cached
    * per-sfDir span build below and [[IncrementalSpans]] (which must
    * produce byte-identical shingles for its full-vs-incremental
    * equality to hold — the shingleDocs precedent). */
  private[ops] def spanShingleDocs(docs: DataFrame): DataFrame =
    // round 16: in-row 8-gram construction — `transform` over the
    // split array replaces posexplode + a doc-keyed lead() window,
    // removing the full token-relation shuffle + sort the window
    // required (identical (doc_id, pos, h) rows: positions 1..n−7,
    // md5 over the space-joined 8 tokens). A/B'd at sf0.1 against the
    // window shape (the r6 3-gram GC note does NOT transfer here:
    // this relation is consumed once into a df filter, not persisted):
    // dedup_substring_spans 3.90 → measured-below CPU, QBench min-of-3.
    docs
      .select(col("doc_id"), split(col("text"), " ").as("l"))
      .filter(size(col("l")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(l) - 7), " +
          "p -> struct(bigint(p) AS pos, " +
          "md5(concat_ws(' ', slice(l, p, 8))) AS h))")).as("sx"))
      .select(col("doc_id"), col("sx.pos").as("pos"), col("sx.h").as("h"))

  private def spanShingles(s: SparkSession, d: String): DataFrame =
    spanShingleDocs(table(s, d, "documents"))

  /** Gram-match pair rows `pr` (d1 < d2, p1, pos-diff df) of a hash's
    * occurrence list `occ: array<struct<d,p>>`, expanded in-row by
    * [[Pairs.ordered]]; group bound: df∈[2,20] (≤190 pairs/hash). */
  private def occPairs: Column =
    explode(Pairs.ordered(col("occ"), _("d")) { (x, y) =>
      struct(x("d").as("d1"), y("d").as("d2"), x("p").as("p1"), (x("p") - y("p")).as("df"))
    }).as("pr")

  /** Gram-match pair rows (d1 < d2, p1, pos-diff) from a
    * positioned-shingle relation (doc_id, pos, h), shared with
    * [[IncrementalSpans]] (whose relations are already keep-filtered,
    * so the cap never fires there): ONE groupBy(h) [[CappedOcc]]
    * collect + [[occPairs]] in place of an h-keyed self-join. Only
    * hashes with df in [2, [[SpanDfCap]]] pair. */
  private[graft] def spanGramPairs(sh: DataFrame): DataFrame =
    sh.groupBy(col("h"))
      .agg(udaf(CappedOcc, Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))(
        col("doc_id").cast(LongType), col("pos").cast(LongType)).as("occ"))
      .filter(size(col("occ")) >= 2)
      .select(occPairs).select("pr.*")

  /** The span builds' df cap: a gram hash occurring more often is
    * boilerplate and pairs with nothing. */
  private val SpanDfCap = 20

  /** One (doc, position) occurrence of a span gram hash. */
  private[graft] case class Occ(d: Long, p: Long)

  /** `collect_list(struct(d, p))` bounded BEFORE it materializes: a
    * buffer stops growing at [[SpanDfCap]] + 1 occurrences (enough to
    * know the group is over the cap, so a merge of partial buffers
    * truncates to it too), and an over-cap group finishes as an empty
    * list. No group ever holds more than 21 occurrences, however hot
    * its hash. The buffer is (d, p) interleaved in one long array. */
  private[graft] object CappedOcc extends Aggregator[(Long, Long), Array[Long], Seq[Occ]] {
    private val Full = 2 * (SpanDfCap + 1)
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], o: (Long, Long)): Array[Long] =
      if (b.length >= Full) b
      else {
        val n = java.util.Arrays.copyOf(b, b.length + 2)
        n(b.length) = o._1; n(b.length + 1) = o._2
        n
      }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.length >= Full || b.isEmpty) a
      else if (a.isEmpty) b
      else (a ++ b).take(Full)
    def finish(b: Array[Long]): Seq[Occ] =
      if (b.length >= Full) Seq.empty
      else b.grouped(2).map(x => Occ(x(0), x(1))).toSeq
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Seq[Occ]] = ExpressionEncoder[Seq[Occ]]()
  }

  /** Gaps-and-islands over gram-match pair rows → maximal spans
    * (d1, d2, s1, s2, tok), ≥ minTok only — the second half of the
    * span build, shared with [[IncrementalSpans]]. Round 17: the
    * island scan is IN-ROW over the collected, sorted position list
    * (group size is bounded by doc length — positions of one doc pair
    * at one alignment), replacing the pair-keyed row_number window +
    * its re-aggregation: one exchange instead of two. A run of
    * consecutive positions [ps(i)..ps(j)] is an island ⇔ ps(k+1) =
    * ps(k)+1 inside it; island length + 7 IS the span token length,
    * min = the span start — identical rows to the old
    * window-grp/min/count shape (dup positions cannot occur: p1
    * determines p2 within a (d1,d2,df) group and (doc,pos) is unique
    * in the shingle relation). */
  private[ops] def spansFromPairRows(pairs: DataFrame, minTok: Int): DataFrame =
    pairs
      .groupBy(col("d1"), col("d2"), col("df"))
      .agg(array_sort(collect_list(col("p1"))).as("ps"))
      .withColumn("st", expr(
        "filter(sequence(1, size(ps)), " +
          "i -> i = 1 OR element_at(ps, i) != element_at(ps, i - 1) + 1)"))
      .select(col("d1"), col("d2"), col("df"), explode(expr(
        "filter(transform(sequence(1, size(st)), k -> named_struct(" +
          "'s1', element_at(ps, element_at(st, k)), " +
          "'tok', bigint(IF(k < size(st), element_at(st, k + 1), " +
          "size(ps) + 1) - element_at(st, k) + 7))), " +
          s"z -> z.tok >= ${minTok}L)")).as("isl"))
      .select(col("d1"), col("d2"), col("isl.s1").as("s1"),
        (col("isl.s1") - col("df")).as("s2"), col("isl.tok").as("tok"))

  /** Maximal duplicate spans per doc pair and alignment (shared by
    * dedup_substring_spans / pipeline_dup_span_coverage): shingles
    * with occurrence count in [2, 20] (df ≥ 2 is the pairing floor;
    * ≤ 20 is the boilerplate guard pigeonhole-bounding pair fanout at
    * ≤ C(20,2) = 190 pairs per hash at ANY corpus size — an interior
    * gram over the cap deterministically splits its span, identically
    * in both engines), pair join on h with d1 < d2, then
    * gaps-and-islands on (d1, d2, pos-diff): a shared verbatim run of
    * L ≥ 8 tokens is exactly L−7 consecutive shared grams at one
    * pos-diff, so island length + 7 IS the span length. Only spans of
    * ≥ minTok tokens survive. Columns: d1, d2, s1, s2 (1-based span
    * starts), tok (span token length). */
  private[ops] def dupSpans(s: SparkSession, d: String, minTok: Int): DataFrame =
    spans(s, (d, minTok))

  // localCheckpoint (eager): four consumers (spans dedup, coverage,
  // templates, excision) share one build; the checkpoint truncates
  // the collect-over-collect lineage (the dedup_minhash_lsh policy)
  private val spans = graft.SharedBuild[(String, Int), DataFrame]("Pipelines.dupSpans") {
    case (s, (d, minTok)) => dupSpansBuild(s, d, minTok).localCheckpoint(true)
  }

  /** The LAZY span plan (exposed private[graft] so EngineSpec can pin
    * the pre-checkpoint shape). The [2,20] df cap folds INTO the one
    * groupBy(h) capped collect of [[spanGramPairs]] — the per-hash
    * occurrence group IS the old keep-relation's count, so the count
    * aggregate, the keep join and the pair self-join (and the shingle
    * persist they forced — the relation is scanned exactly once) all
    * collapse into a single shuffle, followed only by the island
    * groupBy. Two exchanges total. */
  private[graft] def dupSpansBuild(s: SparkSession, d: String, minTok: Int)
      : DataFrame =
    spansFromPairRows(spanGramPairs(spanShingles(s, d)), minTok)

  /** Substring-level duplicate-span dedup (§2.39, the round-12
    * headline): pairs of documents sharing a VERBATIM run of ≥ 12
    * tokens, with the maximal span extracted — the Lee-et-al-style
    * suffix-array dedup modality a production LLM corpus pass runs
    * between exact-hash and near-dup (whole-doc hashes miss it,
    * set-similarity blurs WHERE the overlap is). Per pair: span
    * count, total duplicated tokens (per maximal span/alignment), the
    * longest span's 1-based starts in both docs (ties: longest, then
    * smallest start1, then start2 — a total key) and its verbatim
    * text sliced back out of doc d1. Exactness: md5 grams, integer
    * positions, identical 1-based slice arithmetic in both engines.
    * Scale: candidates are df-capped gram joins (≤ 190 pairs/hash,
    * NEVER doc²); islands group on (pair, diff) — bounded by doc
    * length; the text slice joins the |pairs|-sized result back to
    * documents on d1, a key join. */
  val dedupSubstringSpans: Q = (s, d) => {
    val spans = dupSpans(s, d, 12) // shared, checkpointed
    // round 17 (guide §2.4): the per-pair best span is the MINIMUM of
    // (−tok, s1, s2) — a lexicographic struct min INSIDE the same
    // (d1,d2) aggregate that counts spans and sums tokens, replacing
    // the row_number window over a second scan of the span relation +
    // the join that re-attached it (same total order: tok desc, then
    // s1, s2 asc; tok is doc-length-bounded so −tok cannot overflow).
    val agg = spans.groupBy(col("d1"), col("d2"))
      .agg(asLong(count(lit(1))).as("n_spans"),
        asLong(sum(col("tok"))).as("dup_tokens"),
        min(struct((-col("tok")).as("nt"), col("s1"), col("s2"))).as("b"))
      .select(col("d1"), col("d2"), col("n_spans"), col("dup_tokens"),
        asLong(-col("b.nt")).as("span_tokens"),
        asLong(col("b.s1")).as("span_start1"),
        asLong(col("b.s2")).as("span_start2"))
    agg
      .join(table(s, d, "documents").select(col("doc_id").as("d1"),
        col("text")), Seq("d1"))
      .select(col("d1"), col("d2"), col("n_spans"), col("dup_tokens"),
        col("span_tokens"), col("span_start1"), col("span_start2"),
        array_join(slice(split(col("text"), " "),
          col("span_start1").cast(IntegerType),
          col("span_tokens").cast(IntegerType)), " ").as("span_text"))
      .orderBy("d1", "d2")
  }

  /** Duplicate-span corpus coverage (§2.39): per source, how much of
    * the token mass sits inside cross-doc verbatim spans — the
    * corpus-level readout of dedup_substring_spans (a source whose
    * coverage spikes is re-crawling / mirroring content; the number
    * Lee et al. report before deciding how hard to dedup). Covered
    * positions are the UNION over both sides of every ≥ 12-token
    * span, deduplicated per (doc, pos) so overlapping alignments
    * never double-count. Exactness: pure integer position sets; one
    * 1e6-quantized share per source. Scale: sequence-explode of
    * span-bounded ranges (output-sized, never corpus²), distinct on
    * (doc, pos), doc-keyed join for source, map-combined aggregate. */
  val pipelineDupSpanCoverage: Q = (s, d) => {
    val spans = dupSpans(s, d, 12)
    val side1 = spans.select(col("d1").as("doc_id"),
      explode(sequence(col("s1"), col("s1") + col("tok") - 1)).as("pos"))
    val side2 = spans.select(col("d2").as("doc_id"),
      explode(sequence(col("s2"), col("s2") + col("tok") - 1)).as("pos"))
    val covered = side1.unionAll(side2).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("cov"))
    val docs = table(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_toks"))
    docs.join(covered, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        asLong(sum(when(col("cov").isNotNull, 1L).otherwise(0L)))
          .as("docs_with_dup"),
        sum(col("n_toks")).as("toks"),
        sum(coalesce(col("cov"), lit(0L))).as("covd"))
      .select(col("source"), col("n_docs"), col("docs_with_dup"),
        asLong(col("toks")).as("total_tokens"),
        asLong(col("covd")).as("dup_tokens"),
        expr("(covd * 1000000) div toks").as("coverage_q6"))
      .orderBy("source")
  }

  /** Interpolated Kneser–Ney bigram LM, held-out eval (§2.41): the
    * standard n-gram smoothing (absolute discount d = 3/4, lower-order
    * weight from CONTINUATION counts — "how many contexts has w2
    * followed", not raw frequency) estimated on the hash-split train
    * fold and scored per language on the test fold. Completes the LM
    * ladder: unigram_logprob (in-sample), heldout_nll (add-1 unigram,
    * out-of-sample), bigram_logprob (in-sample MLE) → this is the
    * out-of-sample BIGRAM read with the smoothing a real LM eval uses.
    * Exactness: with d = 3/4 every probability is the exact rational
    *   [max(4·c12−3, 0)·contDen + 3·N1+(w1•)·(N1+(•w2)+1)] /
    *   [4·c1(w1)·contDen],   contDen = n_bigram_types + V + 1
    * (the +1s smooth unseen w2; unseen CONTEXTS back off to the
    * continuation distribution alone) — integer numerator/denominator
    * in both engines, one −ln per test bigram floor-quantized at 1e6
    * (the logprob recipe), BIGINT-summed. Scale: the bigram-type
    * relation is vocab²-bounded (Heaps-law sub-linear) → broadcast;
    * test scoring is one linear scan with three broadcast joins;
    * per-lang sums map-combine. */
  val pipelineKneserNeyNll: Q = (s, d) => {
    val big = knBigrams(table(s, d, "documents"))
    val lm = knLmShared(s, d) // shared with pipeline_ppl_tier_mix (r16)
    val test = knScored(big.filter(!col("is_train")), lm)
    test.groupBy(col("lang"))
      .agg(count(lit(1)).as("m"),
        sum(when(!col("kn_seen"), 1L).otherwise(0L)).as("unseen"),
        sum(col("kn_lq")).as("sq"))
      .select(col("lang"), asLong(col("m")).as("n_test_bigrams"),
        (floor(col("unseen").cast(DoubleType) / col("m") * 1e4) / 1e4)
          .as("unseen_ctx_rate"),
        (floor(col("sq").cast(DoubleType) / col("m") / 1e2) / 1e4).as("avg_nll"))
      .orderBy("lang")
  }

  /** (doc_id, lang, is_train, w1, w2): `docs`'s bigram rows under the
    * standard md5 80/20 split — the shared front of the KN family
    * (the oracle op groups them by lang; the curation filter by doc).
    */
  private[graft] def knBigrams(docs: DataFrame): DataFrame =
    // round 17 (guide §4, verdict item 6): arrays_zip of the two
    // shifted slices replaces the indexed `transform` lambda — a
    // higher-order function is CodegenFallback (interpreted per row)
    // while arrays_zip/slice stay inside whole-stage codegen; the
    // bigram pairs (l[k], l[k+1]), k = 1..size-1, are identical.
    docs.select(col("doc_id"), col("lang"),
        (Sampling.bucket16(col("doc_id")) % 10 < 8).as("is_train"),
        split(col("text"), " ").as("l"))
      .select(col("doc_id"), col("lang"), col("is_train"),
        explode(arrays_zip(
          slice(col("l"), lit(1), size(col("l")) - 1),
          slice(col("l"), lit(2), size(col("l")) - 1))).as("bg"))
      .select(col("doc_id"), col("lang"), col("is_train"),
        col("bg").getField("0").as("w1"), col("bg").getField("1").as("w2"))

  /** The KN bigram model state: all three relations are vocab-/vocab²-
    * bounded (Heaps-law sub-linear), so they broadcast at any corpus
    * size; the c12 base is persisted (three aggregates read it). */
  private[graft] case class KnLm(c12: DataFrame, c1: DataFrame,
      nb: DataFrame, tot: DataFrame)

  /** Estimate the LM from (w1, w2) training bigram rows. */
  private[graft] def knTrain(trainBig: DataFrame): KnLm = {
    val c12 = trainBig
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val nb = c12.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    // V = |distinct words over train bigrams| — every train bigram TYPE
    // is a c12 row, so the distinct over (w1 ∪ w2) of the PERSISTED
    // vocab²-bounded c12 is the identical value without re-running the
    // corpus bigram explode twice per tot evaluation (round 16)
    val tot = c12.agg(count(lit(1)).as("ntypes")).crossJoin(
      c12.select(col("w1").as("w"))
        .unionAll(c12.select(col("w2").as("w")))
        .distinct().agg(count(lit(1)).as("v")))
    KnLm(c12, c1, nb, tot)
  }

  /** The full-train-bucket KN bigram LM shared per sfDir (round 16):
    * pipeline_kneser_ney_nll and pipeline_ppl_tier_mix train the
    * IDENTICAL model (same md5 train bucket over the same corpus), so
    * the training pass — the corpus bigram explode + the vocab²
    * aggregate — materializes once (the minhashWide/simhashFp shared-
    * build policy; c12 is persisted by knTrain). Curation's
    * SAMPLE-capped lmFilter model is a different estimate and keeps
    * its own build. */
  private[graft] val knLmShared = graft.SharedBuild[String, KnLm]("Pipelines.knLm") {
    (s, d) => knTrain(knBigrams(table(s, d, "documents")).filter(col("is_train")))
  }

  /** Score bigram rows against the LM: adds `kn_seen` and the exact
    * rational's floored −ln, `kn_lq` (see the op Scaladoc for the
    * formula) — one linear scan with three broadcast joins. */
  private[graft] def knScored(rows: DataFrame, lm: KnLm): DataFrame = {
    val t = rows
      .join(broadcast(lm.c12.withColumnRenamed("w1", "a1")
        .withColumnRenamed("w2", "a2")),
        col("w1") === col("a1") && col("w2") === col("a2"), "left")
      .join(broadcast(lm.c1.withColumnRenamed("w1", "b1")),
        col("w1") === col("b1"), "left")
      .join(broadcast(lm.nb.withColumnRenamed("w2", "c2")),
        col("w2") === col("c2"), "left")
      .crossJoin(broadcast(lm.tot))
    val contDen = (col("ntypes") + col("v") + 1).cast(LongType)
    val contNum = (coalesce(col("n1b"), lit(0L)) + 1).cast(LongType)
    val seen = col("b1").isNotNull
    val pNum = when(seen,
        greatest(lit(4L) * coalesce(col("c12"), lit(0L)) - 3, lit(0L)) * contDen +
          lit(3L) * col("n1f") * contNum)
      .otherwise(contNum)
    val pDen = when(seen, lit(4L) * col("c1") * contDen).otherwise(contDen)
    t.withColumn("kn_seen", seen)
      .withColumn("kn_lq",
        floor(-log(pNum.cast(DoubleType) / pDen.cast(DoubleType)) * 1e6)
          .cast(LongType))
  }

  /** The LM the curation filter scores with: trained on the SAME md5
    * train bucket as the oracle op (so filter scores and op readout
    * cannot drift — CurationSpec pins per-lang equality), optionally
    * capped to the `sampleDocs` smallest-md5 train docs (the
    * QualityModel bounded-sample discipline for 100-TB corpora, where
    * even the 80% bucket is more LM-estimation data than needed;
    * 0 = no cap). */
  def knTrainOn(docs: DataFrame, sampleDocs: Int = 0): KnLm = {
    val trainBig =
      if (sampleDocs <= 0) knBigrams(docs).filter(col("is_train"))
      else {
        val sample = docs
          .select(col("doc_id"),
            md5(col("doc_id").cast(org.apache.spark.sql.types.StringType))
              .as("_mk"))
          .where((Sampling.bucket16(col("doc_id")) % 10 < 8))
          .orderBy(col("_mk")).limit(sampleDocs).select("doc_id")
        // semi-join the DOCS to the sample BEFORE exploding bigrams
        // (round-16 advice): the id-only sample scan is cheap, and the
        // split+explode — the training-compute term — now runs over
        // the 2000 sampled docs only, never the whole corpus. Bigram
        // rows are identical to the old explode-then-prune plan
        // (is_train re-derives from doc_id, and every sampled doc is
        // in the train bucket by construction).
        knBigrams(docs.join(broadcast(sample), Seq("doc_id"), "left_semi"))
          .filter(col("is_train"))
      }
    knTrain(trainBig)
  }

  /** Per-doc KN readout over ALL of `docs` (train docs score against
    * a model that saw them — fine for a FILTER, the held-out op is
    * the eval): (doc_id, kn_bigrams, kn_unseen, kn_nll) with kn_nll =
    * Σlq / m / 1e6 (kn_sq kept exact so spec pins against the op's
    * integer sums); docs with < 2 tokens carry no bigrams and get no
    * row. */
  def kneserNeyDocNll(docs: DataFrame, lm: KnLm): DataFrame =
    knScored(knBigrams(docs), lm)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kn_bigrams"),
        sum(when(!col("kn_seen"), 1L).otherwise(0L)).as("kn_unseen"),
        sum(col("kn_lq")).as("kn_sq"))
      .select(col("doc_id"), col("kn_bigrams"), col("kn_unseen"),
        col("kn_sq"),
        (col("kn_sq").cast(DoubleType) / col("kn_bigrams") / 1e6)
          .as("kn_nll"))

  /** LM-quality tier mix (§2.60): the corpus read a perplexity-gated
    * curation run checks first — per (source, NLL tier), doc count,
    * bigram mass, and mean NLL, where the tier is the doc's exact
    * integer mean bigram NLL (kn_sq div kn_bigrams, µnats) cut at
    * fixed literal thresholds. Rides the SAME train-bucket KN LM and
    * doc-grain scoring as pipeline_kneser_ney_nll / Curation.lmFilter
    * (one formula, no drift); docs with <2 tokens carry no bigrams
    * and are outside the census, matching kneserNeyDocNll. Exactness:
    * pure BIGINT tier rule and integer-div means over exact lq sums.
    * Scale: one linear bigram scan with three broadcast joins, a
    * doc-grain map-combined aggregate, then a \|sources × 3\| fold. */
  val pipelinePplTierMix: Q = (s, d) => {
    val docs = table(s, d, "documents")
    // knLmShared == knTrainOn(docs) with no sample cap (the full train
    // bucket) — shared with pipeline_kneser_ney_nll (r16)
    val nll = kneserNeyDocNll(docs, knLmShared(s, d))
    nll.join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("nll_q6i", expr("kn_sq div kn_bigrams"))
      .withColumn("tier",
        when(col("nll_q6i") < PplTierLow, "low")
          .when(col("nll_q6i") < PplTierHigh, "mid")
          .otherwise("high"))
      .groupBy(col("source"), col("tier"))
      .agg(asLong(count(lit(1))).as("n_docs"),
        sum(col("kn_bigrams")).as("bigrams"),
        expr("sum(kn_sq) div sum(kn_bigrams)").as("mean_nll_q6"))
      .orderBy("source", "tier")
  }

  /** The fixed µnat tier cuts for [[pipelinePplTierMix]] — literals so
    * both engines apply the identical BIGINT rule. */
  private[graft] val PplTierLow = 3365000L
  private[graft] val PplTierHigh = 3415000L

  /** Token-budget data mixing (§2.41): the greedy quality-ranked
    * source mixture every LLM pre-training run decides before a single
    * shard is written — given a token budget (40% of corpus mass
    * here), rank sources by a quality signal (exact-duplication rate,
    * ascending — the cleanest sources fill first), take whole sources
    * until the budget breaks, a fractional take of the marginal
    * source, zero after. The report is the mixture card: per source,
    * rank, dup rate, available vs taken tokens, ppm share of budget.
    * Exactness: dup_rate_q6, the budget (tot·2 div 5), cumulative
    * fills and takes are pure BIGINT; share_ppm = 1e6·take div budget.
    * Scale: everything after the linear per-source scan lives on a
    * |sources|-bounded relation (the documented bounded-window
    * family); text dedup counts are md5-grouped, never pairwise. */
  val pipelineTokenBudgetMix: Q = (s, d) => {
    val src = table(s, d, "documents")
      .select(col("source"), md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast(LongType).as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("toks"),
        countDistinct(col("h")).as("uniq"))
      .select(col("source"), col("n_docs"), col("toks"),
        expr("((n_docs - uniq) * 1000000) div n_docs").as("dup_rate_q6"))
    val tot = src.agg(sum(col("toks")).as("tot"))
      .select(expr("(tot * 2) div 5").as("budget"))
    // |sources|-bounded relation: the rank/running-fill window is the
    // documented bounded-window family (≤20 rows), never fact-sized
    val wQ = Window.orderBy(col("dup_rate_q6"), col("source"))
    val ranked = src.crossJoin(broadcast(tot))
      .withColumn("quality_rank", row_number().over(wQ).cast(LongType))
      .withColumn("cum_before",
        coalesce(sum(col("toks")).over(
          wQ.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    ranked.select(col("source"), col("quality_rank"),
        asLong(col("dup_rate_q6")).as("dup_rate_q6"),
        asLong(col("toks")).as("n_tokens"),
        asLong(greatest(least(col("budget") - col("cum_before"), col("toks")),
          lit(0L))).as("take_tokens"),
        expr("(greatest(least(budget - cum_before, toks), bigint(0)) " +
          "* 1000000) div budget").as("share_ppm"))
      .orderBy("quality_rank")
  }

  /** Dedup-threshold sweep (§2.43): how many pairs (and docs) the
    * near-dup stage would flag at every Jaccard cut 0.50..0.95 — the
    * calibration curve read BEFORE committing a threshold to a corpus
    * (pipeline_minhash_calibration validates the signature; this is
    * the knob's dose-response; a cliff between 0.60 and 0.65 means
    * the corpus has a template family right there). Reuses the
    * persisted LSH-verified pair relation (marginal cost). Exactness:
    * each pair's 4dp jaccard maps to an exact 0..10000 integer via
    * round(j·1e4) on the identical double both engines hold; the ten
    * cuts compare integers; zero-pair cuts still report (left join).
    * Scale: a 10-threshold broadcast fan-out over the pair relation —
    * pairs are LSH-bounded, never corpus-sized. */
  val dedupThresholdSweep: Q = (s, d) => {
    val pairs = dedupMinhashLsh(s, d)
      .select(col("d1"), col("d2"),
        round(col("jaccard") * 10000).cast(LongType).as("jq"))
    val thr = s.range(10, 20).select((col("id") * 5).as("thr_pct"))
    val hit = pairs.crossJoin(broadcast(thr))
      .filter(col("jq") >= col("thr_pct") * 100)
    val byp = hit.groupBy(col("thr_pct")).agg(count(lit(1)).as("n_pairs"))
    val byd = hit.select(col("thr_pct"), col("d1").as("dd"))
      .unionAll(hit.select(col("thr_pct"), col("d2").as("dd")))
      .distinct()
      .groupBy(col("thr_pct")).agg(count(lit(1)).as("n_docs"))
    thr.join(byp, Seq("thr_pct"), "left").join(byd, Seq("thr_pct"), "left")
      .select(asLong(col("thr_pct")).as("thr_pct"),
        asLong(coalesce(col("n_pairs"), lit(0L))).as("n_pairs"),
        asLong(coalesce(col("n_docs"), lit(0L))).as("n_docs"))
      .orderBy("thr_pct")
  }

  /** Cronbach's α of the quality sub-scores (§2.44): do the three
    * integer quality items every curation pass computes per document
    * (token count, stopword count, distinct-token count) measure ONE
    * underlying construct — α = k/(k−1)·(1 − Σσᵢ²/σ_total²), the
    * reliability readout before anyone averages sub-scores into "the"
    * quality score (pipeline_quality_score assumes they cohere; this
    * measures it; α < 0.7 means the composite is noise). Exactness:
    * all three items are exact per-doc integers computed in-row; the
    * variance sums accumulate DECIMAL(38,0) ↔ HUGEINT; α is one
    * double tree floored at 1e6. Scale: ONE fused linear scan, a
    * single map-combined moment aggregate, zero joins. */
  val pipelineCronbachAlpha: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val toks = split(col("text"), " ")
    val i1 = size(toks).cast(LongType)
    val i2 = size(filter(toks, w => w.isin(stopWords: _*))).cast(LongType)
    val i3 = size(array_distinct(toks)).cast(LongType)
    val rows = table(s, d, "documents")
      .select(i1.as("a"), i2.as("b"), i3.as("c"),
        (i1 + i2 + i3).as("tot"))
    val t = rows.agg(count(lit(1)).as("n"),
      sum(col("a").cast(dec38)).as("sa"),
      sum(col("a").cast(dec38) * col("a")).as("saa"),
      sum(col("b").cast(dec38)).as("sb"),
      sum(col("b").cast(dec38) * col("b")).as("sbb"),
      sum(col("c").cast(dec38)).as("sc"),
      sum(col("c").cast(dec38) * col("c")).as("scc"),
      sum(col("tot").cast(dec38)).as("st"),
      sum(col("tot").cast(dec38) * col("tot")).as("stt"))
    def D(c: String) = col(c).cast(DoubleType)
    val nd = col("n").cast(DoubleType)
    def v(sq: String, s1: String) = (D(sq) - D(s1) * D(s1) / nd) / nd
    val vSum = v("saa", "sa") + v("sbb", "sb") + v("scc", "sc")
    val vTot = v("stt", "st")
    val alpha = lit(1.5) * (lit(1.0) - vSum / vTot) // k/(k-1) = 3/2
    t.select(asLong(col("n")).as("n_docs"),
      asLong(floor(v("saa", "sa") * 1e2)).as("var_tokens_q2"),
      asLong(floor(v("sbb", "sb") * 1e2)).as("var_stopwords_q2"),
      asLong(floor(v("scc", "sc") * 1e2)).as("var_distinct_q2"),
      asLong(floor(vTot * 1e2)).as("var_total_q2"),
      asLong(floor(alpha * 1e6)).as("alpha_q6"))
  }

  /** Duplicate-span template mining (§2.45): the top-20 VERBATIM
    * span texts by cross-doc repetition — dedup_threshold_sweep's
    * cliff says "a template family lives here"; this op names it (the
    * actual boilerplate strings a crawl keeps re-emitting, the thing
    * a curation team greps for before writing a removal rule). Spans
    * come from the shared ≥12-token checkpointed relation
    * (dedup_substring_spans' build); the template is sliced from the
    * d1 side — verbatim-identical on d2 by construction. Exactness:
    * pure integer pair/doc counts per exact string key. Scale: the
    * span relation is band-bounded (never doc²); the slice join is
    * ≤|spans| rows against the doc store; top-20 = TakeOrdered. */
  val dedupSpanTemplates: Q = (s, d) => {
    val spans = dupSpans(s, d, 12)
    val tpl = spans
      .join(table(s, d, "documents").select(col("doc_id").as("d1"),
        col("text")), Seq("d1"))
      .select(col("d1"), col("d2"), col("tok"),
        array_join(slice(split(col("text"), " "),
          col("s1").cast(IntegerType), col("tok").cast(IntegerType)), " ")
          .as("template_text"))
      .localCheckpoint(true)
    val pairsPer = tpl.groupBy(col("template_text"), col("tok"))
      .agg(count(lit(1)).as("n_span_pairs"))
    val docsPer = tpl.select(col("template_text"), col("d1").as("doc"))
      .unionAll(tpl.select(col("template_text"), col("d2").as("doc")))
      .distinct()
      .groupBy(col("template_text")).agg(count(lit(1)).as("n_docs"))
    pairsPer.join(docsPer, Seq("template_text"))
      .orderBy(col("n_span_pairs").desc, col("template_text"))
      .limit(20)
      .select(col("template_text"), asLong(col("tok")).as("span_tokens"),
        asLong(col("n_span_pairs")).as("n_span_pairs"),
        asLong(col("n_docs")).as("n_docs"))
  }

  // ---- §2.46 PII detection & redaction ----

  /** PII detector patterns (type, regex, mask), ordered — the subset of
    * regex syntax whose semantics are IDENTICAL under Java (Spark's
    * regexp engine) and RE2 (DuckDB's): character classes, bounded
    * repetition, ASCII `\b` word boundaries, no backreferences or
    * lookaround. The same literal strings are embedded in the oracle
    * SQL (the pipeline_subword_count precedent), so the two engines
    * compile the same automaton by construction. Patterns are
    * non-overlapping on any text (phone is 3-3-4 digits, ssn 3-2-4,
    * `\b` blocks mid-number matches; ip needs dots, email needs `@`),
    * so mask application is order-independent — but both engines apply
    * in this declared order anyway. */
  private[graft] val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "<PHONE>"),
    ("ssn", "\\b\\d{3}-\\d{2}-\\d{4}\\b", "<SSN>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"))

  /** Deterministic dirty-corpus fixture: the synthetic documents carry
    * no PII, so the PII queries inject it ARITHMETICALLY from doc_id —
    * the identical expression in both engines (integer-to-string casts
    * agree), making detection counts and masked-text fingerprints
    * oracle-checkable. ~1/5 of docs get an email, 1/7 a phone, 1/11 an
    * SSN-shaped id, 1/13 an internal IP — overlapping moduli give docs
    * with 0..4 PII types. */
  private[graft] def piiDirtyText: Column = concat(col("text"),
    when(col("doc_id") % 5 === 0,
      concat(lit(" contact user"), col("doc_id"),
        lit("@example.com now"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" call "), lit(300) + col("doc_id") % 600, lit("-"),
        lit(200) + col("doc_id") % 700, lit("-"),
        lit(1000) + col("doc_id") % 9000, lit(" today"))).otherwise(lit("")),
    when(col("doc_id") % 11 === 0,
      concat(lit(" case "), lit(100) + col("doc_id") % 900, lit("-"),
        lit(10) + col("doc_id") % 90, lit("-"),
        lit(1000) + col("doc_id") % 9000, lit(" filed"))).otherwise(lit("")),
    when(col("doc_id") % 13 === 0,
      concat(lit(" from 10."), col("doc_id") % 256, lit("."),
        (col("doc_id") * 7) % 256, lit("."),
        (col("doc_id") * 13) % 256, lit(" port"))).otherwise(lit("")))

  /** Per-source PII profile (§2.46): detection counts per PII type,
    * docs-with-PII, and the hit rate per million original tokens — the
    * readout a corpus pass runs BEFORE deciding how hard to redact
    * (a source whose PII rate spikes gets quarantined, not masked).
    * Exactness: regexp match counts are integers; the rate is one
    * integer division. Scale: pure row-local regexp counts fused into
    * the scan (codegen'd, no shuffle until the per-source aggregate);
    * at 100 TB this is the cheapest possible shape — one pass, one
    * map-combined aggregate over |sources| groups. */
  val pipelinePiiProfile: Q = (s, d) => {
    val counted = table(s, d, "documents")
      .select(Seq(col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_toks")) ++
        piiPatterns.map { case (n, p, _) =>
          size(regexp_extract_all(piiDirtyText, lit(p), lit(0)))
            .cast(LongType).as(n)
        }: _*)
    val total = piiPatterns.map(t => col(t._1)).reduce(_ + _)
    counted
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        piiPatterns.map { case (n, _, _) => sum(col(n)).as(n + "s") } ++
          Seq(sum(when(total > 0, 1L).otherwise(0L)).as("docs_with_pii"),
            sum(total).as("pii_total"),
            sum(col("n_toks")).as("toks")): _*)
      .select(Seq(col("source"), asLong(col("n_docs")).as("n_docs")) ++
        piiPatterns.map(t => asLong(col(t._1 + "s")).as(t._1 + "s")) ++
        Seq(asLong(col("docs_with_pii")).as("docs_with_pii"),
          asLong(col("pii_total")).as("pii_total"),
          expr("(pii_total * 1000000) div toks").as("pii_per_mtok")): _*)
      .orderBy("source")
  }

  /** PII redaction audit (§2.46): every 9th document's dirty text run
    * through the full mask chain — per-type hit counts, the masked
    * text's md5 (pins the REWRITE itself, not just the counts), and
    * the char delta. Exactness: identical regex automata + identical
    * sequential replace order in both engines; md5 over the final
    * string. Scale: row-local regexp_replace chain fused into one
    * scan, no shuffle at all (the ORDER BY is the driver's result
    * ordering on a sampled slice). */
  val pipelinePiiRedact: Q = (s, d) => {
    val masked = piiPatterns.foldLeft(piiDirtyText) {
      case (c, (_, p, m)) => regexp_replace(c, lit(p), lit(m))
    }
    table(s, d, "documents")
      .filter(col("doc_id") % 9 === 0)
      .select(Seq(col("doc_id"), col("source")) ++
        piiPatterns.map { case (n, p, _) =>
          asLong(size(regexp_extract_all(piiDirtyText, lit(p), lit(0))))
            .as("n_" + n)
        } ++ Seq(md5(masked).as("masked_md5"),
          asLong(length(piiDirtyText) - length(masked)).as("chars_delta")): _*)
      .orderBy("doc_id")
  }

  /** Moving-average type-token ratio, MATTR-50 (§2.48): per language,
    * the mean TTR over consecutive FULL 50-token chunks — the
    * length-controlled diversity readout (global TTR — pipeline_ttr —
    * falls mechanically with doc length; MATTR compares docs of any
    * length on equal footing, the Covington–McFall fix). Doc MATTRs
    * aggregate as Σdistinct/(50·chunks), so the per-lang number is the
    * chunk-weighted mean. Exactness: distinct-per-chunk counts are
    * exact integers; ONE integer division per lang, q6. Scale (round
    * 16): chunks never span docs, so the per-chunk distinct count is
    * ROW-LOCAL — `array_distinct` over each full 50-token slice (the
    * distinct-after-explode family recipe) folds per doc in the scan
    * projection; the old posexplode → (doc, chunk, w) countDistinct
    * paid a token-grain expand + exchange. One |langs| map-combined
    * aggregate remains; fully linear, no joins. */
  val pipelineMattr: Q = (s, d) => {
    val per = table(s, d, "documents")
      .select(col("lang"), split(col("text"), " ").as("l"))
      .select(col("lang"), expr("size(l) div 50").as("nc"), col("l"))
      .filter(col("nc") > 0)
      .select(col("lang"), col("nc"), expr(
        "aggregate(transform(sequence(0, int(nc) - 1), " +
          "k -> size(array_distinct(slice(l, int(k) * 50 + 1, 50)))), " +
          "0L, (a, x) -> a + x)").as("st"))
    per.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chunks"),
        sum(col("st")).as("st"))
      .select(col("lang"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("n_chunks")).as("n_chunks"),
        expr("(st * 1000000) div (50 * n_chunks)").as("mattr_q6"))
      .orderBy("lang")
  }

  /** Deterministic URL-bearing corpus fixture (§2.49): like the PII
    * injection, URLs are manufactured arithmetically from doc_id so
    * both engines see the identical text — ~1/4 of docs get an https
    * CDN link, 1/6 an http blog link (overlap ⇒ 0–2 URLs/doc). */
  private[graft] def urlDirtyText: Column = concat(col("text"),
    // moduli 3 and 7 are coprime to the fixture's source-id stride, so
    // EVERY source receives both link kinds at any scale factor
    when(col("doc_id") % 3 === 0,
      concat(lit(" see https://cdn"), col("doc_id") % 7, lit(".example"),
        col("doc_id") % 5, lit(".com/path"), col("doc_id"), lit("/item?id="),
        col("doc_id"), lit(" ok"))).otherwise(lit("")),
    when(col("doc_id") % 7 === 0,
      concat(lit(" ref http://blog"), col("doc_id") % 9, lit(".sample.org/page"),
        col("doc_id") % 13, lit(" end"))).otherwise(lit("")))

  /** Per-source URL/domain census (§2.49): the crawl-side profiling
    * pass a corpus pipeline runs before link-based filtering — URLs
    * per source, https share, distinct hosts, host range. Hosts are
    * pulled with a capture group under the Java/RE2-identical regex
    * subset (the PII precedent). Exactness: counts are integers, the
    * https share one integer division, host min/max exact strings.
    * Scale: row-local regexp extraction fused into the scan; the host
    * explode is URL-bounded (≤2/doc here, link-count-bounded in
    * general); two map-combined aggregates + one |sources| join. */
  val pipelineUrlProfile: Q = (s, d) => {
    val urlPat = "https?://[A-Za-z0-9.-]+[^ ]*"
    val hostPat = "https?://([A-Za-z0-9.-]+)[^ ]*"
    val httpsPat = "https://[A-Za-z0-9.-]+[^ ]*"
    val u = table(s, d, "documents")
      .select(col("source"), col("doc_id"),
        regexp_extract_all(urlDirtyText, lit(hostPat), lit(1)).as("hosts"),
        size(regexp_extract_all(urlDirtyText, lit(urlPat), lit(0)))
          .cast(LongType).as("n_urls"),
        size(regexp_extract_all(urlDirtyText, lit(httpsPat), lit(0)))
          .cast(LongType).as("n_https"))
      .localCheckpoint(true) // two consumers: doc-grain + host explode
    val docAgg = u.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(size(col("hosts")) > 0, 1L).otherwise(0L)).as("docs_with_url"),
        sum(col("n_urls")).as("urls"), sum(col("n_https")).as("https"))
    val hostAgg = u.select(col("source"), explode(col("hosts")).as("host"))
      .groupBy(col("source"))
      .agg(countDistinct(col("host")).as("n_hosts"),
        min(col("host")).as("host_min"), max(col("host")).as("host_max"))
    docAgg.join(hostAgg, Seq("source"), "left")
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("docs_with_url")).as("docs_with_url"),
        asLong(col("urls")).as("n_urls"),
        asLong(col("https")).as("n_https"),
        expr("CASE WHEN urls > 0 THEN (https * 1000000) div urls " +
          "ELSE 0 END").as("https_share_q6"),
        asLong(coalesce(col("n_hosts"), lit(0L))).as("n_hosts"),
        col("host_min"), col("host_max"))
      .orderBy("source")
  }

  /** Overlapping chunk windows (§2.49): the RAG/pretrain chunker —
    * 64-token windows at stride 48 (16-token overlap), FULL windows
    * only — beside pipeline_chunk_packing's bin-packer this is the
    * OTHER standard chunking discipline (overlap preserves context at
    * boundaries; packing maximizes budget use). Per source: docs
    * chunked, chunk count, DISTINCT chunk fingerprints (identical
    * chunks across docs are the chunk-level dedup signal), dup share,
    * and md5 range pinning the chunk texts themselves. Exactness:
    * integer window arithmetic, md5 fingerprints, one integer
    * division. Scale: the explode is output-sized (n/48 chunks per
    * doc); distinct-hash count is one map-combined aggregate. */
  val pipelineChunkWindows: Q = (s, d) => {
    val ch = table(s, d, "documents")
      .select(col("source"), col("doc_id"),
        split(col("text"), " ").as("toks"),
        size(split(col("text"), " ")).as("n"))
      .filter(col("n") >= 64)
      .select(col("source"), col("doc_id"),
        explode(sequence(lit(0), expr("(n - 64) div 48"))).as("j"),
        col("toks"))
      .select(col("source"), col("doc_id"),
        md5(array_join(slice(col("toks"),
          (col("j") * 48 + 1).cast(IntegerType), lit(64)), " ")).as("h"))
    ch.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("docs_chunked"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("h")).as("distinct_chunks"),
        min(col("h")).as("fp_min"), max(col("h")).as("fp_max"))
      .select(col("source"), asLong(col("docs_chunked")).as("docs_chunked"),
        asLong(col("n_chunks")).as("n_chunks"),
        asLong(col("distinct_chunks")).as("distinct_chunks"),
        expr("((n_chunks - distinct_chunks) * 1000000) div n_chunks")
          .as("dup_chunk_share_q6"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

  /** Duplicate-span excision audit (§2.46): the find→FIX closure of
    * dedup_substring_spans — every position covered by a ≥ 12-token
    * verbatim span on the GREATER-doc side (d2) is excised, the
    * canonical occurrence (smallest doc_id, the d1 side) kept, and the
    * corpus accounting reported per source: docs touched, token mass
    * before/excised/after, plus min/max md5 of the rewritten texts
    * (pins the rewrite, not just the arithmetic). Lee-et-al dedup
    * rewrites the corpus exactly this way. Exactness: integer position
    * sets; rebuild = order-preserving join of kept tokens, md5'd.
    * Scale: excised positions are span-bounded (never corpus-sized);
    * only AFFECTED docs are re-tokenized (left-semi on the excision
    * set); the rebuild groups |affected docs| rows. */
  val pipelineSpanExcisedTokens: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val exc = dupSpans(s, d, 12)
      .select(col("d2").as("doc_id"),
        explode(sequence(col("s2"), col("s2") + col("tok") - 1)).as("pos"))
      .distinct()
      .localCheckpoint(true) // two consumers: count + anti-join
    val excCnt = exc.groupBy(col("doc_id")).agg(count(lit(1)).as("n_exc"))
    val kept = docs
      .join(excCnt.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("w"))
      .join(exc, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(md5(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("w")))),
        x => x.getField("w")), " ")).as("fp"))
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast(LongType).as("n_toks"))
      .join(excCnt, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_exc").isNotNull, 1L).otherwise(0L)).as("docs_excised"),
        sum(col("n_toks")).as("toks_before"),
        sum(coalesce(col("n_exc"), lit(0L))).as("toks_excised"),
        min(col("fp")).as("fp_min"), max(col("fp")).as("fp_max"))
      .select(col("source"), asLong(col("n_docs")).as("n_docs"),
        asLong(col("docs_excised")).as("docs_excised"),
        asLong(col("toks_before")).as("tokens_before"),
        asLong(col("toks_excised")).as("tokens_excised"),
        asLong(col("toks_before") - col("toks_excised")).as("tokens_after"),
        expr("(toks_excised * 1000000) div toks_before").as("excised_share_q6"),
        col("fp_min"), col("fp_max"))
      .orderBy("source")
  }

}
