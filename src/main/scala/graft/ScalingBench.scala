package graft

/** Scale-curve measurement for the dedup/ANN family (SCALING.md's
  * evidence): runs each operator on a list of document/embedding tiers
  * (default sf0.01 -> sf0.1 -> the generated 10x fixtures/sf1_docs,
  * i.e. 500 -> 5,000 -> 50,000 docs) and prints one JSON line per tier
  * with per-op best-of-N wall seconds. `scripts/fit_scaling.py` fits
  * the per-op growth exponent alpha (t ~ n^alpha) from consecutive
  * tiers — the measured check on SCALING.md's analytical claims
  * (sub-quadratic candidates for every sketch-based dedup; O(n^1.5)
  * for IVF ANN).
  *
  * Methodology matches Bench: caches dropped between runs so every run
  * does identical work from parquet; min over SPARK_GRAFT_SCALE_RUNS
  * (default 2) defends transient contention; the shared shingle build
  * is timed as its own "shingle_prime" entry so per-op numbers are
  * marginal costs, comparable across tiers. */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val dirs: Seq[String] = (if (args.nonEmpty) args.toSeq else Seq(
      "/root/testdata/sf0.01", "/root/testdata/sf0.1",
      new java.io.File("fixtures/sf1_docs").getAbsolutePath,
      // 100x tier (round 9): 500k docs / 200k vectors — the second
      // decade for the dedup/LSH/ANN/BPE family, the same reason the
      // facts family got sf10_facts in round 8 (an exponent fitted on
      // one 10x leg can move on the next)
      // (scripts/gen_sf10_docs.py, regenerate if absent)
      new java.io.File("fixtures/sf10_docs").getAbsolutePath))
      .filter(d => new java.io.File(s"$d/documents.parquet").exists() &&
        new java.io.File(s"$d/embeddings.parquet").exists())
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "2").toInt)
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"), "ERROR",
      // 10x the bench tier's data: keep shuffles parallel but not
      // scheduling-dominated (SCALING.md's knob discussion)
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "16"),
      // the fixture tiers are single FILES: splits are row-group
      // aligned but sized by maxPartitionBytes, and the default 128m
      // would read the whole 100x tier as ONE partition — every
      // broadcast-join descendant then inherits one task (measured:
      // a single thread of interpreted HOF eval). 8m gives the 107MB
      // tier ~14-way scan parallelism; irrelevant for the multi-file
      // driver testdata
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
      "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "false"))
    // per-op executor CPU: the contention-immune cost measure the
    // exponents are fitted against when walls are host-noisy
    val meter = new Harness.Meter(spark)
    import Harness.r3

    /** Best-of-nRuns wall and executor CPU per entry. Each run drops
      * the shared builds, runs `setUp` unmetered (table caches and
      * models stay off the curve), then meters each entry under its own
      * name in order — the prime first, so the ops after it are
      * marginal costs. Min per entry: a cost measure is a floor, and
      * contention only ever inflates it. The first call runs one extra
      * pass first and drops it: on a cold JVM (JIT, codegen) the first
      * tier's executor CPU is no floor. */
    var cold = true
    def bestOf(setUp: () => Unit, entries: Seq[(String, () => Unit)])
        : (Map[String, Double], Map[String, Double]) = {
      val warmUp = if (cold) 1 else 0
      cold = false
      val runs = (1 to warmUp + nRuns).map { _ =>
        SharedBuild.clearAll(spark)
        meter.reset()
        setUp()
        val walls = entries.map { case (name, f) => name -> meter(name)(f())._2 }
        val cost = meter.costs()
        (walls, entries.map { case (name, _) => name -> cost(name).cpu })
      }.drop(warmUp)
      def min(per: Seq[Seq[(String, Double)]]) =
        per.flatten.groupMapReduce(_._1)(_._2)(math.min)
      (min(runs.map(_._1)), min(runs.map(_._2)))
    }
    /** `{"op":seconds,...}` in the entries' order. */
    def opsJson(opsList: Seq[(String, () => Unit)], v: Map[String, Double]): String =
      opsList.map { case (k, _) => s"\"$k\":${r3(v(k))}" }.mkString("{", ",", "}")

    // one BPE model per tier (deterministic 512-doc sample train —
    // constant cost by design, so it sits outside every timed region)
    val bpeModels = scala.collection.mutable.HashMap[String, ops.Bpe.BpeModel]()
    def bpeModel(dir: String): ops.Bpe.BpeModel =
      bpeModels.getOrElseUpdate(dir,
        ops.Bpe.train(Tables(spark, dir, "documents"), "text", "doc_id"))

    // one quality model per tier (bounded md5-sample train, constant
    // cost by design — outside every timed region; the LABEL is a
    // synthetic doc_id parity because only the distributed SCORING
    // cost is being measured here)
    val qModels = scala.collection.mutable.HashMap[String, ops.QualityModel.Model]()
    def qualityModel(dir: String): ops.QualityModel.Model =
      qModels.getOrElseUpdate(dir, ops.QualityModel.train(
        Tables(spark, dir, "documents")
          .withColumn("label", org.apache.spark.sql.functions.col("doc_id") % 2),
        "label"))

    // one KN LM per tier (2000-doc capped md5-sample train — bounded
    // by design, outside every timed region; only the distributed
    // per-doc SCORING cost is on the curve)
    val knModels = scala.collection.mutable.HashMap[String, ops.Pipelines.KnLm]()
    def knModel(dir: String): ops.Pipelines.KnLm =
      knModels.getOrElseUpdate(dir,
        ops.Pipelines.knTrainOn(Tables(spark, dir, "documents"), 2000))

    val family = sys.env.getOrElse("SPARK_GRAFT_SCALE_FAMILY", "all")
    // optional op filter (comma list) — re-measure a subset quietly
    // without paying for the whole family
    val onlyOps: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    def opFilter(l: Seq[(String, () => Unit)]): Seq[(String, () => Unit)] =
      if (onlyOps.isEmpty) l else l.filter(p => onlyOps(p._1))
    for (dir <- dirs if family == "all" || family == "docs") {
      val nDocs = Tables(spark, dir, "documents").count()
      val nVecs = Tables(spark, dir, "embeddings").count()
      bpeModel(dir) // train once, outside every timed region
      // nCells ~ sqrt(active vectors): the O(n^1.5) contract
      val nCells = math.max(16, math.sqrt(nVecs / 2.0).toInt)
      // the exact all-pairs cosine is the DESIGNED O(n^2) exactness
      // baseline (α 2.03 measured) — at the 100x tier it would run
      // ~100 minutes and prove nothing new; excluded above 50k
      // vectors and RECORDED as excluded (no silent caps)
      val exactOk = nVecs <= 50000
      // the df-bucketed candidate ops (PPJoin prefix filter,
      // containment's rare-shingle sketch) are Θ(n²/V) pairs under a
      // BOUNDED shingle space V — the fixture's 30-word vocabulary
      // pins V ≈ 27k, so at 500k docs the candidate relation is
      // ~1e10 pairs (measured: the first 100x attempt filled the
      // disk with shuffle spill). Real corpora grow V with n
      // (Heaps' law), keeping the prefix filter sparse; the proven
      // 100x near-dup path on ANY vocabulary is minhash-LSH, whose
      // J^bands collision rate is corpus-size-independent and IS
      // measured at this tier. Excluded above 100k docs, recorded.
      val dfBucketOk = nDocs <= 100000
      val opsList: Seq[(String, () => Unit)] = opFilter(Seq[(String, () => Unit)](
        "dedup_exact" -> (() => { ops.TextSim.dedupExact(spark, dir).count(); () })) ++
        (if (dfBucketOk) Seq[(String, () => Unit)](
          "dedup_near_jaccard" -> (() => { ops.TextSim.dedupNearJaccard(spark, dir).count(); () }),
          "dedup_containment" -> (() => { ops.Pipelines.dedupContainment(spark, dir).count(); () }))
        else Seq.empty[(String, () => Unit)]) ++ Seq[(String, () => Unit)](
        "dedup_simhash" -> (() => { ops.Pipelines.dedupSimhash(spark, dir).count(); () }),
        "dedup_minhash_lsh" -> (() => { ops.Pipelines.dedupMinhashLsh(spark, dir).count(); () })) ++
        (if (exactOk) Seq(
          "sim_cosine_neardup_exact" -> (() =>
            { ops.Pipelines.simCosineNeardup(spark, dir).count(); () }))
        else Seq.empty[(String, () => Unit)]) ++ Seq[(String, () => Unit)](
        "sim_cosine_neardup_ann" -> (() =>
          { ops.Pipelines.simCosineNeardupAnn(spark, dir, nCells = nCells).count(); () }),
        // round 9: the two LLM-stack paths whose curves were missing —
        // adaptive IVFADC probing (mass-driven nprobe + PQ prefilter)
        // and the trained-BPE distributed encode (model is a constant
        // driver-side sample train, excluded from the timed region;
        // encode is the linear mapPartitions pass being measured)
        "sim_cosine_neardup_ann_adaptive" -> (() =>
          { ops.Pipelines.simCosineNeardupAnnAdaptive(spark, dir,
            nCells = nCells).count(); () }),
        "bpe_encode" -> (() => {
          ops.Bpe.encode(Tables(spark, dir, "documents"), "text", "doc_id",
            bpeModel(dir)).count(); ()
        })) ++ Seq[(String, () => Unit)](
        // round-9 §2.25–§2.26: winnowing (one doc-keyed window pass +
        // df-capped pair join — pairs pigeonhole-bounded, so α ~ the
        // fingerprint build) and Dunning collocations (vocab-bounded
        // contingency arithmetic over one linear bigram pass)
        "dedup_winnowing" -> (() => { ops.Pipelines.dedupWinnowing(spark, dir).count(); () }),
        "text_collocation_llr" -> (() => { ops.TextSim.textCollocationLlr(spark, dir).count(); () })) ++ Seq[(String, () => Unit)](
        // round-12 §2.39: substring spans (positioned 8-gram equi-join,
        // occurrence-capped [2,20] so candidates stay band-bounded —
        // 8-grams are near-unique even on the fixture's bounded vocab,
        // unlike the 3-gram df-bucket ops excluded above) + the
        // coverage readout (marginal over the shared checkpointed span
        // relation) + RRF (two distributed top-k legs)
        "dedup_substring_spans" -> (() =>
          { ops.Pipelines.dedupSubstringSpans(spark, dir).count(); () }),
        "pipeline_dup_span_coverage" -> (() =>
          { ops.Pipelines.pipelineDupSpanCoverage(spark, dir).count(); () }),
        "sim_rrf_fusion" -> (() =>
          { ops.TextSim.simRrfFusion(spark, dir).count(); () })) ++ Seq[(String, () => Unit)](
        // round-10 §2.29: the data-selection pair — gopher is the
        // pure fused-scan floor (one linear pass, zero joins); DSIR
        // adds the vocab-keyed weight join whose small side grows
        // ~n^0.5 by Heaps' law, so its curve shows whether that join
        // stays linear-dominated; ndcg is the panel-bounded eval
        "pipeline_gopher_quality" -> (() =>
          { ops.Pipelines.pipelineGopherQuality(spark, dir).count(); () }),
        "pipeline_dsir_selection" -> (() =>
          { ops.Pipelines.pipelineDsirSelection(spark, dir).count(); () }),
        "sim_ndcg_at10" -> (() => { ops.TextSim.simNdcgAt10(spark, dir).count(); () }),
        // round-11 doc-side shapes: fertility is the pure fused regex
        // scan (should track gopher's linear floor); class balance is
        // one lang-partitioned rank window (per-class parallel)
        "pipeline_bpe_fertility" -> (() =>
          { ops.Pipelines.pipelineBpeFertility(spark, dir).count(); () }),
        "sample_class_balance" -> (() =>
          { ops.Sampling.sampleClassBalance(spark, dir).count(); () }),
        // round-12 §2.41 doc-side shapes: kneser-ney is two linear
        // bigram passes + three vocab-bounded broadcast probes (α
        // should track the bigram_logprob scan); token mix is one
        // per-source scan + bounded windows (the gopher floor)
        "pipeline_kneser_ney_nll" -> (() =>
          { ops.Pipelines.pipelineKneserNeyNll(spark, dir).count(); () }),
        "pipeline_token_budget_mix" -> (() =>
          { ops.Pipelines.pipelineTokenBudgetMix(spark, dir).count(); () }),
        // round-12 §2.43 doc-side: burrows delta (one token scan +
        // bounded grid) and the threshold sweep (marginal over the
        // persisted LSH pairs — its α should be ~zero past the pairs)
        "text_burrows_delta" -> (() =>
          { ops.TextSim.textBurrowsDelta(spark, dir).count(); () }),
        "dedup_threshold_sweep" -> (() =>
          { ops.Pipelines.dedupThresholdSweep(spark, dir).count(); () }),
        // round-12 §2.44 doc-side: cronbach is the fused-scan floor
        "pipeline_cronbach_alpha" -> (() =>
          { ops.Pipelines.pipelineCronbachAlpha(spark, dir).count(); () }),
        // round-12 §2.45 doc-side: template mining is marginal over
        // the shared span relation (α should be ~the slice join)
        "dedup_span_templates" -> (() =>
          { ops.Pipelines.dedupSpanTemplates(spark, dir).count(); () }),
        // round-13 §2.46/§2.48 doc-side: the PII pair are pure fused
        // regexp scans (the gopher floor — α should be ~1 in tokens);
        // span excision is marginal over the shared span relation
        // plus an |affected|-bounded rebuild; yule/mattr are linear
        // token-explode aggregates
        "pipeline_pii_profile" -> (() =>
          { ops.Pipelines.pipelinePiiProfile(spark, dir).count(); () }),
        "pipeline_pii_redact" -> (() =>
          { ops.Pipelines.pipelinePiiRedact(spark, dir).count(); () }),
        "pipeline_span_excised_tokens" -> (() =>
          { ops.Pipelines.pipelineSpanExcisedTokens(spark, dir).count(); () }),
        "text_yule_k" -> (() =>
          { ops.TextSim.textYuleK(spark, dir).count(); () }),
        "pipeline_mattr" -> (() =>
          { ops.Pipelines.pipelineMattr(spark, dir).count(); () }),
        // round-13 §2.49 doc-side: url profiling is the fused-regexp
        // floor; chunk windows are an output-sized explode
        "pipeline_url_profile" -> (() =>
          { ops.Pipelines.pipelineUrlProfile(spark, dir).count(); () }),
        "pipeline_chunk_windows" -> (() =>
          { ops.Pipelines.pipelineChunkWindows(spark, dir).count(); () }),
        // round-13 curation TRANSFORMS (the corpus-rewrite passes, not
        // just their audits): full-corpus PII redaction and trained-
        // classifier scoring are fused linear scans (CLAIM: the gopher
        // floor); span excision is marginal over the shared span
        // relation + an |affected|-bounded rebuild. The model train is
        // a constant bounded-sample cost outside the timed region
        // (the BPE precedent).
        // aggregate over the COMPUTED column — a bare count() would
        // let column pruning skip the regexp/sigmoid work entirely
        "curation_redact_pii" -> (() =>
          { ops.Curation.redactPii(Tables(spark, dir, "documents"))
              .agg(org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.length(
                  org.apache.spark.sql.functions.col("text")))).collect(); () }),
        "quality_model_score" -> (() =>
          { ops.QualityModel.score(Tables(spark, dir, "documents"),
              qualityModel(dir))
              .agg(org.apache.spark.sql.functions.sum("quality_prob"))
              .collect(); () }),
        "curation_excise_spans" -> (() =>
          { ops.Curation.exciseSpans(spark, dir).count(); () }),
        // round-14 crawl hygiene (§2.51–§2.52): the censuses are fused
        // row-local chains (CLAIM: the regexp linear floor);
        // url_dedup adds one bounded canonical-key shuffle,
        // boilerplate the |distinct lines| df relation. The rewrite
        // entry times the fused extract+repair+nfc TRANSFORM over the
        // dirty corpus (aggregate over the computed column — a bare
        // count() would prune the rewrite away).
        "pipeline_html_extract" -> (() =>
          { ops.Crawl.pipelineHtmlExtract(spark, dir).collect(); () }),
        "pipeline_unicode_census" -> (() =>
          { ops.Crawl.pipelineUnicodeCensus(spark, dir).collect(); () }),
        "pipeline_encoding_repair" -> (() =>
          { ops.Crawl.pipelineEncodingRepair(spark, dir).collect(); () }),
        "pipeline_url_dedup" -> (() =>
          { ops.Crawl.pipelineUrlDedup(spark, dir).collect(); () }),
        "pipeline_boilerplate_lines" -> (() =>
          { ops.Crawl.pipelineBoilerplateLines(spark, dir).collect(); () }),
        "pipeline_char_class_profile" -> (() =>
          { ops.Crawl.pipelineCharClassProfile(spark, dir).collect(); () }),
        "curation_crawl_rewrite" -> (() =>
          { ops.Curation.normalizeText(ops.Curation.repairEncoding(
              ops.Curation.extractHtml(Tables(spark, dir, "documents")
                .withColumn("text", ops.Crawl.htmlDirtyText))))
              .agg(org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.length(
                  org.apache.spark.sql.functions.col("text")))).collect(); () }),
        // round-15 (§2.55–§2.56 docs side): nfkc is the §2.51 fused-
        // chain claim again (codegen'd normalize, regexp floor); the
        // export manifest's CLAIM is wall << CPU through GlobalRank's
        // range-partitioned running sum (never a single-task window);
        // boilerplate REMOVAL is the stage's own |distinct lines| df
        // + |docs| rebuild plan; the LM doc scoring (capped-sample
        // model trained OUTSIDE the timed region, the BPE discipline)
        // is one linear scan + three broadcast joins + doc-grain agg
        "pipeline_nfkc_census" -> (() =>
          { ops.Crawl.pipelineNfkcCensus(spark, dir).collect(); () }),
        "pipeline_export_manifest" -> (() =>
          { ops.Export.pipelineExportManifest(spark, dir).collect(); () }),
        "pipeline_boilerplate_removal" -> (() =>
          { ops.Crawl.pipelineBoilerplateRemoval(spark, dir).collect(); () }),
        "curation_lm_score" -> (() =>
          { ops.Pipelines.kneserNeyDocNll(Tables(spark, dir, "documents"),
              knModel(dir))
              .agg(org.apache.spark.sql.functions.sum(
                org.apache.spark.sql.functions.col("kn_sq"))).collect(); () }),
        // round-15 §2.58: sentence censuses are fused row-local chains
        // (the regexp floor); export balance folds the bounded manifest
        "pipeline_sentence_profile" -> (() =>
          { ops.Crawl.pipelineSentenceProfile(spark, dir).collect(); () }),
        "pipeline_readability" -> (() =>
          { ops.Crawl.pipelineReadability(spark, dir).collect(); () }),
        "pipeline_export_balance" -> (() =>
          { ops.Export.pipelineExportBalance(spark, dir).collect(); () })) ++ Seq[(String, () => Unit)](
        // round-16 §2.59–§2.60: the tokenized pack (CLAIM: same single
        // range shuffle as the whitespace pack — the subword encode is
        // one codegen'd regexp in the scan, so the DELTA over
        // pipeline_export_manifest is the row-local encode term); the
        // mixture pair (one range shuffle over (source, key) + a
        // |sources| broadcast); sentence-grain dedup (df-capped [2,20]
        // pigeonhole pairs — never doc²) and the excision rebuild
        // (|distinct dup hashes| join + ONE doc-grain aggregate); the
        // LM tier mix (self-contained like its oracle: the timed op
        // INCLUDES the vocab²-bounded LM estimation plus the linear
        // scoring scan + a |sources×3| fold)
        "pipeline_export_tokenized" -> (() =>
          { ops.Export.pipelineExportTokenized(spark, dir).collect(); () }),
        "pipeline_mix_manifest" -> (() =>
          { ops.Curation.pipelineMixManifest(spark, dir).collect(); () }),
        "dedup_sentence_spans" -> (() =>
          { ops.Crawl.dedupSentenceSpans(spark, dir).count(); () }),
        "pipeline_sentence_excision" -> (() =>
          { ops.Crawl.pipelineSentenceExcision(spark, dir).collect(); () }),
        "pipeline_ppl_tier_mix" -> (() =>
          { ops.Pipelines.pipelinePplTierMix(spark, dir).collect(); () }))
      )
      val (best, bestCpu) = bestOf(() => {
        Tables(spark, dir, "documents").count() // table cache outside the curve
        Tables(spark, dir, "embeddings").count()
        // KN LM re-trained + c12 re-materialized OUTSIDE the timed
        // region on EVERY repetition (round-16 advice): clearAll
        // unpersists the memoized model's c12 cache, which also drops
        // the RDD's storage level — a bare count() would recompute
        // without re-caching, so the timed curation_lm_score closure
        // was paying LM training on every run. Dropping the memo and
        // re-training keeps the constant (2000-doc capped sample)
        // cost off the curve — the bpeModel precedent.
        if (opsList.exists(_._1 == "curation_lm_score")) {
          knModels.remove(dir)
          knModel(dir).c12.count()
        }
      }, ("shingle_prime" -> (() => ops.Pipelines.primeShingles(spark, dir))) +: opsList)
      val excl = (if (exactOk) Seq.empty[String] else Seq(
        "sim_cosine_neardup_exact (designed O(n^2) exactness baseline, excluded above 50k vectors)")) ++
        (if (dfBucketOk) Seq.empty[String] else Seq(
          "dedup_near_jaccard+dedup_containment (df-bucketed candidates are Theta(n^2/V) under the fixture's bounded 27k-shingle space; measured disk-fill at 500k docs. LSH is the measured 100x near-dup path)"))
      val excluded = excl.map(s => s"\"$s\"").mkString("[", ",", "]")
      println(s"""{"family":"docs","dir":"$dir","n_docs":$nDocs,"n_vecs":$nVecs,"n_cells":$nCells,"runs":$nRuns,"excluded":$excluded,"shingle_prime":${r3(best("shingle_prime"))},"shingle_prime_cpu":${r3(bestCpu("shingle_prime"))},"ops":${opsJson(opsList, best)},"ops_cpu":${opsJson(opsList, bestCpu)}}""")
      System.out.flush()
    }

    // ---- facts family (round 7): the window/graph/as-of operators'
    // inputs are events + lineitem; their 10x tier is fixtures/sf1_facts
    // (scripts/gen_sf1_facts.py — regenerate if absent, it is
    // .gitignored for size). The scale-sensitive shared state here is
    // the EDGES build (one l_orderkey shuffle over all of lineitem),
    // timed as its own "edges_prime" entry so the graph ops' numbers
    // stay marginal traversal costs.
    val factDirs: Seq[String] = (Seq(
      "/root/testdata/sf0.01", "/root/testdata/sf0.1",
      new java.io.File("fixtures/sf1_facts").getAbsolutePath,
      // 100x tier (round 8): 60M lineitem / 10.8M events — confirms
      // the EDGES-build exponent holds past 10x
      // (scripts/gen_sf10_facts.py, regenerate if absent)
      new java.io.File("fixtures/sf10_facts").getAbsolutePath))
      .filter(d => new java.io.File(s"$d/events.parquet").exists() &&
        new java.io.File(s"$d/lineitem.parquet").exists())
    for (dir <- factDirs if family == "all" || family == "facts") {
      val nEvents = Tables(spark, dir, "events").count()
      val nLines = Tables(spark, dir, "lineitem").count()
      val opsList: Seq[(String, () => Unit)] = opFilter(Seq(
        "graph_pagerank3" -> (() => { ops.GraphOps.graphPagerank3(spark, dir).count(); () }),
        "graph_kcore3" -> (() => { ops.GraphOps.graphKcore3(spark, dir).count(); () }),
        "join_asof" -> (() => { ops.Relational.joinAsof(spark, dir).count(); () }),
        "funnel_three_step" -> (() => { ops.Relational.funnelThreeStep(spark, dir).count(); () }),
        "ts_peak_concurrency" -> (() => { ops.TimeSeries.tsPeakConcurrency(spark, dir).count(); () }),
        "ts_active_users_rolling" -> (() => { ops.TimeSeries.tsActiveUsersRolling(spark, dir).count(); () }),
        // round-8 additions: the new fact-sized shapes — bidirectional
        // as-of (union+2 windows), gaps-islands streaks (1 shuffle),
        // GlobalRank-quintile RFM (3 range shuffles on customer grain),
        // winsorized mean (percentile pass + map-combined sum)
        "join_asof_nearest" -> (() => { ops.Relational.joinAsofNearest(spark, dir).count(); () }),
        "ts_streak_longest" -> (() => { ops.TimeSeries.tsStreakLongest(spark, dir).count(); () }),
        "agg_rfm_segments" -> (() => { ops.Relational.aggRfmSegments(spark, dir).count(); () }),
        "agg_winsorized_mean" -> (() => { ops.Relational.aggWinsorizedMean(spark, dir).collect(); () }),
        // round-14: .collect() not .count() for every bounded-output
        // census/statistic below — count() lets Catalyst prune the
        // aggregate expressions (the redact_pii comment's trap), so a
        // count-measured census under-reports its regexp/percentile
        // work; outputs are <= 20 rows, so collect is free.
        // The other three ExactQuantile consumers — the
        // CLAIM after the re-shape is wall << CPU (parallel two-pass
        // histograms) and alpha <= 1, vs the serialized single-buffer
        // percentile() the round-13 100x tier caught red-handed
        "agg_median_quantile" -> (() => { ops.Relational.aggMedianQuantile(spark, dir).collect(); () }),
        "agg_iqr_outliers" -> (() => { ops.Relational.aggIqrOutliers(spark, dir).collect(); () }),
        "agg_trimmed_mean" -> (() => { ops.Relational.aggTrimmedMean(spark, dir).collect(); () }),
        "agg_mad" -> (() => { ops.Relational.aggMad(spark, dir).collect(); () }),
        "agg_qq_price_segments" -> (() => { ops.Relational.aggQqPriceSegments(spark, dir).collect(); () }),
        "agg_equi_depth_histogram" -> (() => { ops.Relational.aggEquiDepthHistogram(spark, dir).collect(); () }),
        // round-8 §2.18e–i: the GlobalRank-shaped paths — two-sample
        // ECDF running sums (one range shuffle, value-grain), global
        // rank selection, the skyline exclusive-prefix max, and the
        // backlog fact-fact join + bounded sweep
        "agg_ks_test" -> (() => { ops.Relational.aggKsTest(spark, dir).count(); () }),
        "agg_mann_whitney" -> (() => { ops.Relational.aggMannWhitney(spark, dir).count(); () }),
        "agg_quantiles_disc" -> (() => { ops.Relational.aggQuantilesDisc(spark, dir).count(); () }),
        "join_skyline" -> (() => { ops.Relational.joinSkyline(spark, dir).count(); () }),
        "ts_order_backlog" -> (() => { ops.TimeSeries.tsOrderBacklog(spark, dir).count(); () }),
        // round-9 §2.24–§2.25: the MERGE full-outer key join (linear
        // in orders) and the Hodges–Lehmann pair median — the CLAIM
        // is calendar²-FLAT past the daily aggregate (pairs = days²,
        // independent of fact rows), so its fitted α should be ~the
        // date-grain aggregate's, not the pair count's
        "cdc_merge_apply" -> (() => { ops.TimeSeries.cdcMergeApply(spark, dir).count(); () }),
        "agg_hodges_lehmann" -> (() => { ops.Relational.aggHodgesLehmann(spark, dir).count(); () }),
        // round-10 §2.30/§2.31 fact-sized shapes: integer walk counts
        // and the seeded walk (both ride the persisted EDGES build —
        // their marginal cost should be ~flat like the other
        // traversals), the Poisson bootstrap's x100 explode (linear
        // in orders BY DESIGN — the exponent checks it), the
        // calendar-bounded Holt fold (should be ~the month-aggregate
        // cost, flat past it), and the subsequence support's
        // user-keyed window + self-join (events-per-user bounded)
        "graph_katz_3" -> (() => { ops.GraphOps.graphKatz3(spark, dir).count(); () }),
        "graph_ppr_seed" -> (() => { ops.GraphOps.graphPprSeed(spark, dir).count(); () }),
        "sample_bootstrap_ci" -> (() => { ops.Sampling.sampleBootstrapCi(spark, dir).count(); () }),
        "ts_holt_linear" -> (() => { ops.TimeSeries.tsHoltLinear(spark, dir).count(); () }),
        "funnel_seq2_support" -> (() => { ops.Relational.funnelSeq2Support(spark, dir).count(); () }),
        // round-10 §2.32: the growth-accounting family — distinct
        // (customer, month) membership joins (one reused partitioning),
        // the calendar-bounded acquisition curve, and the sessionized
        // rates (user-bounded windows over events)
        "agg_growth_accounting" -> (() => { ops.TimeSeries.aggGrowthAccounting(spark, dir).count(); () }),
        "agg_inter_purchase_gap" -> (() => { ops.TimeSeries.aggInterPurchaseGap(spark, dir).count(); () }),
        "ts_bounce_rate_daily" -> (() => { ops.TimeSeries.tsBounceRateDaily(spark, dir).count(); () }),
        "win_streak_current" -> (() => { ops.Windows.winStreakCurrent(spark, dir).count(); () }),
        // round-11 §2.35–§2.37 fact-sized shapes: the SPRT GlobalRank
        // running sums (one range shuffle over orders), the conformal
        // coverage's two GlobalRank passes + broadcast intervals, the
        // CUPED customer-grain moment scan, the retention half-life's
        // per-user window + dense spine, the event-chain entropy's
        // lead window, and the Holt-Winters fold (CLAIM: ~flat past
        // the date-grain aggregate — calendar-bounded state)
        "agg_sprt_decision" -> (() => { ops.Relational.aggSprtDecision(spark, dir).count(); () }),
        "sample_conformal_coverage" -> (() => { ops.Sampling.sampleConformalCoverage(spark, dir).count(); () }),
        "agg_cuped_adjust" -> (() => { ops.Relational.aggCupedAdjust(spark, dir).count(); () }),
        "ts_retention_half_life" -> (() => { ops.TimeSeries.tsRetentionHalfLife(spark, dir).count(); () }),
        "ts_conditional_entropy" -> (() => { ops.TimeSeries.tsConditionalEntropy(spark, dir).count(); () }),
        "ts_holt_winters" -> (() => { ops.TimeSeries.tsHoltWinters(spark, dir).count(); () }),
        // round-12 §2.41/§2.42 fact-sized shapes: the two-way ANOVA
        // cell scan (one map-combined aggregate — α should track the
        // scan), the xcorr/periodogram/kadane trio (CLAIM: ~flat past
        // their shared date-grain aggregate — calendar-bounded folds),
        // the PPS running sum (one GlobalRank range shuffle), the QTE
        // double-rank (one range shuffle over (arm, value)), and the
        // HITS distinct-edge build + two equi-join iterations (the
        // edge relation is the scale-sensitive term, like EDGES)
        "agg_anova_two_way" -> (() => { ops.Relational.aggAnovaTwoWay(spark, dir).count(); () }),
        "ts_xcorr_lags" -> (() => { ops.TimeSeries.tsXcorrLags(spark, dir).count(); () }),
        "ts_dominant_period" -> (() => { ops.TimeSeries.tsDominantPeriod(spark, dir).count(); () }),
        "ts_hot_streak_kadane" -> (() => { ops.TimeSeries.tsHotStreakKadane(spark, dir).count(); () }),
        "sample_pps_systematic" -> (() => { ops.Sampling.samplePpsSystematic(spark, dir).count(); () }),
        "agg_quantile_treatment_effect" -> (() => { ops.Relational.aggQuantileTreatmentEffect(spark, dir).count(); () }),
        "graph_hits_bipartite" -> (() => { ops.GraphOps.graphHitsBipartite(spark, dir).count(); () }),
        // round-12 §2.43: logrank (customer-grain aggregate + bounded
        // grid — α ~ the aggregate), icc/partial_corr (single fused
        // scans — the linear floor), local bridges (EDGES-bounded
        // triangle join, marginal like the other traversals)
        "ts_logrank_segments" -> (() => { ops.TimeSeries.tsLogrankSegments(spark, dir).count(); () }),
        "agg_icc_intraclass" -> (() => { ops.Relational.aggIccIntraclass(spark, dir).count(); () }),
        "agg_partial_corr" -> (() => { ops.Relational.aggPartialCorr(spark, dir).count(); () }),
        "graph_local_bridges" -> (() => { ops.GraphOps.graphLocalBridges(spark, dir).count(); () }),
        // round-12 §2.44: the three day-grain robust-inference folds
        // (CLAIM: ~flat past the shared date aggregate) and the
        // month-keyed leaderboard (one fact aggregate + group limits)
        "ts_hurst_exponent" -> (() => { ops.TimeSeries.tsHurstExponent(spark, dir).count(); () }),
        "ts_newey_west" -> (() => { ops.TimeSeries.tsNeweyWest(spark, dir).count(); () }),
        "win_leaderboard_churn" -> (() => { ops.Windows.winLeaderboardChurn(spark, dir).count(); () }),
        // round-12 §2.45: wasserstein (shared ECDF, marginal),
        // mahalanobis (moment pass + fused rescan — 2x the scan, α~1),
        // pacf (two bounded lag joins past the date aggregate), cem
        // (customer-grain aggregate + one range shuffle)
        "agg_wasserstein_1d" -> (() => { ops.Relational.aggWasserstein1d(spark, dir).count(); () }),
        "agg_mahalanobis_outliers" -> (() => { ops.Relational.aggMahalanobisOutliers(spark, dir).count(); () }),
        "ts_pacf_lag2" -> (() => { ops.TimeSeries.tsPacfLag2(spark, dir).count(); () }),
        "sample_cem_matching" -> (() => { ops.Sampling.sampleCemMatching(spark, dir).count(); () }),
        // round-13 §2.47/§2.48: hits re-measured ON the shared
        // bipartite build (its first-toucher cost IS the build; the
        // profile/assortativity marginals prove the amortization),
        // cosupply's in-row pair expansion (graft.ops.Pairs at
        // supplier grain — α should track the per-order aggregate),
        // and the three day-grain complexity folds (CLAIM: ~flat past
        // the shared date aggregate; sample entropy is days², a
        // calendar-bounded constant in fact terms)
        "graph_bipartite_degree_profile" -> (() => { ops.GraphOps.graphBipartiteDegreeProfile(spark, dir).count(); () }),
        "graph_bipartite_assortativity" -> (() => { ops.GraphOps.graphBipartiteAssortativity(spark, dir).count(); () }),
        "graph_cosupply_supplier_sim" -> (() => { ops.GraphOps.graphCosupplySupplierSim(spark, dir).count(); () }),
        "ts_permutation_entropy" -> (() => { ops.TimeSeries.tsPermutationEntropy(spark, dir).count(); () }),
        "ts_sample_entropy" -> (() => { ops.TimeSeries.tsSampleEntropy(spark, dir).count(); () }),
        "ts_variance_ratio" -> (() => { ops.TimeSeries.tsVarianceRatio(spark, dir).count(); () }),
        // round-13 §2.49 fact-side: mood rides the shared ECDF
        // (marginal past it), ljung-box is a day-grain one-window fold
        "agg_mood_median_test" -> (() => { ops.Relational.aggMoodMedianTest(spark, dir).count(); () }),
        "ts_ljung_box" -> (() => { ops.TimeSeries.tsLjungBox(spark, dir).count(); () }),
        // round-13 §2.50: dimension-grain census + two day-grain folds
        "agg_k_anonymity" -> (() => { ops.Relational.aggKAnonymity(spark, dir).count(); () }),
        "agg_wilcoxon_signed_rank" -> (() => { ops.Relational.aggWilcoxonSignedRank(spark, dir).count(); () }),
        "ts_seasonal_naive_skill" -> (() => { ops.TimeSeries.tsSeasonalNaiveSkill(spark, dir).count(); () }),
        // round-15 §2.55–§2.56 fact-sized shapes: the customer-grain
        // p99 re-shape (CLAIM: wall << CPU — bounded two-pass
        // histograms, never a single-buffer counts-map merge), the
        // value-grain Kruskal rank sums (one GlobalRank range
        // shuffle), two single-aggregate statistics, and two
        // calendar-bounded week-rank folds
        "agg_top1pct_share" -> (() => { ops.Relational.aggTop1pctShare(spark, dir).collect(); () }),
        "agg_kruskal_wallis" -> (() => { ops.Relational.aggKruskalWallis(spark, dir).collect(); () }),
        "agg_quantile_skew" -> (() => { ops.Relational.aggQuantileSkew(spark, dir).collect(); () }),
        "agg_grubbs_max" -> (() => { ops.Relational.aggGrubbsMax(spark, dir).collect(); () }),
        "agg_g_test_dow" -> (() => { ops.Relational.aggGTestDow(spark, dir).collect(); () }),
        "ts_kendall_w" -> (() => { ops.TimeSeries.tsKendallW(spark, dir).collect(); () }),
        // round-15 §2.57: bartlett is one map-combined moment pass;
        // jonckheere shares kruskal's value-grain + range-shuffle
        // shape (three running sums in ONE shuffle); cochran rides
        // the calendar-bounded week ranks
        "agg_bartlett" -> (() => { ops.Relational.aggBartlett(spark, dir).collect(); () }),
        "agg_jonckheere" -> (() => { ops.Relational.aggJonckheere(spark, dir).collect(); () }),
        "ts_cochran_q" -> (() => { ops.TimeSeries.tsCochranQ(spark, dir).collect(); () }),
        // round-16 §2.60: CvM rides the SHARED click/purchase ECDF
        // (one value-grain aggregate + one range shuffle, same as
        // ks/mood/wasserstein) — its marginal is a bounded fold
        "agg_cvm_test" -> (() => { ops.Relational.aggCvmTest(spark, dir).collect(); () })))
      val (best, bestCpu) = bestOf(() => {
        Tables(spark, dir, "events").count() // table cache outside the curve
        Tables(spark, dir, "lineitem").count()
        Tables(spark, dir, "orders").count() // round-11 ops scan orders
      }, ("edges_prime" -> (() => { Tables.edges(spark, dir); () })) +: opsList)
      println(s"""{"family":"facts","dir":"$dir","n_events":$nEvents,"n_lines":$nLines,"runs":$nRuns,"edges_prime":${r3(best("edges_prime"))},"edges_prime_cpu":${r3(bestCpu("edges_prime"))},"ops":${opsJson(opsList, best)},"ops_cpu":${opsJson(opsList, bestCpu)}}""")
      System.out.flush()
    }
    spark.stop()
  }
}
