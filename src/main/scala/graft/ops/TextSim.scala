package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Text / LLM-pipeline operators (SURVEY.md §2.7): tokenization, exact
  * and near dedup, vector similarity, multimodal join. */
object TextSim {

  /** Cosine similarity of two float-array columns in DOUBLE precision:
    * (Σab)/√(Σa²·Σb²). Codegen'd higher-order functions — no UDF. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast(DoubleType))
    val bd = transform(b, x => x.cast(DoubleType))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na = aggregate(ad, lit(0.0), (s, x) => s + x * x)
    val nb = aggregate(bd, lit(0.0), (s, x) => s + x * x)
    dot / sqrt(na * nb)
  }

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))

  val textWordcount: Q = (s, d) =>
    tokens(table(s, d, "documents"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(20)

  val textStats: Q = (s, d) =>
    table(s, d, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        decAvg(col("n_chars"), 2).as("avg_chars"),
        sum(asLong(size(split(col("text"), " ")))).as("total_tokens"))
      .orderBy("lang")

  /** Positional bigrams: posexplode + `lead(w, 1)` over the per-doc
    * position window — the same one-shuffle plan as the shingle builder
    * (Pipelines.shingles): one scan, one Exchange on doc_id, no
    * positional self-join (the previous formulation scanned the
    * posexploded table twice and shuffled it twice to join on
    * (doc, pos+1); `lead` expresses adjacency directly). */
  val textBigrams: Q = (s, d) => {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    table(s, d, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(col("w").as("w1"), lead(col("w"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Exact dedup: canonical row per content hash (md5 of normalized
    * text). Hash-groupBy — the scalable exact-dedup shape. */
  val dedupExact: Q = (s, d) =>
    table(s, d, "documents")
      .groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("copies"))
      .orderBy("h")
      .limit(200)

  /** Near-dup pairs via exact token-set Jaccard with language blocking
    * and a 10% doc sample (SURVEY §2.7), candidate-generated by PREFIX
    * FILTERING (AllPairs/PPJoin): order each doc's tokens globally by
    * (document frequency asc, token), keep only the first
    * floor(0.2·|d|)+1 as the join prefix. Jaccard >= 0.8 forces any
    * qualifying pair to share a prefix token (pigeonhole over the
    * shared total order), so recall is complete and the result is
    * IDENTICAL to the all-token join — but the candidate join keys are
    * each doc's RAREST tokens: no hot-token shuffle key, and join rows
    * drop ~5x on this corpus (measured; high-DF tokens made the naive
    * key quadratic AND skewed). The exact intersection count runs only
    * over candidate pairs, keyed by doc_id (uniform). The DuckDB
    * oracle keeps the independent all-token formulation. */
  val dedupNearJaccard: Q = (s, d) => {
    val sample = table(s, d, "documents").filter(col("doc_id") % 10 === 0)
    val toks = sample
      // round 16: row-local per-doc dedup (array_distinct at doc grain
      // == the old relation-level .distinct()) — the persist build pays
      // no exchange
      .select(col("doc_id"), col("lang"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = toks.groupBy(col("doc_id").as("sz_id")).agg(count(lit(1)).as("sz"))
    val dfreq = toks.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val wr = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("w"))
    val prefix = toks
      .join(dfreq, Seq("w"))
      .join(sizes, col("doc_id") === col("sz_id"))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= floor(lit(0.2) * col("sz")) + 1)
      .select(col("doc_id"), col("lang"), col("w"))
    val cand = prefix.toDF("cd1", "lang", "w")
      .join(prefix.toDF("cd2", "lang2", "w2"),
        col("w") === col("w2") && col("lang") === col("lang2") && col("cd1") < col("cd2"))
      .select(col("cd1").as("d1"), col("cd2").as("d2")).distinct()
    val ta = toks.select(col("doc_id").as("ia"), col("w").as("ga"))
    val tb = toks.select(col("doc_id").as("ib"), col("w").as("gb"))
    val inter = cand
      .join(ta, col("ia") === col("d1"))
      .join(tb, col("ib") === col("d2") && col("gb") === col("ga"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("i"))
    val s1 = sizes.toDF("s1_id", "s1")
    val s2 = sizes.toDF("s2_id", "s2")
    val jac = col("i").cast(DoubleType) / (col("s1") + col("s2") - col("i"))
    inter
      .join(s1, col("d1") === col("s1_id"))
      .join(s2, col("d2") === col("s2_id"))
      .filter(jac >= 0.8)
      .select(col("d1"), col("d2"), round(jac, 4).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Materialize the shared probe×candidate ranking (bench priming —
    * see Pipelines.prime for the rationale). */
  def prime(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    rankedTopk(s, d).count()

  /** Probe×candidate cosine top-5, shared by sim_cosine_topk and
    * sim_knn_label (persisted per sfDir — engine-level common-subplan
    * materialization). Norms are precomputed per vector once instead of
    * per pair: Σa² depends only on the vector, so the per-pair work is
    * a single dot-product pass. */
  private val rankedTopk = graft.SharedBuild[String, DataFrame]("TextSim.rankedTopk") {
    (s, d) =>
      val emb = table(s, d, "embeddings")
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("pid"), col("embedding").as("pe"))
      val scored = broadcast(probes).crossJoin(emb)
        .filter(col("vec_id") =!= col("pid"))
        .select(
          col("pid"), col("vec_id").as("cand"), col("label"),
          round(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")), 4)
            .as("sim"))
      val w = Window.partitionBy(col("pid")).orderBy(col("sim").desc, col("cand"))
      scored.withColumn("rk", asLong(row_number().over(w))).filter(col("rk") <= 5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Brute-force cosine top-k: probes × candidates. The probe side is
    * tiny so Spark broadcasts it — at scale this is the exact-rescoring
    * baseline; Pipelines.annIvfTopk is the bucketed scale path. */
  val simCosineTopk: Q = (s, d) =>
    rankedTopk(s, d)
      .select("pid", "rk", "cand", "label", "sim")
      .orderBy("pid", "rk")

  val simKnnLabel: Q = (s, d) => {
    val votes = rankedTopk(s, d)
      .groupBy(col("pid"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("pid")).orderBy(col("votes").desc, col("label"))
    votes.withColumn("vr", row_number().over(w))
      .filter(col("vr") === 1)
      .select(col("pid"), col("label").as("predicted"), col("votes"))
      .orderBy("pid")
  }

  val multimodalJoin: Q = (s, d) => {
    val docs = table(s, d, "documents")
    val emb = table(s, d, "embeddings")
    val vecSum = aggregate(col("embedding"), lit(0.0), (s0, x) => s0 + x.cast(DoubleType))
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n"),
        decAvg(col("n_chars"), 2).as("avg_chars"),
        round(sum(round(vecSum, 6).cast(D18_6)).cast(DoubleType), 4).as("vec_mass"))
      .orderBy("label")
  }

  /** Stopword-insensitive exact dedup (§2.7/§2.11, r6): the md5 key is
    * the token stream with corpus stopwords removed, so documents that
    * differ only in stopword placement collapse into one group — the
    * normalization stage an LLM-pipeline dedup runs before hashing.
    * Same hash-groupBy scale shape as dedupExact. */
  val dedupExactNormalized: Q = (s, d) =>
    table(s, d, "documents")
      .select(col("doc_id"), array_join(
        filter(split(col("text"), " "), w => !w.isin("the", "a")), " ").as("norm"))
      .groupBy(md5(col("norm")).as("h"))
      .agg(min(col("doc_id")).as("canonical_id"), asLong(count(lit(1))).as("copies"))
      .orderBy("h")
      .limit(200)

  /** BM25 ranked retrieval (§2.7, r6): Okapi BM25 (k1=1.2, b=0.75)
    * of every document against a fixed 3-term query. tf per term is a
    * codegen'd array `filter` over the tokenized text (no explode, no
    * shuffle for the per-doc side); N/avgdl/df are ONE single-row
    * global aggregate broadcast back — so the whole query is one scan
    * + one 1-row broadcast, linear in corpus size. All idf/tf inputs
    * are exact integers; the float tree is written identically in both
    * engines and rounded at 4. */
  val textBm25Score: Q = (s, d) =>
    bm25Scored(s, d).orderBy("doc_id")

  /** The (doc_id, bm25) relation behind text_bm25_score, shared with
    * sim_rrf_fusion — scores rounded at 4 (the value the oracle
    * hash-checks, so ranking on them is cross-engine stable). */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val toks = split(col("text"), " ")
    def tf(t: String) = size(filter(toks, w => w === t))
    // materialize the tokenize pass ONCE (5 ints per doc): both the
    // global df/avgdl aggregate and the per-doc scoring read it, and
    // without the checkpoint each would re-split and re-filter the
    // full text column (house lineage rule, SURVEY §4.2)
    val base = table(s, d, "documents").select(
      col("doc_id"), size(toks).as("dl"),
      tf("spark").as("tf1"), tf("join").as("tf2"), tf("stream").as("tf3"))
      .localCheckpoint(true)
    val g = base.agg(
      count(lit(1)).as("n"), sum(col("dl")).as("tot"),
      sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
      sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
      sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
    val avgdl = col("tot").cast(DoubleType) / col("n")
    def term(tfc: Column, dfc: Column) =
      log((col("n") - dfc + lit(0.5)) / (dfc + lit(0.5)) + lit(1.0)) *
        (tfc * lit(2.2)) /
        (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    base.crossJoin(broadcast(g))
      .filter(col("tf1") + col("tf2") + col("tf3") > 0)
      .select(col("doc_id"),
        round(term(col("tf1"), col("df1")) + term(col("tf2"), col("df2")) +
          term(col("tf3"), col("df3")), 4).as("bm25"))
  }

  /** Reciprocal-rank-fusion hybrid retrieval (§2.39): the operator
    * every RAG pipeline runs on top of its two retrievers — fuse the
    * BM25 ranking (text_bm25_score's scored docs, lexical leg) with a
    * vector ranking (cosine of every embedding to probe vector 0, the
    * sim_cosine_topk contract) via RRF(60): score = Σ 1/(60+rank),
    * computed as EXACT integer arithmetic (1e6-quantized integer
    * division per leg, summed as BIGINT — no float ever). Each leg
    * keeps its top-50 by (rounded score desc, id) — total-order keys
    * on the 4dp-rounded values both engines already hash-agree on —
    * and docs appearing in only one leg score with that leg alone
    * (standard RRF over the union). Top-20 fused. Scale: each leg is
    * a distributed TakeOrderedAndProject; the rank windows run on the
    * ≤50-row survivors (bounded-window family); the fusion join is
    * 50×50. */
  val simRrfFusion: Q = (s, d) => {
    val wText = Window.orderBy(col("bm25").desc, col("doc_id"))
    val textTop = bm25Scored(s, d)
      .orderBy(col("bm25").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), asLong(row_number().over(wText)).as("text_rank"))
    val emb = table(s, d, "embeddings")
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("pe"))
    val wVec = Window.orderBy(col("vsim").desc, col("doc_id"))
    val vecTop = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")), 4)
          .as("vsim"))
      .orderBy(col("vsim").desc, col("doc_id")).limit(50)
      .select(col("doc_id"), asLong(row_number().over(wVec)).as("vec_rank"))
    val fused = textTop.join(vecTop, Seq("doc_id"), "full_outer")
      .withColumn("rrf_q6",
        coalesce(expr("1000000 div (60 + text_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
    val wF = Window.orderBy(col("rrf_q6").desc, col("doc_id"))
    fused.orderBy(col("rrf_q6").desc, col("doc_id")).limit(20)
      .select(asLong(row_number().over(wF)).as("fused_rank"),
        col("doc_id"), col("text_rank"), col("vec_rank"), col("rrf_q6"))
      .orderBy("fused_rank")
  }

  /** Embedding-quality telemetry (§2.13, r6): per-label cohesion —
    * each member's cosine to its label's anchor vector (the member
    * with the smallest vec_id; deterministic, no centroid float-sum
    * order to diverge on). The avg is exact: per-pair sims are
    * rounded to 4 digits then summed as DECIMAL, so both engines
    * divide identical operands. Scale: anchors are one row per label
    * (broadcast); members join on the label key — the per-pair work
    * is one codegen'd dot-product pass, linear in corpus size, unlike
    * any all-pairs cohesion formulation. */
  val simLabelCohesion: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val anchors = emb.groupBy(col("label").as("a_label"))
      .agg(min(col("vec_id")).as("a_id"))
      .join(emb.select(col("vec_id").as("a_vid"), col("embedding").as("a_emb")),
        col("a_id") === col("a_vid"))
      .select(col("a_label"), col("a_id"), col("a_emb"))
    emb.join(broadcast(anchors),
        col("label") === col("a_label") && col("vec_id") =!= col("a_id"))
      .select(col("label"),
        round(graft.functions.CosineSimilarity.cosineSim(s, col("embedding"), col("a_emb")), 4)
          .cast(DecimalType(10, 4)).as("sim"))
      .groupBy(asLong(col("label")).as("label"))
      .agg(asLong(count(lit(1))).as("n_members"),
        round(sum(col("sim")).cast(DoubleType) / count(lit(1)), 6).as("avg_cos"),
        round(min(col("sim")).cast(DoubleType), 4).as("min_cos"),
        round(max(col("sim")).cast(DoubleType), 4).as("max_cos"))
      .orderBy("label")
  }

  /** Anchor separation matrix (§2.18h): pairwise cosine between the
    * per-label anchor vectors (each label's min-vec_id member, the
    * sim_label_cohesion convention) — cohesion says how tight each
    * cluster is; this says how far the clusters sit from each OTHER,
    * the confusability read behind any label-conditioned sampling.
    * Bounded |labels|² relation; per-pair cosine is the established
    * cross-engine contract. Scale: anchors are one broadcast row per
    * label; the pair join never touches the corpus. */
  val simAnchorSeparation: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val anchors = emb.groupBy(col("label").as("al"))
      .agg(min(col("vec_id")).as("aid"))
      .join(emb.select(col("vec_id").as("avid"), col("embedding").as("aemb")),
        col("aid") === col("avid"))
      .select(col("al"), col("aemb"))
    val a = anchors.toDF("l1", "e1")
    val b = anchors.toDF("l2", "e2")
    a.join(broadcast(b), col("l1") < col("l2"))
      .select(asLong(col("l1")).as("label1"), asLong(col("l2")).as("label2"),
        round(graft.functions.CosineSimilarity.cosineSim(s, col("e1"), col("e2")), 4)
          .as("anchor_cos"))
      .orderBy("label1", "label2")
  }

  /** Pairwise-cosine histogram on a deterministic sample (§2.18f):
    * the SHAPE of the embedding space's similarity distribution —
    * collapsed/anisotropic spaces pile mass near one bucket, healthy
    * ones spread (sim_norm_audit checks scale, this checks geometry).
    * Pairs come from the vec_id % 4 == 0 sample via the same
    * block-grid equi-join as sim_cosine_neardup (shuffle-
    * partitionable, never a broadcast cartesian); the histogram
    * bucket floor(10·cos) IS the quantization — identical cosine
    * doubles (the codegen'd expression vs DuckDB's DOUBLE[] kernel,
    * the established sim-family contract) floor identically. The
    * sample keeps the O(m²/2) pair count quadratic-in-sample by
    * DESIGN — the histogram is a diagnostic read; at 100 TB the
    * modulus widens, not the plan. */
  val simCosineHistogram: Q = (s, d) => {
    val nBlocks = 8
    val e = table(s, d, "embeddings").filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"), col("embedding"),
        expr(s"cast((vec_id div 4) % $nBlocks AS INT)").as("blk"))
    val cells = e
      .select(col("vec_id"), col("embedding"), col("blk"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("p"))
      .select(col("vec_id"), col("embedding"), col("blk"),
        least(col("blk"), col("p")).as("ci"), greatest(col("blk"), col("p")).as("cj"))
    val a = cells.toDF("v1", "e1", "b1", "ci", "cj")
    val b = cells.toDF("v2", "e2", "b2", "ci2", "cj2")
    val pairs = a.join(b, col("ci") === col("ci2") && col("cj") === col("cj2") &&
        col("v1") < col("v2") &&
        col("ci") === least(col("b1"), col("b2")) &&
        col("cj") === greatest(col("b1"), col("b2")))
      .select(col("v1"), col("v2"),
        graft.functions.CosineSimilarity.cosineSim(s, col("e1"), col("e2")).as("cos"))
    val tot = pairs.agg(count(lit(1)).as("n_total"))
    pairs
      .groupBy(floor(col("cos") * 10).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("bucket"), asLong(col("n_pairs")).as("n_pairs"),
        round(col("n_pairs").cast(DoubleType) / col("n_total"), 6).as("share"))
      .orderBy("bucket")
  }

  /** Embedding drift telemetry (§2.13, r6): per label, the cosine
    * between the centroids of the even- and odd-vec_id halves — the
    * split-half consistency check that flags a label whose embedding
    * mass is incoherent (re-embedding drift, mixed clusters). Cosine
    * is invariant to positive scaling, so the centroids are
    * represented by their component SUM vectors — no mean division,
    * whose decimal scale rules differ across engines. Each float
    * component is rounded at 7 and DECIMAL-summed per (label, half,
    * pos) — exact, order-free — then the dot/norm sums over the 64
    * positions stay DECIMAL (widths chosen to fit 38 in BOTH engines)
    * and one double tree per label finishes. Scale: posexplode is
    * dims×n rows but collapses map-side onto (label, half, pos) —
    * the shuffle carries labels×2×64 rows at any SF. */
  val simLabelCentroidDrift: Q = (s, d) => {
    // labels×2×64 rows; materialized ONCE so the even/odd branches
    // don't each re-scan and re-explode the embeddings table
    val sums = table(s, d, "embeddings")
      .select(col("label"), (col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(sum(round(col("v").cast(DoubleType), 7).cast(DecimalType(18, 7)))
        .as("sv"))
      .select(col("label"), col("half"), col("pos"),
        col("sv").cast(DecimalType(12, 7)).as("sv"))
      .localCheckpoint(true)
    val even = sums.filter(col("half") === 0)
      .select(col("label"), col("pos"), col("sv").as("se"))
    val odd = sums.filter(col("half") === 1)
      .select(col("label"), col("pos"), col("sv").as("so"))
    even.join(odd, Seq("label", "pos"))
      .groupBy(asLong(col("label")).as("label"))
      .agg(sum(col("se") * col("so")).as("dot"),
        sum(col("se") * col("se")).as("ne"),
        sum(col("so") * col("so")).as("no"))
      .select(col("label"),
        round(col("dot").cast(DoubleType) /
          (sqrt(col("ne").cast(DoubleType)) * sqrt(col("no").cast(DoubleType))),
          4).as("centroid_cos"))
      .orderBy("label")
  }

  /** Embedding norm audit (§2.7, r7): the L2-norm distribution of the
    * corpus — THE first check on any ingested embedding table (an
    * un-normalized batch, a zeroed vector, or a double-scaled shard
    * shows up here before it silently distorts every cosine). Norms
    * are per-row sequential folds over the same 64 floats in both
    * engines (identical IEEE sum order), then floor-quantized to a
    * BIGINT micro-norm `floor(norm*1e6)` — the logprob family's
    * recipe (Pipelines.pipelineBigramLogprob): floor of the same
    * double is engine-independent where round(x,6) is not (engines
    * disagree on half-way ties of a double's exact binary value).
    * Every output statistic then derives from exact integers —
    * min/max/avg divide the integer by 1e6 in the SAME double
    * operation order on both engines, and the unit-band test
    * |q−1_000_000| > 1_000 is pure integer arithmetic. Single linear
    * aggregation pass, one row out; the BIGINT sum holds to ~1e12
    * vectors (micro-norms ≈ 1e6/row vs Long.Max 9.2e18). */
  val simNormAudit: Q = (s, d) => {
    val e = table(s, d, "embeddings")
    val ed = transform(col("embedding"), x => x.cast(DoubleType))
    val q = floor(sqrt(aggregate(ed, lit(0.0), (s0, x) => s0 + x * x)) * 1e6)
      .cast(LongType)
    e.select(q.as("q"))
      .agg(asLong(count(lit(1))).as("n_vectors"),
        (min(col("q")).cast(DoubleType) / 1e6).as("min_norm"),
        (max(col("q")).cast(DoubleType) / 1e6).as("max_norm"),
        (sum(col("q")).cast(DoubleType) / count(lit(1)) / 1e6).as("avg_norm"),
        asLong(sum(when(abs(col("q") - 1000000L) > 1000L, 1L).otherwise(0L)))
          .as("n_nonunit"))
  }

  /** Per-document character-level Shannon entropy (§2.7, r7): the
    * compressibility / gibberish screen that catches what token-level
    * quality scores miss (base64 blobs and repeated-char padding have
    * normal token counts but extreme char entropy). H = ln(n) −
    * Σ c·ln(c) / n from EXACT per-char counts, with each c·ln(c) term
    * rounded to DECIMAL(18,6) before the order-insensitive sum (the
    * repo's standard float discipline — agg_entropy's raw double sum
    * works at 5 terms/group; char alphabets are larger). 1/11 doc
    * sample bounds the output. Scale: explode to (doc, char) counts is
    * one map-combined group-by, linear in corpus bytes. */
  val textCharEntropy: Q = (s, d) => {
    val c = table(s, d, "documents")
      .filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      // Spark's split(limit=-1) keeps a trailing "" for zero-width
      // matches; DuckDB's string_split('') does not — drop it
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("n"))
    c.groupBy(col("doc_id"))
      .agg(asLong(sum(col("n"))).as("n_chars"),
        asLong(count(lit(1))).as("n_distinct_chars"),
        round(
          log(sum(col("n")).cast(DoubleType)) -
            sum(round(col("n").cast(DoubleType) * log(col("n").cast(DoubleType)), 6)
              .cast(DecimalType(18, 6))).cast(DoubleType) /
              sum(col("n")).cast(DoubleType), 4).as("char_entropy"))
      .orderBy("doc_id")
  }

  /** Adjacent-pair cosine histogram (§2.7, r7): cosine of every
    * consecutive (vec_id, vec_id+1) embedding pair, bucketed at 0.1 —
    * the embedding-QA sanity curve (an ingestion bug that repeats or
    * zeroes vectors shows up instantly as mass at 1.0 or NaN-drops; a
    * healthy random corpus concentrates near 0). The deterministic
    * consecutive pairing replaces a sampled pairing (repo-wide no-RNG
    * discipline) and is exactly ONE self-equi-join on vec_id+1 —
    * linear, broadcast-free, no all-pairs anywhere. The per-pair sim
    * is floor-quantized to a BIGINT `q = floor(sim*1e4)` (the
    * sim_norm_audit / logprob recipe — floor of the same double is
    * engine-independent where round(x,4) is not), so bucketing is
    * floor(q/1000.0) on exact integers (the double division is exact
    * at |q| ≤ 1e4 whenever it lands on a bucket boundary, so the
    * floors agree) and avg divides the exact integer sum by n and 1e4
    * in the SAME double operation order on both engines. */
  val simAdjacentCosine: Q = (s, d) => {
    val e = table(s, d, "embeddings")
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = e.select((col("vec_id") - 1).as("v1"), col("embedding").as("e2"))
    val q = floor(cosine(col("e1"), col("e2")) * 1e4).cast(LongType)
    a.join(b, Seq("v1"))
      .select(q.as("q"))
      .groupBy(floor(col("q") / lit(1000.0)).cast(IntegerType).as("bucket"))
      .agg(asLong(count(lit(1))).as("n"),
        (sum(col("q")).cast(DoubleType) / count(lit(1)) / 1e4).as("avg_sim"))
      .orderBy("bucket")
  }

  /** Word-length distribution (§2.18, r8): corpus-wide token-length
    * histogram with occurrence share and distinct-type counts — the
    * tokenizer-design input (subword vocab sizing starts from this
    * curve) and a cheap corpus-drift tell. Exact counts; share is one
    * rounded division against a broadcast total. Scale: one
    * map-combined aggregate over exploded tokens, bounded output
    * (max word length). */
  val textWordLenHistogram: Q = (s, d) => {
    val w = table(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
    val tot = w.agg(count(lit(1)).as("n_total"))
    w.groupBy(length(col("w")).as("len"))
      .agg(count(lit(1)).as("n"), countDistinct(col("w")).as("n_types"))
      .crossJoin(broadcast(tot))
      .select(asLong(col("len")).as("len"), asLong(col("n")).as("n"),
        asLong(col("n_types")).as("n_types"),
        round(col("n").cast(DoubleType) / col("n_total"), 6).as("share"))
      .orderBy("len")
  }

  /** Per-dimension embedding statistics (§2.19): mean / variance /
    * min / max of each of the 64 lanes across the corpus — the
    * dead-dimension and scale-drift audit (a lane with near-zero
    * variance is wasted index capacity; a lane whose range dwarfs the
    * others distorts every unweighted distance). Lanes are quantized
    * to exact BIGINT micro-units q = floor(x·1e7) per value (floor of
    * the same float→double is engine-independent), so Σq and Σq² are
    * exact integers (DECIMAL(38,0) — q² ≈ 1e14/row leaves BIGINT near
    * 1e5 rows/lane) and mean/variance evaluate in one double tree
    * from scale-0 conversions. Scale: ONE posexplode + map-combined
    * aggregate over a 64-key domain — partial aggregation collapses
    * each partition to 64 rows before the only shuffle. */
  val simDimVariance: Q = (s, d) => {
    val lanes = table(s, d, "embeddings")
      .select(posexplode(transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1e7).cast(LongType))).as(Seq("dim", "q")))
    val d19 = DecimalType(19, 0)
    val t = lanes.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q").cast(d19)).as("sq"),
        sum((col("q").cast(d19) * col("q").cast(d19)).cast(DecimalType(38, 0)))
          .as("sqq"),
        min(col("q")).as("mn"), max(col("q")).as("mx"))
    val nd = col("n").cast(DoubleType)
    val mean = col("sq").cast(DoubleType) / nd / 1e7
    val varr = (nd * col("sqq").cast(DoubleType) -
      col("sq").cast(DoubleType) * col("sq").cast(DoubleType)) / (nd * nd) / 1e14
    t.select(asLong(col("dim")).as("dim"), asLong(col("n")).as("n"),
        round(mean, 6).as("mean"), round(varr, 8).as("variance"),
        (col("mn").cast(DoubleType) / 1e7).as("min_val"),
        (col("mx").cast(DoubleType) / 1e7).as("max_val"))
      .orderBy("dim")
  }

  /** Vector-quantization error audit (§2.19): how much cosine
    * similarity moves when lanes are crushed to 1 decimal — the
    * measured answer to "can this corpus ship int8/low-bit codes"
    * (the PQ/IVFADC design input; ops.PQ is the spec'd scale path,
    * this is its oracle-checked miniature). Quantized lanes are the
    * exact INTEGERS floor(x·10), so the quantized cosine is a pure
    * integer-sums double tree with NO fold-order dependency at all;
    * the reference cosine is the corpus-standard sequential fold. The
    * per-pair error floor-quantizes at 1e6 and every reported
    * statistic derives from exact integers. Degenerate pairs (a
    * quantized vector crushed to all-zero) are COUNTED, not silently
    * dropped. Scale: the deterministic adjacent pairing is ONE linear
    * self-equi-join on vec_id+1 (sim_adjacent_cosine's shape). */
  val simQuantizationError: Q = (s, d) => {
    val e = table(s, d, "embeddings")
    def qlanes(c: Column): Column =
      transform(c, x => floor(x.cast(DoubleType) * 10).cast(LongType))
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val b = e.select((col("vec_id") - 1).as("v1"), col("embedding").as("e2"))
    val qa = qlanes(col("e1"))
    val qb = qlanes(col("e2"))
    val dotq = aggregate(zip_with(qa, qb, (x, y) => x * y), lit(0L), (s0, v) => s0 + v)
    val nqa = aggregate(qa, lit(0L), (s0, x) => s0 + x * x)
    val nqb = aggregate(qb, lit(0L), (s0, x) => s0 + x * x)
    val cosQ = dotq.cast(DoubleType) /
      sqrt(nqa.cast(DoubleType) * nqb.cast(DoubleType))
    val p = a.join(b, Seq("v1"))
      .select((nqa === 0L || nqb === 0L).as("degenerate"),
        // guard BEFORE the floor: a degenerate cosQ is NaN and an
        // ANSI NaN->BIGINT cast fails loud instead of flagging
        when(nqa === 0L || nqb === 0L, lit(0L))
          .otherwise(floor(abs(cosQ - cosine(col("e1"), col("e2"))) * 1e6)
            .cast(LongType)).as("err6"))
    p.agg(asLong(count(lit(1))).as("n_pairs"),
      asLong(sum(when(col("degenerate"), 1L).otherwise(0L))).as("n_degenerate"),
      (sum(when(!col("degenerate"), col("err6")).otherwise(0L)).cast(DoubleType) /
        sum(when(!col("degenerate"), 1L).otherwise(0L)) / 1e6).as("avg_abs_err"),
      (max(when(!col("degenerate"), col("err6"))).cast(DoubleType) / 1e6)
        .as("max_abs_err"),
      asLong(sum(when(!col("degenerate") && col("err6") > 10000L, 1L)
        .otherwise(0L))).as("n_err_gt_1pct"))
  }

  /** MMR-diversified retrieval (§2.23): maximal marginal relevance
    * re-ranking of each probe's top-10 candidate pool into 5 picks —
    * step i selects argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c,s)
    * with λ=0.7, the de-duplicating retrieval pass a RAG/curation
    * pipeline runs after ANN so the k results aren't k copies of the
    * same document. Cross-engine exactness: similarities are the
    * floor-quantized integers floor(cos·1e4), so every greedy score is
    * the exact BIGINT 7·rel − 3·maxsim and ties break on cand id —
    * no float-ordering knife edge anywhere in the selection. Scale:
    * the only corpus-sized pass is the broadcast-probes scan (the
    * sim_cosine_topk shape; ANN feeds the pool at corpus scale); the
    * pool (10 rows/probe), its pairwise sims (≤90/probe) and the 4
    * greedy rounds are all bounded by the panel, localCheckpointed so
    * the round lineage stays shallow. */
  val simMmrTopk: Q = (s, d) => {
    def fsim(a: Column, b: Column): Column =
      floor(graft.functions.CosineSimilarity.cosineSim(s, a, b) * 10000)
        .cast(LongType)
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val scored = broadcast(probes).crossJoin(emb)
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id").as("cand"),
        fsim(col("pe"), col("embedding")).as("reli"))
    val wPool = Window.partitionBy(col("pid")).orderBy(col("reli").desc, col("cand"))
    val pool = scored.withColumn("rk", row_number().over(wPool))
      .filter(col("rk") <= 10).localCheckpoint(true)
    val withE = pool
      .join(emb.select(col("vec_id"), col("embedding")), col("cand") === col("vec_id"))
      .select(col("pid"), col("cand"), col("reli"), col("embedding"))
    val pa = withE.toDF("qp", "c1", "r1", "e1")
    val pb = withE.toDF("qp2", "c2", "r2", "e2")
    val pp = pa.join(pb, col("qp") === col("qp2") && col("c1") =!= col("c2"))
      .select(col("qp"), col("c1"), col("c2"), fsim(col("e1"), col("e2")).as("qs"))
      .localCheckpoint(true)
    val wSel = Window.partitionBy(col("pid"))
      .orderBy((lit(7L) * col("reli") - lit(3L) * col("ms")).desc, col("cand"))
    // fold the latest pick's pairwise sims into each survivor's maxsim
    def advance(m: DataFrame, sel: DataFrame): DataFrame = {
      val sp = sel.select(col("pid").as("sp"), col("cand").as("sc"))
      m.join(sp, col("pid") === col("sp") && col("cand") =!= col("sc"))
        .join(pp, col("pid") === col("qp") && col("cand") === col("c1") &&
          col("sc") === col("c2"))
        .select(col("pid"), col("cand"), col("reli"),
          greatest(col("ms"), col("qs")).as("ms"))
    }
    var m = pool.select(col("pid"), col("cand"), col("reli"),
      lit(Long.MinValue).as("ms"))
    var sel = pool.filter(col("rk") === 1)
      .select(col("pid"), col("cand"), col("reli"),
        lit(null).cast(LongType).as("ms"))
    var out = sel.withColumn("step", lit(1))
    for (step <- 2 to 5) {
      m = advance(m, sel)
      sel = m.withColumn("r", row_number().over(wSel)).filter(col("r") === 1)
        .select(col("pid"), col("cand"), col("reli"), col("ms"))
      out = out.unionAll(sel.withColumn("step", lit(step)))
    }
    out.select(col("pid"), asLong(col("step")).as("step"), col("cand"),
        round(col("reli").cast(DoubleType) / 1e4, 4).as("rel"),
        round((lit(7L) * col("reli") - lit(3L) * coalesce(col("ms"), lit(0L)))
          .cast(DoubleType) / 1e5, 5).as("mmr"))
      .orderBy("pid", "step")
  }

  /** Leave-one-out kNN accuracy (§2.23): 5-NN majority-vote label
    * prediction for a FIXED 50-probe panel (vec_id % 10 == 3, id <
    * 500) scored against the probes' true labels, per label — the
    * embedding-quality read behind any label-conditioned sampling
    * decision: if a cheap kNN can't recover the label, the space
    * doesn't separate it. Panel is bounded by construction, so the
    * scan stays linear in corpus size at any SF (never corpus ×
    * corpus); sims are floor-quantized integers with cand-id
    * tie-break (sim_cosine_topk's determinism discipline), vote ties
    * break on the smaller label. */
  val simKnnAccuracy: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") % 10 === 3 && col("vec_id") < 500)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("tl"))
    val scored = broadcast(probes).crossJoin(emb)
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("tl"), col("label").as("cl"),
        col("vec_id").as("cand"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("reli"))
    val wNn = Window.partitionBy(col("pid")).orderBy(col("reli").desc, col("cand"))
    val nn = scored.withColumn("rk", row_number().over(wNn)).filter(col("rk") <= 5)
    val votes = nn.groupBy(col("pid"), col("tl"), col("cl"))
      .agg(count(lit(1)).as("v"))
    val wV = Window.partitionBy(col("pid")).orderBy(col("v").desc, col("cl"))
    val pred = votes.withColumn("r", row_number().over(wV)).filter(col("r") === 1)
    val hit = sum(when(col("cl") === col("tl"), 1L).otherwise(0L))
    pred.groupBy(asLong(col("tl")).as("label"))
      .agg(asLong(count(lit(1))).as("n_probes"), asLong(hit).as("n_correct"),
        round(hit.cast(DoubleType) / count(lit(1)), 4).as("accuracy"))
      .orderBy("label")
  }

  /** Per-label centroid outliers (§2.23): members whose squared
    * distance to their label's centroid exceeds mean + 2σ of that
    * label's distance distribution — the mislabeled/contaminated-row
    * sweep run before treating labels as ground truth. Exactness: the
    * whole test is INTEGER — lanes quantize to floor(x·1e3), the
    * centroid never materializes as a float (d2q = Σ(n·q_i − S_i)² =
    * n²·Σ(q_i − μ_i)² cross-multiplied into BIGINT), and the 2σ cut
    * compares DECIMAL(38,0) terms ((n·d2q − Σd2q)² > 4(n·Σd2q² −
    * (Σd2q)²)), so both engines decide every row identically — no
    * float-sum fold order anywhere (the sim_norm_audit lesson). The
    * DECIMAL(38,0) headroom bounds the exact contract at ~10⁶ rows
    * per label; past that the same plan runs with double d2 and the
    * cut stops being knife-edge because outliers sit far from it.
    * Scale: one posexplode pass (64·n rows, map-combined per
    * (label,pos)), centroid sums broadcast back (|labels|·64 rows),
    * one more map-combined reduce per vector — linear end to end. */
  val simCentroidOutliers: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val qd = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x").cast(DoubleType) * 1000).cast(LongType).as("qx"))
    val cent = qd.groupBy(col("label").as("cl"), col("pos").as("cp"))
      .agg(sum(col("qx")).as("cs"), count(lit(1)).as("cn"))
    val t = col("cn") * col("qx") - col("cs")
    val d2 = qd.join(broadcast(cent),
        col("label") === col("cl") && col("pos") === col("cp"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(t * t).as("d2q"))
    val dec38 = DecimalType(38, 0)
    val stats = d2.groupBy(col("label").as("sl"))
      .agg(count(lit(1)).as("cnt"), sum(col("d2q").cast(dec38)).as("sd"),
        sum(col("d2q").cast(dec38) * col("d2q")).as("ssq"))
    val lhs = col("cnt").cast(dec38) * col("d2q").cast(dec38) - col("sd")
    d2.join(broadcast(stats), col("label") === col("sl"))
      .filter(lhs > 0 &&
        lhs * lhs > (col("cnt").cast(dec38) * col("ssq") - col("sd") * col("sd")) * 4)
      .select(asLong(col("label")).as("label"), col("vec_id"),
        round(col("d2q").cast(DoubleType) /
          ((col("cnt") * col("cnt")).cast(DoubleType) * lit(1e6)), 6).as("dist2"))
      .orderBy("label", "vec_id")
  }

  /** Simplified silhouette per label (§2.24): for each vector, a =
    * squared distance to its OWN label centroid and b = min squared
    * distance to any OTHER label's centroid; s = (b−a)/max(a,b) —
    * the cluster-separation QA a curation pipeline runs before
    * trusting labels for stratified sampling (negative s = the
    * vector sits closer to a foreign centroid: likely mislabel).
    * Exactness: lanes quantize to floor(x·1e3); per-(vector,label)
    * the numerator Σ(n·q − S)² is BIGINT-exact; the per-label
    * normalization num/n² happens as ONE double division of exact
    * operands (num < 2^53) floor-quantized back to BIGINT, so the
    * b-argmin and every s-sign decision is integer; s itself is one
    * IEEE expression on identical BIGINTs, floor-quantized to 1e6
    * before the mean so no float-sum fold order exists. Scale: one
    * posexplode pass map-combined per (label,pos); the |labels|·64
    * centroid relation broadcasts into a lanes×labels join (corpus ×
    * L rows, linear in corpus); everything after is map-combined. */
  val simSilhouetteSimplified: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val qd = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), col("label"), col("pos"),
        floor(col("x").cast(DoubleType) * 1000).cast(LongType).as("qx"))
    val cent = qd.groupBy(col("label").as("cl"), col("pos").as("cp"))
      .agg(sum(col("qx")).as("cs"), count(lit(1)).as("cn"))
    val t = col("cn") * col("qx") - col("cs")
    val dist = qd.join(broadcast(cent), col("pos") === col("cp"))
      .groupBy(col("vec_id"), col("label"), col("cl"))
      .agg(sum(t * t).as("num"), max(col("cn")).as("cn"))
      .select(col("vec_id"), col("label"), col("cl"),
        floor(col("num").cast(DoubleType) /
          (col("cn") * col("cn")).cast(DoubleType)).cast(LongType).as("dq"))
    val ab = dist.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("cl") === col("label"), col("dq"))).as("a"),
        min(when(col("cl") =!= col("label"), col("dq"))).as("b"))
    val sil = when(greatest(col("a"), col("b")) === 0, lit(0L))
      .otherwise(floor((col("b") - col("a")).cast(DoubleType) /
        greatest(col("a"), col("b")).cast(DoubleType) * 1e6).cast(LongType))
    ab.select(col("label"), sil.as("sq"))
      .groupBy(asLong(col("label")).as("label"))
      .agg(asLong(count(lit(1))).as("n"),
        round(sum(col("sq")).cast(DoubleType) / (count(lit(1)) * lit(1e6)), 4)
          .as("mean_sil"),
        asLong(sum(when(col("sq") < 0, 1L).otherwise(0L))).as("n_negative"))
      .orderBy("label")
  }

  /** Dunning log-likelihood-ratio collocations (§2.26): the top-20
    * bigrams by G² over the 2×2 contingency (bigram vs its word
    * marginals) — the statistically calibrated collocation test that
    * replaces raw PMI when counts are small (PMI over-ranks rare
    * pairs; LLR weights by evidence mass). Exactness: all four cell
    * counts and both expected-count operands are exact BIGINTs; each
    * k·ln(k·N/(row·col)) term is a single log of an exact-integer
    * ratio (the suite's established idf/logprob precedent), and the
    * ranking key is the floor-quantized BIGINT G²·1e3 with (w1,w2)
    * ties. Scale: bigram counts map-combine; marginals are two
    * vocab-keyed re-aggregations joined back on their word keys; the
    * top-20 is TakeOrdered — no global window. */
  val textCollocationLlr: Q = (s, d) => {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // persist: four consumers (marginals ×2, total, the scored join)
    // — ONE bigram build instead of four corpus passes
    val bg = table(s, d, "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
      .select(col("doc_id"), col("w1"), lead(col("w1"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("k11"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val r = bg.groupBy(col("w1").as("rw")).agg(sum(col("k11")).as("row_n"))
    val c = bg.groupBy(col("w2").as("cw")).agg(sum(col("k11")).as("col_n"))
    val tot = bg.agg(sum(col("k11")).as("nn"))
    def term(k: Column, row: Column, colN: Column, n: Column): Column =
      when(k > 0, k.cast(DoubleType) *
        log((k * n).cast(DoubleType) / (row * colN).cast(DoubleType)))
        .otherwise(lit(0.0))
    val j = bg.filter(col("k11") >= 5)
      .join(r, col("w1") === col("rw"))
      .join(c, col("w2") === col("cw"))
      .crossJoin(broadcast(tot))
    val k12 = col("row_n") - col("k11")
    val k21 = col("col_n") - col("k11")
    val k22 = col("nn") - col("row_n") - col("col_n") + col("k11")
    val g2 = lit(2.0) * (
      term(col("k11"), col("row_n"), col("col_n"), col("nn")) +
      term(k12, col("row_n"), col("nn") - col("col_n"), col("nn")) +
      term(k21, col("nn") - col("row_n"), col("col_n"), col("nn")) +
      term(k22, col("nn") - col("row_n"), col("nn") - col("col_n"), col("nn")))
    j.select(col("w1"), col("w2"), asLong(col("k11")).as("n_pair"),
        floor(g2 * 1e3).cast(LongType).as("llr_q"))
      .orderBy(col("llr_q").desc, col("w1"), col("w2"))
      .limit(20)
      .select(col("w1"), col("w2"), col("n_pair"),
        (col("llr_q").cast(DoubleType) / 1e3).as("llr"))
      .orderBy(col("llr").desc, col("w1"), col("w2"))
  }

  /** Similarity-metric agreement (§2.27): per probe, how much of the
    * cosine top-10 survives when the ranking metric is the raw dot
    * product — the norm-sensitivity check run before committing an
    * ANN index to one metric (disagreement = vector norms carry
    * signal and normalizing would lose it). Both rankings are
    * floor-quantized BIGINT scores with cand-id ties (the sim-family
    * determinism discipline; the dot fold order is element-
    * sequential in both engines, same as the audited cosine kernel).
    * Scale: the 30-probe panel broadcasts into ONE linear corpus
    * scan (persisted for the two rankings); WindowGroupLimit caps
    * both top-10s before their shuffles; the overlap join is
    * panel-bounded. */
  val simMetricAgreement: Q = (s, d) => {
    def dotp(a: Column, b: Column): Column =
      aggregate(zip_with(transform(a, x => x.cast(DoubleType)),
        transform(b, x => x.cast(DoubleType)), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val scored = broadcast(probes).crossJoin(emb)
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id").as("cand"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("qc"),
        floor(dotp(col("pe"), col("embedding")) * 10000).cast(LongType).as("qd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wc = Window.partitionBy(col("pid")).orderBy(col("qc").desc, col("cand"))
    val wd = Window.partitionBy(col("pid")).orderBy(col("qd").desc, col("cand"))
    val topC = scored.withColumn("r", row_number().over(wc))
      .filter(col("r") <= 10).select(col("pid"), col("cand"))
    val topD = scored.withColumn("r", row_number().over(wd))
      .filter(col("r") <= 10).select(col("pid"), col("cand"))
    val ov = topC.join(topD, Seq("pid", "cand"))
      .groupBy(col("pid")).agg(count(lit(1)).as("n_overlap"))
    probes.select(col("pid"))
      .join(ov, Seq("pid"), "left")
      .select(col("pid"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .select(col("pid"), asLong(col("n_overlap")).as("overlap_at_10"),
        (floor(col("n_overlap").cast(DoubleType) /
          (lit(20) - col("n_overlap")).cast(DoubleType) * 1e4) / 1e4)
          .as("jaccard_at_10"))
      .orderBy("pid")
  }

  /** Rank-biased overlap between the cosine and dot rankings (§2.33):
    * the top-weighted rank-agreement metric (Webber et al.) that
    * sim_metric_agreement's flat overlap@10 approximates — RBO pays
    * more for agreeing at rank 1 than rank 10, which is what a
    * retrieval UI actually experiences. Truncated at depth 10 with
    * persistence p = 0.9: RBO₁₀ = Σ_d (1−p)p^(d−1)·(ov_d/d).
    * Exactness: the weights 0.1·0.9^(d−1) are FINITE-DECIMAL literals
    * inlined in both engines (the 1/d division happens separately in
    * the shared expression, since 1/7 has no finite form); ov_d folds
    * from the integer max(rank_c, rank_d) histogram; each depth term
    * floor-quantizes to BIGINT at 1e8 before the sum. Scale: the two
    * WindowGroupLimit-capped top-10s join panel-bounded; the depth
    * spine is 10 rows. */
  val simRboRankings: Q = (s, d) => {
    import s.implicits._
    def dotp(a: Column, b: Column): Column =
      aggregate(zip_with(transform(a, x => x.cast(DoubleType)),
        transform(b, x => x.cast(DoubleType)), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val scored = broadcast(probes).crossJoin(emb)
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id").as("cand"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("qc"),
        floor(dotp(col("pe"), col("embedding")) * 10000).cast(LongType).as("qd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wc = Window.partitionBy(col("pid")).orderBy(col("qc").desc, col("cand"))
    val wd = Window.partitionBy(col("pid")).orderBy(col("qd").desc, col("cand"))
    val tc = scored.withColumn("rc", row_number().over(wc)).filter(col("rc") <= 10)
      .select(col("pid"), col("cand"), col("rc"))
    val td = scored.withColumn("rd", row_number().over(wd)).filter(col("rd") <= 10)
      .select(col("pid"), col("cand"), col("rd"))
    val m = tc.join(td, Seq("pid", "cand"))
      .select(col("pid"), greatest(col("rc"), col("rd")).as("m"))
      .groupBy(col("pid"), col("m")).agg(count(lit(1)).as("cnt"))
    val wPow = Seq(0.1, 0.09, 0.081, 0.0729, 0.06561, 0.059049,
      0.0531441, 0.04782969, 0.043046721, 0.0387420489)
    val depths = (1 to 10).toDF("dep")
    val terms = m.crossJoin(broadcast(depths))
      .filter(col("m") <= col("dep"))
      .groupBy(col("pid"), col("dep")).agg(sum(col("cnt")).as("ov"))
      .select(col("pid"),
        floor((1 to 10).foldLeft(lit(0.0)) { (acc, dd) =>
          when(col("dep") === dd, lit(wPow(dd - 1)) * col("ov") / dd).otherwise(acc)
        } * 1e8).cast(LongType).as("tq"))
      .groupBy(col("pid")).agg(sum(col("tq")).as("rbo_q8"))
    probes.select(col("pid"))
      .join(terms, Seq("pid"), "left")
      .select(col("pid"),
        asLong(coalesce(col("rbo_q8"), lit(0L))).as("rbo_q8"),
        round(coalesce(col("rbo_q8"), lit(0L)).cast(DoubleType) / 1e8, 6).as("rbo"))
      .orderBy("pid")
  }

  /** Dimension-ablation ranking stability (§2.33): overlap@10 between
    * the cosine top-10 on the FULL 64-dim embedding and on its first
    * 32 dims — the "how many dims does the ranking actually need"
    * read before committing to dimensionality reduction
    * (sim_dim_variance measures where the mass is; this measures what
    * the RANKING loses). Both rankings quantized BIGINT with cand-id
    * ties; same panel-broadcast linear scan, two WindowGroupLimit
    * caps, panel-bounded overlap join. */
  val simDimAblationOverlap: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"))
    val scored = broadcast(probes).crossJoin(emb)
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id").as("cand"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("qf"),
        floor(graft.functions.CosineSimilarity.cosineSim(s,
            slice(col("pe"), 1, 32), slice(col("embedding"), 1, 32)) * 10000)
          .cast(LongType).as("qh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wf = Window.partitionBy(col("pid")).orderBy(col("qf").desc, col("cand"))
    val wh = Window.partitionBy(col("pid")).orderBy(col("qh").desc, col("cand"))
    val tf = scored.withColumn("r", row_number().over(wf)).filter(col("r") <= 10)
      .select(col("pid"), col("cand"))
    val th = scored.withColumn("r", row_number().over(wh)).filter(col("r") <= 10)
      .select(col("pid"), col("cand"))
    val ov = tf.join(th, Seq("pid", "cand"))
      .groupBy(col("pid")).agg(count(lit(1)).as("n_overlap"))
    probes.select(col("pid"))
      .join(ov, Seq("pid"), "left")
      .select(col("pid"),
        asLong(coalesce(col("n_overlap"), lit(0L))).as("overlap_at_10"),
        round(coalesce(col("n_overlap"), lit(0L)).cast(DoubleType) / 10.0, 2)
          .as("stability"))
      .orderBy("pid")
  }

  /** Triplet-margin violations (§2.31): the metric-learning health
    * check — for each anchor in the 30-probe panel, does the HARDEST
    * negative (max cosine among different-label candidates) come
    * within the 0.05 margin of the HARDEST positive (min cosine among
    * same-label candidates)? A violated anchor means the embedding
    * space cannot separate its class at that margin — the eval run
    * before trusting label-based retrieval (sim_knn_accuracy measures
    * average-case accuracy; this measures the worst case that
    * contrastive losses actually optimize). Exactness: similarities
    * floor-quantize to BIGINT; hardest-pos/neg are min/max over
    * integers; the margin is the INTEGER 500 (= 0.05·1e4); the
    * verdict compares BIGINTs. Scale: panel broadcast into ONE linear
    * corpus scan, conditional min/max map-combine per anchor. */
  val simTripletViolations: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plab"))
    val corpus = emb.filter(col("vec_id") >= 30)
    broadcast(probes).crossJoin(corpus)
      .select(col("pid"),
        (col("label") === col("plab")).as("pos"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("q"))
      .groupBy(col("pid"))
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
        min(when(col("pos"), col("q"))).as("minq"),
        max(when(!col("pos"), col("q"))).as("maxq"))
      .select(col("pid"), asLong(col("n_pos")).as("n_pos"),
        asLong(col("minq")).as("hardest_pos_q"),
        asLong(col("maxq")).as("hardest_neg_q"),
        (col("maxq") + 500 > col("minq")).as("violated_margin_005"))
      .orderBy("pid")
  }

  /** Monroe log-odds with Dirichlet prior (§2.30): the "Fightin'
    * Words" distinguishing-token ranking — which tokens mark the
    * 'en' slice against the rest of the corpus, z-scored so rare
    * tokens can't fake extremity the way raw PMI lets them (the same
    * evidence-calibration motive as text_collocation_llr, aimed at
    * GROUP CONTRAST instead of collocation). Uniform Dirichlet prior
    * α=1 per word (prior mass A = V): δ_w = ln((y₁+1)/(n₁+V−y₁−1)) −
    * ln((y₂+1)/(n₂+V−y₂−1)), σ² ≈ 1/(y₁+1)+1/(y₂+1), z = δ/σ. Every
    * ln/division takes exact-integer arguments (identical doubles
    * cross-engine), z floor-quantizes to BIGINT at 1e4 with word
    * ties, and the top-20 by |z| is TakeOrdered — never a vocab-wide
    * window (the Heaps-law rule). Scale: one token aggregate with
    * map-combined per-group counts; totals broadcast; top-20 =
    * TakeOrdered. */
  val textLogOdds: Q = (s, d) => {
    val f = table(s, d, "documents")
      .select((col("lang") === "en").as("g"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("g"), 1L).otherwise(0L)).as("y1"),
        sum(when(!col("g"), 1L).otherwise(0L)).as("y2"))
      .localCheckpoint(true)
    val tot = f.agg(sum(col("y1")).as("n1"), sum(col("y2")).as("n2"),
      count(lit(1)).as("v"))
    val dlt = log((col("y1") + 1).cast(DoubleType) /
        (col("n1") + col("v") - col("y1") - 1).cast(DoubleType)) -
      log((col("y2") + 1).cast(DoubleType) /
        (col("n2") + col("v") - col("y2") - 1).cast(DoubleType))
    val z = dlt / sqrt(lit(1.0) / (col("y1") + 1).cast(DoubleType) +
      lit(1.0) / (col("y2") + 1).cast(DoubleType))
    f.crossJoin(broadcast(tot))
      .select(col("w"), col("y1"), col("y2"),
        floor(z * 1e4).cast(LongType).as("zq"))
      .orderBy(abs(col("zq")).desc, col("w"))
      .limit(20)
      .select(col("w"), asLong(col("y1")).as("count_en"),
        asLong(col("y2")).as("count_rest"),
        (col("zq").cast(DoubleType) / 1e4).as("z_log_odds"))
  }

  /** NDCG@10 of the cosine ranking (§2.29): graded-relevance ranking
    * quality of retrieval — for each of 30 probe vectors, rank the
    * disjoint candidate corpus (vec_id ≥ 30) by cosine and score the
    * top-10 against binary label-match relevance with the standard
    * 1/log₂(rank+1) discount; ndcg = DCG/IDCG. This is the eval that
    * justifies a retrieval index beyond recall (sim_ann_recall) and
    * rank agreement (sim_metric_agreement): it weights WHERE the
    * relevant items land. Exactness: similarities floor-quantize to
    * BIGINT with cand-id ties (the panel recipe); the 10 discount
    * weights floor(1e6/log₂(i+1)) are INLINED AS INTEGER LITERALS in
    * both engines (no runtime log₂ anywhere), so DCG and IDCG are
    * pure BIGINT sums — IDCG via the literal prefix table at
    * min(10, n_rel) — and ndcg is one final division, round 6.
    * Scale: 30-probe panel broadcast into one linear scan,
    * WindowGroupLimit caps the top-10, per-label relevant counts are
    * a label-grain aggregate. */
  val simNdcgAt10: Q = (s, d) => {
    val w10 = Seq(1000000L, 630929L, 500000L, 430676L, 386852L,
      356207L, 333333L, 315464L, 301029L, 289064L)
    val prefix = w10.scanLeft(0L)(_ + _) // prefix(k) = ideal DCG of k rel
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plab"))
    val corpus = emb.filter(col("vec_id") >= 30)
    val scored = broadcast(probes).crossJoin(corpus)
      .select(col("pid"), col("plab"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("q"),
        col("vec_id").as("cand"),
        when(col("label") === col("plab"), 1L).otherwise(0L).as("rel"))
    val wR = Window.partitionBy(col("pid")).orderBy(col("q").desc, col("cand"))
    val weightOf = (1 to 10).foldLeft(lit(0L)) { (acc, i) =>
      when(col("r") === i, w10(i - 1)).otherwise(acc)
    }
    val dcg = scored.withColumn("r", row_number().over(wR))
      .filter(col("r") <= 10)
      .groupBy(col("pid")).agg(sum(col("rel") * weightOf).as("dcg_q6"))
    val relTot = corpus.groupBy(col("label")).agg(count(lit(1)).as("n_rel"))
    val idealOf = (1 to 10).foldLeft(lit(prefix(10))) { (acc, i) =>
      when(least(col("n_rel"), lit(10L)) === i - 1, prefix(i - 1)).otherwise(acc)
    }
    probes.select(col("pid"), col("plab"))
      .join(broadcast(relTot), col("plab") === col("label"))
      .join(dcg, Seq("pid"))
      .select(col("pid"), asLong(col("n_rel")).as("n_rel"),
        asLong(col("dcg_q6")).as("dcg_q6"),
        asLong(idealOf).as("idcg_q6"),
        round(col("dcg_q6").cast(DoubleType) / idealOf.cast(DoubleType), 6)
          .as("ndcg"))
      .orderBy("pid")
  }

  /** Hubness skew (§2.28): the k-occurrence distribution of a
    * 200-vector panel — how often each vector appears in the others'
    * 10-NN lists. High positive skew is THE high-dimensional
    * pathology that silently breaks kNN-based dedup/retrieval (a few
    * "hub" vectors match everything), so this is the diagnostic run
    * before trusting any kNN-derived signal. Exactness: panel²
    * similarities floor-quantize to BIGINT with cand-id ties; k-occ
    * counts are integers (zero-occurrence anti-hubs enter via the
    * left join), and the skewness m₃/m₂^1.5 is an IEEE expression on
    * exact integer power sums, floor-quantized at 1e4. Scale: the
    * panel bounds everything — 200² sims, one WindowGroupLimit,
    * integer moments over 200 rows. */
  val simHubnessSkew: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val panel = emb.filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val a = panel.toDF("pid", "pe")
    val scored = a.join(broadcast(panel.toDF("cand", "ce")),
        col("pid") =!= col("cand"))
      .select(col("pid"), col("cand"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("ce")) * 10000)
          .cast(LongType).as("q"))
    val w = Window.partitionBy(col("pid")).orderBy(col("q").desc, col("cand"))
    val occ = scored.withColumn("r", row_number().over(w))
      .filter(col("r") <= 10)
      .groupBy(col("cand")).agg(count(lit(1)).as("k"))
    val ko = panel.select(col("vec_id"))
      .join(occ, col("vec_id") === col("cand"), "left")
      .select(coalesce(col("k"), lit(0L)).as("k"))
    val st = ko.agg(count(lit(1)).as("n"), sum(col("k")).as("s1"),
      sum(col("k") * col("k")).as("s2"),
      sum(col("k") * col("k") * col("k")).as("s3"),
      max(col("k")).as("kmax"),
      sum(when(col("k") === 0, 1L).otherwise(0L)).as("zeros"),
      sum(when(col("k") >= 20, 1L).otherwise(0L)).as("hubs"))
    val nD = col("n").cast(DoubleType)
    val m1 = col("s1").cast(DoubleType) / nD
    val m2 = col("s2").cast(DoubleType) / nD - m1 * m1
    val m3 = col("s3").cast(DoubleType) / nD -
      lit(3.0) * m1 * (col("s2").cast(DoubleType) / nD) +
      lit(2.0) * m1 * m1 * m1
    st.select(asLong(col("n")).as("n_panel"), asLong(col("kmax")).as("max_occ"),
        asLong(col("zeros")).as("n_anti_hubs"), asLong(col("hubs")).as("n_hubs_2k"),
        (floor(m3 / sqrt(m2 * m2 * m2) * 1e4) / 1e4).as("skewness"))
  }

  /** MRR@10 of the cosine ranking (§2.41): per probe, the reciprocal
    * rank of the FIRST label-matching candidate inside the top-10 —
    * the navigational-retrieval metric next to sim_ndcg_at10's graded
    * read (NDCG rewards stacking relevants; MRR only asks how soon the
    * first one lands, which is what a RAG hit@1-ish consumer feels).
    * Same 30-probe protocol: disjoint candidates (vec_id ≥ 30),
    * cosine floor-quantized ×10⁴ with cand-id ties. rank is an exact
    * integer; rr_q6 = 1000000 div rank is pure integer arithmetic
    * (0 when no relevant lands in the top-10). Scale: the broadcast
    * probe panel turns scoring into ONE linear corpus scan;
    * WindowGroupLimit caps each probe's state at 10 rows. */
  val simMrrAt10: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plab"))
    val corpus = emb.filter(col("vec_id") >= 30)
    val scored = broadcast(probes).crossJoin(corpus)
      .select(col("pid"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("q"),
        col("vec_id").as("cand"),
        when(col("label") === col("plab"), 1L).otherwise(0L).as("rel"))
    val wR = Window.partitionBy(col("pid")).orderBy(col("q").desc, col("cand"))
    val top = scored.withColumn("r", row_number().over(wR))
      .filter(col("r") <= 10)
    val firstRel = top.filter(col("rel") === 1)
      .groupBy(col("pid")).agg(min(col("r")).as("r1"))
    probes.select(col("pid"))
      .join(broadcast(firstRel), Seq("pid"), "left")
      .select(col("pid"),
        asLong(coalesce(col("r1"), lit(0L))).as("first_rel_rank"),
        asLong(coalesce(floor(lit(1000000.0) / col("r1")), lit(0L)))
          .as("rr_q6"))
      .orderBy("pid")
  }

  /** MAP@10 of the cosine ranking (§2.41): mean-average-precision's
    * per-probe AP over the same 30-probe panel — the metric that
    * rewards EVERY relevant placement (precision@i summed at each
    * relevant rank i, normalized by min(n_rel, 10)), completing the
    * retrieval-eval triad ndcg (graded) / mrr (first hit) / map (all
    * hits). Exactness: the standard quantization recipe — each
    * precision term floor(1e6·cumrel / i) and the final
    * floor(sum_prec_q6 / min(n_rel,10)) are SINGLE deterministic
    * IEEE-double divisions on small exact integers (magnitudes far
    * below 2^53, so both engines round identically); the sums between
    * them are BIGINT. Scale: identical shape to
    * sim_ndcg_at10 — broadcast panel, one linear scan,
    * WindowGroupLimit top-10, label-grain relevant totals. */
  val simMapAt10: Q = (s, d) => {
    val emb = table(s, d, "embeddings")
    val probes = emb.filter(col("vec_id") < 30)
      .select(col("vec_id").as("pid"), col("embedding").as("pe"),
        col("label").as("plab"))
    val corpus = emb.filter(col("vec_id") >= 30)
    val scored = broadcast(probes).crossJoin(corpus)
      .select(col("pid"), col("plab"),
        floor(graft.functions.CosineSimilarity.cosineSim(s, col("pe"), col("embedding")) * 10000)
          .cast(LongType).as("q"),
        col("vec_id").as("cand"),
        when(col("label") === col("plab"), 1L).otherwise(0L).as("rel"))
    val wR = Window.partitionBy(col("pid")).orderBy(col("q").desc, col("cand"))
    val top = scored.withColumn("r", row_number().over(wR))
      .filter(col("r") <= 10)
      .withColumn("cumrel", sum(col("rel")).over(
        wR.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // precision@i at each relevant rank, exact: 1e6·cumrel div i
    val apNum = top.filter(col("rel") === 1)
      .groupBy(col("pid"))
      .agg(sum(floor(lit(1000000L) * col("cumrel") / col("r")).cast(LongType))
        .as("sum_prec_q6"),
        count(lit(1)).as("rel_in_top10"))
    val relTot = corpus.groupBy(col("label")).agg(count(lit(1)).as("n_rel"))
    probes.select(col("pid"), col("plab"))
      .join(broadcast(relTot), col("plab") === col("label"))
      .join(broadcast(apNum), Seq("pid"), "left")
      .select(col("pid"),
        asLong(least(col("n_rel"), lit(10L))).as("ap_denom"),
        asLong(coalesce(col("rel_in_top10"), lit(0L))).as("rel_in_top10"),
        asLong(coalesce(
          floor(col("sum_prec_q6").cast(DoubleType) /
            least(col("n_rel"), lit(10L))), lit(0L))).as("ap_q6"))
      .orderBy("pid")
  }

  /** Burrows' Delta (§2.43): the classic stylometric distance between
    * sources — z-score each source's relative frequency of the top-20
    * corpus words against the across-source distribution, Delta(a,b) =
    * mean |z_a − z_b|; the authorship/provenance signal next to
    * pipeline_js_divergence's token-distribution read (Delta weights
    * FUNCTION-word deviations equally; JS is mass-weighted). Reported:
    * the 10 closest source pairs — candidates for "same upstream
    * generator wearing two source labels". Exactness: per-(source,
    * word) freqs quantize to ppm BIGINT (cnt·1e6 div tokens); word
    * mean/var are exact integer sums over the source panel; z floors
    * at 1e4 on identical doubles (zero-variance words contribute 0);
    * Delta = Σ|z_a − z_b| div 20, pure integers. Scale: ONE token
    * scan (top-20 = TakeOrdered on the vocab relation); everything
    * after lives on the |sources|×20 bounded grid. */
  val textBurrowsDelta: Q = (s, d) => {
    // round 16: ONE map-combined (source, word) aggregate replaces the
    // old persisted token-grain relation and its three full rescans
    // (top-20 count, per-source totals, per-(source, top-word) counts
    // all fold off the bounded |sources|×vocab count relation — same
    // exact integers, 3.6 → ~1.5 CPU-s at sf0.1).
    val cw = table(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // three consumers of the bounded relation
    val top = cw.groupBy(col("w")).agg(sum(col("c")).as("cnt"))
      .orderBy(col("cnt").desc, col("w")).limit(20)
      .select(col("w").as("tw"))
    val srcTot = cw.groupBy(col("source")).agg(sum(col("c")).as("tot"))
    val csw = cw.join(broadcast(top), col("w") === col("tw"))
      .select(col("source").as("csrc"), col("w"), col("c"))
    // bounded grid: |sources| × 20, zero-filled
    val grid = srcTot.crossJoin(broadcast(top))
      .join(csw, col("w") === col("tw") &&
        col("csrc") === col("source"), "left")
      .select(col("source").as("src"), col("tw"),
        expr("(coalesce(c, 0) * 1000000) div tot").as("fq"))
    val stats = grid.groupBy(col("tw"))
      .agg(count(lit(1)).as("ns"), sum(col("fq")).as("sf"),
        sum(col("fq") * col("fq")).as("sff"))
    val nsD = col("ns").cast(DoubleType)
    val meanD = col("sf").cast(DoubleType) / nsD
    val varNum = col("ns") * col("sff") - col("sf") * col("sf")
    val sdD = sqrt(varNum.cast(DoubleType) / (nsD * (nsD - 1.0)))
    val zed = grid.join(broadcast(stats), Seq("tw"))
      .select(col("src"), col("tw"),
        when(varNum > 0,
          floor((col("fq").cast(DoubleType) - meanD) / sdD * 1e4))
          .otherwise(0L).cast(LongType).as("zq"))
    val pairs = zed.toDF("s1", "w1", "z1")
      .join(zed.toDF("s2", "w2", "z2"),
        col("w1") === col("w2") && col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2"))
      .agg(sum(abs(col("z1") - col("z2"))).as("sad"), count(lit(1)).as("nw"))
    pairs.select(col("s1"), col("s2"),
        expr("sad div nw").as("delta_q4"))
      .orderBy(col("delta_q4"), col("s1"), col("s2"))
      .limit(10)
  }

  /** Yule's characteristic K (§2.48): per-language lexical
    * concentration — K = 10⁴·(Σ_f f²·V_f − N)/N², the repeat-rate
    * statistic that is SAMPLE-SIZE INVARIANT where raw TTR is not
    * (ttr/hapax_ratio fall mechanically with corpus growth; K stays
    * put unless the vocabulary's concentration actually changes — the
    * drift readout for "did this source's crawl get template-heavier").
    * Exactness: Σf² and N are exact integers; K is ONE integer
    * division in DECIMAL(38,0) ↔ HUGEINT, reported q4. Scale: token
    * explode → (lang, token) counts → per-lang map-combined reduce;
    * fully linear, the word-count shape. */
  val textYuleK: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val freq = table(s, d, "documents")
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("f"))
    freq.groupBy(col("lang"))
      .agg(sum(col("f")).as("nt"), count(lit(1)).as("vocab"),
        sum(col("f").cast(dec38) * col("f")).as("s2d"))
      .select(col("lang"), asLong(col("nt")).as("n_tokens"),
        asLong(col("vocab")).as("vocab"), asLong(col("s2d")).as("s2"),
        asLong(expr(
          "((s2d - nt) * 100000000) div (cast(nt as decimal(38,0)) * nt)"))
          .as("yule_k_q4"))
      .orderBy("lang")
  }

}
