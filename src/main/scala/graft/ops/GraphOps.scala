package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Graph operators over the strong co-purchase graph (SURVEY.md §2.8)
  * — naqed's arbitrary-depth relation traversal re-expressed as
  * DataFrame join iteration with FIXED iteration counts so both engines
  * compute the identical partial fixpoint.
  *
  * The graph (Tables.edges) is built once per sfDir and persisted; all
  * six queries share it. Iterations are plain Scala loops over
  * DataFrames (Pregel-unrolled); at 100 TB these would add
  * localCheckpoint() per round to cut lineage, and GraphX Pregel is the
  * drop-in alternative — kept out of the oracle set because its float
  * summation order is not bit-stable cross-engine (SURVEY §2.8).
  */
object GraphOps {

  private def maxDegreeNode(ud: DataFrame): Long =
    ud.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("s"))
      .limit(1).collect()(0).getLong(0)

  val graphDegree: Q = (s, d) =>
    Tables.ud(s, d)
      .groupBy(col("s").as("node"))
      .agg(count(lit(1)).as("degree"), sum(lit(0)).as("pad"))
      .orderBy(col("degree").desc, col("node"))
      .limit(50)

  val graph2hop: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val start = maxDegreeNode(ud)
    val h1 = ud.filter(col("s") === start).select(col("t").as("v")).distinct()
    val h2 = ud.as("u").join(h1.as("h"), col("u.s") === col("h.v"))
      .select(col("u.t").as("v")).distinct()
      .filter(col("v") =!= start)
      .join(h1, Seq("v"), "left_anti")
    h1.select(lit(1).as("hop"), col("v"))
      .unionAll(h2.select(lit(2).as("hop"), col("v")))
      .orderBy("hop", "v")
  }

  val graphTriangles: Q = (s, d) => {
    val e = Tables.edges(s, d)._1
    e.as("e1")
      .join(e.as("e2"), col("e2.s") === col("e1.t"))
      .join(e.as("e3"), col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** One min-label-propagation round over the self-looped edge set
    * (shared with Pipelines.dedupClusters — one implementation of the
    * step, two label-prop users). */
  private[ops] def ccStep(ud2: DataFrame)(l: DataFrame): DataFrame =
    ud2.as("e").join(l.as("l"), col("l.v") === col("e.t"))
      .groupBy(col("e.s").as("v"))
      .agg(min(col("l.lbl")).as("lbl"))

  /** Self-looped undirected edges + persisted node set (the self-loop
    * keeps a node's own label in the min). n0 is a distinct shuffle
    * referenced every round — persisting it is what keeps k-round
    * label-prop at k shuffles instead of 2k. */
  private def ccInputs(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ud = Tables.ud(s, d)
    val n0 = ud.select(col("s").as("v")).union(ud.select(col("t").as("v")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ud2 = ud.select(col("s"), col("t"))
      .unionAll(n0.select(col("v").as("s"), col("v").as("t")))
    (n0, ud2)
  }

  /** Min-label propagation, exactly 4 rounds (oracle-fixed partial
    * fixpoint) through Iterate.fixed; Iterate.converge is the
    * run-to-fixpoint path (asserted equal to GraphX CC in the suite).
    */
  val graphCcLabelprop: Q = (s, d) => {
    val (n0, ud2) = ccInputs(s, d)
    Iterate.fixed(n0.select(col("v"), col("v").as("lbl")), 4)(ccStep(ud2))
      .groupBy(col("lbl").as("component_label"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("component_label"))
      .limit(50)
  }

  /** Label-prop to the true fixpoint (non-oracle API; GraphX twin
    * asserted equivalent in GraphXSpec). */
  def ccConverged(s: SparkSession, d: String, maxRounds: Int = 50): DataFrame = {
    val (n0, ud2) = ccInputs(s, d)
    Iterate.converge(n0.select(col("v"), col("v").as("lbl")), maxRounds)(ccStep(ud2))
  }

  /** BFS min-depth <= 3: per-level distinct frontiers unioned, then
    * min(depth) — identical to the oracle's WITH RECURSIVE partial
    * fixpoint. */
  val graphBfs3hop: Q = (s, d) => {
    val spark = s
    val ud = Tables.ud(s, d)
    val start = maxDegreeNode(ud)
    val l0 = spark.range(1).select(lit(start).as("v"), lit(0).as("depth"))
    var frontier = l0.select(col("v"))
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](l0)
    for (depth <- 1 to 3) {
      frontier = ud.as("u").join(frontier.as("f"), col("u.s") === col("f.v"))
        .select(col("u.t").as("v")).distinct()
      levels += frontier.withColumn("depth", lit(depth))
    }
    levels.reduce(_ unionAll _)
      .groupBy(col("v")).agg(min(col("depth")).as("depth"))
      .orderBy("depth", "v")
  }

  /** Arbitrary-depth reachability (naqed's unbounded traversal as a
    * first-class API): min-hop depths from `start`, run to the true
    * fixpoint (or `maxRounds`) through Iterate.converge — per-round
    * localCheckpoint, row-delta stop. graph_bfs_3hop is the oracle's
    * fixed-depth prefix of this (asserted in GraphXSpec). */
  def reachable(s: SparkSession, d: String, start: Long, maxRounds: Int = 50): DataFrame = {
    val ud = Tables.ud(s, d)
    val init = s.range(1).select(lit(start).as("v"), lit(0).as("depth"))
    Iterate.converge(init, maxRounds) { vis =>
      vis.unionAll(
        ud.as("u").join(vis.as("f"), col("u.s") === col("f.v"))
          .select(col("u.t").as("v"), (col("f.depth") + 1).as("depth")))
        .groupBy(col("v")).agg(min(col("depth")).as("depth"))
    }
  }

  /** PageRank, damping 0.85, exactly 3 iterations. Per-edge
    * contributions are cast to DECIMAL(28,15) before summing
    * ("decimal-stabilized float aggregation", SURVEY §5.3) so the
    * summation order cannot diverge between engines. */
  val graphPagerank3: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // n0 (distinct) and deg (groupBy) are each referenced every
    // iteration — persist both so 3 rounds cost 3 shuffles, not 9
    val n0 = ud.select(col("s").as("v")).union(ud.select(col("t").as("v")))
      .distinct().persist(lvl)
    val deg = ud.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
      .persist(lvl)
    val nCount = n0.count()
    val base = 0.15 / nCount
    val init = n0.select(col("v"), lit(1.0 / nCount).as("pr"))
    Iterate.fixed(init, 3) { p =>
      n0.as("n")
        .join(ud.as("u"), col("u.t") === col("n.v"), "left")
        .join(p.as("p"), col("p.v") === col("u.s"), "left")
        .join(deg.as("g"), col("g.v") === col("u.s"), "left")
        .groupBy(col("n.v").as("v"))
        .agg((lit(base) + lit(0.85) *
          coalesce(sum((col("p.pr") / col("g.deg")).cast(D28_15)), lit(0))
            .cast(DoubleType)).as("pr"))
    }
      .select(col("v").as("node"), round(col("pr"), 8).as("pagerank"))
      .orderBy(col("pagerank").desc, col("node"))
      .limit(30)
  }

  /** Structural node similarity (round 3): neighbor-set Jaccard over
    * the strong graph. Common-neighbor counts come from ONE 2-path
    * equi-join on the shared-neighbor key (the wedge join — linear in
    * wedges, the standard formulation; no node×node cartesian), then
    * two broadcast-size degree joins. jaccard >= 0.2 keeps the output
    * the sparse similar-pair set at every SF (a raw common-count floor
    * degenerates to empty on the sparser sf0.1 strong graph). */
  val graphJaccardNeighbors: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val deg = ud.groupBy(col("s").as("node")).agg(count(lit(1)).as("deg"))
    val common = ud.select(col("s").as("a"), col("t").as("x"))
      .join(ud.select(col("s").as("b"), col("t").as("x")), Seq("x"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    common
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .withColumn("jac_raw",
        col("common") / (col("da") + col("db") - col("common")))
      .filter(col("jac_raw") >= 0.2)
      .select(col("a"), col("b"), col("common"),
        round(col("jac_raw"), 4).as("jac"))
      .orderBy("a", "b")
  }

  /** Adamic-Adar node similarity (r6): Σ 1/ln(deg(z)) over the
    * common neighbors z of each pair — the link-prediction companion
    * to neighbor Jaccard that discounts promiscuous hubs. Same wedge
    * join (linear in wedges, never node×node); the per-CENTER score
    * 1/ln(deg) is computed once per node on the degree relation,
    * rounded at 6 and DECIMAL-summed per pair so both engines add
    * identical operands (a wedge center always has deg ≥ 2, so ln is
    * never 0). Top-100 is total-ordered (score desc, a, b); no
    * common-count floor — the sparse sf0.1 strong graph has almost no
    * multi-wedge pairs (the degenerate-to-empty trap jaccard's 0.2
    * ratio threshold dodges). */
  val graphAdamicAdar: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val sc = ud.groupBy(col("s").as("x")).agg(count(lit(1)).as("dx"))
      // a wedge center always has deg >= 2, but deg-1 nodes exist in
      // the RELATION and ANSI mode evaluates 1/ln(1) before the join
      // would drop them — filter first (no semantic change)
      .filter(col("dx") >= 2)
      .select(col("x"),
        round(lit(1.0) / log(col("dx").cast(DoubleType)), 6)
          .cast(DecimalType(18, 6)).as("sc"))
    ud.select(col("s").as("a"), col("t").as("x"))
      .join(ud.select(col("s").as("b"), col("t").as("x")), Seq("x"))
      .filter(col("a") < col("b"))
      .join(sc, Seq("x"))
      .groupBy(col("a"), col("b"))
      .agg(asLong(count(lit(1))).as("common"), sum(col("sc")).as("aa"))
      .select(col("a"), col("b"), col("common"),
        round(col("aa").cast(DoubleType), 4).as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(100)
  }

  /** 3 rounds of 3-core pruning (iterative deletion — the OTHER
    * iterative graph shape: state shrinks instead of propagating):
    * each round drops nodes with degree < 3 and every edge touching
    * them, through Iterate.fixed so rounds persist and the plan stays
    * lazy/oracle-composable. True k-core runs the same step to
    * convergence (Iterate.converge); 3 rounds is the oracle-fixed
    * partial fixpoint, like graph_cc_labelprop's 4. One shuffle per
    * round on the node key. */
  val graphKcore3: Q = (s, d) =>
    Iterate.fixed(Tables.ud(s, d), 3) { ud =>
      val keep = ud.groupBy(col("s")).agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= 3).select(col("s").as("k"))
      ud.join(keep, col("s") === col("k"), "left_semi")
        .join(keep, col("t") === col("k"), "left_semi")
    }
      .groupBy(col("s").as("node"))
      .agg(asLong(count(lit(1))).as("degree"))
      .orderBy("node")

  /** Local clustering coefficient (§2.8, r6): for each node with
    * degree >= 2, the fraction of its neighbor pairs that are
    * themselves connected — closed wedges / possible wedges. The
    * neighbor-pair join keys on the node (uniform, no hot key) and
    * the closing edge is an equi-join against the undirected edge
    * set; all-integer counts, one double division at the end. */
  val graphClusteringCoeff: Q = (s, d) => {
    val ud = Tables.ud(s, d).select(col("s"), col("t"))
    val deg = ud.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
    val closed = ud.toDF("v", "a")
      .join(ud.toDF("v2", "b"), col("v") === col("v2") && col("a") < col("b"))
      .join(ud.toDF("ea", "eb"), col("ea") === col("a") && col("eb") === col("b"))
      .groupBy(col("v")).agg(count(lit(1)).as("wedges_closed"))
    deg.join(closed, Seq("v"), "left").na.fill(0L, Seq("wedges_closed"))
      .filter(col("deg") >= 2)
      .select(col("v").as("node"), asLong(col("deg")).as("degree"),
        asLong(col("wedges_closed")).as("wedges_closed"),
        round(col("wedges_closed") * lit(2.0) / (col("deg") * (col("deg") - lit(1))), 4)
          .as("clustering"))
      .orderBy("node")
  }

  /** Degree assortativity (§2.8, r6): Pearson correlation of endpoint
    * degrees over every directed edge occurrence — the one-number
    * summary of hub-hub vs hub-leaf wiring. All power sums (n, Σdx,
    * Σdy, Σdxdy, Σdx², Σdy²) are exact BIGINTs, so the final corr is
    * an identical IEEE tree in both engines (DuckDB's HUGEINT sums
    * equal Spark's LONGs at these magnitudes). Scale: one degree
    * aggregate + two equi-joins on the edge endpoints, then a
    * single-row global agg; no per-node iteration. */
  val graphAssortativity: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val deg = ud.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
    val pairs = ud
      .join(deg.select(col("v").as("s"), col("deg").as("dx")), "s")
      .join(deg.select(col("v").as("t"), col("deg").as("dy")), "t")
    pairs.agg(count(lit(1)).as("n"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sx2"),
        sum(col("dy") * col("dy")).as("sy2"))
      .select(asLong(col("n")).as("n_pairs"),
        when(col("n") * col("sx2") - col("sx") * col("sx") > 0 &&
             col("n") * col("sy2") - col("sy") * col("sy") > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType) /
            (sqrt((col("n") * col("sx2") - col("sx") * col("sx")).cast(DoubleType)) *
             sqrt((col("n") * col("sy2") - col("sy") * col("sy")).cast(DoubleType))), 6))
          .as("assortativity"))
  }

  /** Edge-weight distribution (§2.8, r7): how many strong edges exist
    * at each co-purchase multiplicity — the companion telemetry to the
    * degree octaves (degree says how connected nodes are; weight says
    * how REPEATED the relationships are, which decides whether the
    * w>=2 strong-graph threshold is load-bearing at a given SF).
    * share divides exact BIGINTs. Scale: one map-combined group-by
    * over EDGES; output bounded by max multiplicity (~tens). */
  val graphEdgeWeightDistribution: Q = (s, d) => {
    val e = Tables.edges(s, d)._1
    val tot = e.agg(count(lit(1)).as("tot_edges"))
    e.groupBy(col("w"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(asLong(col("w")).as("weight"), asLong(col("n")).as("n_edges"),
        round(col("n").cast(DoubleType) / col("tot_edges"), 6).as("share"))
      .orderBy("weight")
  }

  /** Degree distribution in power-of-two buckets (§2.8, r7): node
    * counts per degree octave — the one-glance scale-free-ness /
    * hub-structure telemetry read before choosing a partitioning or
    * skew strategy for any traversal. Buckets are pure integer CASE
    * comparisons (no floating log2 whose exact-power boundary could
    * round differently across engines). Scale: runs on the degree
    * aggregate — one map-combined group-by over EDGES, output bounded
    * by ~64 buckets at any conceivable SF. */
  /** Average-neighbor-degree curve knn(k) (§2.18d): for nodes of each
    * degree k, the mean of their neighbors' mean degree — the FULL
    * mixing profile that graph_assortativity collapses to one
    * coefficient (rising = assortative hubs-with-hubs). Because deg(s)
    * is constant within a k-group, avg_s(S_s/k) = ΣS_s/(n_k·k) — the
    * whole statistic reduces to exact integer sums and ONE division,
    * no double accumulation anywhere. Scale: two joins over the
    * sparse strong graph, output bounded by the degree keyspace. */
  val graphAvgNeighborDegree: Q = (s, d) => {
    val deg = Tables.ud(s, d).groupBy(col("s").as("v"))
      .agg(count(lit(1)).as("deg"))
    Tables.ud(s, d)
      .join(deg.select(col("v").as("s"), col("deg").as("deg_s")), Seq("s"))
      .join(deg.select(col("v").as("t"), col("deg").as("deg_t")), Seq("t"))
      .groupBy(col("deg_s").as("k"))
      .agg(countDistinct(col("s")).as("n_nodes"),
        sum(col("deg_t")).as("sum_nbr_deg"))
      .select(asLong(col("k")).as("k"), asLong(col("n_nodes")).as("n_nodes"),
        round(col("sum_nbr_deg").cast(DoubleType) /
          (col("n_nodes") * col("k")).cast(DoubleType), 6).as("avg_nbr_deg"))
      .orderBy("k")
  }

  val graphDegreeDistribution: Q = (s, d) => {
    val deg = Tables.ud(s, d).groupBy(col("s").as("v"))
      .agg(count(lit(1)).as("deg"))
    // octave index = floor(log2(deg)) via integer thresholds
    val bucket = (1 to 20).foldLeft(lit(0)) { (acc, b) =>
      when(col("deg") >= math.pow(2, b).toLong, b).otherwise(acc)
    }
    deg.select(col("v"), col("deg"), bucket.as("octave"))
      .groupBy(col("octave"))
      .agg(asLong(count(lit(1))).as("n_nodes"),
        asLong(min(col("deg"))).as("min_deg"),
        asLong(max(col("deg"))).as("max_deg"))
      .orderBy("octave")
  }

  /** Triangle-participation histogram (§2.18, r8): how many triangles
    * each node sits in, histogrammed — the local-clustering SHAPE the
    * single triangle count (graph_triangles) collapses; hub-and-spoke
    * vs clique-rich graphs separate instantly here. Same canonical
    * s<t<u enumeration as graph_triangles (each triangle counted
    * once), each contributing its three corners; nodes in zero
    * triangles have no row (by construction, same in the oracle).
    * Scale: two broadcast-able joins over the sparse strong graph. */
  val graphTriangleParticipation: Q = (s, d) => {
    val e = Tables.edges(s, d)._1
    val tris = e.as("e1")
      .join(e.as("e2"), col("e2.s") === col("e1.t"))
      .join(e.as("e3"), col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    tris.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v"))
      .agg(count(lit(1)).as("n_tri"))
      .groupBy(col("n_tri"))
      .agg(asLong(count(lit(1))).as("n_nodes"))
      .select(asLong(col("n_tri")).as("n_triangles"), col("n_nodes"))
      .orderBy("n_triangles")
  }

  /** k-core decomposition summary (§2.18f): surviving nodes/edges and
    * the residual minimum degree of the fixed-round k-core for
    * k ∈ {2..5} — the nested-shell profile whose single k=3 shell
    * graph_kcore3 reports per-node (graph_rich_club slices by RAW
    * degree; cores re-check degree after every peel). Each core runs
    * the same 3-round partial-fixpoint peel as graph_kcore3 — fixed
    * rounds, so both engines compute the identical partial fixpoint —
    * and the four peels are independent (no cross-k iteration). Scale:
    * 3 shuffles per k on the node key over the sparse strong graph,
    * exactly kcore3 × 4. */
  val graphCoreDecomposition: Q = (s, d) => {
    // round 17 (guide §2.4 + §5): (a) the first peel round's degree
    // aggregate is IDENTICAL for all four k — only the filter threshold
    // differs — so it is computed ONCE and checkpointed (3 of the 4
    // full-graph degree aggregates gone); (b) one localCheckpoint after
    // round 2 of each peel truncates the unrolled 3-round lineage that
    // had grown the executed plan to ~16,700 lines (planning/codegen
    // cost, the round-16 verdict hazard). Results are bit-identical:
    // checkpointing changes no row, and round 1 via deg1 IS the old
    // round-1 step over the full graph.
    val ud = Tables.ud(s, d)
    val deg1 = ud.groupBy(col("s")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val summaries = (2 to 5).map { k =>
      def step(g: DataFrame): DataFrame = {
        val keep = g.groupBy(col("s")).agg(count(lit(1)).as("dg"))
          .filter(col("dg") >= k).select(col("s").as("kk"))
        g.join(keep, col("s") === col("kk"), "left_semi")
          .join(keep, col("t") === col("kk"), "left_semi")
      }
      val keep1 = deg1.filter(col("dg") >= k).select(col("s").as("kk"))
      val r1 = ud.join(keep1, col("s") === col("kk"), "left_semi")
        .join(keep1, col("t") === col("kk"), "left_semi")
        .persist(lvl)
      val r2 = step(r1).localCheckpoint(true)
      val core = step(r2).persist(lvl)
      core.groupBy(col("s")).agg(count(lit(1)).as("dg"))
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_nodes"),
          coalesce(sum(col("dg")), lit(0L)).as("deg_sum"),
          coalesce(min(col("dg")), lit(0L)).as("min_deg"))
        .select(lit(k.toLong).as("k"), asLong(col("n_nodes")).as("n_nodes"),
          asLong(expr("deg_sum div 2")).as("n_edges"),
          asLong(col("min_deg")).as("min_residual_deg"))
    }
    summaries.reduce(_ unionAll _).orderBy("k")
  }

  /** Brand homophily of the co-purchase graph (§2.18h): do parts of
    * the same brand co-purchase more than a degree-preserving null
    * expects? Observed same-brand edge share vs expected Σ_b a_b²
    * (a_b = brand b's degree share), plus Newman's categorical
    * assortativity Q = (obs − exp)/(1 − exp) — the attribute-mixing
    * twin of graph_assortativity's degree mixing. Counts exact; the
    * ≤|brands| a_b² terms floor-quantize at 1e12 before the bounded
    * sum. Scale: two broadcast dim joins (part is the dimension) +
    * one degree aggregate over the sparse strong graph. */
  val graphBrandHomophily: Q = (s, d) => {
    val brands = Tables(s, d, "part")
      .select(col("p_partkey"), col("p_brand"))
    val e = Tables.edges(s, d)._1
    val withB = e
      .join(broadcast(brands.toDF("k1", "b1")), col("s") === col("k1"))
      .join(broadcast(brands.toDF("k2", "b2")), col("t") === col("k2"))
    val obs = withB.agg(count(lit(1)).as("n_edges"),
      sum(when(col("b1") === col("b2"), 1L).otherwise(0L)).as("same"))
    val degB = Tables.ud(s, d)
      .join(broadcast(brands.toDF("k1", "b")), col("s") === col("k1"))
      .groupBy(col("b")).agg(count(lit(1)).as("db"))
    val totDeg = degB.agg(sum(col("db")).as("m2"))
    val exp2 = degB.crossJoin(broadcast(totDeg))
      .agg(sum(floor(col("db").cast(DoubleType) / col("m2") *
        (col("db").cast(DoubleType) / col("m2")) * 1e12).cast(LongType)).as("qexp"))
    val obsShare = col("same").cast(DoubleType) / col("n_edges")
    val expShare = col("qexp").cast(DoubleType) / 1e12
    obs.crossJoin(broadcast(exp2))
      .select(asLong(col("n_edges")).as("n_edges"),
        asLong(col("same")).as("same_brand_edges"),
        round(obsShare, 6).as("observed_share"),
        round(expShare, 6).as("expected_share"),
        round((obsShare - expShare) / (lit(1.0) - expShare), 6)
          .as("assortativity_q"))
  }

  /** Global transitivity (§2.18g): 3·triangles / wedges — the ONE
    * clustering number for the whole graph (graph_clustering_coeff
    * averages the per-node ratio, which weights leaves and hubs
    * equally; transitivity weights by wedge count — the two diverge
    * exactly when clustering concentrates in hubs). Wedges are
    * Σ deg·(deg−1)/2 over the degree relation; triangles reuse the
    * canonical s<t<u enumeration. All-integer counts, one division.
    * Scale: one degree aggregate + the triangle join over the sparse
    * strong graph. */
  val graphTransitivity: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val e = Tables.edges(s, d)._1
    val degs = ud.groupBy(col("s")).agg(count(lit(1)).as("dg"))
    val wedges = degs.agg(count(lit(1)).as("n_nodes"),
      sum(expr("dg * (dg - 1) div 2")).as("wedges"))
    val tris = e.as("e1")
      .join(e.as("e2"), col("e2.s") === col("e1.t"))
      .join(e.as("e3"), col("e3.s") === col("e1.s") && col("e3.t") === col("e2.t"))
      .agg(count(lit(1)).as("triangles"))
    val ne = e.agg(count(lit(1)).as("n_edges"))
    wedges.crossJoin(broadcast(tris)).crossJoin(broadcast(ne))
      .select(asLong(col("n_nodes")).as("n_nodes"),
        asLong(col("n_edges")).as("n_edges"),
        asLong(col("wedges")).as("wedges"),
        asLong(col("triangles")).as("triangles"),
        round(lit(3.0) * col("triangles").cast(DoubleType) /
          col("wedges").cast(DoubleType), 6).as("transitivity"))
  }

  /** Rich-club coefficient curve (§2.18e): for each degree threshold
    * k, the edge density φ(k) = 2·E_k / (N_k·(N_k−1)) among nodes of
    * degree ≥ k — do the hubs form their own club
    * (graph_assortativity asks the same question as one correlation;
    * graph_avg_neighbor_degree as a mixing curve)? Exact integer
    * counts into one division per k. Scale: the degree and
    * min-endpoint-degree relations are histogrammed first (bounded by
    * max degree), so the 4-threshold expansion crosses bounded
    * relations — the strong edge set is scanned once. */
  val graphRichClub: Q = (s, d) => {
    val spark = s
    import spark.implicits._
    val e = Tables.edges(s, d)._1
    val deg = Tables.ud(s, d)
      .groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
    val degHist = deg.groupBy(col("deg")).agg(count(lit(1)).as("nv"))
    val minDegHist = e
      .join(deg.toDF("v1", "dg1"), col("s") === col("v1"))
      .join(deg.toDF("v2", "dg2"), col("t") === col("v2"))
      .select(least(col("dg1"), col("dg2")).as("mindeg"))
      .groupBy(col("mindeg")).agg(count(lit(1)).as("ne"))
    val ks = Seq(2L, 3L, 4L, 5L).toDF("k")
    val nk = degHist.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(sum(when(col("deg") >= col("k"), col("nv")).otherwise(0L)).as("n_nodes"))
    val ek = minDegHist.crossJoin(broadcast(ks))
      .groupBy(col("k"))
      .agg(sum(when(col("mindeg") >= col("k"), col("ne")).otherwise(0L)).as("n_edges"))
    nk.join(ek, "k")
      .select(asLong(col("k")).as("k"), asLong(col("n_nodes")).as("n_nodes"),
        asLong(col("n_edges")).as("n_edges"),
        round(lit(2.0) * col("n_edges").cast(DoubleType) /
          (col("n_nodes").cast(DoubleType) *
            (col("n_nodes").cast(DoubleType) - 1.0)), 6).as("phi"))
      .orderBy("k")
  }

  /** Ego-network density of the top-10 hubs (§2.22): for each highest-
    * degree node, the share of realized edges among its neighbors —
    * the local-cohesion read that separates a hub bridging many
    * otherwise-unconnected parts (broker, density→0) from one inside
    * a tight community (density→1); the per-hub drill-down that
    * graph_clustering_coeff averages away. Ego edges = edges (a,b)
    * with both endpoints adjacent to the hub — counted by joining the
    * hub's neighbor list twice against the canonical edge relation,
    * so cost is bounded by Σ_hub deg² over 10 hubs, never all-pairs.
    * Density = 2·ego/(d·(d−1)) divides once at output. Scale: degrees
    * map-combine over the persisted undirected relation; the 10-row
    * hub relation broadcasts into both neighbor joins. */
  val graphEgoDensity: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val e = Tables.edges(s, d)._1
    val deg = ud.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
    val hubs = deg.orderBy(col("deg").desc, col("v")).limit(10)
    val nbr = broadcast(hubs).join(ud, col("v") === col("s"))
      .select(col("v"), col("t").as("n"))
    val ego = nbr.toDF("v", "n1")
      .join(nbr.toDF("v2", "n2"), col("v") === col("v2") && col("n2") > col("n1"))
      .join(e, col("s") === col("n1") && col("t") === col("n2"))
      .groupBy(col("v")).agg(count(lit(1)).as("ego_edges"))
    hubs.join(ego, Seq("v"), "left")
      .select(asLong(col("v")).as("v"), asLong(col("deg")).as("deg"),
        asLong(coalesce(col("ego_edges"), lit(0L))).as("ego_edges"),
        round(lit(2.0) * coalesce(col("ego_edges"), lit(0L)).cast(DoubleType) /
          (col("deg").cast(DoubleType) * (col("deg").cast(DoubleType) - 1.0)), 4)
          .as("density"))
      .orderBy(col("deg").desc, col("v"))
  }

  /** Weighted PageRank, damping 0.85, exactly 3 iterations (§2.19):
    * graph_pagerank3 treats every co-order edge equally; this spreads
    * rank proportional to EDGE WEIGHT (co-order count) over weighted
    * out-strength — the centrality that tells a 100×-repeated pairing
    * from a one-off (what an unweighted walk cannot see). Same
    * discipline as graph_pagerank3: per-edge contributions pr·w/str
    * cast to DECIMAL(28,15) before summing so accumulation order
    * cannot diverge cross-engine; str is an exact BIGINT sum of the
    * integer weights. Scale: 3 fixed joins of the persisted weighted
    * edge relation, each one t-keyed shuffle — the EDGES build
    * dominates (ScalingBench's edges_prime, α ~1). */
  val graphWeightedPagerank3: Q = (s, d) => {
    val e = Tables.edges(s, d)._1
    val udw = e.select(col("s"), col("t"), col("w"))
      .union(e.select(col("t").as("s"), col("s").as("t"), col("w")))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val n0 = udw.select(col("s").as("v")).distinct().persist(lvl)
    val str = udw.groupBy(col("s").as("v")).agg(sum(col("w")).as("str"))
      .persist(lvl)
    val nCount = n0.count()
    val base = 0.15 / nCount
    val init = n0.select(col("v"), lit(1.0 / nCount).as("pr"))
    Iterate.fixed(init, 3) { p =>
      n0.as("n")
        .join(udw.as("u"), col("u.t") === col("n.v"), "left")
        .join(p.as("p"), col("p.v") === col("u.s"), "left")
        .join(str.as("g"), col("g.v") === col("u.s"), "left")
        .groupBy(col("n.v").as("v"))
        .agg((lit(base) + lit(0.85) *
          coalesce(sum((col("p.pr") * col("u.w").cast(DoubleType) /
            col("g.str").cast(DoubleType)).cast(D28_15)), lit(0))
            .cast(DoubleType)).as("pr"))
    }
      .select(col("v").as("node"), round(col("pr"), 8).as("pagerank"))
      .orderBy(col("pagerank").desc, col("node"))
      .limit(30)
  }

  /** Harmonic centrality within radius 3 (§2.20): Σ 1/d(u,v) over the
    * ≤3-hop neighborhood, for EVERY node, top 30 — the distance-based
    * centrality family (degree counts one hop, pagerank mixes the walk;
    * closeness ranks by how NEAR everything is). Bounded-radius is the
    * standard cluster formulation (full closeness needs all-pairs BFS).
    * The rational sum 1/1+1/2+1/3 is carried as the exact integer
    * h6 = 6·n1+3·n2+2·n3 (one division at display), so ranking never
    * touches accumulated floats. Scale: 3 frontier equi-joins over the
    * sparse strong graph keyed on the edge source — multi-source BFS
    * as one relation (root, v), shuffle-partitioned by root; the ≥2
    * co-order filter keeps 3-hop neighborhoods bounded (measured
    * sub-quadratic on the 10×/100× facts tiers for the EDGES family). */
  val graphCloseness3hop: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val l0 = ud.select(col("s").as("root")).distinct()
      .select(col("root"), col("root").as("v"), lit(0).as("depth"))
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](l0)
    var frontier: DataFrame = l0
    for (depth <- 1 to 3) {
      frontier = ud.as("u").join(frontier.as("f"), col("u.s") === col("f.v"))
        .select(col("f.root").as("root"), col("u.t").as("v")).distinct()
        .withColumn("depth", lit(depth))
      levels += frontier
    }
    levels.reduce(_ unionAll _)
      .groupBy(col("root"), col("v")).agg(min(col("depth")).as("depth"))
      .filter(col("depth") > 0)
      .groupBy(col("root"))
      .agg(count(lit(1)).as("n_reached"),
        sum(when(col("depth") === 1, 6L).when(col("depth") === 2, 3L)
          .otherwise(2L)).as("h6"))
      .select(col("root").as("node"), asLong(col("n_reached")).as("n_reached"),
        round(col("h6").cast(DoubleType) / 6.0, 6).as("harmonic"))
      .orderBy(col("harmonic").desc, col("node"))
      .limit(30)
  }

  /** Weighted shortest paths from the hub, ≤3 relaxation rounds
    * (§2.20): bounded Bellman-Ford over the co-purchase weights —
    * cheapest-path semantics graph_bfs_3hop (min HOPS) cannot express:
    * a 2-hop route over weak ties can cost more than a 3-hop chain of
    * strong ones. Edge length is the inverse-affinity integer
    * 10000 div w (stronger co-purchase ⇒ shorter edge — the standard
    * weighted-closeness transform, kept in exact integer division so
    * both engines agree bit-for-bit). State per node is the single
    * (cost, hops) pair packed
    * as the exact integer cost·4+hops (hops ≤ 3), so the min-reduce is
    * lexicographic (min cost, then fewest hops) with no struct
    * comparator in the loop and ZERO float math. Scale: 3 fixed
    * frontier joins keyed on edge source, state one row per reached
    * node — Pregel's message pattern as DataFrames. */
  val graphWeightedSssp: Q = (s, d) => {
    val e = Tables.edges(s, d)._1
    val udw = e.select(col("s"), col("t"), expr("10000 div w").as("len"))
      .union(e.select(col("t").as("s"), col("s").as("t"), expr("10000 div w").as("len")))
    val hub = maxDegreeNode(Tables.ud(s, d))
    val init = s.range(1).select(lit(hub).as("v"), lit(0L).as("cost"), lit(0L).as("hops"))
    val dist = Iterate.fixed(init, 3) { dk =>
      dk.unionAll(
        udw.as("u").join(dk.as("p"), col("u.s") === col("p.v"))
          .select(col("u.t").as("v"),
            (col("p.cost") + col("u.len")).cast(LongType).as("cost"),
            (col("p.hops") + 1).cast(LongType).as("hops")))
        .groupBy(col("v"))
        .agg(min(col("cost") * 4 + col("hops")).as("k"))
        .select(col("v"), ((col("k") - col("k") % 4) / 4).cast(LongType).as("cost"),
          (col("k") % 4).cast(LongType).as("hops"))
    }
    dist
      .select(col("v").as("node"), asLong(col("cost")).as("cost"),
        asLong(col("hops")).as("hops"))
      .orderBy(col("cost"), col("node"))
  }

  /** Personalized PageRank, 3 rounds, seed = the graph's minimum node
    * id (§2.31): random walks RESTART AT THE SEED instead of
    * teleporting uniformly, so mass concentrates in the seed's
    * neighborhood — the "related items for THIS item" ranking, where
    * graph_pagerank3 is the global importance. Same decimal-stabilized
    * per-edge contributions (DECIMAL(28,15) before summing) and the
    * same 3 unrolled t-keyed joins over the persisted strong graph;
    * restart mass is a when(v = seed) literal, no extra relation.
    * The deterministic seed choice (min node id) keeps the oracle a
    * pure SQL twin. */
  val graphPprSeed: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val n0 = ud.select(col("s").as("v")).union(ud.select(col("t").as("v")))
      .distinct().persist(lvl)
    val deg = ud.groupBy(col("s").as("v")).agg(count(lit(1)).as("deg"))
      .persist(lvl)
    val seed = n0.agg(min(col("v"))).collect()(0).getLong(0)
    def restart(v: Column) = when(v === seed, 0.15).otherwise(0.0)
    val init = n0.select(col("v"),
      when(col("v") === seed, 1.0).otherwise(0.0).as("pr"))
    Iterate.fixed(init, 3) { p =>
      n0.as("n")
        .join(ud.as("u"), col("u.t") === col("n.v"), "left")
        .join(p.as("p"), col("p.v") === col("u.s"), "left")
        .join(deg.as("g"), col("g.v") === col("u.s"), "left")
        .groupBy(col("n.v").as("v"))
        .agg((restart(col("n.v")) + lit(0.85) *
          coalesce(sum((col("p.pr") / col("g.deg")).cast(D28_15)), lit(0))
            .cast(DoubleType)).as("pr"))
    }
      .filter(col("pr") > 0)
      .select(col("v").as("node"), round(col("pr"), 8).as("ppr"))
      .orderBy(col("ppr").desc, col("node"))
      .limit(20)
  }

  /** Katz centrality, 3 terms, α = 0.1 (§2.30): Σₖ αᵏ·(walks of
    * length k ending at v) — the attenuation view of influence that,
    * unlike PageRank, rewards raw walk VOLUME (no per-node mass
    * normalization), so hubs with many low-degree neighbors rank
    * differently than under the random surfer. The whole statistic
    * is INTEGER: walk counts wₖ fold through k frontier equi-joins in
    * BIGINT, and with α = 0.1 the truncated score is exactly
    * katz_q3 = w₁·100 + w₂·10 + w₃ (the 1e3-quantized value) — no
    * float anywhere until the display division. Top-20 by
    * (katz_q3, node) is TakeOrdered. Scale: 3 equi-joins over the
    * persisted strong graph (the pagerank/bfs precedent), walk
    * relations at node grain. */
  val graphKatz3: Q = (s, d) => {
    val ud = Tables.ud(s, d)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val w1 = ud.groupBy(col("t").as("v")).agg(count(lit(1)).as("w"))
      .persist(lvl)
    def step(prev: DataFrame) = ud
      .join(prev.withColumnRenamed("v", "s0").withColumnRenamed("w", "pw"),
        col("s") === col("s0"))
      .groupBy(col("t").as("v")).agg(sum(col("pw")).as("w"))
    val w2 = step(w1).persist(lvl)
    val w3 = step(w2)
    w1.toDF("v", "w1")
      .join(w2.toDF("v2", "w2"), col("v") === col("v2"), "left")
      .join(w3.toDF("v3", "w3"), col("v") === col("v3"), "left")
      .select(col("v").as("node"),
        (col("w1") * 100 + coalesce(col("w2"), lit(0L)) * 10 +
          coalesce(col("w3"), lit(0L))).as("katz_q3"))
      .orderBy(col("katz_q3").desc, col("node"))
      .limit(20)
      .select(col("node"), asLong(col("katz_q3")).as("katz_q3"),
        (col("katz_q3").cast(DoubleType) / 1e3).as("katz"))
  }

  /** Unnormalized HITS on the bipartite purchase graph (§2.42):
    * customers are hubs, suppliers authorities, edges = distinct
    * (customer, supplier) pairs from orders⋈lineitem. Two exact power
    * iterations — a₁(s) = indegree, h₁(c) = Σ_{s∈N(c)} a₁(s),
    * a₂(s) = Σ_{c∈N(s)} h₁(c) — i.e. rows of (AᵀA)ᵀ… the mutual-
    * reinforcement ranking Kleinberg's HITS converges to, cut at
    * iteration 2 where every value is still an exact BIGINT (the
    * normalized fixpoint needs per-step float norms that no hash gate
    * can pin). a₂ rewards suppliers whose customers shop broadly at
    * well-connected suppliers — degree (a₁) ranks miss exactly that.
    * Scale: the distinct-edge build is the one fact-sized pass; each
    * iteration is a hash-aggregate + equi-join on the edge relation,
    * the 1000-executor shape. Top-20 by (a₂, key) is TakeOrdered. */
  val graphHitsBipartite: Q = (s, d) => {
    // shared per-sfDir build (round 13): the distinct-edge pass is the
    // suite's largest 100×-tier absolute — one materialization now
    // serves HITS, the degree profile and assortativity
    val edges = Tables.bipartite(s, d)
    // round 17: a₁ IS the supplier degree — read from the FAMILY-shared
    // checkpoint (Tables.bipartiteDegrees) consumed by hits, the degree
    // profile and assortativity. The round-16 per-QUERY checkpoint A/B
    // measured negative (3.83 → 4.65 CPU-s: two eager actions amortized
    // over one query); the family-level build amortizes one action over
    // six degree-aggregate consumers, A/B'd in OPTIMIZATION_r17.md.
    val a1 = Tables.bipartiteDegrees(s, d)._2
      .select(col("sup"), col("ds").as("a1"))
    val h1 = edges.join(a1, Seq("sup"))
      .groupBy(col("c")).agg(sum(col("a1")).as("h1"))
    val a2 = edges.join(h1, Seq("c"))
      .groupBy(col("sup")).agg(sum(col("h1")).as("a2"))
    a1.join(a2, Seq("sup"))
      .orderBy(col("a2").desc, col("sup"))
      .limit(20)
      .select(col("sup").as("supplier"), asLong(col("a1")).as("authority1"),
        asLong(col("a2")).as("authority2"))
  }

  /** Bipartite degree profile (§2.47): the degree DISTRIBUTION of both
    * sides of the purchase graph — how many customers buy from exactly
    * k suppliers, how many suppliers serve exactly k customers. The
    * power-law-or-not readout behind every bipartite ranking (HITS
    * scores mean nothing without knowing whether degree alone explains
    * them), and the second consumer that justifies the SHARED edge
    * materialization (Tables.bipartite — round-12 verdict item 5).
    * Exactness: pure integer degree histogram. Scale: two node-grain
    * aggregates over the shared persisted edge relation; output is
    * |distinct degrees| rows, bounded by the max degree. */
  val graphBipartiteDegreeProfile: Q = (s, d) => {
    // round 17: both degree relations come from the family-shared
    // checkpoint (see graphHitsBipartite) — this query is then two
    // node-grain histograms, no edge scan at all
    val (cd, sd) = Tables.bipartiteDegrees(s, d)
    def side(deg: DataFrame, degCol: String, name: String) = deg
      .groupBy(col(degCol).as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(name).as("side"), asLong(col("degree")).as("degree"),
        asLong(col("n_nodes")).as("n_nodes"))
    side(cd, "dc", "customer").unionAll(side(sd, "ds", "supplier"))
      .orderBy("side", "degree")
  }

  /** Bipartite degree assortativity (§2.47): Pearson correlation of
    * (customer degree, supplier degree) across the purchase edges —
    * do broad-basket customers concentrate on high-reach suppliers
    * (assortative, r>0) or on niche ones (disassortative, r<0)? The
    * one-number structure readout that says whether the graph mixes
    * like a marketplace or a hub-and-spoke. Exactness: degree moments
    * accumulate DECIMAL(38,0) ↔ HUGEINT; r is ONE deterministic
    * double tree over the exact sums, floored 1e6. Scale: two
    * node-grain degree aggregates + one edge-grain join over the
    * shared persisted relation, then a 1-row reduce. */
  val graphBipartiteAssortativity: Q = (s, d) => {
    val dec38 = DecimalType(38, 0)
    val e = Tables.bipartite(s, d)
    // round 17: degrees from the family-shared checkpoint (see
    // graphHitsBipartite) instead of two private edge re-aggregations
    val (cd, sd) = Tables.bipartiteDegrees(s, d)
    val t = e.join(cd, Seq("c")).join(sd, Seq("sup"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c")).as("n_customers"),
        countDistinct(col("sup")).as("n_suppliers"),
        sum(col("dc").cast(dec38)).as("sx"),
        sum(col("ds").cast(dec38)).as("sy"),
        sum(col("dc").cast(dec38) * col("ds")).as("sxy"),
        sum(col("dc").cast(dec38) * col("dc")).as("sxx"),
        sum(col("ds").cast(dec38) * col("ds")).as("syy"))
    t.select(asLong(col("n")).as("n_edges"),
      asLong(col("n_customers")).as("n_customers"),
      asLong(col("n_suppliers")).as("n_suppliers"),
      asLong(floor(
        (col("n").cast(dec38) * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) /
          sqrt((col("n").cast(dec38) * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType) *
            (col("n").cast(dec38) * col("syy") - col("sy") * col("sy"))
              .cast(DoubleType)) * 1e6)).as("assortativity_q6"))
  }

  /** Co-supply supplier similarity (§2.47): top-20 supplier pairs by
    * cosine-normalized order co-occurrence — suppliers repeatedly
    * fulfilling lines of the SAME orders are substitutes/partners the
    * raw bipartite graph can't see (it links suppliers to customers,
    * not to each other). The supplier-side projection of the purchase
    * graph, the co-purchase analogue of Tables.edges at supplier
    * grain. Exactness: co-order and per-supplier order counts are
    * exact integers; cosine = co/√(n₁·n₂) is one double op floored
    * 1e6; (q, s1, s2) is a total order. Scale: pairs are expanded
    * in-row per order by [[Pairs.cooccurring]] — NEVER a
    * supplier×supplier join; group bound: ≤17 lines/order at sf0.1.
    * The ≥2 co-order floor keeps only the sparse strong pairs; top-20
    * is TakeOrdered. */
  val graphCosupplySupplierSim: Q = (s, d) => {
    // ONE shuffle total on the fact: collect_set(map-side-combined)
    // replaces distinct+groupBy (the first bench cut paid two fact
    // shuffles on the same key — measured 5.5 CPU-s, now ~half); the
    // per-supplier order counts explode the SAME per-order sets, so
    // lineitem is scanned and shuffled exactly once
    val sets = table(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey")).as("ss"))
      .localCheckpoint(true) // two consumers: pair expansion + counts
    val pairs = Pairs.cooccurring(sets, col("ss"), 2)
    // round 17 (guide §1.2 / measured from the plan dump): the
    // per-supplier order-count aggregate was re-executed for EACH of
    // the two join sides — two full explodes of the checkpointed sets.
    // Persisted, it computes once and both (tiny) broadcast builds
    // read the cache; |suppliers|-grain, so the cache is bounded.
    val n = sets.select(explode(col("ss")).as("l_suppkey"))
      .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_ord"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pairs
      .join(n.toDF("k1", "n_orders1"), col("a") === col("k1"))
      .join(n.toDF("k2", "n_orders2"), col("b") === col("k2"))
      .select(col("a").as("s1"), col("b").as("s2"), col("n").as("co_orders"),
        col("n_orders1"), col("n_orders2"),
        floor(col("n").cast(DoubleType) /
          sqrt(col("n_orders1").cast(DoubleType) *
            col("n_orders2").cast(DoubleType)) * 1e6)
          .cast(LongType).as("cosine_q6"))
      .orderBy(col("cosine_q6").desc, col("s1"), col("s2"))
      .limit(20)
      .select(asLong(col("s1")).as("s1"), asLong(col("s2")).as("s2"),
        asLong(col("co_orders")).as("co_orders"),
        asLong(col("n_orders1")).as("n_orders1"),
        asLong(col("n_orders2")).as("n_orders2"), col("cosine_q6"))
  }

  /** Local bridges (§2.43): edges of the co-purchase graph whose
    * endpoints share NO common neighbor — Granovetter's weak ties,
    * the links whose removal lengthens every path between their
    * endpoints (triangle-dense communities never produce them);
    * graph_jaccard_neighbors scores overlap on sampled node pairs,
    * this finds the zero-overlap EDGES, the structurally load-bearing
    * complement. Top-10 by (weight desc, endpoints) with endpoint
    * degrees and the global bridge census attached. Exactness: pure
    * integer triangle counts per edge + degrees. Scale: the per-edge
    * common-neighbor count is the triangle-enumeration equi-join over
    * the persisted EDGES relation (the graph_triangles shape, fanout
    * bounded by degree); census is a 1-row broadcast. */
  val graphLocalBridges: Q = (s, d) => {
    val (e, ud) = Tables.edges(s, d)
    val cn = e.select(col("s").as("es"), col("t").as("et"))
      .join(ud.select(col("s").as("ns"), col("t").as("nbr")),
        col("ns") === col("es"))
      .join(ud.select(col("s").as("ns2"), col("t").as("nbr2")),
        col("ns2") === col("et") && col("nbr2") === col("nbr"))
      .groupBy(col("es"), col("et")).agg(count(lit(1)).as("tri"))
    val deg = ud.groupBy(col("s").as("dv")).agg(count(lit(1)).as("deg"))
    val flagged = e.join(cn, col("s") === col("es") && col("t") === col("et"),
        "left")
      .select(col("s"), col("t"), col("w"),
        coalesce(col("tri"), lit(0L)).as("tri"))
    val census = flagged.agg(count(lit(1)).as("n_edges"),
      sum(when(col("tri") === 0, 1L).otherwise(0L)).as("n_bridges"))
    flagged.filter(col("tri") === 0)
      .join(deg.toDF("d1v", "deg_s"), col("s") === col("d1v"))
      .join(deg.toDF("d2v", "deg_t"), col("t") === col("d2v"))
      .crossJoin(broadcast(census))
      .orderBy(col("w").desc, col("s"), col("t"))
      .limit(10)
      .select(asLong(col("s")).as("s"), asLong(col("t")).as("t"),
        asLong(col("w")).as("w"), asLong(col("deg_s")).as("deg_s"),
        asLong(col("deg_t")).as("deg_t"),
        asLong(col("n_edges")).as("n_edges_total"),
        asLong(col("n_bridges")).as("n_bridges_total"))
  }

}
