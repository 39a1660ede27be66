package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{StateTables, VersionedTable}

/** Incremental MinHash-LSH dedup maintenance over a versioned corpus
  * (round 11, VERDICT item 4): the operation a 100-TB curation loop
  * actually runs daily. Instead of recomputing shingles → signatures →
  * bands → candidate pairs → Jaccard over the WHOLE corpus after every
  * ingest, [[advance]] consumes the row-level
  * [[VersionedTable.changeFeed]] between two versions and patches the
  * dedup state: only changed docs are re-shingled and re-banded, and
  * only pairs with at least one changed endpoint are (re)verified.
  *
  * Invariant (spec-pinned in IncrementalDedupSpec, the
  * MaterializedView precedent): for every version v,
  * `advance(...).pairs == build(snapshot(v)).pairs` — the incremental
  * path is indistinguishable from the full recompute, across inserts,
  * updates and deletes. Both paths share the exact same shingle /
  * signature / banding / verification formulas
  * ([[Pipelines.shingleDocs]], [[Pipelines.minhashWideOf]],
  * [[Pipelines.lshBands]], [[Pipelines.verifyJaccard]]), so they
  * cannot drift.
  *
  * Scale shape (the point): with |delta| changed docs out of a corpus
  * of |C|,
  *  - shingling/banding touches only the |delta| changed docs;
  *  - candidate generation is `deltaBands ⋈ allBands` on
  *    (lang, band, bkey) — the delta side is broadcastable, so no
  *    corpus-wide shuffle;
  *  - Jaccard verification re-shingles only candidate PARTNER docs
  *    (semi-join pruned scan of the new snapshot), never the corpus;
  *  - the state patch (`bands`/`pairs` anti-join against the changed
  *    id set) is a broadcast-anti scan — one pass, no shuffle; in a
  *    real deployment both state relations are stored tables and the
  *    patch is a MERGE keyed on doc_id.
  * Nothing in the plan is O(|C| log |C|) or all-pairs; the only
  * corpus-proportional cost is the single columnar scan that rewrites
  * the state, which the storage layer's MERGE absorbs at scale.
  * Measured: SCALING.md round-11 "incremental dedup" rows show delta
  * cost tracking |delta| while the full rebuild tracks |C|.
  */
object IncrementalDedup {

  /** Persistent dedup state between versions.
    * @param bands one row per (doc, band): doc_id, lang, band, bkey
    * @param pairs verified near-dup pairs: d1, d2, jaccard (d1 < d2)
    */
  case class State(bands: DataFrame, pairs: DataFrame)

  /** Full build — the bootstrap, and the equality oracle for
    * [[advance]]. `docs` must carry (doc_id, lang, text) with doc_id
    * a unique key. */
  def build(docs: DataFrame): State = {
    val sh = Pipelines.shingleDocs(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bands = Pipelines.lshBands(Pipelines.minhashWideOf(sh))
    val cand = candidates(bands, bands)
    val pairs = Pipelines.verifyJaccard(cand, sh)
    // stabilize() is eager, so the scratch shingle cache can be
    // released immediately — a long-running maintainer must not
    // accumulate one cached relation per build/advance
    val st = State(stabilize(bands), stabilize(pairs))
    sh.unpersist(false)
    st
  }

  /** Band-key equi-join candidate generation: pairs (d1 < d2) where
    * the LEFT side comes from `probe` and the partner from `all`.
    * With probe = the delta's bands this emits exactly the pairs with
    * >= 1 changed endpoint — unchanged-unchanged pairs never surface,
    * which is what makes the increment cheap. Probe docs can land on
    * either side of the d1 < d2 normalization, so join both ways. */
  private def candidates(probe: DataFrame, all: DataFrame): DataFrame = {
    val p = probe.toDF("dp", "lang", "band", "bkey")
    val a = all.toDF("da", "lang2", "band2", "bkey2")
    val j = p.join(a,
      col("bkey") === col("bkey2") && col("band") === col("band2") &&
        col("lang") === col("lang2") && col("dp") =!= col("da"))
    j.select(least(col("dp"), col("da")).as("d1"),
        greatest(col("dp"), col("da")).as("d2"))
      .distinct()
  }

  /** Advance the state across one committed version range of a
    * [[VersionedTable]] whose schema contains (doc_id, lang, text).
    * Reads the row-level change feed, re-bands only changed docs, and
    * patches bands and pairs. */
  def advance(spark: SparkSession, root: String, fromV: Long, toV: Long,
      state: State): State =
    advanceWithFeed(spark,
      VersionedTable.changeFeed(spark, root, fromV, toV, Seq("doc_id")),
      VersionedTable.read(spark, root, Some(toV)), state)

  /** One delta's computed patch: the ids leaving the state, and the
    * band/pair rows entering it — everything an in-memory union OR a
    * stored-table MERGE needs. */
  private case class Patch(changedIds: DataFrame, newBands: DataFrame,
      newPairs: DataFrame, scratch: Seq[DataFrame]) {
    /** Release the intermediate caches once the patched state has
      * materialized (localCheckpoint / table append) — without this a
      * per-commit maintainer ([[maintainStream]]) accumulates cached
      * relations every micro-batch until LRU pressure evicts them. */
    def release(): Unit = scratch.foreach(_.unpersist(false))
  }

  /** The increment computation shared by the in-memory and stored
    * paths: re-shingle/re-band only changed docs, candidates = delta
    * bands ⋈ patched band state, Jaccard only for pairs with ≥1
    * changed endpoint (partners re-shingled via a semi-join-pruned
    * snapshot scan). */
  private def computePatch(spark: SparkSession, feed: DataFrame,
      snapshot: DataFrame, currentBands: DataFrame): Patch = {
    val cf = feed
      .select(col("doc_id"), col("lang"), col("text"), col("_change_type"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every doc_id the delta touches leaves the state (update = leave
    // then re-enter with the postimage text)
    val changedIds = cf.select(col("doc_id")).distinct()
    // docs (re-)entering: inserts + update postimages
    val entering = cf
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(col("doc_id"), col("lang"), col("text"))

    val newSh = Pipelines.shingleDocs(entering)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = Pipelines.lshBands(Pipelines.minhashWideOf(newSh))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // candidates with >= 1 new endpoint: probe the delta's bands
    // against the patched band state (delta side broadcastable; the
    // patch = current minus changed plus new, computed logically —
    // a broadcast anti over one scan, never a shuffle)
    val keptBands = currentBands.join(broadcast(changedIds), Seq("doc_id"),
      "left_anti")
    val cand = candidates(newBands, keptBands.unionByName(newBands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // verification needs shingles for every doc in a candidate pair —
    // partners may be unchanged docs, so re-shingle exactly the
    // candidate partner set from the post-version snapshot
    // (semi-join-pruned scan), plus the delta's own shingles
    val candIds = cand.select(col("d1").as("doc_id"))
      .unionAll(cand.select(col("d2").as("doc_id"))).distinct()
    val partnerIds = candIds.join(broadcast(
      newSh.select("doc_id").distinct()), Seq("doc_id"), "left_anti")
    val partnerDocs = snapshot
      .select(col("doc_id"), col("lang"), col("text"))
      .join(broadcast(partnerIds), Seq("doc_id"), "left_semi")
    val verifySh = newSh.unionByName(Pipelines.shingleDocs(partnerDocs))
    Patch(changedIds, newBands, Pipelines.verifyJaccard(cand, verifySh),
      Seq(cf, newSh, newBands, cand))
  }

  /** The core increment, decoupled from WHERE the change feed comes
    * from: `feed` must be ONE version range's row-level changes
    * (insert / delete / update_pre/postimage over doc_id) and
    * `snapshot` the post-range corpus — the batch [[advance]] passes
    * `changeFeed` + `read(toV)`, the streaming [[maintainStream]]
    * passes each micro-batch version's stamped feed slice. */
  def advanceWithFeed(spark: SparkSession, feed: DataFrame,
      snapshot: DataFrame, state: State): State = {
    val p = computePatch(spark, feed, snapshot, state.bands)
    // patch the band state: drop every changed doc's rows, add the
    // re-entering docs' rows
    val bands2 = state.bands
      .join(broadcast(p.changedIds), Seq("doc_id"), "left_anti")
      .unionByName(p.newBands)
    // patch the pair state: drop every pair touching a changed doc
    // (two broadcast anti-joins — d1 then d2 — not one OR-condition
    // nested-loop), add the freshly verified pairs
    val keptPairs = state.pairs
      .join(broadcast(p.changedIds.toDF("d1")), Seq("d1"), "left_anti")
      .join(broadcast(p.changedIds.toDF("d2")), Seq("d2"), "left_anti")
      .select(col("d1"), col("d2"), col("jaccard"))
    val st =
      State(stabilize(bands2), stabilize(keptPairs.unionByName(p.newPairs)))
    // both stabilize() calls are eager — the patch scratch is dead
    p.release()
    st
  }

  /** Dedup state persisted as two [[VersionedTable]]s — the actual
    * deployment shape (the in-memory [[State]]'s localCheckpoint
    * stands in for this write-back at bench scale). The bands table
    * is written range-clustered on doc_id so the per-delta DELETE's
    * file-level min/max pruning probes only the files whose id
    * range the delta touches — the "keyed MERGE into stored state
    * tables, file-pruned" claim in SCALING.md made real and asserted
    * (IncrementalDedupSpec checks untouched > 0). Appends land as new
    * files; periodic `VersionedTable.cluster` restores clustering, as
    * with any LSM-ish table. */
  case class StoredState(bandsRoot: String, pairsRoot: String)

  private def roots(st: StoredState) = Seq(st.bandsRoot, st.pairsRoot)

  /** Bootstrap the stored state from a corpus snapshot: full build,
    * written range-clustered ([[StoredState]] doc) and fenced
    * ([[StateTables]]). Also the one recovery from a torn state: into
    * fresh roots. */
  def bootstrapStored(spark: SparkSession, docs: DataFrame,
      bandsRoot: String, pairsRoot: String, files: Int = 8): StoredState = {
    val st = build(docs)
    StateTables.create(spark, files,
      (bandsRoot, st.bands, "doc_id"), (pairsRoot, st.pairs, "d1"))
    StoredState(bandsRoot, pairsRoot)
  }

  /** Advance the STORED state across a corpus version range: compute
    * the patch, then lower it to table operations — chunked predicate
    * DELETEs (file-pruned by the id list's min/max check) + one append
    * per state table. Returns (bandsFilesTouched, bandsFilesKept)
    * from the bands DELETE so callers/specs can observe the pruning.
    *
    * Atomicity: the DELETEs and appends are separate commits per state
    * table, so the patch runs inside [[StateTables.patch]]: a state
    * torn by an earlier cut-off advance is refused (an empty feed
    * included) before anything is computed. */
  def advanceStored(spark: SparkSession, corpusRoot: String, fromV: Long,
      toV: Long, st: StoredState): (Int, Int) =
    StateTables.patch(spark, roots(st)) {
      val feed =
        VersionedTable.changeFeed(spark, corpusRoot, fromV, toV, Seq("doc_id"))
      // a version range CAN legitimately carry zero row changes
      // (compaction/cluster commits, merges rewriting identical rows,
      // zero-row appends) — match advanceWithFeed's no-op semantics
      if (feed.isEmpty) (0, StateTables.filesKept(spark, st.bandsRoot))
      else {
        val p = computePatch(spark, feed,
          VersionedTable.read(spark, corpusRoot, Some(toV)),
          VersionedTable.read(spark, st.bandsRoot))
        val ids = StateTables.inLists(p.changedIds)
        val pruned = StateTables.deleteWhere(spark, st.bandsRoot,
          ids.map(l => s"doc_id IN ($l)"))
        StateTables.deleteWhere(spark, st.pairsRoot,
          ids.map(l => s"d1 IN ($l) OR d2 IN ($l)"))
        StateTables.append(spark, st.bandsRoot, p.newBands)
        StateTables.append(spark, st.pairsRoot, p.newPairs)
        p.release()
        pruned
      }
    }

  /** The stored state read back as a [[State]] (for equality checks
    * and for feeding [[advanceWithFeed]]-based consumers). Refuses a
    * TORN state ([[StateTables.check]]): a crash interrupted an
    * [[advanceStored]] between its commits, and the one recovery is
    * [[bootstrapStored]] into fresh roots from the corpus snapshot. */
  def readStored(spark: SparkSession, st: StoredState): State = {
    StateTables.check(spark, roots(st))
    State(VersionedTable.read(spark, st.bandsRoot),
      VersionedTable.read(spark, st.pairsRoot))
  }

  /** The zero state a stream bootstraps from: version 1's change feed
    * is the created snapshot tagged insert, so `advanceWithFeed(empty,
    * v1-feed) == build(v1 snapshot)` by construction — no special
    * bootstrap path. */
  def emptyState(spark: SparkSession): State = {
    import org.apache.spark.sql.types._
    def empty(schema: StructType) = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    State(
      empty(StructType(Seq(StructField("doc_id", LongType),
        StructField("lang", StringType), StructField("band", IntegerType),
        StructField("bkey", StringType)))),
      empty(StructType(Seq(StructField("d1", LongType),
        StructField("d2", LongType), StructField("jaccard", DoubleType)))))
  }

  /** The STREAMING face (round 11): dedup-state maintenance as a
    * continuously-running consumer of [[VersionedTable.changeFeedStream]]
    * — the version log replayed micro-batch-per-commit, each version's
    * stamped feed slice applied through [[advanceWithFeed]] in commit
    * order. Spark's file-source checkpoint is the version cursor
    * (exactly-once over manifest files), so a restarted maintainer
    * resumes from the last processed commit with the state it was
    * handed. AvailableNow by default: drain committed versions, stop,
    * resume later. Returns the query plus a state accessor (read it
    * after awaitTermination). IncrementalDedupSpec pins stream-final
    * state == full rebuild on the head snapshot across
    * create/append/merge/delete commits. */
  def maintainStream(spark: SparkSession, root: String,
      checkpointDir: String, state0: Option[State] = None)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => State) = {
    @volatile var state = state0.getOrElse(emptyState(spark))
    val q = VersionedTable.changeFeedStream(spark, root, Seq("doc_id"),
      checkpointDir) { (batch, _) =>
      val versions = batch.select(col("_commit_version")).distinct()
        .collect().map(_.getLong(0)).sorted
      versions.foreach { v =>
        state = advanceWithFeed(spark,
          batch.filter(col("_commit_version") === v),
          VersionedTable.read(spark, root, Some(v)), state)
      }
    }
    (q, () => state)
  }
}
