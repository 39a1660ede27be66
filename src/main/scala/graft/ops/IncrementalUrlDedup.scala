package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{StateTables, VersionedTable}

/** Incremental URL-keyed exact-dedup maintenance over a versioned
  * corpus (round 15, VERDICT item 4): the cheapest, most-used crawl
  * dedup key — a doc's minimum canonicalized URL
  * ([[Crawl.urlKeyOf]], the EXACT expression [[Curation.urlDedup]]
  * keys on, shared so stage and state cannot drift) — advanced
  * O(delta) as new crawl snapshots land, instead of re-canonicalizing
  * the whole corpus per ingest.
  *
  * State is ONE relation: (doc_id, ukey) for every doc that carries a
  * URL (URL-less docs are never in the state — they always survive
  * URL dedup). The keep decision is a pure view over it
  * ([[keepers]]: min doc_id per key), so the advance only has to keep
  * the key relation right:
  *
  *  - changed doc_ids leave (update = leave then re-enter with the
  *    postimage text's key — a doc whose text LOST its URL correctly
  *    drops out of the state);
  *  - entering docs' keys are computed row-locally on the |delta|
  *    feed rows only.
  *
  * Everything is |delta|-bounded: the anti-join side broadcasts, the
  * only corpus-proportional touch is the stored table's file-pruned
  * DELETE (range-clustered on doc_id, untouched files asserted in
  * spec). Invariant (IncrementalUrlDedupSpec, the IncrementalDedup
  * precedent): `advance(...).keys == build(snapshot(toV)).keys` across
  * inserts, updates, deletes and multi-version ranges — and applying
  * the advanced state's keepers to the snapshot equals running
  * [[Curation.urlDedup]] on it from scratch.
  */
object IncrementalUrlDedup {

  /** (doc_id, ukey) for every URL-carrying doc. */
  case class State(keys: DataFrame)

  /** Full build — the bootstrap, and the equality oracle for
    * [[advance]]. `docs` must carry (doc_id, text). */
  def build(docs: DataFrame, textCol: String = "text"): State =
    State(stabilize(docs
      .select(col("doc_id"), Crawl.urlKeyOf(col(textCol)).as("ukey"))
      .filter(col("ukey").isNotNull)))

  /** The keep-list view: the smallest doc_id per canonical key — the
    * same keep-min-id discipline as every exact-dedup stage here. */
  def keepers(state: State): DataFrame =
    state.keys.groupBy(col("ukey")).agg(min(col("doc_id")).as("keep_id"))

  /** URL dedup of `docs` via the maintained state instead of a fresh
    * key scan: keeps URL-less docs (not in the state) and each key's
    * minimum doc_id. Equals [[Curation.urlDedup]] on the state's
    * snapshot (spec-pinned). */
  def apply(docs: DataFrame, state: State): DataFrame = {
    val drop = state.keys
      .join(keepers(state), col("doc_id") === col("keep_id"), "left_anti")
      .select(col("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
  }

  /** Advance across one committed version range of a corpus
    * [[VersionedTable]] carrying (doc_id, text, ...). */
  def advance(spark: SparkSession, root: String, fromV: Long, toV: Long,
      state: State, textCol: String = "text"): State =
    advanceWithFeed(
      VersionedTable.changeFeed(spark, root, fromV, toV, Seq("doc_id")),
      state, textCol)

  /** The core increment, decoupled from where the feed comes from:
    * `feed` must be one version range's row-level changes (insert /
    * delete / update_pre/postimage over doc_id). No snapshot needed —
    * the key is a pure function of the feed row's text. */
  def advanceWithFeed(feed: DataFrame, state: State,
      textCol: String = "text"): State = {
    val (changedIds, entering) = patchOf(feed, textCol)
    val st = State(stabilize(state.keys
      .join(broadcast(changedIds), Seq("doc_id"), "left_anti")
      .unionByName(entering)))
    changedIds.unpersist(false)
    st
  }

  /** (ids leaving the state [persisted — caller unpersists], key rows
    * entering): the patch both the in-memory and stored paths apply. */
  private def patchOf(feed: DataFrame, textCol: String)
      : (DataFrame, DataFrame) = {
    val changedIds = feed.select(col("doc_id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val entering = feed
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(col("doc_id"), Crawl.urlKeyOf(col(textCol)).as("ukey"))
      .filter(col("ukey").isNotNull)
    (changedIds, entering)
  }

  /** State persisted as one [[VersionedTable]], range-clustered on
    * doc_id so each delta's predicate DELETE file-prunes to the
    * touched id ranges (spec-asserted: untouched files > 0). */
  case class StoredState(keysRoot: String)

  /** Bootstrap the stored state, range-clustered and fenced
    * ([[StateTables]]); also the one recovery from a torn state, into a
    * fresh root. */
  def bootstrapStored(spark: SparkSession, docs: DataFrame,
      keysRoot: String, textCol: String = "text",
      files: Int = 8): StoredState = {
    StateTables.create(spark, files,
      (keysRoot, build(docs, textCol).keys, "doc_id"))
    StoredState(keysRoot)
  }

  /** Advance the STORED state: chunked file-pruned DELETE of the
    * changed ids + one append of the entering key rows. Returns
    * (filesTouched, filesKept) so callers/specs observe the pruning.
    * The DELETE and append are separate commits, so the patch runs
    * inside [[StateTables.patch]]: a torn state is refused before
    * anything is computed, an empty feed included. */
  def advanceStored(spark: SparkSession, corpusRoot: String, fromV: Long,
      toV: Long, st: StoredState, textCol: String = "text"): (Int, Int) =
    StateTables.patch(spark, Seq(st.keysRoot)) {
      // four consumers (the empty check, the changed ids, the append's
      // row probe and its write): the feed is computed once
      val feed = VersionedTable.changeFeed(spark, corpusRoot, fromV, toV, Seq("doc_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (feed.isEmpty) (0, StateTables.filesKept(spark, st.keysRoot))
        else {
          val (changedIds, entering) = patchOf(feed, textCol)
          val pruned = StateTables.deleteWhere(spark, st.keysRoot,
            StateTables.inLists(changedIds).map(l => s"doc_id IN ($l)"))
          StateTables.append(spark, st.keysRoot, entering)
          changedIds.unpersist(false)
          pruned
        }
      } finally feed.unpersist(false)
    }

  /** Read back, refusing a TORN state ([[StateTables.check]]: an
    * advanceStored crashed between its DELETE and append commits). */
  def readStored(spark: SparkSession, st: StoredState): State = {
    StateTables.check(spark, Seq(st.keysRoot))
    State(VersionedTable.read(spark, st.keysRoot))
  }

  /** The zero state ([[advanceWithFeed]] of v1's all-insert feed over
    * it equals `build(v1 snapshot)` by construction). */
  def emptyState(spark: SparkSession): State = {
    import org.apache.spark.sql.types._
    State(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("ukey", StringType)))))
  }
}
