package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{StateTables, VersionedTable}

/** Incremental substring-span dedup maintenance over a versioned
  * corpus (round 13, verdict item 3): [[IncrementalDedup]]'s pattern
  * applied to the positioned-shingle span relation behind
  * `dedup_substring_spans` / span excision. Instead of re-shingling
  * the whole corpus per ingest, [[advance]] consumes the row-level
  * change feed and patches three state relations:
  *
  *  - `shingles` (doc_id, pos, h): positioned 8-gram md5 shingles —
  *    only changed docs are re-shingled;
  *  - `dfCounts` (h, c): per-hash occurrence counts, patched
  *    ARITHMETICALLY (c ← c − old changed-doc occurrences + new
  *    occurrences) — the [2,20] keep-set needs NO corpus recount;
  *  - `spans` (d1, d2, s1, s2, tok): recomputed ONLY for affected
  *    pairs.
  *
  * Affected pairs are exactly the pairs whose gram-match set can have
  * changed: every hash an old or new shingle of a changed doc carries
  * is an AFFECTED HASH (this covers df-cap transitions too — a hash
  * entering/leaving [2,20] because the delta added/removed occurrences
  * creates/destroys pairs between two UNCHANGED docs, which a naive
  * "pairs touching changed docs" patch would miss); the affected pair
  * set is the union of pairs those hashes form under the OLD keep-set
  * (spans to retire) and under the NEW one (spans to rebuild). The
  * [2,20] cap pigeonhole-bounds this at ≤ 190 pairs per affected hash,
  * so the increment is |delta|-bounded at ANY corpus size.
  *
  * Invariant (spec-pinned, the IncrementalDedup precedent): for every
  * version v, `advance(...) == build(snapshot(v))` on all three
  * relations, across inserts, updates and deletes. Both paths share
  * the exact shingle/pair/island formulas
  * ([[Pipelines.spanShingleDocs]], [[Pipelines.spanGramPairs]],
  * [[Pipelines.spansFromPairRows]]), so they cannot drift.
  *
  * Scale shape: re-shingling touches |delta| docs; EVERY join against
  * a corpus-sized state relation is a broadcast semi/anti with a
  * |delta|-bounded build side — never a corpus shuffle, and never a
  * full-outer against the state (a full outer cannot broadcast either
  * side: Spark degenerates it to a nested loop — the first cut
  * measured 10× a full rebuild exactly there, now decomposed into
  * kept/updated/fresh broadcast pieces). The only corpus-proportional
  * costs are the handful of columnar state SCANS that the anti-join
  * rewrite (here) or a keyed, file-pruned MERGE (stored deployment,
  * the advanceStored recipe) absorbs. Nothing rebuilds the gram join
  * over unchanged docs — the full build's dominant term.
  */
object IncrementalSpans {

  /** Persistent span-dedup state between corpus versions. */
  case class State(shingles: DataFrame, dfCounts: DataFrame, spans: DataFrame)

  private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  private def keepFilter(dfc: DataFrame): DataFrame =
    dfc.filter(col("c").between(2L, 20L)).select(col("h"))

  /** Full build — the bootstrap, and the equality oracle for
    * [[advance]]. `docs` must carry (doc_id, text) with doc_id a
    * unique key. */
  def build(docs: DataFrame, minTok: Int = 12): State = {
    val sh = Pipelines.spanShingleDocs(docs).persist(lvl)
    val dfc = sh.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val dfcS = stabilize(dfc)
    val fk = sh.join(keepFilter(dfcS), Seq("h"))
    val spans = Pipelines.spansFromPairRows(Pipelines.spanGramPairs(fk), minTok)
    val st = State(stabilize(sh), dfcS, stabilize(spans))
    sh.unpersist(false)
    st
  }

  /** Advance across one committed version range of a [[VersionedTable]]
    * whose schema contains (doc_id, text). */
  def advance(spark: SparkSession, root: String, fromV: Long, toV: Long,
      state: State, minTok: Int = 12): State =
    advanceWithFeed(spark,
      VersionedTable.changeFeed(spark, root, fromV, toV, Seq("doc_id")),
      state, minTok)

  /** One delta's patch over `cur`, shared by both faces: the changed
    * ids, the re-shingled entering docs, the arithmetic df-count delta
    * and its patched rows, the patched shingle/df relations (`fix`ed —
    * the in-memory face checkpoints them as its new state, the stored
    * face leaves them logical over its unpatched tables), the affected
    * pairs and docs, and the gram pair rows among the affected docs
    * under the new keep-set. */
  private case class Patch(changedIds: DataFrame, newSh: DataFrame,
      deltaCnt: DataFrame, dfChanged: DataFrame, sh2: DataFrame,
      dfc2: DataFrame, pAff: DataFrame, pAffDocs: DataFrame,
      pairRows: DataFrame, scratch: Seq[DataFrame]) {
    def release(): Unit = scratch.foreach(_.unpersist(false))
  }

  private def patchOf(feed: DataFrame, cur: State,
      fix: DataFrame => DataFrame): Patch = {
    val cf = feed.select(col("doc_id"), col("text"), col("_change_type"))
      .persist(lvl)
    val changedIds = cf.select(col("doc_id")).distinct()
      .localCheckpoint(true) // |delta|-bounded; broadcast build side
    val entering = cf
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(col("doc_id"), col("text"))

    val newSh = Pipelines.spanShingleDocs(entering).persist(lvl)
    val oldShChanged = cur.shingles
      .join(broadcast(changedIds), Seq("doc_id"), "left_semi")
      .persist(lvl)

    // arithmetic df patch: c ← c − |old changed-doc occurrences| +
    // |new occurrences|; both sides |delta|-bounded, so the full
    // outer here is cheap (it never touches the state)
    val oldCnt = oldShChanged.groupBy(col("h")).agg(count(lit(1)).as("c_old"))
    val newCnt = newSh.groupBy(col("h")).agg(count(lit(1)).as("c_new"))
    val deltaCnt = oldCnt.join(newCnt, Seq("h"), "full_outer")
      .select(col("h"),
        (coalesce(col("c_new"), lit(0L)) - coalesce(col("c_old"), lit(0L)))
          .as("dc"))
      .localCheckpoint(true)
    val deltaB = broadcast(deltaCnt)
    // state patch in broadcast pieces: kept (hash untouched) /
    // updated (count adjusted, survivors only) / fresh (never seen)
    val updated = cur.dfCounts
      .join(deltaB.withColumnRenamed("dc", "dc2"), Seq("h"))
      .select(col("h"), (col("c") + col("dc2")).as("c"))
      .filter(col("c") > 0L)
    val seenKeys = cur.dfCounts
      .join(deltaB, Seq("h"), "left_semi").select(col("h"))
      .localCheckpoint(true) // |delta|-bounded
    val fresh = deltaCnt.join(broadcast(seenKeys), Seq("h"), "left_anti")
      .filter(col("dc") > 0L)
      .select(col("h"), col("dc").as("c"))
    val dfChanged = stabilize(updated.unionByName(fresh)) // |delta|-bounded
    val dfc2 = fix(cur.dfCounts.join(deltaB, Seq("h"), "left_anti")
      .unionByName(dfChanged))
    val sh2 = fix(cur.shingles
      .join(broadcast(changedIds), Seq("doc_id"), "left_anti")
      .unionByName(newSh))

    // every hash the delta touches (old OR new side) — the full set
    // of places where a pair's gram-match evidence can have moved
    val affH = oldShChanged.select(col("h"))
      .unionAll(newSh.select(col("h"))).distinct()
      .localCheckpoint(true) // |delta|-bounded

    // affected pairs: formable via an affected hash under the OLD
    // keep-set (state side — spans to retire) or the NEW one (spans
    // to rebuild). ≤190 pairs/hash by the [2,20] pigeonhole. Each
    // keep-restriction is ONE state scan with the affected-hash set
    // broadcast; the occurrence probe broadcasts the (≤20/hash)
    // result back into the shingle scan.
    def pairsVia(sh: DataFrame, dfc: DataFrame): DataFrame = {
      val affKeep = keepFilter(
        dfc.join(broadcast(affH), Seq("h"), "left_semi"))
        .localCheckpoint(true)
      val occ = sh.join(broadcast(affKeep), Seq("h"), "left_semi")
      Pipelines.spanGramPairs(occ).select(col("d1"), col("d2")).distinct()
    }
    val pAff = stabilize(pairsVia(cur.shingles, cur.dfCounts)
      .unionAll(pairsVia(sh2, dfc2))
      .distinct())

    // gram pair rows among the affected docs, from the patched state:
    // restrict the shingle state to affected docs (broadcast semi),
    // keep-filter THAT small slice (its distinct hashes broadcast into
    // one dfc2 scan), regenerate pair rows
    val pAffDocs = pAff.select(col("d1").as("doc_id"))
      .unionAll(pAff.select(col("d2").as("doc_id"))).distinct()
      .localCheckpoint(true)
    val restricted = sh2
      .join(broadcast(pAffDocs), Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val keepSmall = keepFilter(dfc2.join(
        broadcast(restricted.select(col("h")).distinct()), Seq("h"),
        "left_semi"))
      .localCheckpoint(true)
    val fkR = restricted.join(broadcast(keepSmall), Seq("h"), "left_semi")
    Patch(changedIds, newSh, deltaCnt, dfChanged, sh2, dfc2, pAff, pAffDocs,
      Pipelines.spanGramPairs(fkR), Seq(cf, newSh, oldShChanged))
  }

  /** The core increment, decoupled from where the feed comes from —
    * note NO corpus snapshot parameter: unlike MinHash verification
    * (which re-shingles candidate partners), every relation the span
    * patch needs lives in the state itself. */
  def advanceWithFeed(spark: SparkSession, feed: DataFrame, state: State,
      minTok: Int = 12): State = {
    // a version range CAN carry zero row changes (compaction/cluster
    // commits) — no-op instead of rewriting three checkpoints (the
    // IncrementalDedup empty-feed precedent)
    if (feed.isEmpty) return state
    // the patched shingle/df relations are checkpointed ONCE, read by
    // every downstream consumer (pair probe, restricted rebuild, the
    // state)
    val p = patchOf(feed, state, stabilize)
    // recompute spans for exactly the affected pairs, then patch:
    // retire every affected pair's spans, add the rebuilt ones
    val spansR = Pipelines.spansFromPairRows(
      p.pairRows.join(broadcast(p.pAff), Seq("d1", "d2"), "left_semi"), minTok)
    val spans2 = state.spans
      .join(broadcast(p.pAff), Seq("d1", "d2"), "left_anti")
      .unionByName(spansR)
    val st = State(p.sh2, p.dfc2, stabilize(spans2))
    p.release()
    st
  }

  // ---- stored deployment face (the advanceStored recipe) ----

  /** Span-dedup state persisted as three [[VersionedTable]]s — the
    * deployment shape (the in-memory [[State]]'s localCheckpoint
    * stands in for this write-back at bench scale). Shingles are
    * range-clustered on doc_id and dfCounts on h, so each delta's
    * predicate DELETE file-prunes to the touched ranges; spans
    * cluster on d1. */
  case class StoredSpans(shinglesRoot: String, dfRoot: String,
      spansRoot: String)

  private def roots(st: StoredSpans) =
    Seq(st.shinglesRoot, st.dfRoot, st.spansRoot)

  /** Bootstrap the stored state from a corpus snapshot, range-clustered
    * and fenced ([[StateTables]]); also the one recovery from a torn
    * state, into fresh roots. */
  def bootstrapStored(spark: SparkSession, docs: DataFrame,
      shinglesRoot: String, dfRoot: String, spansRoot: String,
      minTok: Int = 12, files: Int = 8): StoredSpans = {
    val st = build(docs, minTok)
    StateTables.create(spark, files, (shinglesRoot, st.shingles, "doc_id"),
      (dfRoot, st.dfCounts, "h"), (spansRoot, st.spans, "d1"))
    StoredSpans(shinglesRoot, dfRoot, spansRoot)
  }

  /** The stored state read back as a [[State]]; refuses a torn state
    * ([[StateTables.check]]). */
  def readStored(spark: SparkSession, st: StoredSpans): State = {
    StateTables.check(spark, roots(st))
    State(VersionedTable.read(spark, st.shinglesRoot),
      VersionedTable.read(spark, st.dfRoot),
      VersionedTable.read(spark, st.spansRoot))
  }

  /** Advance the STORED state across a corpus version range: the same
    * patch as [[advanceWithFeed]], lowered to table operations —
    * chunked predicate DELETEs (file-pruned via the clustered layout)
    * + one append per state table. The span retire/rebuild set is
    * widened from the exact affected-PAIR set to ALL pairs among the
    * affected DOCS (both sets are |delta|-bounded): a pair predicate
    * would need |pairs| conjunctions, while the doc widening is two
    * IN-lists — and the widened pairs' spans are recomputed
    * byte-identically (their gram evidence is unchanged), so
    * delete+reappend is a no-op for them and the resulting table still
    * equals the full rebuild (spec-pinned). Returns
    * (shingleFilesRewritten, shingleFilesKept) so callers/specs observe
    * the file pruning.
    *
    * NOT atomic across the three state tables: the patch lowers to
    * several independent commits, so a concurrent reader — or a crash
    * mid-advance — can observe a state that equals neither the pre-
    * nor the post-advance rebuild. The patch runs inside
    * [[StateTables.patch]], whose marker is stamped only after the last
    * append: [[readStored]] and the next advance refuse a state the
    * marker does not record, and the one recovery is [[bootstrapStored]]
    * into fresh roots from the corpus snapshot (the in-memory
    * [[advance]] face swaps atomically and has no such window). */
  def advanceStored(spark: SparkSession, corpusRoot: String, fromV: Long,
      toV: Long, st: StoredSpans, minTok: Int = 12): (Int, Int) =
    StateTables.patch(spark, roots(st)) {
      val feed =
        VersionedTable.changeFeed(spark, corpusRoot, fromV, toV, Seq("doc_id"))
      if (feed.isEmpty) (0, StateTables.filesKept(spark, st.shinglesRoot))
      else {
        // the patched relations stay logical over the stored tables;
        // everything an append reads is materialized before the first
        // DELETE
        val p = patchOf(feed, readStored(spark, st), identity)
        val spansAppend =
          stabilize(Pipelines.spansFromPairRows(p.pairRows, minTok))
        val pruned = StateTables.deleteWhere(spark, st.shinglesRoot,
          StateTables.inLists(p.changedIds).map(l => s"doc_id IN ($l)"))
        StateTables.deleteWhere(spark, st.dfRoot,
          StateTables.inLists(p.deltaCnt.select("h")).map(l => s"h IN ($l)"))
        // chunk-PAIR coverage: a span's endpoints can land in different
        // id chunks, so every (chunk_i, chunk_j) combination must be
        // deleted — quadratic in chunks, but deltas are |delta|-bounded
        // and almost always one chunk
        val docs = StateTables.inLists(p.pAffDocs)
        StateTables.deleteWhere(spark, st.spansRoot,
          for (a <- docs; b <- docs) yield s"d1 IN ($a) AND d2 IN ($b)")
        StateTables.append(spark, st.shinglesRoot, p.newSh)
        StateTables.append(spark, st.dfRoot, p.dfChanged)
        StateTables.append(spark, st.spansRoot, spansAppend)
        p.release()
        pruned
      }
    }
}
