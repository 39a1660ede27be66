package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.ops.{Curation, IncrementalUrlDedup => U}
import graft.sources.VersionedTable
import java.nio.file.Files

/** Incremental URL-keyed exact dedup: after every corpus version the
  * advanced key state must EQUAL the full rebuild on that version's
  * snapshot, and applying its keepers must equal Curation.urlDedup run
  * from scratch — the IncrementalDedup discipline on the cheapest
  * crawl dedup key. */
class IncrementalUrlDedupSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("incurl").toString

  private def doc(id: Long, text: String) =
    (id, text, "en", "s", text.length.toLong)

  // tracked vs clean twins canonicalize identically (the urlDedup fixture)
  private def tracked(k: Int) =
    s"see HTTPS://Site$k.COM/p?utm_source=x&id=$k ok"
  private def clean(k: Int) = s"see https://site$k.com/p?id=$k ok"

  private def keysOf(st: U.State): Set[(Long, String)] =
    st.keys.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("ukey"))).toSet

  private def snapshot(root: String, v: Long): DataFrame =
    VersionedTable.read(spark, root, Some(v))

  private def assertMatchesRebuild(st: U.State, root: String, v: Long): Unit = {
    val snap = snapshot(root, v)
    assert(keysOf(st) == keysOf(U.build(snap)),
      s"key state diverged from full rebuild at v$v")
    // and the applied keep decision == the from-scratch batch stage
    val viaState = U.apply(snap, st).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val scratch = Curation.urlDedup(snap).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(viaState == scratch,
      s"state-applied dedup != Curation.urlDedup at v$v")
  }

  test("advance == full rebuild across insert, update, delete and a multi-version range") {
    val root = tmp() + "/corpus"
    // v1: (1,2) canonical twins; 3 distinct URL; 4 URL-less
    val v1 = VersionedTable.create(spark, root, Seq(
      doc(1, tracked(7)), doc(2, clean(7)),
      doc(3, clean(9)), doc(4, "plain text no links")
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    var state = U.build(snapshot(root, v1))
    assert(keysOf(state).map(_._1) == Set(1L, 2L, 3L),
      "URL-less docs must not enter the state")
    assert(U.apply(snapshot(root, v1), state).select("doc_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L, 4L),
      "twin keeper must be the min id; URL-less pass through")

    // v2: APPEND another twin of key 7 (still loses to doc 1) + fresh key
    val v2 = VersionedTable.append(spark, root, Seq(
      doc(5, tracked(7)), doc(6, clean(11))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    state = U.advance(spark, root, v1, v2, state)
    assertMatchesRebuild(state, root, v2)

    // v3: UPDATE doc 1's text to DROP its URL (key leaves the state;
    // doc 2 becomes key 7's keeper) and doc 3 onto key 11 (now ties
    // with doc 6 — min id 3 wins)
    val v3 = VersionedTable.merge(spark, root, Seq(
      doc(1, "no more links here"), doc(3, tracked(11))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), Seq("doc_id"))
    state = U.advance(spark, root, v2, v3, state)
    assert(!keysOf(state).exists(_._1 == 1L),
      "a doc whose text lost its URL must leave the state")
    val kept3 = U.apply(snapshot(root, v3), state).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept3.contains(2L) && kept3.contains(1L) && !kept3.contains(5L),
      s"keepership must move to doc 2 after doc 1 loses its URL: $kept3")
    assert(kept3.contains(3L) && !kept3.contains(6L),
      s"key-11 keeper must be min id 3: $kept3")
    assertMatchesRebuild(state, root, v3)

    // v4: DELETE the key-7 keeper — doc 5 takes over
    val (v4, _, _, _) = VersionedTable.deleteWhere(spark, root, "doc_id = 2")
    state = U.advance(spark, root, v3, v4, state)
    assert(U.apply(snapshot(root, v4), state).select("doc_id")
      .collect().map(_.getLong(0)).toSet.contains(5L),
      "next-min doc must take over when the keeper is deleted")
    assertMatchesRebuild(state, root, v4)

    // multi-version range in ONE advance == stepwise
    val fresh = U.advance(spark, root, v1, v4, U.build(snapshot(root, v1)))
    assert(keysOf(fresh) == keysOf(state), "range advance != stepwise")

    // empty feed no-op
    val same = U.advanceWithFeed(
      VersionedTable.changeFeed(spark, root, v4, v4, Seq("doc_id")), state)
    assert(keysOf(same) == keysOf(state))
  }

  test("stored face: file-pruned delete, advance == rebuild, torn-state detection") {
    val root = tmp() + "/corpus"
    val stRoot = tmp() + "/keys"
    // enough docs to fill several range-clustered files
    val v1 = VersionedTable.create(spark, root,
      (1L to 400L).map(i => doc(i, clean(i.toInt))).toDF(
        "doc_id", "text", "lang", "source", "n_chars"))
    val stored = U.bootstrapStored(spark, snapshot(root, v1), stRoot)
    // delta touching a narrow id range
    val v2 = VersionedTable.merge(spark, root, Seq(
      doc(10, tracked(3)), doc(11, "plain no url")
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), Seq("doc_id"))
    val (touched, kept) = U.advanceStored(spark, root, v1, v2, stored)
    assert(touched > 0, "delta must rewrite the touched file(s)")
    assert(kept > 0,
      s"range-clustered DELETE must leave untouched files (kept=$kept)")
    assert(keysOf(U.readStored(spark, stored)) ==
      keysOf(U.build(snapshot(root, v2))),
      "stored advance diverged from full rebuild")

    // torn state: an extra commit after the sync marker simulates a
    // crash between patch commits — readStored must refuse
    VersionedTable.append(spark, stRoot,
      Seq((9999L, "https://x.example/")).toDF("doc_id", "ukey"))
    intercept[IllegalStateException] {
      U.readStored(spark, stored)
    }
    // recovery: re-bootstrap from the snapshot
    val stored2 = U.bootstrapStored(spark, snapshot(root, v2),
      tmp() + "/keys2")
    assert(keysOf(U.readStored(spark, stored2)) ==
      keysOf(U.build(snapshot(root, v2))))
  }

  test("real-corpus delta: sf0.001 documents under a merge") {
    val root = tmp() + "/corpus"
    val docs = Tables(spark, SharedSpark.sf0001, "documents")
    val v1 = VersionedTable.create(spark, root, docs)
    var state = U.build(snapshot(root, v1))
    // real docs carry URLs via text? likely few — plant a twin pair
    val v2 = VersionedTable.merge(spark, root, Seq(
      doc(100001L, tracked(42)), doc(100002L, clean(42))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), Seq("doc_id"))
    state = U.advance(spark, root, v1, v2, state)
    assertMatchesRebuild(state, root, v2)
  }
}
