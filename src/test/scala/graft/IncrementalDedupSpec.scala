package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.ops.IncrementalDedup
import graft.sources.VersionedTable
import java.nio.file.Files

/** Incremental MinHash-LSH dedup maintenance: after every corpus
  * version (insert / update / delete), the incrementally-advanced
  * state must EQUAL the full recompute on that version's snapshot —
  * the MaterializedView discipline applied to the dedup pair set. */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("incdedup").toString

  // (doc_id, text, lang, source, n_chars) — the documents schema
  private def doc(id: Long, lang: String, text: String) =
    (id, text, lang, "s", text.length.toLong)

  private def mkText(seed: Int): String =
    (0 until 20).map(i => s"w${seed}x$i").mkString(" ")

  private def pairsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r =>
      (r.getAs[Long]("d1"), r.getAs[Long]("d2"), r.getAs[Double]("jaccard"))).toSet

  private def bandsOf(df: DataFrame): Set[(Long, String, Int, String)] =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
      r.getAs[Int]("band"), r.getAs[String]("bkey"))).toSet

  private def snapshot(root: String, v: Long): DataFrame =
    VersionedTable.read(spark, root, Some(v))

  private def assertMatchesFullRebuild(state: IncrementalDedup.State,
      root: String, v: Long): Unit = {
    val full = IncrementalDedup.build(snapshot(root, v))
    assert(bandsOf(state.bands) == bandsOf(full.bands),
      s"band state diverged from full rebuild at v$v")
    assert(pairsOf(state.pairs) == pairsOf(full.pairs),
      s"pair state diverged from full rebuild at v$v")
  }

  test("advance == full rebuild across insert, update and delete versions") {
    val root = tmp() + "/corpus"

    // v1: doc2 is an exact dup of doc1 (jaccard 1.0 -> identical
    // signature -> band match guaranteed); doc4 copies doc1's text in
    // another lang (LSH partitions by lang: must NOT pair with 1)
    val v1 = VersionedTable.create(spark, root, Seq(
      doc(1, "en", mkText(1)),
      doc(2, "en", mkText(1)),
      doc(3, "en", mkText(3)),
      doc(4, "de", mkText(1)),
      doc(5, "en", mkText(5)),
      doc(6, "en", mkText(6))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

    var state = IncrementalDedup.build(snapshot(root, v1))
    val p1 = pairsOf(state.pairs)
    assert(p1.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      s"expected exact-dup pair (1,2) at v1, got $p1")
    assert(!p1.exists(p => p._2 == 4L), s"cross-lang pair must not form: $p1")

    // v2: APPEND doc7 (exact dup of doc3) and doc8 (fresh)
    val v2 = VersionedTable.append(spark, root, Seq(
      doc(7, "en", mkText(3)),
      doc(8, "en", mkText(8))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    state = IncrementalDedup.advance(spark, root, v1, v2, state)
    val p2 = pairsOf(state.pairs)
    assert(p2.exists(p => p._1 == 3L && p._2 == 7L && p._3 == 1.0),
      s"expected new pair (3,7) after append, got $p2")
    assert(p2.exists(p => p._1 == 1L && p._2 == 2L),
      s"pair (1,2) must survive an unrelated append, got $p2")
    assertMatchesFullRebuild(state, root, v2)

    // v3: UPDATE doc2 away from doc1 (kills pair (1,2)) and doc5 onto
    // doc6's text (births pair (5,6)) in one merge commit
    val v3 = VersionedTable.merge(spark, root, Seq(
      doc(2, "en", mkText(22)),
      doc(5, "en", mkText(6))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), Seq("doc_id"))
    state = IncrementalDedup.advance(spark, root, v2, v3, state)
    val p3 = pairsOf(state.pairs)
    assert(!p3.exists(p => p._1 == 1L && p._2 == 2L),
      s"pair (1,2) must die when doc2's text changes, got $p3")
    assert(p3.exists(p => p._1 == 5L && p._2 == 6L && p._3 == 1.0),
      s"expected updated doc5 to pair with doc6, got $p3")
    assertMatchesFullRebuild(state, root, v3)

    // v4: DELETE doc3 (kills pair (3,7); doc7 stays, now unpaired)
    val (v4, _, _, _) = VersionedTable.deleteWhere(spark, root, "doc_id = 3")
    state = IncrementalDedup.advance(spark, root, v3, v4, state)
    val p4 = pairsOf(state.pairs)
    assert(!p4.exists(p => p._1 == 3L || p._2 == 3L),
      s"pairs touching deleted doc3 must die, got $p4")
    assertMatchesFullRebuild(state, root, v4)
  }

  test("streaming maintainer: final state == full rebuild at the head") {
    val root = tmp() + "/corpus3"
    VersionedTable.create(spark, root, Seq(
      doc(1, "en", mkText(1)),
      doc(2, "en", mkText(2)),
      doc(3, "en", mkText(3))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    // a commit of every change class BEFORE the stream starts: the
    // file-source checkpoint must pick all of them up in order
    VersionedTable.append(spark, root,
      Seq(doc(4, "en", mkText(1))).toDF("doc_id", "text", "lang", "source", "n_chars"))
    VersionedTable.merge(spark, root,
      Seq(doc(3, "en", mkText(2))).toDF("doc_id", "text", "lang", "source", "n_chars"),
      Seq("doc_id"))
    VersionedTable.deleteWhere(spark, root, "doc_id = 2")
    val ckpt = tmp() + "/ckpt"
    val (q, getState) = IncrementalDedup.maintainStream(spark, root, ckpt)
    q.awaitTermination()
    val vN = VersionedTable.versions(spark, root).last
    assertMatchesFullRebuild(getState(), root, vN)
    // pair (1,4) from the append must be live; doc2's pairs dead
    val p = pairsOf(getState().pairs)
    assert(p.exists(x => x._1 == 1L && x._2 == 4L && x._3 == 1.0), s"$p")
    assert(!p.exists(x => x._1 == 2L || x._2 == 2L), s"$p")

    // RESUME: new commits after the drained run; a fresh AvailableNow
    // stream on the SAME checkpoint processes only the new versions,
    // fed the prior state
    VersionedTable.append(spark, root,
      Seq(doc(5, "en", mkText(2))).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val (q2, getState2) = IncrementalDedup.maintainStream(spark, root, ckpt,
      Some(getState()))
    q2.awaitTermination()
    val v2 = VersionedTable.versions(spark, root).last
    assertMatchesFullRebuild(getState2(), root, v2)
    // doc5 duplicates doc3's post-merge text -> pair (3,5)
    assert(pairsOf(getState2().pairs).exists(x => x._1 == 3L && x._2 == 5L))
  }

  test("stored state: table-backed advance equals full rebuild, deletes are file-pruned") {
    val root = tmp() + "/corpus4"
    // a corpus wide enough that the 8 range-clustered band files carry
    // genuinely disjoint doc_id ranges
    val v1 = VersionedTable.create(spark, root,
      (1L to 64L).map(i => doc(i, "en", mkText(i.toInt)))
        .updated(1, doc(2, "en", mkText(1))) // (1,2) exact dup
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val st = IncrementalDedup.bootstrapStored(spark,
      VersionedTable.read(spark, root, Some(v1)),
      tmp() + "/bands", tmp() + "/pairs")
    assert(pairsOf(IncrementalDedup.readStored(spark, st).pairs)
      .exists(p => p._1 == 1L && p._2 == 2L))

    // delta: insert a dup of doc 5, update doc 2 away (kills (1,2)),
    // delete doc 7
    VersionedTable.append(spark, root,
      Seq(doc(100, "en", mkText(5))).toDF("doc_id", "text", "lang", "source", "n_chars"))
    VersionedTable.merge(spark, root,
      Seq(doc(2, "en", mkText(200))).toDF("doc_id", "text", "lang", "source", "n_chars"),
      Seq("doc_id"))
    val (v2, _, _, _) = VersionedTable.deleteWhere(spark, root, "doc_id = 7")
    val (touched, kept) = IncrementalDedup.advanceStored(spark, root, v1, v2, st)
    // file pruning: the delta touches ids {100, 2, 7} — the range-
    // clustered band files NOT covering those ids must survive
    assert(kept > 0, s"bands delete rewrote every file (touched=$touched)")
    val stored = IncrementalDedup.readStored(spark, st)
    val full = IncrementalDedup.build(VersionedTable.read(spark, root, Some(v2)))
    assert(pairsOf(stored.pairs) == pairsOf(full.pairs))
    assert(bandsOf(stored.bands) == bandsOf(full.bands))
    val p = pairsOf(stored.pairs)
    assert(p.exists(x => x._1 == 5L && x._2 == 100L))
    assert(!p.exists(x => x._1 == 1L && x._2 == 2L))
  }

  test("advance across a multi-version range in one step") {
    val root = tmp() + "/corpus2"
    val v1 = VersionedTable.create(spark, root, Seq(
      doc(1, "en", mkText(1)),
      doc(2, "en", mkText(2))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val state0 = IncrementalDedup.build(snapshot(root, v1))

    VersionedTable.append(spark, root,
      Seq(doc(3, "en", mkText(1))).toDF("doc_id", "text", "lang", "source", "n_chars"))
    VersionedTable.merge(spark, root,
      Seq(doc(2, "en", mkText(1))).toDF("doc_id", "text", "lang", "source", "n_chars"),
      Seq("doc_id"))
    val vN = VersionedTable.versions(spark, root).last
    // one advance over create..head: doc3 inserted (dup of 1) AND
    // doc2 updated onto the same text -> triangle (1,2),(1,3),(2,3)
    val state = IncrementalDedup.advance(spark, root, v1, vN, state0)
    val p = pairsOf(state.pairs)
    assert(p.map(x => (x._1, x._2)) == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"expected the dup triangle, got $p")
    assertMatchesFullRebuild(state, root, vN)
  }
}
