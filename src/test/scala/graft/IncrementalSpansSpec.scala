package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.ops.IncrementalSpans
import graft.sources.VersionedTable
import java.nio.file.Files

/** Incremental substring-span state maintenance: after every corpus
  * version (insert / update / delete — including a df-cap transition
  * that changes pairs between two UNCHANGED docs), the advanced state
  * must EQUAL the full recompute on that version's snapshot, on all
  * three relations (shingles, df counts, spans). */
class IncrementalSpansSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("incspans").toString

  private def doc(id: Long, text: String) =
    (id, text, "en", "s", text.length.toLong)

  /** A 15-token boilerplate span, distinct per seed. */
  private def span(seed: Int): String =
    (0 until 15).map(i => s"b${seed}s$i").mkString(" ")

  /** Unique filler tokens (never shared across docs). */
  private def filler(id: Long, n: Int, tag: String = "f"): String =
    (0 until n).map(i => s"u$tag${id}x$i").mkString(" ")

  private def withSpan(id: Long, seed: Int): String =
    s"${filler(id, 6, "p")} ${span(seed)} ${filler(id, 6, "q")}"

  private def shinglesOf(df: DataFrame): Set[(Long, Long, String)] =
    df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("pos"),
      r.getAs[String]("h"))).toSet

  private def dfcOf(df: DataFrame): Set[(String, Long)] =
    df.collect().map(r => (r.getAs[String]("h"), r.getAs[Long]("c"))).toSet

  private def spansOf(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
      r.getAs[Long]("s1"), r.getAs[Long]("s2"), r.getAs[Long]("tok"))).toSet

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("d1", "d2").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def snapshot(root: String, v: Long): DataFrame =
    VersionedTable.read(spark, root, Some(v))

  private def assertMatchesFullRebuild(state: IncrementalSpans.State,
      root: String, v: Long): Unit = {
    val full = IncrementalSpans.build(snapshot(root, v))
    assert(shinglesOf(state.shingles) == shinglesOf(full.shingles),
      s"shingle state diverged from full rebuild at v$v")
    assert(dfcOf(state.dfCounts) == dfcOf(full.dfCounts),
      s"df-count state diverged from full rebuild at v$v")
    assert(spansOf(state.spans) == spansOf(full.spans),
      s"span state diverged from full rebuild at v$v")
  }

  test("advance == full rebuild across insert, update and delete versions") {
    val root = tmp() + "/corpus"

    // v1: (1,2) share span A; (3,4) share span B; 5 is unique
    val v1 = VersionedTable.create(spark, root, Seq(
      doc(1, withSpan(1, 1)), doc(2, withSpan(2, 1)),
      doc(3, withSpan(3, 2)), doc(4, withSpan(4, 2)),
      doc(5, filler(5, 30))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))

    var state = IncrementalSpans.build(snapshot(root, v1))
    val s1 = pairsOf(state.spans)
    assert(s1 == Set((1L, 2L), (3L, 4L)), s"unexpected v1 spans: $s1")
    // a 15-token shared run is one maximal 15-token span
    assert(spansOf(state.spans).forall(_._5 == 15L))

    // v2: APPEND doc 6 carrying span A (pairs (1,6),(2,6)) + unique 7
    val v2 = VersionedTable.append(spark, root, Seq(
      doc(6, withSpan(6, 1)), doc(7, filler(7, 30))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    state = IncrementalSpans.advance(spark, root, v1, v2, state)
    val s2 = pairsOf(state.spans)
    assert(s2 == Set((1L, 2L), (1L, 6L), (2L, 6L), (3L, 4L)),
      s"unexpected v2 spans: $s2")
    assertMatchesFullRebuild(state, root, v2)

    // v3: UPDATE doc 2 away from span A (kills (1,2),(2,6)) and doc 5
    // onto span B (births (3,5),(4,5)) in one merge commit
    val v3 = VersionedTable.merge(spark, root, Seq(
      doc(2, filler(2, 30, "z")), doc(5, withSpan(5, 2))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"), Seq("doc_id"))
    state = IncrementalSpans.advance(spark, root, v2, v3, state)
    val s3 = pairsOf(state.spans)
    assert(s3 == Set((1L, 6L), (3L, 4L), (3L, 5L), (4L, 5L)),
      s"unexpected v3 spans: $s3")
    assertMatchesFullRebuild(state, root, v3)

    // v4: DELETE doc 3 (kills its pairs; (4,5) survives)
    val (v4, _, _, _) = VersionedTable.deleteWhere(spark, root, "doc_id = 3")
    state = IncrementalSpans.advance(spark, root, v3, v4, state)
    val s4 = pairsOf(state.spans)
    assert(s4 == Set((1L, 6L), (4L, 5L)), s"unexpected v4 spans: $s4")
    assertMatchesFullRebuild(state, root, v4)

    // MULTI-VERSION range: one advance over v1→v4 from the v1 state
    // must land on the same answer as the per-version walk (the
    // IncrementalDedupSpec range pin — the nightly catch-up shape)
    val fromScratch = IncrementalSpans.advance(spark, root, v1, v4,
      IncrementalSpans.build(snapshot(root, v1)))
    assert(spansOf(fromScratch.spans) == spansOf(state.spans),
      "range advance diverged from the per-version walk")
    assertMatchesFullRebuild(fromScratch, root, v4)
  }

  test("df-cap transition retires spans between UNCHANGED docs") {
    val root = tmp() + "/corpus2"
    // v1: docs 101,102 share span C — a valid pair (each gram occurs
    // twice, inside [2,20])
    val v1 = VersionedTable.create(spark, root, Seq(
      doc(101, withSpan(101, 3)), doc(102, withSpan(102, 3))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    var state = IncrementalSpans.build(snapshot(root, v1))
    assert(pairsOf(state.spans) == Set((101L, 102L)))

    // v2: append 19 MORE docs carrying span C → 21 occurrences of
    // every C gram → the [2,20] cap evicts them; the (101,102) span
    // must die even though NEITHER doc changed — the transition a
    // "pairs touching changed docs" patch would miss
    val v2 = VersionedTable.append(spark, root,
      (103L to 121L).map(id => doc(id, withSpan(id, 3)))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    state = IncrementalSpans.advance(spark, root, v1, v2, state)
    assert(pairsOf(state.spans).isEmpty,
      s"capped grams must pair nobody, got ${pairsOf(state.spans)}")
    assertMatchesFullRebuild(state, root, v2)

    // v3: delete 18 of the newcomers → 3 occurrences → spans return
    // for ALL remaining triples, again without touching 101/102
    val (v3, _, _, _) = VersionedTable.deleteWhere(spark, root,
      "doc_id >= 104")
    state = IncrementalSpans.advance(spark, root, v2, v3, state)
    assert(pairsOf(state.spans) ==
      Set((101L, 102L), (101L, 103L), (102L, 103L)),
      s"span must return once under the cap, got ${pairsOf(state.spans)}")
    assertMatchesFullRebuild(state, root, v3)
  }

  test("stored state: advanceStored patches the tables file-pruned, equal to rebuild") {
    val root = tmp() + "/corpus5"
    // enough docs that the range-clustered shingle table has multiple
    // files and a small-id delta leaves the high-id files untouched
    val v1 = VersionedTable.create(spark, root,
      ((1L to 40L).map(id => doc(id, filler(id, 30))) ++ Seq(
        doc(41, withSpan(41, 9)), doc(42, withSpan(42, 9))))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val stored = IncrementalSpans.bootstrapStored(spark,
      snapshot(root, v1), tmp() + "/sh", tmp() + "/df", tmp() + "/sp")
    assert(pairsOf(IncrementalSpans.readStored(spark, stored).spans) ==
      Set((41L, 42L)))

    // one mixed commit: doc 1 (low id) gains span D pairing with a new
    // doc 43; doc 41 is deleted (kills (41,42))
    VersionedTable.merge(spark, root,
      Seq(doc(1, withSpan(1, 10))).toDF("doc_id", "text", "lang", "source", "n_chars"),
      Seq("doc_id"))
    VersionedTable.append(spark, root,
      Seq(doc(43, withSpan(43, 10))).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val (v2, _, _, _) = VersionedTable.deleteWhere(spark, root, "doc_id = 41")
    val (touched, keptFiles) =
      IncrementalSpans.advanceStored(spark, root, v1, v2, stored)
    // the DELETE's min/max pruning left untouched shingle files alone
    assert(touched > 0 && keptFiles > 0,
      s"expected a pruned rewrite, got touched=$touched kept=$keptFiles")
    val got = IncrementalSpans.readStored(spark, stored)
    assert(pairsOf(got.spans) == Set((1L, 43L)), s"got ${pairsOf(got.spans)}")
    val full = IncrementalSpans.build(snapshot(root, v2))
    assert(shinglesOf(got.shingles) == shinglesOf(full.shingles))
    assert(dfcOf(got.dfCounts) == dfcOf(full.dfCounts))
    assert(spansOf(got.spans) == spansOf(full.spans))
  }

  test("empty feed is a no-op and the state object is reusable") {
    val root = tmp() + "/corpus4"
    val v1 = VersionedTable.create(spark, root, Seq(
      doc(1, withSpan(1, 7)), doc(2, withSpan(2, 7))
    ).toDF("doc_id", "text", "lang", "source", "n_chars"))
    val state = IncrementalSpans.build(snapshot(root, v1))
    val same = IncrementalSpans.advanceWithFeed(spark,
      snapshot(root, v1).limit(0)
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert")),
      state)
    assert(same eq state, "empty feed must return the state unchanged")
    // full-vs-incremental equality on the ORACLE-CHECKED corpus too:
    // one synthetic update over the sf0.001 documents table
    val root2 = tmp() + "/corpusdocs"
    val docs = Tables(spark, SharedSpark.sf0001, "documents")
    val vA = VersionedTable.create(spark, root2, docs)
    var st = IncrementalSpans.build(snapshot(root2, vA))
    import org.apache.spark.sql.functions._
    val vB = VersionedTable.merge(spark, root2,
      docs.filter(col("doc_id") % 97 === 0)
        .withColumn("text", concat(col("text"), lit(" tail marker"))),
      Seq("doc_id"))
    st = IncrementalSpans.advance(spark, root2, vA, vB, st)
    assertMatchesFullRebuild(st, root2, vB)
  }
}
