package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import graft.ops.{IncrementalDedup, IncrementalSpans, IncrementalUrlDedup}
import graft.sources.VersionedTable
import java.nio.file.Files

/** The stored faces of the three incremental dedup operators, driven
  * through one table: each must refuse a torn state (a commit to a
  * state table that no complete patch recorded) on read AND on advance
  * — the empty-feed advance included — recover by bootstrapping into
  * fresh roots, and round-trip through `file://` URI roots. */
class StateTablesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("statetables").toString

  private def words(tag: String, n: Int): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  /** A unique doc: 30 filler tokens and its own URL. */
  private def unique(id: Long): String =
    s"${words(s"u${id}x", 30)} see https://site$id.com/p?id=$id ok"

  /** A text two docs share whole: a near-dup pair, a shared span and a
    * shared URL key at once. */
  private def shared(seed: Int): String =
    s"${words(s"b${seed}s", 20)} see https://dup$seed.com/p ok"

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private def snapshot(root: String, v: Long): DataFrame =
    VersionedTable.read(spark, root, Some(v))

  /** Every relation of a state, as row sets in a fixed order. */
  private def rowsOf(rels: DataFrame*): Seq[Set[Row]] =
    rels.map(_.collect().toSet)

  /** One operator's stored face: bootstrap into roots under `dir`,
    * advance, read back, and the full rebuild to compare with. */
  private abstract class Op(val name: String) {
    type S
    def bootstrap(snap: DataFrame, dir: String): S
    def advance(root: String, fromV: Long, toV: Long, st: S): (Int, Int)
    def read(st: S): Seq[Set[Row]]
    def rebuilt(snap: DataFrame): Seq[Set[Row]]
    /** The state table a stray commit lands on. */
    def lastRoot(st: S): String
  }

  private val ops: Seq[Op] = Seq(
    new Op("dedup") {
      type S = IncrementalDedup.StoredState
      def bootstrap(snap: DataFrame, dir: String) =
        IncrementalDedup.bootstrapStored(spark, snap, s"$dir/bands", s"$dir/pairs")
      def advance(root: String, fromV: Long, toV: Long, st: S) =
        IncrementalDedup.advanceStored(spark, root, fromV, toV, st)
      def read(st: S) = {
        val s = IncrementalDedup.readStored(spark, st)
        rowsOf(s.bands, s.pairs)
      }
      def rebuilt(snap: DataFrame) = {
        val s = IncrementalDedup.build(snap)
        rowsOf(s.bands, s.pairs)
      }
      def lastRoot(st: S) = st.pairsRoot
    },
    new Op("url") {
      type S = IncrementalUrlDedup.StoredState
      def bootstrap(snap: DataFrame, dir: String) =
        IncrementalUrlDedup.bootstrapStored(spark, snap, s"$dir/keys")
      def advance(root: String, fromV: Long, toV: Long, st: S) =
        IncrementalUrlDedup.advanceStored(spark, root, fromV, toV, st)
      def read(st: S) = rowsOf(IncrementalUrlDedup.readStored(spark, st).keys)
      def rebuilt(snap: DataFrame) = rowsOf(IncrementalUrlDedup.build(snap).keys)
      def lastRoot(st: S) = st.keysRoot
    },
    new Op("spans") {
      type S = IncrementalSpans.StoredSpans
      def bootstrap(snap: DataFrame, dir: String) =
        IncrementalSpans.bootstrapStored(spark, snap,
          s"$dir/sh", s"$dir/df", s"$dir/sp")
      def advance(root: String, fromV: Long, toV: Long, st: S) =
        IncrementalSpans.advanceStored(spark, root, fromV, toV, st)
      def read(st: S) = {
        val s = IncrementalSpans.readStored(spark, st)
        rowsOf(s.shingles, s.dfCounts, s.spans)
      }
      def rebuilt(snap: DataFrame) = {
        val s = IncrementalSpans.build(snap)
        rowsOf(s.shingles, s.dfCounts, s.spans)
      }
      def lastRoot(st: S) = st.spansRoot
    })

  /** v1: 40 unique docs plus the shared pair (41, 42); v2 (one
    * merge, one append, one delete): doc 1 moves onto a new shared text
    * with the fresh doc 43, and doc 41 leaves. */
  private def corpus(root: String): (Long, Long) = {
    val v1 = VersionedTable.create(spark, root, docs(
      (1L to 40L).map(id => id -> unique(id)) ++
        Seq(41L -> shared(9), 42L -> shared(9)): _*))
    VersionedTable.merge(spark, root, docs(1L -> shared(10)), Seq("doc_id"))
    VersionedTable.append(spark, root, docs(43L -> shared(10)))
    val (v2, _, _) = VersionedTable.deleteWhere(spark, root, "doc_id = 41")
    (v1, v2)
  }

  /** A commit the marker never recorded: one of the table's own rows
    * appended again — what a patch cut off between its commits leaves. */
  private def strayCommit(root: String): Unit =
    VersionedTable.append(spark, root, VersionedTable.read(spark, root).limit(1))

  for (op <- ops) {
    test(s"${op.name}: a commit after the marker makes read and advance refuse") {
      val root = tmp() + "/corpus"
      val (v1, v2) = corpus(root)
      val st = op.bootstrap(snapshot(root, v1), tmp())
      assert(op.read(st) == op.rebuilt(snapshot(root, v1)))
      strayCommit(op.lastRoot(st))
      val onRead = intercept[IllegalStateException](op.read(st))
      assert(onRead.getMessage.contains("marker"), onRead.getMessage)
      intercept[IllegalStateException](op.advance(root, v1, v2, st))
    }

    test(s"${op.name}: an empty-feed advance over a torn state refuses and does not re-stamp it") {
      val root = tmp() + "/corpus"
      val (v1, v2) = corpus(root)
      val st = op.bootstrap(snapshot(root, v2), tmp())
      // intact state: the empty range is a no-op
      op.advance(root, v2, v2, st)
      assert(op.read(st) == op.rebuilt(snapshot(root, v2)))
      strayCommit(op.lastRoot(st))
      intercept[IllegalStateException](op.advance(root, v2, v2, st))
      intercept[IllegalStateException](op.read(st))
      // the one recovery: bootstrap into fresh roots
      val fresh = op.bootstrap(snapshot(root, v2), tmp())
      assert(op.read(fresh) == op.rebuilt(snapshot(root, v2)))
      op.advance(root, v2, v2, fresh)
      assert(op.read(fresh) == op.rebuilt(snapshot(root, v2)))
    }

    test(s"${op.name}: stored round trip under file:// URI roots") {
      val root = "file://" + tmp() + "/corpus"
      val (v1, v2) = corpus(root)
      val st = op.bootstrap(snapshot(root, v1), "file://" + tmp())
      op.advance(root, v1, v2, st)
      assert(op.read(st) == op.rebuilt(snapshot(root, v2)))
    }
  }
}
