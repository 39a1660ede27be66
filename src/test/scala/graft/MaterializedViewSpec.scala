package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{MaterializedView, VersionedTable}
import graft.sources.MaterializedView.AggSpec
import java.nio.file.Files

/** Incremental view maintenance: the folded state must equal the full
  * recompute after every base change, and an append-only refresh must
  * read only the appended files. */
class MaterializedViewSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("mv").toString

  private val aggs = Seq(
    AggSpec("count", "*", "n"),
    AggSpec("sum", "n_chars", "chars"),
    AggSpec("min", "doc_id", "lo"),
    AggSpec("max", "doc_id", "hi"))

  private def expected(base: String): Map[String, (Long, Long, Long, Long)] =
    VersionedTable.read(spark, base)
      .groupBy("lang")
      .agg(count(lit(1)), sum("n_chars"), min("doc_id"), max("doc_id"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  private def got(view: String): Map[String, (Long, Long, Long, Long)] =
    MaterializedView.read(spark, view).collect()
      .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("chars"),
        r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .toMap

  test("create materializes; append-only refresh folds just the delta") {
    val base = tmp() + "/base"; val view = tmp() + "/view"
    VersionedTable.create(spark, base,
      Tables(spark, SharedSpark.sf0001, "documents"))
    MaterializedView.create(spark, view, base, Seq("lang"), aggs)
    assert(got(view) == expected(base))

    // idempotent when the base hasn't moved
    val (_, n0, mode0) = MaterializedView.refresh(spark, view)
    assert(mode0 == "noop" && n0 == 0)

    // append two commits, refresh: incremental, reads only the 2 new
    // files, state equals the recompute
    VersionedTable.append(spark, base,
      Seq((9001L, "a b c", "xx", "s9", 5L)).toDF(
        "doc_id", "text", "lang", "source", "n_chars").coalesce(1))
    VersionedTable.append(spark, base,
      Seq((9002L, "d e", "en", "s9", 3L)).toDF(
        "doc_id", "text", "lang", "source", "n_chars").coalesce(1))
    val (_, nInc, modeInc) = MaterializedView.refresh(spark, view)
    assert(modeInc == "incremental", s"expected incremental, got $modeInc")
    assert(nInc == 2, s"expected 2 delta files, read $nInc")
    assert(got(view) == expected(base))
    assert(got(view)("xx") == ((1L, 5L, 9001L, 9001L)))
  }

  test("non-append base change forces a correct full recompute") {
    val base = tmp() + "/base"; val view = tmp() + "/view"
    VersionedTable.create(spark, base,
      Tables(spark, SharedSpark.sf0001, "documents"))
    MaterializedView.create(spark, view, base, Seq("lang"), aggs)
    // delete rewrites files -> not append-only
    VersionedTable.deleteWhere(spark, base, "doc_id % 2 = 0")
    val (_, _, mode) = MaterializedView.refresh(spark, view)
    assert(mode == "full")
    assert(got(view) == expected(base))
  }

  test("changes: O(delta) on append-only ranges, row diff on rewrites") {
    val root = tmp() + "/t"
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    VersionedTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    VersionedTable.append(spark, root, Seq((3L, "c")).toDF("id", "v"))
    val delta = VersionedTable.changes(spark, root, 1L, 3L)
    assert(delta.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    assert(VersionedTable.changes(spark, root, 2L, 2L).count() == 0)
    // rewrite (delete) -> fallback diff; delete adds no rows
    VersionedTable.deleteWhere(spark, root, "id = 2")
    assert(VersionedTable.changes(spark, root, 3L, 4L).count() == 0)
    // merge rewrites: the updated + inserted rows surface as changes
    VersionedTable.merge(spark, root,
      Seq((1L, "a2"), (9L, "i")).toDF("id", "v"), Seq("id"))
    val ch = VersionedTable.changes(spark, root, 4L, 5L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ch == Set((1L, "a2"), (9L, "i")))
  }

  test("streaming sink -> incremental view refresh, end to end") {
    val base = tmp() + "/base"; val view = tmp() + "/view"
    // micro-batch 0 lands via the streaming sink path
    VersionedTable.appendBatch(spark, base,
      Seq((1L, "click"), (2L, "view")).toDF("id", "event_type"), 0L)
    MaterializedView.create(spark, view, base, Seq("event_type"),
      Seq(AggSpec("count", "*", "n")))
    // micro-batches 1-2 arrive; one replay is dropped by the sink
    VersionedTable.appendBatch(spark, base,
      Seq((3L, "click")).toDF("id", "event_type"), 1L)
    VersionedTable.appendBatch(spark, base,
      Seq((3L, "dup")).toDF("id", "event_type"), 1L) // replay: skipped
    VersionedTable.appendBatch(spark, base,
      Seq((4L, "click"), (5L, "purchase")).toDF("id", "event_type"), 2L)
    val (_, nFiles, mode) = MaterializedView.refresh(spark, view)
    assert(mode == "incremental" && nFiles >= 2)
    val counts = MaterializedView.read(spark, view).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n")).toMap
    assert(counts == Map("click" -> 3L, "view" -> 1L, "purchase" -> 1L))
  }

  test("deleteWhere rewrites only non-refuted files") {
    val root = tmp() + "/t"
    VersionedTable.create(spark, root,
      Tables(spark, SharedSpark.sf0001, "documents")
        .repartitionByRange(4, col("doc_id")))
    val before = VersionedTable.read(spark, root).count()
    val matching = VersionedTable.read(spark, root)
      .where("doc_id < 10").count()
    val (_, rewritten, kept, _) = VersionedTable.deleteWhere(spark, root, "doc_id < 10")
    assert(rewritten >= 1 && kept >= 1,
      s"stats should spare some files (rewrote $rewritten, kept $kept)")
    assert(VersionedTable.read(spark, root).count() == before - matching)
    assert(VersionedTable.read(spark, root).where("doc_id < 10").count() == 0)
    // null-predicate rows are NOT deleted (SQL DELETE semantics)
    val r2 = tmp() + "/t2"
    import spark.implicits._
    VersionedTable.create(spark, r2, Seq(
      (Some(1L), "a"), (None, "b"), (Some(5L), "c")).toDF("k", "v"))
    VersionedTable.deleteWhere(spark, r2, "k < 3")
    assert(VersionedTable.read(spark, r2).collect().map(_.getString(1)).sorted
      .toSeq == Seq("b", "c"))
  }

  test("decimal sums keep a stable schema across incremental refreshes") {
    val base = tmp() + "/base"; val view = tmp() + "/view"
    def rows(xs: (String, String)*) = xs.toSeq.toDF("k", "amt")
      .withColumn("amt", col("amt").cast("decimal(10,2)"))
    VersionedTable.create(spark, base, rows("a" -> "1.10", "b" -> "2.20"))
    MaterializedView.create(spark, view, base, Seq("k"),
      Seq(AggSpec("sum", "amt", "total")))
    val schema0 = MaterializedView.read(spark, view).schema("total").dataType
    // two incremental folds: un-anchored, each would widen decimal by 10
    VersionedTable.append(spark, base, rows("a" -> "3.30"))
    assert(MaterializedView.refresh(spark, view)._3 == "incremental")
    VersionedTable.append(spark, base, rows("b" -> "0.40"))
    assert(MaterializedView.refresh(spark, view)._3 == "incremental")
    assert(MaterializedView.read(spark, view).schema("total").dataType == schema0,
      "incremental refresh must not widen the view schema")
    val got = MaterializedView.read(spark, view).collect()
      .map(r => r.getString(0) -> r.getDecimal(1).toPlainString).toMap
    assert(got == Map("a" -> "4.40", "b" -> "2.60"))
  }

  test("float/double sums are rejected as not incrementally exact") {
    val base = tmp() + "/base"; val view = tmp() + "/view"
    VersionedTable.create(spark, base,
      Seq(("a", 1.5), ("b", 2.5)).toDF("k", "x"))
    val e = intercept[IllegalArgumentException] {
      MaterializedView.create(spark, view, base, Seq("k"),
        Seq(AggSpec("sum", "x", "sx")))
    }
    assert(e.getMessage.contains("not incrementally maintainable"))
    // min/max/count over doubles stay fine
    MaterializedView.create(spark, view, base, Seq("k"),
      Seq(AggSpec("count", "*", "n"), AggSpec("max", "x", "hi")))
    assert(MaterializedView.read(spark, view).count() == 2)
  }

  test("keyed count/sum views maintain through updates and deletes via the change feed") {
    val base = tmp() + "/base"; val view = tmp() + "/view"
    VersionedTable.create(spark, base,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
        .toDF("id", "k", "x"))
    MaterializedView.create(spark, view, base, Seq("k"),
      Seq(AggSpec("count", "*", "n"), AggSpec("sum", "x", "sx")), keys = Seq("id"))

    def full(): Map[String, (Long, Long)] =
      VersionedTable.read(spark, base).groupBy("k")
        .agg(count(lit(1)), sum("x")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def state(): Map[String, (Long, Long)] =
      MaterializedView.read(spark, view).collect()
        .map(r => r.getString(0) -> (r.getAs[Long]("n"), r.getAs[Long]("sx"))).toMap

    // merge = updates (1 moves groups a->b, 2 changes x) + insert (5)
    VersionedTable.merge(spark, base,
      Seq((1L, "b", 11L), (2L, "a", 25L), (5L, "c", 50L)).toDF("id", "k", "x"),
      Seq("id"))
    val (_, _, m1) = MaterializedView.refresh(spark, view)
    assert(m1 == "delta" && state() == full())

    // delete empties group b entirely: its row must VANISH from the
    // view, exactly as a full recompute would never materialize it
    VersionedTable.deleteWhere(spark, base, "k = 'b'")
    val (_, _, m2) = MaterializedView.refresh(spark, view)
    assert(m2 == "delta" && state() == full())
    assert(!state().contains("b"))

    // appends still take the cheaper manifest-diff path
    VersionedTable.append(spark, base, Seq((6L, "d", 60L)).toDF("id", "k", "x"))
    val (_, _, m3) = MaterializedView.refresh(spark, view)
    assert(m3 == "incremental" && state() == full())

    // a min/max view keeps the full-recompute fallback on rewrites
    // (deleting the minimum is not invertible)
    val view2 = tmp() + "/view2"
    MaterializedView.create(spark, view2, base, Seq("k"),
      Seq(AggSpec("count", "*", "n"), AggSpec("min", "x", "lo")), keys = Seq("id"))
    VersionedTable.deleteWhere(spark, base, "id = 6")
    val (_, _, m4) = MaterializedView.refresh(spark, view2)
    assert(m4 == "full")
  }
}
