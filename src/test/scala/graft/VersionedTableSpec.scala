package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.VersionedTable
import java.nio.file.Files

/** Snapshot-table-format contract: commits, isolation, time travel,
  * schema evolution, merge, concurrency, data skipping, vacuum,
  * compaction, and interop with the declared query suite via
  * Tables.mount. */
class VersionedTableSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def tmpRoot(): String =
    Files.createTempDirectory("vt").toString + "/tbl"

  test("create + read round-trips and is version 1") {
    val root = tmpRoot()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(VersionedTable.create(spark, root, df) == 1L)
    val back = VersionedTable.read(spark, root)
    assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((1L, "a"), (2L, "b")))
    assert(VersionedTable.versions(spark, root) == Seq(1L))
    intercept[IllegalArgumentException] { VersionedTable.create(spark, root, df) }
  }

  test("append accumulates; time travel sees the old snapshot") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    VersionedTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    assert(VersionedTable.read(spark, root).count() == 2)
    assert(VersionedTable.read(spark, root, asOf = Some(1L)).count() == 1)
    // strict-schema append rejects a different shape
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root, Seq((3L, "c", 1)).toDF("id", "v", "extra"))
    }
  }

  test("overwrite replaces contents and schema in one snapshot") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    VersionedTable.overwrite(spark, root, Seq((9L, 3.5)).toDF("id", "score"))
    val back = VersionedTable.read(spark, root)
    assert(back.columns.toSeq == Seq("id", "score"))
    assert(back.count() == 1)
    // the pre-overwrite snapshot is still fully readable
    assert(VersionedTable.read(spark, root, asOf = Some(1L)).columns.toSeq == Seq("id", "v"))
  }

  test("mergeSchema append widens; old files read the new column as null") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    VersionedTable.append(spark, root,
      Seq((2L, "b", 0.9)).toDF("id", "v", "score"), mergeSchema = true)
    val back = VersionedTable.read(spark, root).orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(back(0).isNullAt(2) && back(1).getDouble(2) == 0.9)
    // type change is refused even with mergeSchema
    intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root,
        Seq((3, "c", 0.1)).toDF("id", "v", "score"), mergeSchema = true)
    }
  }

  test("merge upserts: matched keys replaced, new keys inserted") {
    val root = tmpRoot()
    VersionedTable.create(spark, root,
      Seq((1L, "old"), (2L, "keep")).toDF("id", "v"))
    VersionedTable.merge(spark, root,
      Seq((1L, "new"), (3L, "ins")).toDF("id", "v"), Seq("id"))
    val m = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "new", 2L -> "keep", 3L -> "ins"))
    intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root,
        Seq((1L, "x"), (1L, "y")).toDF("id", "v"), Seq("id"))
    }
  }

  test("concurrent appends both land via CAS retry") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, Seq((0L, "seed")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futures = (1 to 4).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = VersionedTable.append(spark, root,
          Seq((i.toLong, s"w$i")).toDF("id", "v"))
      })
    }
    val got = futures.map(_.get())
    pool.shutdown()
    // four distinct committed versions, no lost update
    assert(got.toSet.size == 4)
    assert(VersionedTable.versions(spark, root).size == 5)
    assert(VersionedTable.read(spark, root).count() == 5)
  }

  test("scan prunes files by min/max stats and matches the full filter") {
    val root = tmpRoot()
    val docs = Tables(spark, SharedSpark.sf0001, "documents")
    // range-partitioned write -> disjoint per-file doc_id ranges
    VersionedTable.create(spark, root,
      docs.repartitionByRange(4, col("doc_id")))
    val (pruned, scanned, total) =
      VersionedTable.scan(spark, root, "doc_id < 10")
    assert(total == 4 && scanned < total,
      s"expected pruning, scanned $scanned of $total")
    val expected = docs.filter(col("doc_id") < 10).count()
    assert(pruned.count() == expected)
    // a contradiction prunes everything but still returns the schema
    val (none, s0, _) = VersionedTable.scan(spark, root, "doc_id < -1")
    assert(s0 == 0 && none.count() == 0)
    // string + IN + null predicates stay correct (conservative where unknown)
    val (langEn, _, _) = VersionedTable.scan(spark, root, "lang IN ('en')")
    assert(langEn.count() == docs.filter($"lang" === "en").count())
    val (nn, _, _) = VersionedTable.scan(spark, root, "text IS NOT NULL")
    assert(nn.count() == docs.filter($"text".isNotNull).count())
  }

  test("timestamp stats prune in the micros domain") {
    val root = tmpRoot()
    val ev = Tables(spark, SharedSpark.sf0001, "events")
      .select("event_id", "user_id", "ts")
    VersionedTable.create(spark, root, ev.repartitionByRange(4, col("ts")))
    val cut = ev.selectExpr("cast(percentile(cast(ts as double), 0.1) as timestamp) as c")
      .collect()(0).getAs[java.sql.Timestamp](0)
    val pred = s"ts < timestamp'$cut'"
    val (pruned, scanned, total) = VersionedTable.scan(spark, root, pred)
    assert(scanned < total, s"expected timestamp pruning, scanned $scanned of $total")
    assert(pruned.count() == ev.where(pred).count())
  }

  test("cast-wrapped predicates never prune (truncating casts are unsound to unwrap)") {
    val root = tmpRoot()
    val ev = Tables(spark, SharedSpark.sf0001, "events")
      .select("event_id", "user_id", "ts")
    VersionedTable.create(spark, root, ev.repartitionByRange(4, col("ts")))
    // a day whose rows sit mid-file: comparing the file's RAW micros
    // stats against the date literal would falsely refute it
    val day = ev.selectExpr("cast(cast(ts as date) as string) as d")
      .distinct().orderBy("d").collect()(1).getString(0)
    val pred = s"cast(ts as date) = date'$day'"
    val (got, scanned, total) = VersionedTable.scan(spark, root, pred)
    assert(got.count() == ev.where(pred).count(), s"cast predicate lost rows")
    assert(scanned == total, "cast-wrapped column must be conservative (no pruning)")
    // and deleteWhere with the same shape deletes every matching row
    val before = VersionedTable.read(spark, root).count()
    VersionedTable.deleteWhere(spark, root, pred)
    assert(VersionedTable.read(spark, root).count() ==
      before - ev.where(pred).count())
  }

  test("merge and mergeBatch reject same-name different-type schemas") {
    val root = tmpRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    val narrower = Seq((1, 11), (3, 31)).toDF("k", "v") // int, not long
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.merge(spark, root, narrower, Seq("k"))
    }
    assert(e1.getMessage.contains("does not match table schema"))
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.mergeBatch(spark, root, narrower, Seq("k"), batchId = 0L)
    }
    assert(e2.getMessage.contains("does not match table schema"))
    // the head is still the created version and still readable
    assert(VersionedTable.read(spark, root).count() == 2)
  }

  test("vacuum drops unreferenced files; head stays readable") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    VersionedTable.overwrite(spark, root, Seq((2L, "b")).toDF("id", "v"))
    // minAgeMs=0: no concurrent writers in this test (the default 1h
    // age guard protects in-flight writes' staged files)
    val deleted = VersionedTable.vacuum(spark, root, retainVersions = 1, minAgeMs = 0L)
    assert(deleted >= 1)
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).toSeq == Seq(2L))
    intercept[Exception] { VersionedTable.read(spark, root, asOf = Some(1L)).collect() }
  }

  test("compact bin-packs into fewer files as a new version") {
    val root = tmpRoot()
    val df = spark.range(0, 1000).toDF("id").repartition(8)
    VersionedTable.create(spark, root, df)
    val v = VersionedTable.compact(spark, root, targetBytes = 1L << 30)
    assert(v == 2L)
    val hist = VersionedTable.history(spark, root).orderBy("version").collect()
    assert(hist.map(_.getString(1)).toSeq == Seq("create", "compact"))
    assert(hist(1).getLong(2) < hist(0).getLong(2)) // fewer files
    assert(VersionedTable.read(spark, root).count() == 1000)
  }

  test("compact never writes more files than the snapshot's read plans") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, spark.range(0, 200).toDF("id").repartition(4))
    VersionedTable.append(spark, root, spark.range(200, 300).toDF("id").repartition(2))
    val filesBefore = VersionedTable.history(spark, root).orderBy("version")
      .collect().last.getLong(2)
    // a one-byte target asks for one file per byte; the rewrite still
    // only coalesces the read's partitions
    val v = VersionedTable.compact(spark, root, 1L)
    val head = VersionedTable.history(spark, root).orderBy("version").collect().last
    assert(head.getLong(0) == v && head.getString(1) == "compact")
    assert(head.getLong(2) <= filesBefore, s"${head.getLong(2)} files after, $filesBefore before")
    assert(VersionedTable.read(spark, root).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 300L))
  }

  test("concurrent appends + compacts never lose rows (conflict detection)") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, Seq((0L, "seed")).toDF("id", "v"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val tasks: Seq[() => Unit] =
      (1 to 3).map[() => Unit](i => () => {
        VersionedTable.append(spark, root, Seq((i.toLong, s"w$i")).toDF("id", "v")); ()
      }) ++ Seq[() => Unit](
        // a compact that loses the race must fail with CME, never
        // publish a stale snapshot over an interleaved append
        () => try { VersionedTable.compact(spark, root, 1L << 30); () }
              catch { case _: java.util.ConcurrentModificationException => () },
        () => try { VersionedTable.restore(spark, root, 1L); () }
              catch { case _: java.util.ConcurrentModificationException => () })
    val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = t()
    }))
    futures.foreach(_.get())
    pool.shutdown()
    // every append survives unless an (ordered-after) restore/compact
    // legitimately replaced the snapshot it SAW — so the final state
    // must equal replaying the committed history: verify no op lost
    // rows it was required to carry, via the per-version row counts
    val hist = VersionedTable.history(spark, root).orderBy("version").collect()
    hist.sliding(2).foreach { w =>
      if (w.length == 2 && w(1).getString(1) == "append")
        assert(w(1).getLong(3) == w(0).getLong(3) + 1,
          s"append at v${w(1).getLong(0)} lost rows: ${w.mkString(" | ")}")
    }
    assert(VersionedTable.read(spark, root).count() ==
      hist.last.getLong(3))
  }

  test("registerView exposes snapshots to spark.sql with time travel") {
    val root = tmpRoot()
    VersionedTable.create(spark, root, Seq((1L, "a")).toDF("id", "v"))
    VersionedTable.append(spark, root, Seq((2L, "b")).toDF("id", "v"))
    VersionedTable.registerView(spark, "vt_head", root)
    VersionedTable.registerView(spark, "vt_v1", root, asOf = Some(1L))
    assert(spark.sql("SELECT count(*) FROM vt_head").collect()(0).getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM vt_v1").collect()(0).getLong(0) == 1L)
  }

  test("z-order clustering prunes on EVERY clustered dimension") {
    val root = tmpRoot()
    // two independent uniform dimensions — a linear sort on either one
    // leaves the other spread full-range in every file
    val df = spark.range(0, 4096).toDF("id")
      .withColumn("a", col("id") % 64)
      .withColumn("b", floor(col("id") / lit(64)))
      .repartition(8) // random layout: no dimension prunes before clustering
    VersionedTable.create(spark, root, df)
    val (_, sA0, t0) = VersionedTable.scan(spark, root, "a < 8")
    val (_, sB0, _) = VersionedTable.scan(spark, root, "b < 8")
    assert(sA0 == t0 && sB0 == t0, "random layout should not prune")
    VersionedTable.cluster(spark, root, Seq("a", "b"), numFiles = 16)
    val (ra, sA, tA) = VersionedTable.scan(spark, root, "a < 8")
    val (rb, sB, tB) = VersionedTable.scan(spark, root, "b < 8")
    assert(sA < tA, s"a-predicate should prune after z-order ($sA/$tA)")
    assert(sB < tB, s"b-predicate should prune after z-order ($sB/$tB)")
    assert(ra.count() == 8 * 64 && rb.count() == 8 * 64)
  }

  test("appendBatch is idempotent on the streaming batch id") {
    val root = tmpRoot()
    assert(VersionedTable.appendBatch(spark, root, Seq((1L, "a")).toDF("id", "v"), 0L))
    assert(!VersionedTable.appendBatch(spark, root, Seq((1L, "dup")).toDF("id", "v"), 0L))
    assert(VersionedTable.appendBatch(spark, root, Seq((2L, "b")).toDF("id", "v"), 1L))
    assert(VersionedTable.read(spark, root).count() == 2)
    // a non-streaming commit in between must not reset the high-water mark
    VersionedTable.compact(spark, root, 1L << 30)
    assert(!VersionedTable.appendBatch(spark, root, Seq((9L, "re")).toDF("id", "v"), 1L))
    assert(VersionedTable.appendBatch(spark, root, Seq((3L, "c")).toDF("id", "v"), 2L))
    assert(VersionedTable.read(spark, root).count() == 3)
  }

  test("appendStream lands a bounded stream exactly once") {
    val root = tmpRoot()
    val ckpt = Files.createTempDirectory("vtckpt").toString
    val ev = graft.streaming.Streams.eventsStream(spark, SharedSpark.sf0001)
    val q = VersionedTable.appendStream(ev, root, ckpt)
    q.awaitTermination()
    val expected = Tables(spark, SharedSpark.sf0001, "events").count()
    assert(VersionedTable.read(spark, root).count() == expected)
    // restart against the same checkpoint: no new data, no new version
    val vBefore = VersionedTable.versions(spark, root).last
    val q2 = VersionedTable.appendStream(ev, root, ckpt)
    q2.awaitTermination()
    assert(VersionedTable.versions(spark, root).last == vBefore)
    assert(VersionedTable.read(spark, root).count() == expected)
  }

  test("mergeBatch upserts idempotently on the streaming batch id") {
    val root = tmpRoot()
    def df(rows: (Long, String)*) = rows.toSeq.toDF("k", "v")
    assert(VersionedTable.mergeBatch(spark, root, df(1L -> "a", 2L -> "b"), Seq("k"), 0L))
    assert(VersionedTable.mergeBatch(spark, root, df(2L -> "B", 3L -> "c"), Seq("k"), 1L))
    // a replay of batch 1 must change nothing and report skipped
    assert(!VersionedTable.mergeBatch(spark, root, df(2L -> "WRONG"), Seq("k"), 1L))
    val got = VersionedTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // key-duplicate batches are rejected loudly (caller collapses)
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergeBatch(spark, root, df(5L -> "x", 5L -> "y"), Seq("k"), 2L)
    }
    assert(e.getMessage.contains("duplicate key"))
    // ...including on the TABLE-CREATING first batch (the append
    // delegation must not smuggle duplicates past the guard)
    val fresh = tmpRoot()
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.mergeBatch(spark, fresh, df(5L -> "x", 5L -> "y"), Seq("k"), 0L)
    }
    assert(e2.getMessage.contains("duplicate key"))
  }

  test("mergeStream lands a bounded stream exactly once, replay-safe") {
    val root = tmpRoot()
    val ev = graft.streaming.Streams.eventsStream(spark, SharedSpark.sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val q = VersionedTable.mergeStream(ev, root, Seq("event_id"),
      Files.createTempDirectory("vtmck").toString)
    q.awaitTermination()
    val expected = Tables(spark, SharedSpark.sf0001, "events").count()
    assert(VersionedTable.read(spark, root).count() == expected)
    // a FRESH checkpoint replays batch 0 with the same id: the
    // high-water mark skips it, the table does not double
    val q2 = VersionedTable.mergeStream(ev, root, Seq("event_id"),
      Files.createTempDirectory("vtmck2").toString)
    q2.awaitTermination()
    assert(VersionedTable.read(spark, root).count() == expected)
  }

  test("a mounted snapshot serves the declared query suite identically") {
    val root = tmpRoot()
    val d = SharedSpark.sf0001
    VersionedTable.create(spark, root, Tables(spark, d, "documents"))
    val virt = Files.createTempDirectory("vtmount").toString
    Tables.names.foreach(n => Tables.mount(spark, virt, n, Tables(spark, d, n)))
    Tables.mount(spark, virt, "documents", VersionedTable.read(spark, root))
    val viaVt = SparkEntry.queries("pipeline_quality_score")(spark, virt).collect()
    val direct = SparkEntry.queries("pipeline_quality_score")(spark, d).collect()
    assert(viaVt.sameElements(direct))
  }

  test("changeFeed: row-level insert/delete/update images across versions") {
    val root = tmpRoot()
    val v0 = VersionedTable.create(spark, root,
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))
    // update 1, insert 5 (merge), then delete 3 (rewrite path)
    VersionedTable.merge(spark, root,
      Seq((1L, "A2"), (5L, "e")).toDF("id", "v"), Seq("id"))
    val (head, _, _, _) = VersionedTable.deleteWhere(spark, root, "id = 3")
    val feed = VersionedTable.changeFeed(spark, root, v0, head, Seq("id"))
      .collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("v"))).toSet
    assert(feed == Set(
      ("insert", 5L, "e"),
      ("delete", 3L, "c"),
      ("update_preimage", 1L, "a"),
      ("update_postimage", 1L, "A2")))

    // append-only fast path: the delta files tagged insert, no join
    val before = VersionedTable.versions(spark, root).max
    VersionedTable.append(spark, root, Seq((6L, "f"), (7L, "g")).toDF("id", "v"))
    val after = VersionedTable.versions(spark, root).max
    val appendFeed = VersionedTable.changeFeed(spark, root, before, after, Seq("id"))
      .collect().map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id")))
    assert(appendFeed.toSet == Set(("insert", 6L), ("insert", 7L)))

    // an append that RE-USES a live key is a logical upsert: the
    // key-overlap probe must reject the fast path and the general
    // diff must emit pre/post images, not a bare duplicate insert
    VersionedTable.append(spark, root, Seq((6L, "F2"), (8L, "h")).toDF("id", "v"))
    val after2 = VersionedTable.versions(spark, root).max
    val upsertFeed = VersionedTable.changeFeed(spark, root, after, after2, Seq("id"))
      .collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[String]("v"))).toSet
    // post-append the new snapshot holds BOTH (6,"f") and (6,"F2");
    // the join matches the old row against each — the ("f","f") pair
    // drops as unchanged, the ("f","F2") pair emits the images
    assert(upsertFeed == Set(
      ("insert", 8L, "h"),
      ("update_preimage", 6L, "f"),
      ("update_postimage", 6L, "F2")))

    // identical versions: empty feed; descending range rejected
    assert(VersionedTable.changeFeed(spark, root, after2, after2, Seq("id")).count() == 0)
    intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, after, before, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      VersionedTable.changeFeed(spark, root, before, after, Seq("nope"))
    }
  }
}
