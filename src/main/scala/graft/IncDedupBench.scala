package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.IncrementalDedup
import graft.sources.VersionedTable

/** Scale measurement for [[IncrementalDedup]] (round 11, VERDICT item
  * 4): does advancing the dedup state over a version delta cost
  * |delta|, or |corpus|?
  *
  * Two sweeps, one JSON line per measurement:
  *  - corpus sweep (fixed delta of 200 docs, corpus 5k → 50k → 500k):
  *    `advance` vs `full_rebuild` on the post-version snapshot — the
  *    ratio is the daily-maintenance saving a 100-TB curation loop
  *    banks;
  *  - delta sweep (fixed 50k corpus, delta 100 → 1000 → 10000):
  *    the advance cost's dependence on |delta| itself.
  *
  * The delta is composed 50% inserts (half of them exact dups of
  * existing docs, so pairs are created), 25% updates (text rewritten —
  * pairs die and are born), 25% deletes — every change class the
  * change feed emits. All choices are md5-deterministic.
  *
  * Honest accounting: `advance` includes the state rewrite
  * (localCheckpoint of the patched band/pair relations — a linear
  * columnar SCAN, no shuffle), which a real deployment replaces with
  * a keyed MERGE into stored state tables. The corpus-sweep fit
  * therefore bounds the scan term too; the claim is not "zero corpus
  * dependence" but "no corpus-sized SHUFFLE/rebuild in the loop".
  */
object IncDedupBench {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16"), "ERROR",
      "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "16"),
      "spark.sql.files.maxPartitionBytes" ->
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "8m"),
      "spark.sql.adaptive.enabled" -> "false")

    val meter = new Harness.Meter(spark)
    import Harness.r3

    val tmpRoot = java.nio.file.Files.createTempDirectory("incdedup_bench")

    /** Commit one mixed delta of `n` docs and return (fromV, toV). */
    def commitDelta(root: String, docs: DataFrame, n: Int, salt: Int): (Long, Long) = {
      val fromV = VersionedTable.versions(spark, root).last
      val ids = docs.select(col("doc_id"), col("text"))
        .orderBy(md5(concat(lit(s"pick$salt|"), col("doc_id").cast("string"))))
        .limit(n).collect()
      val maxId = docs.agg(max("doc_id")).head().getLong(0)
      val nIns = n / 2; val nUpd = n / 4
      val insRows = (0 until nIns).map { i =>
        // half the inserts duplicate an existing doc's text
        val text = if (i % 2 == 0) ids(i).getString(1)
          else s"fresh${salt}x$i " + (0 until 19).map(j => s"f${salt}x${i}x$j").mkString(" ")
        (maxId + 1 + i, text, "en", "bench", text.length.toLong)
      }
      val updRows = (nIns until nIns + nUpd).map { i =>
        val id = ids(i).getLong(0)
        val text = s"upd${salt}x$i " + (0 until 19).map(j => s"u${salt}x${i}x$j").mkString(" ")
        (id, text, "en", "bench", text.length.toLong)
      }
      val delIds = (nIns + nUpd until n).map(i => ids(i).getLong(0))
      import spark.implicits._
      VersionedTable.append(spark, root,
        insRows.toDF("doc_id", "text", "lang", "source", "n_chars"))
      VersionedTable.merge(spark, root,
        updRows.toDF("doc_id", "text", "lang", "source", "n_chars"), Seq("doc_id"))
      VersionedTable.deleteWhere(spark, root,
        s"doc_id IN (${delIds.mkString(",")})")
      (fromV, VersionedTable.versions(spark, root).last)
    }

    def measureTier(dir: String, deltas: Seq[Int]): Unit = {
      val docs = Tables(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val nDocs = docs.count()
      val root = s"$tmpRoot/corpus_${nDocs}"
      VersionedTable.create(spark, root, docs)
      val v1 = VersionedTable.versions(spark, root).last
      val (built, tBuild, _) = meter("dedup:build") {
        val st = IncrementalDedup.build(VersionedTable.read(spark, root, Some(v1)))
        st.pairs.count(); st
      }
      var state = built
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      for ((dn, i) <- deltas.zipWithIndex) {
        val (fromV, toV) = commitDelta(root, VersionedTable.read(spark, root), dn, i)
        val (s2, tAdv, _) = meter("dedup:advance") {
          val st = IncrementalDedup.advance(spark, root, fromV, toV, state)
          st.pairs.count(); st
        }
        // the comparison rebuild on the SAME post-delta snapshot
        val (_, tRebuild, _) = meter("dedup:rebuild") {
          IncrementalDedup.build(VersionedTable.read(spark, root, Some(toV))).pairs.count()
        }
        state = s2
        parts += s"""{"delta":$dn,"advance":${r3(tAdv)},"full_rebuild":${r3(tRebuild)}}"""
      }
      println(s"""{"family":"inc_dedup","dir":"$dir","n_docs":$nDocs,"initial_build":${r3(tBuild)},"steps":[${parts.mkString(",")}]}""")
      System.out.flush()
    }

    /** Same sweep for [[graft.ops.IncrementalSpans]] (round 13): the
      * positioned-shingle span state under the same mixed delta. */
    def measureTierSpans(dir: String, deltas: Seq[Int]): Unit = {
      val docs = Tables(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val nDocs = docs.count()
      val root = s"$tmpRoot/spans_corpus_${nDocs}"
      VersionedTable.create(spark, root, docs)
      val v1 = VersionedTable.versions(spark, root).last
      val (built, tBuild, _) = meter("spans:build") {
        val st = graft.ops.IncrementalSpans.build(VersionedTable.read(spark, root, Some(v1)))
        st.spans.count(); st
      }
      var state = built
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      for ((dn, i) <- deltas.zipWithIndex) {
        val (fromV, toV) = commitDelta(root, VersionedTable.read(spark, root), dn, i)
        val (s2, tAdv, _) = meter("spans:advance") {
          val st = graft.ops.IncrementalSpans.advance(spark, root, fromV, toV, state)
          st.spans.count(); st
        }
        val (_, tRebuild, _) = meter("spans:rebuild") {
          graft.ops.IncrementalSpans.build(
            VersionedTable.read(spark, root, Some(toV))).spans.count()
        }
        state = s2
        // the STORED face on a fresh delta: the deployment path whose
        // state rewrite is file-pruned DELETE+append instead of the
        // in-memory path's full checkpoint rewrite (the span state is
        // corpus-sized — positioned shingles — so the rewrite term
        // dominates `advance` at the 100x tier; `advance_stored` is
        // the number the daily loop actually pays)
        val postV = VersionedTable.versions(spark, root).last
        val stRoot = s"$tmpRoot/spans_state_${nDocs}_$i"
        val stored = graft.ops.IncrementalSpans.bootstrapStored(spark,
          VersionedTable.read(spark, root, Some(postV)),
          s"$stRoot/sh", s"$stRoot/df", s"$stRoot/sp")
        val (f2, t2) = commitDelta(root, VersionedTable.read(spark, root), dn, 100 + i)
        val (_, tAdvStored, _) = meter("spans:advance_stored") {
          graft.ops.IncrementalSpans.advanceStored(spark, root, f2, t2, stored)
        }
        parts += s"""{"delta":$dn,"advance":${r3(tAdv)},"advance_stored":${r3(tAdvStored)},"full_rebuild":${r3(tRebuild)}}"""
      }
      println(s"""{"family":"inc_spans","dir":"$dir","n_docs":$nDocs,"initial_build":${r3(tBuild)},"steps":[${parts.mkString(",")}]}""")
      System.out.flush()
    }

    /** Same sweep for [[graft.ops.IncrementalUrlDedup]] (round 15):
      * the canonical-URL key state under a URL-bearing corpus (the
      * §2.52 tracked-URL fixture appended to every doc, so twins and
      * keyless docs both exist) and a mixed delta whose inserts carry
      * fresh URLs, updates DROP their URLs (key-leave exercised) and
      * deletes remove keepers. The state is one (doc_id, ukey)
      * relation, so the claim is the strongest of the incremental
      * family: advance touches only |delta| feed rows — no snapshot
      * scan at all — plus the stored table's file-pruned DELETE. */
    def measureTierUrl(dir: String, n: Int): Unit = {
      import spark.implicits._
      val docs = Tables(spark, dir, "documents")
        .withColumn("text", graft.ops.Crawl.urlTrackedText)
        .select("doc_id", "text", "lang", "source", "n_chars")
      val nDocs = docs.count()
      val root = s"$tmpRoot/url_corpus_${nDocs}"
      VersionedTable.create(spark, root, docs)
      val v1 = VersionedTable.versions(spark, root).last
      val (state, tBuild, _) = meter("url:build") {
        val st = graft.ops.IncrementalUrlDedup.build(VersionedTable.read(spark, root, Some(v1)))
        st.keys.count(); st
      }
      def urlDelta(salt: Int): (Long, Long) = {
        val fromV = VersionedTable.versions(spark, root).last
        val snap = VersionedTable.read(spark, root)
        val ids = snap.select(col("doc_id"))
          .orderBy(md5(concat(lit(s"upick$salt|"), col("doc_id").cast("string"))))
          .limit(n).collect().map(_.getLong(0))
        val maxId = snap.agg(max("doc_id")).head().getLong(0)
        val nIns = n / 2; val nUpd = n / 4
        val insRows = (0 until nIns).map { i =>
          val text = s"ins${salt}x$i see https://b$salt.example/p${i % 40} ok"
          (maxId + 1 + i, text, "en", "bench", text.length.toLong)
        }
        val updRows = (nIns until nIns + nUpd).map { i =>
          val text = s"upd${salt}x$i no links any more"
          (ids(i), text, "en", "bench", text.length.toLong)
        }
        val delIds = (nIns + nUpd until n).map(ids(_))
        VersionedTable.append(spark, root,
          insRows.toDF("doc_id", "text", "lang", "source", "n_chars"))
        VersionedTable.merge(spark, root,
          updRows.toDF("doc_id", "text", "lang", "source", "n_chars"),
          Seq("doc_id"))
        VersionedTable.deleteWhere(spark, root,
          s"doc_id IN (${delIds.mkString(",")})")
        (fromV, VersionedTable.versions(spark, root).last)
      }
      val (fromV, toV) = urlDelta(0)
      val (_, tAdv, _) = meter("url:advance") {
        graft.ops.IncrementalUrlDedup.advance(spark, root, fromV, toV, state).keys.count()
      }
      val (_, tRebuild, _) = meter("url:rebuild") {
        graft.ops.IncrementalUrlDedup.build(
          VersionedTable.read(spark, root, Some(toV))).keys.count()
      }
      // stored face on a fresh delta — the daily-loop number
      val postV = VersionedTable.versions(spark, root).last
      val stored = graft.ops.IncrementalUrlDedup.bootstrapStored(spark,
        VersionedTable.read(spark, root, Some(postV)),
        s"$tmpRoot/url_state_${nDocs}")
      val (f2, t2) = urlDelta(1)
      val (_, tAdvStored, _) = meter("url:advance_stored") {
        graft.ops.IncrementalUrlDedup.advanceStored(spark, root, f2, t2, stored)
      }
      println(s"""{"family":"inc_url","dir":"$dir","n_docs":$nDocs,"initial_build":${r3(tBuild)},"steps":[{"delta":$n,"advance":${r3(tAdv)},"advance_stored":${r3(tAdvStored)},"full_rebuild":${r3(tRebuild)}}]}""")
      System.out.flush()
    }

    /** Round-16 sweep for [[graft.ops.Export.advanceShards]]: ship the
      * corpus minus the n newest docs, then ADVANCE with the full feed
      * (packs only the n entering docs into new shards) vs a full
      * re-export of the post-delta corpus. Append-only by
      * construction — the advance path's fence never fires here. The
      * claim under test: advance ~ |entering| + one shipped scan;
      * rebuild ~ |corpus| (range shuffle + full rewrite). */
    def measureTierExport(dir: String, n: Int): Unit = {
      val docs = Tables(spark, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val nDocs = docs.count()
      val budget = 2048L
      val cut = docs.select(col("doc_id")).orderBy(col("doc_id").desc)
        .limit(n).agg(min(col("doc_id"))).head().getLong(0)
      val base = docs.filter(col("doc_id") < cut)
      val out = s"$tmpRoot/export_${nDocs}"
      val (_, tBuild, _) = meter("export:build") {
        graft.ops.Export.exportShards(base, out, budget).count()
      }
      val (_, tAdv, _) = meter("export:advance") {
        graft.ops.Export.advanceShards(spark, out, docs, budget).count()
      }
      val (_, tRebuild, _) = meter("export:rebuild") {
        graft.ops.Export.exportShards(docs, s"${out}_rb", budget).count()
      }
      println(s"""{"family":"inc_export","dir":"$dir","n_docs":$nDocs,"initial_build":${r3(tBuild)},"steps":[{"delta":$n,"advance":${r3(tAdv)},"full_rebuild":${r3(tRebuild)}}]}""")
      System.out.flush()
    }

    val mode = sys.env.getOrElse("SPARK_GRAFT_INCDEDUP_MODE", "all")
    // the corpus decades every fixed-delta sweep runs across
    val docTiers = Seq("/root/testdata/sf0.1",
      new java.io.File("fixtures/sf1_docs").getAbsolutePath,
      new java.io.File("fixtures/sf10_docs").getAbsolutePath)
      .filter(d => new java.io.File(s"$d/documents.parquet").exists())
    // export-advance sweep (round 16): fixed 200-doc entering slice
    if (mode == "all" || mode == "export") docTiers.foreach(d => measureTierExport(d, 200))
    // url-key sweep (round 15): fixed 200-doc delta across the decades
    if (mode == "all" || mode == "url") docTiers.foreach(d => measureTierUrl(d, 200))
    // spans sweep (round 13): fixed 200-doc delta across three decades
    if (mode == "all" || mode == "spans") docTiers.foreach(d => measureTierSpans(d, Seq(200)))
    // corpus sweep: fixed 200-doc delta across three decades
    if (mode == "all" || mode == "corpus") docTiers.foreach(d => measureTier(d, Seq(200)))
    // delta sweep: one corpus, two decades of delta size
    if (mode == "all" || mode == "delta") {
      val d = new java.io.File("fixtures/sf1_docs").getAbsolutePath
      if (new java.io.File(s"$d/documents.parquet").exists())
        measureTier(d, Seq(100, 1000, 10000))
    }
    spark.stop()
  }
}
