package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Curation

/** The composed curation pipeline: stage monotonicity, dedup
  * correctness, split disjointness, determinism. */
class CurationSpec extends AnyFunSuite {
  import SharedSpark._

  lazy val result = Curation.curate(spark, sf0001,
    minTokens = 5, maxStopRatio = 0.9,
    fractions = Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 0.5),
    testFraction = 0.2)

  test("stages only ever shrink the corpus, and nothing is lost to the split") {
    val (_, _, r) = result
    assert(r.input >= r.afterQuality)
    assert(r.afterQuality >= r.afterExactDedup)
    assert(r.afterExactDedup >= r.afterNearDedup)
    assert(r.afterNearDedup >= r.afterDecontam)
    assert(r.train + r.test <= r.afterDecontam) // zh downsampled
    assert(r.train > 0 && r.test > 0)
    // decontamination really fired: no eval-slice doc and no flagged
    // doc survives into the splits
    val (train, test, _) = result
    val out = train.unionAll(test)
    assert(out.filter(col("doc_id") % 10 === 0).count() == 0,
      "eval-slice docs leaked into the curated corpus")
    val flagged = ops.Pipelines.pipelineContamination(spark, sf0001)
      .select(col("doc_id"))
    assert(flagged.count() > 0, "fixture corpus lost its contaminated docs")
    assert(out.join(flagged, Seq("doc_id"), "left_semi").count() == 0,
      "contaminated docs leaked into the curated corpus")
  }

  test("exact dedup output has unique normalized content") {
    val (train, test, _) = result
    val all = train.unionAll(test)
    val dupes = all.groupBy(md5(lower(trim(col("text"))))).count()
      .filter(col("count") > 1)
    assert(dupes.count() == 0)
  }

  test("no surviving doc is the greater side of a verified near-dup pair") {
    val (train, test, _) = result
    val all = train.unionAll(test)
    val pairs = ops.Pipelines.dedupMinhashLsh(spark, sf0001)
    assert(all.join(pairs, all("doc_id") === pairs("d2"), "inner").count() == 0)
  }

  test("near-dups survive when their canonical was removed upstream") {
    val pairs = ops.Pipelines.dedupMinhashLsh(spark, sf0001)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    // pick a duplicate with exactly ONE canonical: nearDedup drops d2
    // iff ANY pair's d1 survives, so a multi-pair d2 wouldn't isolate
    // the removed-canonical behavior
    val singles = pairs.groupBy(_._2).filter(_._2.size == 1).values.map(_.head)
    assert(singles.nonEmpty)
    val (c, dup) = singles.head
    val docs = Tables(spark, sf0001, "documents")
    // canonical present -> duplicate dropped
    val withCanonical = Curation.nearDedup(spark, sf0001, docs)
    assert(withCanonical.filter(col("doc_id") === dup).count() == 0)
    // canonical already filtered out upstream -> duplicate must survive
    val withoutCanonical =
      Curation.nearDedup(spark, sf0001, docs.filter(col("doc_id") =!= c))
    assert(withoutCanonical.filter(col("doc_id") === dup).count() == 1)
  }

  test("adaptive ANN near-dedup stage: end-to-end with measured recall vs the exact pair set") {
    val emb = Tables(spark, sf0001, "embeddings")
    // the two pair universes over the same corpus slice
    val exactPairs = ops.Pipelines.simCosineNeardup(spark, sf0001)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val annPairs = ops.Pipelines.simCosineNeardupAnnAdaptive(spark, sf0001)
      .select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty)
    // precision 1.0 by construction (exact rescore at the same
    // threshold), recall the measured quantity the stage's docs claim
    assert(annPairs.subsetOf(exactPairs), "ANN pair not in the exact set")
    val recall = annPairs.size.toDouble / exactPairs.size
    info(s"adaptive ANN pair recall vs exact: $recall (${annPairs.size}/${exactPairs.size})")
    assert(recall >= 0.9, s"adaptive ANN recall $recall below 0.9")
    // the curation stage end-to-end: drops exactly the greater sides
    // of active pairs, keeps everything else
    val kept = ops.Curation.annNearDedup(spark, sf0001, emb, path = "ann_adaptive")
    val expectedDrops = annPairs.map(_._2)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    val allIds = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptIds == allIds -- expectedDrops)
    // removed-canonical guard: dropping a pair's lesser side upstream
    // lets the greater side survive (content never vanishes entirely)
    val (c, dup) = annPairs.groupBy(_._2).filter(_._2.size == 1)
      .values.map(_.head).head
    val without = ops.Curation.annNearDedup(spark, sf0001,
      emb.filter(col("vec_id") =!= c), path = "ann_adaptive")
    assert(without.filter(col("vec_id") === dup).count() == 1)
    // the naqed API surface reaches the same stage (massFactor knob)
    val apiKept = new graft.api.Naqed(spark, sf0001)
      .nearDedupEmbeddings(Map("$mass_factor" -> 8.0, "$path" -> "ann_adaptive"))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(apiKept == keptIds)
    intercept[IllegalArgumentException] {
      new graft.api.Naqed(spark, sf0001).nearDedupEmbeddings(Map("$bogus" -> 1))
    }
  }

  test("near-dedup auto path: cost-based switch at the measured crossover") {
    import ops.Curation._
    // the pure rule, both sides of the SCALING.md line: exact below
    // the crossover (cheaper AND recall-1.0 there), ANN at/above it
    assert(chooseNearDedupPath(500) == "exact")
    assert(chooseNearDedupPath(AnnCrossoverItems - 1) == "exact")
    assert(chooseNearDedupPath(AnnCrossoverItems) == "ann")
    assert(chooseNearDedupPath(100 * AnnCrossoverItems) == "ann")
    val emb = Tables(spark, sf0001, "embeddings")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").collect().map(_.getLong(0)).toSet
    // below the crossover, auto IS the exact path — identical output
    val auto = ids(annNearDedup(spark, sf0001, emb))
    val exact = ids(annNearDedup(spark, sf0001, emb, path = "exact"))
    assert(auto == exact, "auto below the crossover must take the exact path")
    // precision 1.0 on every path: ANN pairs exact-rescore at the same
    // threshold, so ANN can only drop a subset of what exact drops —
    // switching paths never introduces a false drop
    val ann = ids(annNearDedup(spark, sf0001, emb, path = "ann"))
    assert(exact.subsetOf(ann), "ANN dropped an item the exact path kept")
    intercept[IllegalArgumentException] {
      annNearDedup(spark, sf0001, emb, path = "bogus")
    }
    // API surface: $path validated; the retired $exact alias of $path
    // is now an unknown argument
    val api = new graft.api.Naqed(spark, sf0001)
    assert(ids(api.nearDedupEmbeddings(Map("$path" -> "auto"))) == auto)
    intercept[IllegalArgumentException] {
      api.nearDedupEmbeddings(Map("$path" -> "fastest"))
    }
    intercept[IllegalArgumentException] {
      api.nearDedupEmbeddings(Map("$path" -> "auto", "$exact" -> true))
    }
  }

  test("PII redaction is idempotent, span-accurate, and profile-consistent") {
    import spark.implicits._
    // hand-built fixture: every PII type once, plus near-miss decoys
    // that must NOT be masked (4-3-4 phone shape, 5-octet IP prefix,
    // bare @ without a TLD)
    val fx = Seq(
      (1L, "s", "mail bob.smith+x@corp.example.org then call 415-555-2671 ok"),
      (2L, "s", "ssn 078-05-1120 from 192.168.001.1 port"),
      (3L, "s", "decoys 4155-555-2671 and 1.2.3.4.5 and foo@bar stay put"),
      (4L, "s", "clean row")).toDF("doc_id", "source", "text")
    val once = Curation.redactPii(fx)
    val got = once.orderBy("doc_id").select("text").as[String].collect()
    assert(got(0) == "mail <EMAIL> then call <PHONE> ok")
    assert(got(1) == "ssn <SSN> from <IP> port")
    // 4155-555-2671: leading 4155 blocks the \b{3} match on 155;
    // 1.2.3.4.5 DOES contain a legal 4-octet prefix (1.2.3.4) — the
    // standard regex detector masks it; foo@bar has no dot-TLD
    assert(got(2) == "decoys 4155-555-2671 and <IP>.5 and foo@bar stay put")
    assert(got(3) == "clean row")
    // idempotent: masks carry no digits/@, a second pass is a no-op
    val twice = Curation.redactPii(once)
    assert(twice.orderBy("doc_id").select("text").as[String].collect()
      .sameElements(got))
    // profile face agrees with the redaction face: docs 1,2,3 have PII
    val prof = Curation.piiProfile(fx).collect().head
    assert(prof.getLong(1) == 4 && prof.getLong(2) == 3 && prof.getLong(3) == 5)
  }

  test("span excision removes the duplicate occurrence and keeps the canonical") {
    import spark.implicits._
    val spans = graft.ops.Pipelines.dedupSubstringSpans(spark, sf0001)
      .select("d1", "d2", "span_start2", "span_tokens", "span_text").collect()
    assert(spans.nonEmpty, "fixture corpus lost its duplicate spans")
    val excised = Curation.exciseSpans(spark, sf0001).persist()
    val byId = excised.select("doc_id", "text").as[(Long, String)]
      .collect().toMap
    val orig = graft.Tables(spark, sf0001, "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val touched = spans.map(_.getLong(1)).toSet
    spans.foreach { r =>
      val (d1, d2) = (r.getLong(0), r.getLong(1))
      val txt = r.getString(4)
      // a doc that is NEVER a greater side keeps its span text
      // verbatim (a d1 that is also some pair's d2 may legitimately
      // lose part of it); the GLOBAL minimum of any span chain is
      // never a d2, so one canonical occurrence always survives
      if (!touched(d1))
        assert(byId(d1).contains(txt), s"canonical $d1 lost its span")
      // the greater doc lost at least this span's token positions
      val before = orig(d2).split(" ").length
      val after = byId(d2) match { case "" => 0; case t => t.split(" ").length }
      assert(after < before, s"doc $d2 lost no tokens")
    }
    // untouched docs pass through verbatim, corpus row count is stable
    assert(excised.count() == orig.size)
    orig.keys.filterNot(touched).take(20).foreach { id =>
      assert(byId(id) == orig(id), s"untouched doc $id was rewritten")
    }
    // token accounting matches the oracle-checked per-source audit
    val audit = graft.ops.Pipelines.pipelineSpanExcisedTokens(spark, sf0001)
      .agg(sum("tokens_after")).as[Long].head
    val direct = excised.select(
      sum(when(col("text") === "", 0)
        .otherwise(size(split(col("text"), " "))))).as[Long].head
    assert(audit == direct, s"audit $audit != excised corpus $direct")
    excised.unpersist()
  }

  test("train and test are disjoint and the pipeline is deterministic") {
    val (train, test, r1) = result
    assert(train.join(test, Seq("doc_id"), "inner").count() == 0)
    val (_, _, r2) = Curation.curate(spark, sf0001,
      minTokens = 5, maxStopRatio = 0.9,
      fractions = Map("en" -> 1.0, "de" -> 1.0, "es" -> 1.0, "fr" -> 1.0, "zh" -> 0.5),
      testFraction = 0.2)
    assert(r1 == r2)
  }

  // ----- round 14: crawl-hygiene stages -----

  private def docsWith(textOf: Long => String, n: Int = 40) = {
    import spark.implicits._
    (0L until n.toLong).map(i => (i, textOf(i), "en", s"src${i % 4}"))
      .toDF("doc_id", "text", "lang", "source")
  }

  test("extractHtml strips every tag and is idempotent on clean text") {
    val tagged = docsWith(i =>
      s"<html><body><h1>T$i</h1><p>real words $i here</p>" +
        s"<script>var x=$i;</script><!-- c --></body></html>")
    val once = Curation.extractHtml(tagged)
    assert(once.filter(col("text").contains("<") ||
      col("text").contains(">")).count() == 0, "tags survived extraction")
    assert(once.filter(col("text").contains("var x")).count() == 0,
      "script content survived extraction")
    assert(once.filter(col("text").contains("real words")).count() == 40,
      "body text was lost")
    val twice = Curation.extractHtml(once)
    assert(once.exceptAll(twice).count() == 0 &&
      twice.exceptAll(once).count() == 0, "extractHtml is not idempotent")
  }

  test("normalizeText collapses planted NFD twins under exact dedup") {
    // same words, one NFD one NFC — WITHOUT normalization they are
    // different bytes (distinct md5), WITH it they exact-dedup to one
    val twins = docsWith(i =>
      if (i % 2 == 0) "les cafe\u0301s de\u0301ja\u0300 vus " + (i / 2)
      else "les caf\u00e9s d\u00e9j\u00e0 vus " + (i / 2))
    val before = Curation.exactDedup(twins).count()
    assert(before == 40L, "un-normalized NFD/NFC twins wrongly collapsed")
    val after = Curation.exactDedup(Curation.normalizeText(twins)).count()
    assert(after == 20L,
      s"normalized twins should collapse 40 -> 20, got $after")
    // idempotent: NFC(NFC(x)) == NFC(x)
    val n1 = Curation.normalizeText(twins)
    val n2 = Curation.normalizeText(n1)
    assert(n1.exceptAll(n2).count() == 0 && n2.exceptAll(n1).count() == 0)
  }

  test("normalizeText(NFKC) collapses planted compatibility twins NFC leaves distinct") {
    // fullwidth/ligature twins of the same words: NFC is a no-op on
    // them (they are canonically distinct), NFKC folds them together
    val twins = docsWith(i =>
      if (i % 2 == 0) "the \uFB01ne \uFF35\uFF32\uFF2C list " + (i / 2)
      else "the fine URL list " + (i / 2))
    assert(Curation.exactDedup(twins).count() == 40L,
      "compatibility twins wrongly collapsed without NFKC")
    assert(Curation.exactDedup(Curation.normalizeText(twins)).count() == 40L,
      "canonical NFC must NOT fold compatibility characters")
    val after = Curation.exactDedup(
      Curation.normalizeText(twins, form = "NFKC")).count()
    assert(after == 20L,
      s"NFKC twins should collapse 40 -> 20, got $after")
    // idempotent, and invalid forms raise
    val n1 = Curation.normalizeText(twins, form = "NFKC")
    val n2 = Curation.normalizeText(n1, form = "NFKC")
    assert(n1.exceptAll(n2).count() == 0 && n2.exceptAll(n1).count() == 0)
    intercept[IllegalArgumentException] {
      Curation.normalizeText(twins, form = "NFX")
    }
  }

  test("LM gate scores == the oracle-checked KN op on the held-out prefix") {
    import graft.ops.{Pipelines, Sampling}
    val docs = Tables(spark, sf0001, "documents")
    val lm = Pipelines.knTrainOn(docs) // uncapped: the op's exact LM
    // per-doc scores of the TEST bucket, re-aggregated per lang, must
    // reproduce the op's integer (m, sq) sums and its floored avg_nll
    val perDoc = Pipelines.kneserNeyDocNll(
      docs.filter(Sampling.bucket16(col("doc_id")) % 10 >= 8), lm)
    val mine = perDoc
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sum(col("kn_bigrams")).as("m"), sum(col("kn_sq")).as("sq"))
      .select(col("lang"), col("m"),
        (floor(col("sq").cast("double") / col("m") / 1e2) / 1e4).as("avg"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val op = Pipelines.pipelineKneserNeyNll(spark, sf0001)
      .select(col("lang"), col("n_test_bigrams"), col("avg_nll"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(mine == op, s"doc-grain KN scores drifted from the op:\n$mine\nvs\n$op")
  }

  test("LM gate separates planted junk and wires into curate") {
    import graft.ops.Pipelines
    // normal docs share a small vocabulary; junk docs are unseen-vocab
    // gibberish — under a LM trained on the corpus (junk included in
    // the train bucket but drowned out), junk NLL must dominate
    val docs = docsWith({ i =>
      if (i % 5 == 0) (0 until 30).map(j => s"zq${i}g$j").mkString(" ")
      else (0 until 30).map(j => s"common word w${j % 9} here").mkString(" ")
    }, n = 100)
    val lm = Pipelines.knTrainOn(docs)
    val scored = Pipelines.kneserNeyDocNll(docs, lm)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("kn_nll")).toMap
    val junkIds = (0L until 100L).filter(_ % 5 == 0)
    val normIds = (0L until 100L).filterNot(_ % 5 == 0)
    val worstNorm = normIds.map(scored).max
    val bestJunk = junkIds.map(scored).min
    assert(bestJunk > worstNorm,
      s"junk NLL ($bestJunk) must exceed every normal doc ($worstNorm)")
    // a threshold between the two populations keeps exactly the normals
    val thr = (worstNorm + bestJunk) / 2
    val kept = Curation.lmFilter(docs, lm, thr)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == normIds.toSet)
    // curate hookup: the gate tightens afterQuality, everything else
    // still monotone; bounded-sample training also goes through
    val (_, _, rNo) = Curation.curate(spark, sf0001)
    val (_, _, rLm) = Curation.curate(spark, sf0001,
      lmMaxNll = Some(9.0), lmSampleDocs = 200)
    assert(rLm.afterQuality <= rNo.afterQuality)
    assert(rLm.afterQuality > 0)
    assert(rLm.afterQuality >= rLm.afterExactDedup)
  }

  test("repairEncoding fixes mojibake and is idempotent") {
    val moj = docsWith(i => s"doc $i with " +
      "r\u00c3\u00a9sum\u00c3\u00a9 and it\u00e2\u20ac\u2122s fine")
    val rep = Curation.repairEncoding(moj)
    assert(rep.filter(col("text")
      .contains("r\u00e9sum\u00e9")).count() == 40)
    assert(rep.filter(col("text").contains("it\u2019s")).count() == 40)
    val rep2 = Curation.repairEncoding(rep)
    assert(rep.exceptAll(rep2).count() == 0 && rep2.exceptAll(rep).count() == 0)
  }

  test("urlDedup collapses canonical twins, keeps min id, passes URL-less docs") {
    // ids 0..9 share 5 canonical URLs pairwise (tracked UPPER vs clean
    // lower); ids 10..19 carry distinct URLs; ids 20..39 have none
    val docs = docsWith { i =>
      val k = i / 2
      if (i < 10) {
        if (i % 2 == 0) s"see HTTPS://Site$k.COM/p?utm_source=x&id=$k ok"
        else s"see https://site$k.com/p?id=$k ok"
      } else if (i < 20) s"see https://other$i.com/p end"
      else s"plain document $i"
    }
    val out = Curation.urlDedup(docs)
    import spark.implicits._
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert((20L until 40L).forall(kept), "URL-less docs must pass through")
    assert((10L until 20L).forall(kept), "distinct-URL docs must survive")
    assert((0L until 10L).count(kept) == 5,
      s"twin pairs should collapse to 5 keepers, kept ${kept.intersect((0L until 10L).toSet)}")
    assert(Seq(0L, 2L, 4L, 6L, 8L).forall(kept),
      "the smaller doc_id of each twin pair must be the keeper")
  }

  test("stripBoilerplate drops >=30%-df lines, keeps unique lines in order") {
    val docs = docsWith { i =>
      s"unique body $i | Copyright acme all rights reserved" +
        (if (i % 7 == 0) s" | rare footnote $i" else "")
    }
    val out = Curation.stripBoilerplate(docs)
    assert(out.filter(col("text").contains("Copyright")).count() == 0,
      "boilerplate line survived")
    assert(out.filter(col("text").startsWith("unique body")).count() == 40,
      "unique body lines must survive, in leading position")
    assert(out.filter(col("text").contains("rare footnote")).count() ==
      (0 until 40).count(_ % 7 == 0), "rare lines must not be flagged")
  }

  test("crawl report matches the individual stages, run on the real corpus") {
    val docs = graft.Tables(spark, sf0001, "documents")
    val (cleaned, repOpt) = Curation.crawl(docs)
    val rep = repOpt.get
    assert(rep.input == docs.count())
    // the real corpus has no URLs and no ' | ' lines: url-dedup and
    // boilerplate are no-ops by construction, quality gates as usual
    assert(rep.urlDeduped == rep.input)
    assert(rep.nonEmptyAfterBoilerplate == rep.input)
    val expectQ = Curation.qualityFilter(
      Curation.normalizeText(Curation.repairEncoding(
        Curation.extractHtml(docs))), 5, 0.9).count()
    assert(rep.afterQuality == expectQ)
    assert(cleaned.count() == rep.afterQuality)
    // PII redaction left no pattern hits behind (idempotence corollary)
    val hits = ops.Pipelines.piiPatterns.map { case (_, p, _) =>
      size(regexp_extract_all(col("text"), lit(p), lit(0)))
    }.reduce(_ + _)
    assert(cleaned.filter(hits > 0).count() == 0)
    // the pure-transform path (withReport = false) yields the same rows
    val (fast, none) = Curation.crawl(docs, withReport = false)
    assert(none.isEmpty)
    assert(fast.exceptAll(cleaned).count() == 0 &&
      cleaned.exceptAll(fast).count() == 0)
  }
}
