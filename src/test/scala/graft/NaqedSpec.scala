package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.Naqed

/** The naqed-style nested-object query API (reference's signature
  * surface) compiled to join programs. */
class NaqedSpec extends AnyFunSuite {
  import SharedSpark._

  lazy val naqed = new Naqed(spark, sf0001)

  test("argument filter + field selection") {
    val df = naqed.request("customer", Map(
      "$c_mktsegment" -> "BUILDING", "c_name" -> true))
    val want = Tables(spark, sf0001, "customer")
      .filter(col("c_mktsegment") === "BUILDING").count()
    assert(df.count() == want && df.columns.contains("c_name"))
  }

  test("nested many-to-one traversal: customer -> nation -> region") {
    val df = naqed.request("customer", Map(
      "c_name" -> true,
      "nation" -> Map("n_name" -> true, "region" -> Map("r_name" -> true))))
    val row = df.orderBy("c_custkey").limit(1)
      .select(col("nation.n_name"), col("nation.region.r_name")).collect()(0)
    val direct = Tables(spark, sf0001, "customer")
      .join(Tables(spark, sf0001, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables(spark, sf0001, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .orderBy("c_custkey").limit(1)
      .select("n_name", "r_name").collect()(0)
    assert(row.getString(0) == direct.getString(0))
    assert(row.getString(1) == direct.getString(1))
    assert(df.count() == Tables(spark, sf0001, "customer").count())
  }

  test("reverse one-to-many traversal yields arrays ([Type] fields)") {
    val df = naqed.request("customer", Map(
      "c_name" -> true,
      "orders" -> Map("$min_o_totalprice" -> 300000.0, "o_orderkey" -> true)))
    assert(df.count() == Tables(spark, sf0001, "customer").count())
    val totalOrders = df.select(explode(col("orders"))).count()
    val want = Tables(spark, sf0001, "orders")
      .filter(col("o_totalprice") >= 300000.0).count()
    assert(totalOrders == want)
  }

  test("resolver-backed derived field") {
    val df = naqed.request("customer", Map("balance_tier" -> true, "c_acctbal" -> true))
    val bad = df.filter(
      (col("c_acctbal") >= 5000 && col("balance_tier") =!= "high") ||
        (col("c_acctbal") >= 0 && col("c_acctbal") < 5000 && col("balance_tier") =!= "mid") ||
        (col("c_acctbal") < 0 && col("balance_tier") =!= "negative")).count()
    assert(bad == 0)
  }

  test("range and like argument operators") {
    val n = naqed.request("orders", Map(
      "$min_o_totalprice" -> 100000.0, "$max_o_totalprice" -> 200000.0,
      "o_orderkey" -> true)).count()
    val want = Tables(spark, sf0001, "orders")
      .filter(col("o_totalprice").between(100000.0, 200000.0)).count()
    assert(n == want)
    val lk = naqed.request("orders", Map(
      "$like_o_orderpriority" -> "%URGENT%", "o_orderkey" -> true)).count()
    assert(lk == Tables(spark, sf0001, "orders")
      .filter(col("o_orderpriority").like("%URGENT%")).count())
  }

  test("unknown fields fail analysis naqed-style (type-checked queries)") {
    val e = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("no_such_field" -> true))
    }
    assert(e.getMessage.contains("no_such_field") && e.getMessage.contains("c_custkey"))
  }

  test("pagination args: $sort/-field ordering and $limit at the root") {
    val df = naqed.request("customer", Map(
      "c_name" -> true, "c_acctbal" -> true,
      "$sort" -> "-c_acctbal", "$limit" -> 5))
    val got = df.collect().map(_.getAs[Double]("c_acctbal")).toSeq
    val want = Tables(spark, sf0001, "customer")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(5).collect().map(_.getAs[Double]("c_acctbal")).toSeq
    assert(got == want && got.size == 5)
    // ascending form + JSON wire path carry the same args
    val asc = naqed.requestJson(
      """{"customer": {"c_name": true, "$sort": "c_custkey", "$limit": 3}}""")
      .collect().map(_.getAs[Long]("c_custkey")).toSeq
    assert(asc == asc.sorted && asc.size == 3)
    val e = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true, "$sort" -> "nope"))
    }
    assert(e.getMessage.contains("unknown sort field"))
    // sorting by a legal-but-unselected field co-selects it for the
    // orderBy and drops it from the output
    val byBal = naqed.request("customer", Map(
      "c_name" -> true, "$sort" -> "-c_acctbal", "$limit" -> 5))
    assert(!byBal.columns.contains("c_acctbal"))
    val wantNames = Tables(spark, sf0001, "customer")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(5).collect().map(_.getAs[String]("c_name")).toSeq
    assert(byBal.collect().map(_.getAs[String]("c_name")).toSeq == wantNames)
    // fractional $limit is a caller bug, not a truncation
    val e2 = intercept[IllegalArgumentException] {
      naqed.requestJson("""{"customer": {"c_name": true, "$limit": 2.9}}""")
    }
    assert(e2.getMessage.contains("must be an integer"))
  }

  test("keyset cursor $after: pages concatenate exactly, no gaps or dupes") {
    // walk the whole customer table in pages of 7 by (-c_acctbal,
    // c_custkey) using the exact map cursor; the concatenation must
    // equal the one-shot sorted result row for row
    val q0 = Map("c_custkey" -> true, "c_acctbal" -> true,
      "$sort" -> "-c_acctbal", "$limit" -> 7)
    val all = naqed.request("customer",
        Map("c_custkey" -> true, "c_acctbal" -> true, "$sort" -> "-c_acctbal"))
      .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Double]("c_acctbal"))).toSeq
    var pages = Vector.empty[(Long, Double)]
    var cursor: Option[Map[String, Any]] = None
    var done = false
    while (!done) {
      val q = cursor.fold(q0)(c => q0 + ("$after" -> c))
      val page = naqed.request("customer", q)
        .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Double]("c_acctbal"))).toSeq
      pages ++= page
      if (page.size < 7) done = true
      else cursor = Some(Map("c_acctbal" -> page.last._2, "c_custkey" -> page.last._1))
    }
    assert(pages == all, "keyset pages do not reconstruct the sorted table")
    assert(pages.map(_._1).distinct.size == pages.size, "duplicate rows across pages")
    // scalar cursor: strictly after the value (unique-key sort)
    val p1 = naqed.request("customer", Map("c_custkey" -> true,
      "$sort" -> "c_custkey", "$limit" -> 3))
      .collect().map(_.getAs[Long]("c_custkey")).toSeq
    val p2 = naqed.request("customer", Map("c_custkey" -> true,
      "$sort" -> "c_custkey", "$limit" -> 3, "$after" -> p1.last))
      .collect().map(_.getAs[Long]("c_custkey")).toSeq
    assert((p1 ++ p2) == (p1 ++ p2).sorted && p2.head > p1.last)
    // naqed-style errors: cursor without sort; stray cursor key
    val e1 = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true, "$after" -> 5))
    }
    assert(e1.getMessage.contains("add $sort"))
    val e2 = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true, "$sort" -> "c_custkey",
        "$after" -> Map("c_custkey" -> 5L, "bogus" -> 1)))
    }
    assert(e2.getMessage.contains("neither the sort field nor a tie key"))
    // subscriptions reject the cursor with pagination guidance
    val e3 = intercept[IllegalArgumentException] {
      naqed.subscribe("events", Map("event_id" -> true, "$after" -> 5),
        graft.streaming.Streams.eventsStream(spark, sf0001))
    }
    assert(e3.getMessage.contains("page the sink"))
  }

  test("pagination args: misplacements get pagination guidance, not field errors") {
    // negative limit is a validation error at request time, not an
    // opaque planner/executor failure
    val e0 = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true, "$limit" -> -1))
    }
    assert(e0.getMessage.contains("must be >= 0"))
    val e0c = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true,
        "orders" -> Map("o_orderkey" -> true, "$limit" -> -2)))
    }
    assert(e0c.getMessage.contains("must be >= 0"))
    // $limit inside a many-to-one child: pagination guidance, not
    // "unknown argument field 'limit'"
    val e1 = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true,
        "nation" -> Map("n_name" -> true, "$limit" -> 1)))
    }
    assert(e1.getMessage.contains("many-to-one") && !e1.getMessage.contains("unknown"))
    // $sort inside a one-to-many child: the arrays sort implicitly
    val e2 = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true,
        "orders" -> Map("o_orderkey" -> true, "$sort" -> "o_orderkey")))
    }
    assert(e2.getMessage.contains("implicit") && !e2.getMessage.contains("unknown"))
  }

  test("pagination args: child $limit keeps first n per parent") {
    val df = naqed.request("customer", Map(
      "c_name" -> true,
      "orders" -> Map("o_orderkey" -> true, "$limit" -> 2)))
    val sizes = df.filter(size(col("orders")) >= 0)
      .select(size(col("orders")).as("n")).collect().map(_.getInt(0))
    assert(sizes.nonEmpty && sizes.forall(_ <= 2))
    // sliced arrays keep the FIRST children of the sorted collection
    val full = naqed.request("customer", Map(
      "c_name" -> true, "orders" -> Map("o_orderkey" -> true)))
    val gotFirst = df.orderBy("c_custkey").limit(3)
      .select(col("orders")(0).getField("o_orderkey")).collect().map(_.get(0))
    val wantFirst = full.orderBy("c_custkey").limit(3)
      .select(col("orders")(0).getField("o_orderkey")).collect().map(_.get(0))
    assert(gotFirst.toSeq == wantFirst.toSeq)
  }

  test("aggregation directive: $groupBy/$agg with pre-filters and paging") {
    val got = naqed.request("orders", Map(
      "$min_o_totalprice" -> 1000.0,
      "$groupBy" -> "o_orderstatus",
      "$agg" -> Map("n" -> "count", "hi" -> "max:o_totalprice",
        "buyers" -> "count_distinct:o_custkey")))
    val want = Tables(spark, sf0001, "orders")
      .filter(col("o_totalprice") >= 1000.0)
      .groupBy("o_orderstatus")
      .agg(count_distinct(col("o_custkey")).as("buyers"),
        max(col("o_totalprice")).as("hi"), count(lit(1)).as("n"))
    assert(got.count() == want.count())
    assert(got.select("o_orderstatus", "n", "hi", "buyers")
      .exceptAll(want.select("o_orderstatus", "n", "hi", "buyers")).count() == 0)
    // pagination composes on aggregate output columns
    val top = naqed.request("orders", Map(
      "$groupBy" -> "o_orderstatus",
      "$agg" -> Map("n" -> "count"), "$sort" -> "-n", "$limit" -> 1))
    assert(top.count() == 1)
    // mixing plain selections with $groupBy is a type error
    val e = intercept[IllegalArgumentException] {
      naqed.request("orders", Map("o_orderkey" -> true,
        "$groupBy" -> "o_orderstatus", "$agg" -> Map("n" -> "count")))
    }
    assert(e.getMessage.contains("cannot mix"))
    // round 8: median / percentile / stddev aggregates
    val robust = naqed.request("orders", Map(
      "$groupBy" -> "o_orderstatus",
      "$agg" -> Map("med" -> "median:o_totalprice",
        "p95" -> "p95:o_totalprice", "sd" -> "stddev:o_totalprice")))
    val robustWant = Tables(spark, sf0001, "orders")
      .groupBy("o_orderstatus")
      .agg(percentile(col("o_totalprice"), lit(0.5)).as("med"),
        percentile(col("o_totalprice"), lit(0.95)).as("p95"),
        stddev_samp(col("o_totalprice")).as("sd"))
    assert(robust.select("o_orderstatus", "med", "p95", "sd")
      .exceptAll(robustWant.select("o_orderstatus", "med", "p95", "sd"))
      .count() == 0)
    val e2 = intercept[IllegalArgumentException] {
      naqed.request("orders", Map("$groupBy" -> "o_orderstatus",
        "$agg" -> Map("n" -> "variance:o_totalprice")))
    }
    assert(e2.getMessage.contains("unknown aggregate"))
    // p-beyond-100 is not a percentile
    val ePct = intercept[IllegalArgumentException] {
      naqed.request("orders", Map("$groupBy" -> "o_orderstatus",
        "$agg" -> Map("n" -> "p200:o_totalprice")))
    }
    assert(ePct.getMessage.contains("unknown aggregate"))
    // sorting an aggregation by its own group key (a table column)
    // must page, not trip the no-mixing rule
    val byKey = naqed.request("orders", Map(
      "$groupBy" -> "o_orderstatus", "$agg" -> Map("n" -> "count"),
      "$sort" -> "o_orderstatus", "$limit" -> 2))
      .collect().map(_.getString(0)).toSeq
    assert(byKey == byKey.sorted && byKey.size == 2)
    // multi-field $groupBy reaches through the JSON wire (arrays)
    val wire = naqed.requestJson(
      """{"orders": {"$groupBy": ["o_orderstatus", "o_orderpriority"],
        |"$agg": {"n": "count"}}}""".stripMargin)
    assert(wire.columns.toSeq == Seq("o_orderstatus", "o_orderpriority", "n"))
    // a grouped child inside a traversal is rejected with guidance
    val e3 = intercept[IllegalArgumentException] {
      naqed.request("customer", Map("c_name" -> true,
        "orders" -> Map("$groupBy" -> "o_orderstatus", "$agg" -> Map("n" -> "count"))))
    }
    assert(e3.getMessage.contains("aggregate at the root"))
    // out-of-Int-range $limit is an error, not a wrapped page size
    val e4 = intercept[IllegalArgumentException] {
      naqed.requestJson("""{"customer": {"c_name": true, "$limit": 4294967298}}""")
    }
    assert(e4.getMessage.contains("must be an integer"))
  }

  test("JSON wire queries equal the Map API (reference-compatible input)") {
    val viaJson = naqed.requestJson(
      """{"customer": {"$c_mktsegment": "BUILDING", "c_name": true,
        |  "nation": {"n_name": true, "region": {"r_name": true}}}}""".stripMargin)
    val viaMap = naqed.request("customer", Map(
      "$c_mktsegment" -> "BUILDING", "c_name" -> true,
      "nation" -> Map("n_name" -> true, "region" -> Map("r_name" -> true))))
    assert(viaJson.count() == viaMap.count())
    assert(viaJson.select("c_name", "nation.n_name")
      .exceptAll(viaMap.select("c_name", "nation.n_name")).count() == 0)
    val e = intercept[IllegalArgumentException] {
      naqed.requestJson("""{"customer": {"nope": true}}""")
    }
    assert(e.getMessage.contains("nope"))
  }

  test("typed specs validate against the live schemas (type-checked results)") {
    Naqed.specs.keys.foreach { t =>
      assert(Naqed.validateSpec(Tables(spark, sf0001, t), t).isEmpty, s"spec violation in $t")
    }
    // a wrong schema is reported naqed-style
    val bad = Tables(spark, sf0001, "customer").withColumn("c_acctbal", lit("oops"))
    val v = Naqed.validateSpec(bad, "customer")
    assert(v.exists(_.contains("c_acctbal")) && v.exists(_.contains("FLOAT")))
  }

  test("deep circular traversal: customer -> nation -> customer array") {
    val df = naqed.request("customer", Map(
      "$c_custkey" -> 1L,
      "nation" -> Map(
        "n_name" -> true,
        "customer" -> Map("c_name" -> true))))
    val peers = df.select(explode(col("nation.customer"))).count()
    val nk = Tables(spark, sf0001, "customer")
      .filter(col("c_custkey") === 1L).collect()(0).getAs[Int]("c_nationkey")
    val want = Tables(spark, sf0001, "customer")
      .filter(col("c_nationkey") === nk).count()
    assert(peers == want)
  }

  test("mutations (~ keys) append rows through the write path") {
    import graft.sources.VersionedTable
    val out = java.nio.file.Files.createTempDirectory("naqed_mut").toString
    val src = Tables(spark, sf0001, "region")
    val written = naqed.mutateVersioned(Map("~region" -> Seq(
      Map("r_regionkey" -> 90, "r_name" -> "ATLANTIS"),
      Map("r_regionkey" -> 91, "r_name" -> "LEMURIA"))), out)
    assert(written == Map("~region" -> 2L))
    val back = VersionedTable.read(spark, s"$out/region")
    assert(back.count() == src.count() + 2)
    assert(back.filter(col("r_name") === "ATLANTIS").count() == 1)
    val e = intercept[IllegalArgumentException] {
      naqed.mutateVersioned(Map("~region" -> Seq(Map("bogus" -> 1))), out)
    }
    assert(e.getMessage.contains("bogus"))
    // wrongly-typed value fails up-front with the field named, not
    // opaquely at execution
    val badType = intercept[IllegalArgumentException] {
      naqed.mutateVersioned(Map("~region" -> Seq(
        Map("r_regionkey" -> "not-a-number", "r_name" -> "X"))), out)
    }
    assert(badType.getMessage.contains("r_regionkey"))
    // numeric widening is accepted (Int -> declared long)
    assert(naqed.mutateVersioned(Map("~region" -> Seq(
      Map("r_regionkey" -> 92, "r_name" -> "MU"))), out) == Map("~region" -> 1L))
    // the rejected rows committed nothing: create + two inserts
    assert(VersionedTable.versions(spark, s"$out/region").size == 3)
    assert(VersionedTable.read(spark, s"$out/region").count() == src.count() + 3)
  }

  test("multimodal traversal: documents -> embeddings") {
    val df = naqed.request("documents", Map(
      "text" -> true, "n_tokens" -> true,
      "embeddings" -> Map("label" -> true)))
    assert(df.count() == Tables(spark, sf0001, "documents").count())
    assert(df.select(col("embeddings.label")).filter(col("label").isNotNull).count() > 0)
  }

  test("curation directive: $-args drive the pipeline; report is consistent") {
    val (train, test, report) = naqed.curate(Map(
      "$min_tokens" -> 5, "$test_fraction" -> 0.2))
    val r = report.collect()(0)
    assert(r.getAs[Long]("train") == train.count())
    assert(r.getAs[Long]("test") == test.count())
    assert(r.getAs[Long]("input") >= r.getAs[Long]("afterQuality"))
    assert(r.getAs[Long]("afterQuality") >= r.getAs[Long]("afterExactDedup"))
    assert(r.getAs[Long]("afterExactDedup") >= r.getAs[Long]("afterNearDedup"))
    assert(r.getAs[Long]("afterDecontam") == r.getAs[Long]("train") + r.getAs[Long]("test"))
    // unknown argument fails analysis naqed-style, naming the valid set
    val e = intercept[IllegalArgumentException] {
      naqed.curate(Map("$bogus" -> 1))
    }
    assert(e.getMessage.contains("$bogus") && e.getMessage.contains("$min_tokens"))
  }

  test("versioned mutations: ~update rewrites matched rows transactionally") {
    import graft.sources.VersionedTable
    val out = java.nio.file.Files.createTempDirectory("naqed_vmut").toString
    // update: zero out negative balances in BUILDING segment
    val n = naqed.mutateVersioned(Map("~customer" -> Map(
      "$c_mktsegment" -> "BUILDING", "$max_c_acctbal" -> 0.0,
      "$set" -> Map("c_acctbal" -> 0.0))), out)("~customer")
    val src = Tables(spark, sf0001, "customer")
    val want = src.filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") <= 0.0).count()
    assert(n == want && n > 0)
    val head = VersionedTable.read(spark, s"$out/customer")
    assert(head.count() == src.count()) // update, not insert/delete
    assert(head.filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") < 0.0).count() == 0)
    // untouched segments keep their negatives
    assert(head.filter(col("c_mktsegment") =!= "BUILDING" && col("c_acctbal") < 0.0).count() ==
      src.filter(col("c_mktsegment") =!= "BUILDING" && col("c_acctbal") < 0.0).count())
    // naqed-style errors: unknown $set field, unknown arg field, bad type, key assignment
    val e1 = intercept[IllegalArgumentException] { naqed.mutateVersioned(Map(
      "~customer" -> Map("$c_custkey" -> 1L, "$set" -> Map("bogus" -> 1))), out) }
    assert(e1.getMessage.contains("bogus") && e1.getMessage.contains("fields:"))
    val e2 = intercept[IllegalArgumentException] { naqed.mutateVersioned(Map(
      "~customer" -> Map("$bogus" -> 1, "$set" -> Map("c_acctbal" -> 0.0))), out) }
    assert(e2.getMessage.contains("unknown argument field 'bogus'"))
    val e3 = intercept[IllegalArgumentException] { naqed.mutateVersioned(Map(
      "~customer" -> Map("$c_custkey" -> 1L, "$set" -> Map("c_acctbal" -> "rich"))), out) }
    assert(e3.getMessage.contains("c_acctbal"))
    val e4 = intercept[IllegalArgumentException] { naqed.mutateVersioned(Map(
      "~customer" -> Map("$c_custkey" -> 1L, "$set" -> Map("c_custkey" -> 2L))), out) }
    assert(e4.getMessage.contains("key field 'c_custkey'"))
    // an unfiltered update must be explicit
    val e5 = intercept[IllegalArgumentException] { naqed.mutateVersioned(Map(
      "~customer" -> Map("$set" -> Map("c_acctbal" -> 0.0))), out) }
    assert(e5.getMessage.contains("needs a filter"))
  }

  test("versioned mutations: ~delete removes matched rows, ~insert appends") {
    import graft.sources.VersionedTable
    val out = java.nio.file.Files.createTempDirectory("naqed_vdel").toString
    val src = Tables(spark, sf0001, "region")
    // seed + insert two rows
    val ins = naqed.mutateVersioned(Map("~region" -> Seq(
      Map("r_regionkey" -> 90, "r_name" -> "ATLANTIS"),
      Map("r_regionkey" -> 91, "r_name" -> "LEMURIA"))), out)("~region")
    assert(ins == 2L)
    assert(VersionedTable.read(spark, s"$out/region").count() == src.count() + 2)
    // delete one by equality arg
    val del = naqed.mutateVersioned(Map("~region" -> Map(
      "$delete" -> true, "$r_name" -> "ATLANTIS")), out)("~region")
    assert(del == 1L)
    val head = VersionedTable.read(spark, s"$out/region")
    assert(head.filter(col("r_name") === "ATLANTIS").count() == 0)
    assert(head.filter(col("r_name") === "LEMURIA").count() == 1)
    // $where raw predicate composes; string literals are quoted/escaped
    val del2 = naqed.mutateVersioned(Map("~region" -> Map(
      "$delete" -> true, "$min_r_regionkey" -> 91, "$where" -> "r_name LIKE 'LEM%'")), out)("~region")
    assert(del2 == 1L)
    // an unfiltered delete must be explicit
    val e = intercept[IllegalArgumentException] { naqed.mutateVersioned(Map(
      "~region" -> Map("$delete" -> true)), out) }
    assert(e.getMessage.contains("needs a filter"))
    // history is versioned: create + append + 2 deletes = 4 commits
    assert(VersionedTable.versions(spark, s"$out/region").size == 4)
  }

  test("per-instance resolver registration: plain, args-aware, and naqed-style errors") {
    val nq = new Naqed(spark, sf0001)
    // plain resolver with a declared result type
    nq.resolver("customer", "debt_flag", Some("BOOL"))(_ => col("c_acctbal") < 0)
    val df = nq.request("customer", Map("debt_flag" -> true, "c_acctbal" -> true))
    assert(df.filter((col("c_acctbal") < 0) =!= col("debt_flag")).count() == 0)
    // args-aware resolver invoked with $-args
    nq.resolverWithArgs("orders", "is_big", Set("cutoff"), Some("BOOL"))((args, _) =>
      col("o_totalprice") >= lit(args.getOrElse("cutoff", 100000.0)))
    val big = nq.request("orders",
      Map("is_big" -> Map("$cutoff" -> 200000.0), "o_totalprice" -> true))
    assert(big.count() > 0)
    assert(big.filter((col("o_totalprice") >= 200000.0) =!= col("is_big")).count() == 0)
    // unknown resolver argument lists the declared set
    val eArg = intercept[IllegalArgumentException] {
      nq.request("orders", Map("is_big" -> Map("$bogus" -> 1)))
    }
    assert(eArg.getMessage.contains("$bogus") && eArg.getMessage.contains("$cutoff"))
    // result-type error at registration (plain resolvers type-check eagerly)
    val eTy = intercept[IllegalArgumentException] {
      nq.resolver("customer", "bad_tier", Some("INT"))(_ => lit("not an int"))
    }
    assert(eTy.getMessage.contains("declared INT"))
    // unknown table / field collision / relation collision / unknown type
    assert(intercept[IllegalArgumentException] {
      nq.resolver("nope", "x")(_ => lit(1)) }.getMessage.contains("unknown table"))
    assert(intercept[IllegalArgumentException] {
      nq.resolver("customer", "c_name")(_ => lit(1)) }.getMessage.contains("collides"))
    assert(intercept[IllegalArgumentException] {
      nq.resolver("customer", "orders")(_ => lit(1)) }.getMessage.contains("collides"))
    assert(intercept[IllegalArgumentException] {
      nq.resolver("customer", "x", Some("WAT"))(_ => lit(1))
    }.getMessage.contains("unknown result type"))
    // a program that doesn't analyze fails at registration, naqed-style
    val eAn = intercept[IllegalArgumentException] {
      nq.resolver("customer", "ghost")(_ => col("no_such_col"))
    }
    assert(eAn.getMessage.contains("does not analyze"))
    // built-ins ported onto the instance registry still resolve
    assert(nq.request("customer", Map("balance_tier" -> true))
      .columns.contains("balance_tier"))
    // resolver args flow through the JSON wire path unchanged
    val viaJson = nq.requestJson(
      """{"orders": {"is_big": {"$cutoff": 200000.0}, "o_orderkey": true}}""")
    assert(viaJson.columns.contains("is_big"))
    assert(viaJson.filter(col("is_big")).count() ==
      Tables(spark, sf0001, "orders").filter(col("o_totalprice") >= 200000.0).count())
    // args-aware resolvers type-check per query (the args shape the column)
    nq.resolverWithArgs("customer", "seg_match", Set("seg"), Some("BOOL"))((args, _) =>
      if (args.contains("seg")) col("c_mktsegment") === lit(args("seg")) else lit("oops"))
    val eQ = intercept[IllegalArgumentException] {
      nq.request("customer", Map("seg_match" -> true))
    }
    assert(eQ.getMessage.contains("declared BOOL"))
  }

  test("versioned mutations: NULL $set values and temporal delete filters") {
    import graft.sources.VersionedTable
    val out = java.nio.file.Files.createTempDirectory("naqed_vnt").toString
    // $set field -> null is legal for a nullable field (previously NPE'd
    // in coerce's fallthrough)
    val src = Tables(spark, sf0001, "customer")
    val n = naqed.mutateVersioned(Map("~customer" -> Map(
      "$c_mktsegment" -> "AUTOMOBILE",
      "$set" -> Map("c_name" -> null))), out)("~customer")
    assert(n == src.filter(col("c_mktsegment") === "AUTOMOBILE").count() && n > 0)
    val head = VersionedTable.read(spark, s"$out/customer")
    assert(head.filter(col("c_mktsegment") === "AUTOMOBILE" &&
      col("c_name").isNotNull).count() == 0)
    // the same temporal filter value works for $delete as for $set:
    // sqlLit serializes java.sql.Date/Timestamp to ANSI literals
    val o = Tables(spark, sf0001, "orders")
    val cut = java.sql.Date.valueOf("1997-06-01")
    val wantGone = o.filter(col("o_orderdate") >= lit(cut)).count()
    val del = naqed.mutateVersioned(Map("~orders" -> Map(
      "$delete" -> true, "$min_o_orderdate" -> cut)), out)("~orders")
    assert(del == wantGone && del > 0)
    assert(VersionedTable.read(spark, s"$out/orders").count() == o.count() - wantGone)
  }

  test("$having filters aggregate outputs with the $-arg convention") {
    val got = naqed.request("orders", Map(
      "$groupBy" -> "o_custkey",
      "$agg" -> Map("n" -> "count", "rev" -> "sum:o_totalprice"),
      "$having" -> Map("$min_n" -> 3L)))
    val want = Tables(spark, sf0001, "orders")
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
    assert(got.count() == want.count() && got.count() > 0)
    // group keys are valid targets too; conditions AND together
    val both = naqed.request("orders", Map(
      "$groupBy" -> "o_custkey", "$agg" -> Map("n" -> "count"),
      "$having" -> Map("$min_n" -> 3L, "$max_o_custkey" -> 10L)))
    val wantBoth = want.filter(col("o_custkey") <= 10)
    assert(both.count() == wantBoth.count())
    // composes with pagination on the filtered aggregate
    val top = naqed.request("orders", Map(
      "$groupBy" -> "o_custkey", "$agg" -> Map("n" -> "count"),
      "$having" -> Map("$min_n" -> 3L), "$sort" -> "-n", "$limit" -> 2))
    assert(top.count() == 2)
    // naqed-style errors: unknown target, bad key shape, missing groupBy
    val e1 = intercept[IllegalArgumentException] {
      naqed.request("orders", Map("$groupBy" -> "o_orderstatus",
        "$agg" -> Map("n" -> "count"), "$having" -> Map("$min_bogus" -> 1)))
    }
    assert(e1.getMessage.contains("neither a group key nor an aggregate"))
    val e2 = intercept[IllegalArgumentException] {
      naqed.request("orders", Map("$groupBy" -> "o_orderstatus",
        "$agg" -> Map("n" -> "count"), "$having" -> Map("n" -> 1)))
    }
    assert(e2.getMessage.contains("$-arg convention"))
    val e3 = intercept[IllegalArgumentException] {
      naqed.request("orders", Map("o_orderkey" -> true, "$having" -> Map("$min_n" -> 1)))
    }
    assert(e3.getMessage.contains("needs $groupBy"))
  }

  test("keyset cursor over a NULLABLE sort key: desc and asc walks lose no rows") {
    // round-7 ADVICE (medium): desc sorts place NULLs last and a bare
    // col < lit(v) cursor predicate is NULL on null rows — a paged
    // walk silently dropped them. Mount an events-shaped table with
    // null values under a virtual sfDir and walk it both directions.
    import spark.implicits._
    val vdir = "/virtual/naqed-nullsort"
    // constructor-time resolver validation touches other tables: mount
    // the real sf0.001 tables under the virtual dir, override events
    Tables.names.foreach(n => Tables.mount(spark, vdir, n, Tables(spark, sf0001, n)))
    val df = spark.range(0, 40).select(col("id").as("event_id"),
      when(col("id") % 5 === 0, lit(null).cast("double"))
        .otherwise(round(col("id") * 1.7 % 9, 2)).as("value"))
    Tables.mount(spark, vdir, "events", df)
    val nq = new Naqed(spark, vdir)
    for (sort <- Seq("-value", "value")) {
      val all = nq.request("events",
          Map("event_id" -> true, "value" -> true, "$sort" -> sort))
        .collect().map(r => (r.getAs[Long]("event_id"),
          Option(r.get(r.fieldIndex("value"))))).toSeq
      var pages = Vector.empty[(Long, Option[Any])]
      var cursor: Option[Map[String, Any]] = None
      var done = false
      while (!done) {
        val q0 = Map("event_id" -> true, "value" -> true,
          "$sort" -> sort, "$limit" -> 7)
        val q = cursor.fold(q0)(c => q0 + ("$after" -> c))
        val page = nq.request("events", q).collect()
          .map(r => (r.getAs[Long]("event_id"),
            Option(r.get(r.fieldIndex("value"))))).toSeq
        pages ++= page
        if (page.size < 7) done = true
        else cursor = Some(Map(
          "value" -> pages.last._2.orNull, "event_id" -> pages.last._1))
      }
      assert(pages == all,
        s"paged walk ($sort) lost or reordered rows: ${pages.size} vs ${all.size}")
      assert(pages.count(_._2.isEmpty) == 8, s"null rows missing from walk ($sort)")
    }
  }

  test("cursor tie keys must be a prefix of the tie order") {
    // lineitem ties are (l_orderkey, l_linenumber, l_partkey,
    // l_suppkey); supplying l_linenumber while omitting l_orderkey
    // built a predicate that disagreed with the actual sort order
    val e = intercept[IllegalArgumentException] {
      naqed.request("lineitem", Map("l_quantity" -> true,
        "$sort" -> "l_quantity", "$limit" -> 5,
        "$after" -> Map("l_quantity" -> 10.0, "l_linenumber" -> 2L)))
    }
    assert(e.getMessage.contains("prefix"))
    // a true prefix works
    val ok = naqed.request("lineitem", Map("l_quantity" -> true,
      "$sort" -> "l_quantity", "$limit" -> 5,
      "$after" -> Map("l_quantity" -> 10.0, "l_orderkey" -> 1L)))
    assert(ok.count() == 5)
  }

  test("keyset cursor through the JSON wire path: timestamp and double literals") {
    // pin serialization of cursor literals: a timestamp rendered as an
    // ISO string and a double must survive requestJson -> lit()
    // comparison against TimestampType / DoubleType columns
    val p1 = naqed.request("events", Map("event_id" -> true, "ts" -> true,
      "$sort" -> "-ts", "$limit" -> 5)).collect()
    val lastTs = p1.last.getAs[java.sql.Timestamp]("ts")
    val lastId = p1.last.getAs[Long]("event_id")
    val viaApi = naqed.request("events", Map("event_id" -> true, "ts" -> true,
      "$sort" -> "-ts", "$limit" -> 5,
      "$after" -> Map("ts" -> lastTs, "event_id" -> lastId)))
      .collect().map(_.getAs[Long]("event_id")).toSeq
    val iso = lastTs.toInstant.toString // e.g. 2024-03-01T12:34:56Z
    val viaJson = naqed.requestJson(
      s"""{"events": {"event_id": true, "ts": true, "$$sort": "-ts",
          "$$limit": 5, "$$after": {"ts": "$iso", "event_id": $lastId}}}""")
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(viaJson == viaApi && viaJson.size == 5)
    // double cursor component through JSON (decimal-valued literal)
    val q1 = naqed.request("orders", Map("o_orderkey" -> true,
      "o_totalprice" -> true, "$sort" -> "-o_totalprice", "$limit" -> 4)).collect()
    val lastP = q1.last.getAs[Double]("o_totalprice")
    val lastK = q1.last.getAs[Long]("o_orderkey")
    val viaApi2 = naqed.request("orders", Map("o_orderkey" -> true,
      "o_totalprice" -> true, "$sort" -> "-o_totalprice", "$limit" -> 4,
      "$after" -> Map("o_totalprice" -> lastP, "o_orderkey" -> lastK)))
      .collect().map(_.getAs[Long]("o_orderkey")).toSeq
    val viaJson2 = naqed.requestJson(
      s"""{"orders": {"o_orderkey": true, "o_totalprice": true,
          "$$sort": "-o_totalprice", "$$limit": 4,
          "$$after": {"o_totalprice": $lastP, "o_orderkey": $lastK}}}""")
      .collect().map(_.getAs[Long]("o_orderkey")).toSeq
    assert(viaJson2 == viaApi2 && viaJson2.size == 4)
  }

  test("$sample: deterministic root sampling through the object API") {
    // the sampled SET equals the engine-level deterministic sampler's
    val viaApi = naqed.request("documents",
        Map("doc_id" -> true, "$sample" -> 0.3))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val direct = ops.Sampling.deterministicSample(
        Tables(spark, sf0001, "documents"), "doc_id", 0.3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(viaApi == direct && viaApi.nonEmpty)

    // rerunning yields the identical set (no RNG state)
    val again = naqed.request("documents",
        Map("doc_id" -> true, "$sample" -> 0.3))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again == viaApi)

    // composes with paging: a sorted page of the sample is a subset
    val page = naqed.request("documents",
        Map("doc_id" -> true, "$sample" -> 0.3,
          "$sort" -> "doc_id", "$limit" -> 5))
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(page.size == 5 && page.forall(viaApi.contains))
    assert(page == page.sorted)

    // composes with $groupBy: the sampled aggregate counts the sample
    val agg = naqed.request("documents",
        Map("$groupBy" -> "lang", "$agg" -> Map("n" -> "count")))
      .collect().map(_.getAs[Long]("n")).sum
    val aggSampled = naqed.request("documents",
        Map("$groupBy" -> "lang", "$agg" -> Map("n" -> "count"),
          "$sample" -> 0.3))
      .collect().map(_.getAs[Long]("n")).sum
    assert(aggSampled == direct.size.toLong && aggSampled < agg)

    // naqed-style errors: bad rates, un-keyed roots, subscriptions
    Seq(0.0, -0.2, 1.5, "x").foreach { bad =>
      val e = intercept[IllegalArgumentException] {
        naqed.request("documents", Map("doc_id" -> true, "$sample" -> bad))
      }
      assert(e.getMessage.contains("$sample"))
    }
    val sub = intercept[IllegalArgumentException] {
      naqed.subscribe("events",
        Map("event_id" -> true, "$sample" -> 0.5),
        graft.streaming.Streams.eventsStream(spark, sf0001))
    }
    assert(sub.getMessage.contains("$sample"))
  }

  test("$depth traversal: k-as-data frontier matches graph_bfs_3hop; fixpoint matches reachable") {
    import org.apache.spark.sql.functions._
    // same root as the oracle query: the max-degree node of the
    // shared EDGES relation (deterministic tiebreak on node id)
    val ud = Tables.ud(spark, sf0001)
    val root = ud.groupBy(col("s")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("s"))
      .limit(1).collect()(0).getLong(0)

    val got3 = naqed.request("part", Map(
        "$p_partkey" -> root,
        "co_parts" -> Map("$depth" -> 3)))
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Int]("depth"))).toSet
    val oracle3 = SparkEntry.queries("graph_bfs_3hop")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Int]("depth"))).toSet
    assert(got3 == oracle3 && got3.nonEmpty)

    // $depth: 0 / omitted = fixpoint, equal to GraphOps.reachable
    val fix = naqed.request("part", Map(
        "$p_partkey" -> root, "co_parts" -> Map[String, Any]()))
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Int]("depth"))).toSet
    val want = graft.ops.GraphOps.reachable(spark, sf0001, root)
      .collect().map(r => (r.getAs[Long]("v"), r.getAs[Int]("depth"))).toSet
    assert(fix == want && fix.size >= got3.size)

    // seed filters compose: a seed set with no edges is just depth 0
    val isolated = naqed.request("part", Map(
        "$max_p_partkey" -> -1L, "co_parts" -> Map("$depth" -> 2)))
    assert(isolated.count() == 0)

    // naqed-style errors: scalar selections beside the traversal,
    // unknown traversal args, negative depth
    val mixed = intercept[IllegalArgumentException] {
      naqed.request("part", Map("p_name" -> true,
        "co_parts" -> Map("$depth" -> 2)))
    }
    assert(mixed.getMessage.contains("row grain"))
    val badArg = intercept[IllegalArgumentException] {
      naqed.request("part", Map("co_parts" -> Map("$hops" -> 2)))
    }
    assert(badArg.getMessage.contains("$depth"))
    val neg = intercept[IllegalArgumentException] {
      naqed.request("part", Map("co_parts" -> Map("$depth" -> -1)))
    }
    assert(neg.getMessage.contains("$depth"))
  }

  test("audit directive: long-format forensics report backed by the oracle-checked ops") {
    import org.apache.spark.sql.functions.col
    val rep = naqed.audit()
    // all three checks, long format, no null metrics
    assert(rep.columns.toSeq == Seq("check", "metric", "value"))
    val byCheck = rep.collect().groupBy(_.getString(0))
    assert(byCheck.keySet == Set("duplicates", "round_numbers", "splits"))
    // values come verbatim from the oracle-checked operators
    val direct = ops.Relational.aggRoundNumberBias(spark, sf0001).collect()(0)
    val apiN = rep.filter(col("check") === "round_numbers" &&
      col("metric") === "n_orders").collect()(0).getString(2)
    assert(apiN == direct.getAs[Long]("n_orders").toString)
    // $checks subsets; unknown names and args fail naqed-style
    val only = naqed.audit(Map("$checks" -> Seq("splits")))
    assert(only.select("check").distinct().collect().map(_.getString(0)).toSeq
      == Seq("splits"))
    intercept[IllegalArgumentException] {
      naqed.audit(Map("$checks" -> Seq("bogus")))
    }
    intercept[IllegalArgumentException] { naqed.audit(Map("$bogus" -> 1)) }
  }

  test("experiment directive: the A/B readout stack behind the object API") {
    import org.apache.spark.sql.functions.col
    val rep = naqed.experiment()
    assert(rep.columns.toSeq == Seq("check", "metric", "value"))
    val byCheck = rep.collect().groupBy(_.getString(0))
    assert(byCheck.keySet == Set("srm", "balance", "welch", "cuped", "ratio_ci"))
    // single-row checks come verbatim from the oracle-checked ops
    val srmDirect = ops.Relational.aggSrmCheck(spark, sf0001).collect()(0)
    val apiSrm = rep.filter(col("check") === "srm" &&
      col("metric") === "chi2_q4").collect()(0).getString(2)
    assert(apiSrm == srmDirect.getAs[Long]("chi2_q4").toString)
    // per-arm checks fold the arm into the metric name, both arms kept
    val cupedDirect = ops.Relational.aggCupedAdjust(spark, sf0001)
      .filter(col("arm") === 1).collect()(0)
    val apiCuped = rep.filter(col("check") === "cuped" &&
      col("metric") === "mean_adjusted_arm1").collect()(0).getString(2)
    assert(apiCuped == cupedDirect.getAs[Double]("mean_adjusted").toString)
    assert(rep.filter(col("check") === "ratio_ci").count() ==
      2 * (ops.Relational.aggRatioDeltaCi(spark, sf0001).columns.length - 1))
    // $checks subsets; unknown names and args fail naqed-style
    val only = naqed.experiment(Map("$checks" -> Seq("srm", "welch")))
    assert(only.select("check").distinct().collect().map(_.getString(0)).toSet
      == Set("srm", "welch"))
    intercept[IllegalArgumentException] {
      naqed.experiment(Map("$checks" -> Seq("bogus")))
    }
    intercept[IllegalArgumentException] { naqed.experiment(Map("$bogus" -> 1)) }
  }

  test("forecast directive: the §2.37 forecasting stack behind the object API") {
    import org.apache.spark.sql.functions.col
    val rep = naqed.forecast()
    assert(rep.columns.toSeq == Seq("check", "metric", "value"))
    val byCheck = rep.collect().groupBy(_.getString(0))
    assert(byCheck.keySet == Set("holt_winters", "poisson_rate", "cusum"))
    // single-row check comes verbatim from the oracle-checked op
    val prDirect = ops.Relational.aggPoissonRateTest(spark, sf0001).collect()(0)
    val apiPr = rep.filter(col("check") === "poisson_rate" &&
      col("metric") === "z_q4").collect()(0).getString(2)
    assert(apiPr == prDirect.getAs[Long]("z_q4").toString)
    // multi-row checks fold the row key into the metric: every horizon
    // of the 7-step forecast is exposed and value-equal
    val hwDirect = ops.TimeSeries.tsHoltWinters(spark, sf0001).collect()
    assert(hwDirect.length == 7)
    hwDirect.foreach { r =>
      val h = r.getAs[Long]("h")
      val api = rep.filter(col("check") === "holt_winters" &&
        col("metric") === s"forecast_$h").collect()(0).getString(2)
      assert(api == r.getAs[Double]("forecast").toString,
        s"holt_winters horizon $h drifted")
    }
    // cusum: top-20 days, keyed on the day, value-equal on the statistic
    val cuDirect = ops.TimeSeries.tsCusumTop(spark, sf0001).collect()
    assert(rep.filter(col("check") === "cusum").count() ==
      cuDirect.length.toLong * 2) // x and cusum_s per day
    val c0 = cuDirect(0)
    val apiCu = rep.filter(col("check") === "cusum" &&
      col("metric") === s"cusum_s_${c0.getAs[java.sql.Date]("dt")}")
      .collect()(0).getString(2)
    assert(apiCu == c0.getAs[Long]("cusum_s").toString)
    // $checks subsets; unknown names and args fail naqed-style
    val only = naqed.forecast(Map("$checks" -> Seq("cusum")))
    assert(only.select("check").distinct().collect().map(_.getString(0)).toSet
      == Set("cusum"))
    intercept[IllegalArgumentException] {
      naqed.forecast(Map("$checks" -> Seq("bogus")))
    }
    intercept[IllegalArgumentException] { naqed.forecast(Map("$bogus" -> 1)) }
  }

  test("retrieval directive: the retrieval-eval stack behind the object API") {
    import org.apache.spark.sql.functions.col
    val rep = naqed.retrieval()
    assert(rep.columns.toSeq == Seq("check", "metric", "value"))
    val byCheck = rep.collect().groupBy(_.getString(0))
    assert(byCheck.keySet == Set("ndcg", "mrr", "map", "rrf", "rbo"))
    // per-probe checks key the metric on the probe id, value-equal
    // with the oracle-checked ops for every probe
    val mrrDirect = ops.TextSim.simMrrAt10(spark, sf0001).collect()
    assert(mrrDirect.length == 30)
    mrrDirect.foreach { r =>
      val pid = r.getAs[Long]("pid")
      val api = rep.filter(col("check") === "mrr" &&
        col("metric") === s"rr_q6_$pid").collect()(0).getString(2)
      assert(api == r.getAs[Long]("rr_q6").toString, s"mrr probe $pid drifted")
    }
    val mapDirect = ops.TextSim.simMapAt10(spark, sf0001).collect()
    val m0 = mapDirect(0)
    val apiMap = rep.filter(col("check") === "map" &&
      col("metric") === s"ap_q6_${m0.getAs[Long]("pid")}")
      .collect()(0).getString(2)
    assert(apiMap == m0.getAs[Long]("ap_q6").toString)
    // the fused ranking keys on the doc: every fused doc's rrf score
    // is exposed and value-equal
    val rrfDirect = ops.TextSim.simRrfFusion(spark, sf0001).collect()
    val r0 = rrfDirect(0)
    val apiRrf = rep.filter(col("check") === "rrf" &&
      col("metric") === s"rrf_q6_${r0.getAs[Long]("doc_id")}")
      .collect()(0).getString(2)
    assert(apiRrf == r0.getAs[Long]("rrf_q6").toString)
    // $checks subsets; unknown names and args fail naqed-style
    val only = naqed.retrieval(Map("$checks" -> Seq("ndcg")))
    assert(only.select("check").distinct().collect().map(_.getString(0)).toSet
      == Set("ndcg"))
    intercept[IllegalArgumentException] {
      naqed.retrieval(Map("$checks" -> Seq("bogus")))
    }
    intercept[IllegalArgumentException] { naqed.retrieval(Map("$bogus" -> 1)) }
  }

  test("pii directive: profile, redact and excise behind the object API") {
    import org.apache.spark.sql.functions._
    // profile == the direct Curation face, row for row
    val prof = naqed.pii().collect().map(_.toSeq).toSeq
    val direct = ops.Curation.piiProfile(Tables(spark, sf0001, "documents"))
      .collect().map(_.toSeq).toSeq
    assert(prof == direct)
    // redact is idempotent and schema-preserving
    val red = naqed.pii(Map("$action" -> "redact"))
    assert(red.columns.sameElements(
      Tables(spark, sf0001, "documents").columns))
    val again = ops.Curation.redactPii(red)
    assert(red.select(md5(concat_ws("|", col("doc_id"), col("text"))))
      .collect().map(_.getString(0)).sorted.sameElements(
        again.select(md5(concat_ws("|", col("doc_id"), col("text"))))
          .collect().map(_.getString(0)).sorted))
    // excise row count is corpus-stable and honors $min_tokens
    val exc = naqed.pii(Map("$action" -> "excise", "$min_tokens" -> 12))
    assert(exc.count() == Tables(spark, sf0001, "documents").count())
    // arg validation naqed-style
    intercept[IllegalArgumentException] { naqed.pii(Map("$action" -> "scrub")) }
    intercept[IllegalArgumentException] { naqed.pii(Map("$bogus" -> 1)) }
    intercept[IllegalArgumentException] {
      naqed.pii(Map("$action" -> "profile", "$min_tokens" -> 10))
    }
  }

  test("crawl directive: stage report value-equal to the Curation stages, clean == pipeline") {
    val docs = Tables(spark, sf0001, "documents")
    val rep = naqed.crawl(Map("$action" -> "report"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // each reported stage equals running the stage stack directly
    assert(rep("input") == docs.count())
    val pre = ops.Curation.normalizeText(ops.Curation.repairEncoding(
      ops.Curation.extractHtml(docs)))
    val u = ops.Curation.urlDedup(pre)
    assert(rep("url_deduped") == u.count())
    val bp = ops.Curation.stripBoilerplate(u)
    assert(rep("non_empty_after_boilerplate") ==
      bp.filter(length(col("text")) > 0).count())
    val q = ops.Curation.qualityFilter(bp, 5, 0.9)
    assert(rep("after_quality") == q.count())
    // clean output: same rows as the composed stages + redaction
    val clean = naqed.crawl()
    val expect = ops.Curation.redactPii(q)
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(concat_ws("|", col("doc_id"), col("text"))))
        .collect().map(_.getString(0)).sorted.toSeq
    assert(fp(clean) == fp(expect))
    assert(rep("pii_masked_docs") >= 0)
    // arg validation naqed-style
    intercept[IllegalArgumentException] { naqed.crawl(Map("$action" -> "wash")) }
    intercept[IllegalArgumentException] { naqed.crawl(Map("$bogus" -> 1)) }
    intercept[IllegalArgumentException] { naqed.crawl(Map("$min_tokens" -> "five")) }
  }

  test("crawl $action -> lm_gate: face == Curation stages run alone, arg validation") {
    val docs = Tables(spark, sf0001, "documents")
    val gated = naqed.crawl(Map("$action" -> "lm_gate", "$max_nll" -> 3.41))
    val cleaned = ops.Curation.crawl(docs, withReport = false)._1
    val expect = ops.Curation.lmFilter(cleaned,
      ops.Pipelines.knTrainOn(docs), 3.41)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(gated) == ids(expect))
    // the gate actually drops something at this threshold, and keeps most
    assert(gated.count() < cleaned.count())
    assert(gated.count() > cleaned.count() / 2)
    intercept[IllegalArgumentException] {
      naqed.crawl(Map("$action" -> "lm_gate", "$max_nll" -> "high"))
    }
    intercept[IllegalArgumentException] {
      naqed.crawl(Map("$action" -> "clean", "$max_nll" -> 3.5))
    }
  }

  test("crawl $action -> mix: manifest == mixByTokens run alone, weights honored") {
    val docs = Tables(spark, sf0001, "documents")
    val man = naqed.crawl(Map("$action" -> "mix", "$budget" -> 5000,
      "$weights" -> Map("src3" -> 4)))
    assert(man.columns.toSeq == Seq("source", "w", "n_docs", "avail_tokens",
      "target_tokens", "docs_taken", "achieved_tokens", "fill_ppm"))
    val cleaned = ops.Curation.crawl(docs, withReport = false)._1
    val expect = ops.Curation.mixByTokens(cleaned, 5000L,
      when(col("source") === "src3", lit(4L)).otherwise(lit(1L)))._2
    assert(man.collect().map(_.toSeq).toSeq ==
      expect.collect().map(_.toSeq).toSeq)
    // the weighted source gets ~4x the target of an unweighted one
    val tgt = man.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("target_tokens")).toMap
    assert(tgt("src3") > tgt("src0") * 3)
    intercept[IllegalArgumentException] { naqed.crawl(Map("$action" -> "mix")) }
    intercept[IllegalArgumentException] {
      naqed.crawl(Map("$action" -> "mix", "$budget" -> 5000,
        "$weights" -> Map("src3" -> "heavy")))
    }
    intercept[IllegalArgumentException] {
      naqed.crawl(Map("$action" -> "clean", "$weights" -> Map("a" -> 1)))
    }
    intercept[IllegalArgumentException] {
      naqed.crawl(Map("$action" -> "mix", "$budget" -> 5000, "$out" -> "/tmp/x"))
    }
  }

  test("directive verbs: bad arguments fail naqed-style, naming what is valid") {
    // one row per verb: its valid $-keys, a numeric argument given a
    // non-number (plus any arguments that one needs), and an argument
    // given an unknown choice with the choices it accepts
    case class Verb(call: Map[String, Any] => Any, keys: Seq[String],
        number: Option[String] = None, needs: Map[String, Any] = Map.empty,
        choice: Option[(String, Any)] = None, choices: Seq[String] = Nil)
    val verbs = Seq(
      "curate" -> Verb(naqed.curate(_), Seq("$fractions", "$max_stop_ratio",
        "$min_tokens", "$test_fraction"), number = Some("$min_tokens")),
      "audit" -> Verb(naqed.audit(_), Seq("$checks"),
        choice = Some("$checks" -> Seq("bogus")),
        choices = Seq("duplicates", "round_numbers", "splits")),
      "experiment" -> Verb(naqed.experiment(_), Seq("$checks"),
        choice = Some("$checks" -> Seq("bogus")),
        choices = Seq("srm", "balance", "welch", "cuped", "ratio_ci")),
      "forecast" -> Verb(naqed.forecast(_), Seq("$checks"),
        choice = Some("$checks" -> Seq("bogus")),
        choices = Seq("holt_winters", "poisson_rate", "cusum")),
      "retrieval" -> Verb(naqed.retrieval(_), Seq("$checks"),
        choice = Some("$checks" -> Seq("bogus")),
        choices = Seq("ndcg", "mrr", "map", "rrf", "rbo")),
      "pii" -> Verb(naqed.pii(_), Seq("$action", "$min_tokens"),
        number = Some("$min_tokens"), needs = Map("$action" -> "excise"),
        choice = Some("$action" -> "scrub"),
        choices = Seq("profile", "redact", "excise")),
      "nearDedupEmbeddings" -> Verb(naqed.nearDedupEmbeddings(_),
        Seq("$margin", "$mass_factor", "$n_cells", "$path"),
        number = Some("$margin"), choice = Some("$path" -> "fastest"),
        choices = Seq("auto", "exact", "ann", "ann_adaptive")),
      "crawl" -> Verb(naqed.crawl(_), Seq("$action", "$budget", "$max_nll",
        "$max_stop_ratio", "$min_tokens", "$out", "$weights"),
        number = Some("$min_tokens"), choice = Some("$action" -> "wash"),
        choices = Seq("clean", "report", "export", "lm_gate", "mix")))
    for ((verb, v) <- verbs) {
      def message(q: Map[String, Any]) =
        intercept[IllegalArgumentException](v.call(q)).getMessage
      val unknown = message(Map("$bogus" -> 1))
      assert(("$bogus" +: v.keys).forall(unknown.contains), s"$verb: $unknown")
      v.number.foreach { k =>
        val m = message(v.needs + (k -> "five"))
        assert(m.contains(k), s"$verb: $m")
      }
      v.choice.foreach { arg =>
        val m = message(Map(arg))
        assert(v.choices.forall(m.contains), s"$verb: $m")
      }
    }
  }

  /** The four `$checks` verbs with one valid check name each. */
  private def checkVerbs =
    Seq[(String, Map[String, Any] => org.apache.spark.sql.DataFrame, String)](
      ("audit", naqed.audit(_), "splits"),
      ("experiment", naqed.experiment(_), "srm"),
      ("forecast", naqed.forecast(_), "cusum"),
      ("retrieval", naqed.retrieval(_), "ndcg"))

  test("$checks: an empty list fails naqed-style, naming the valid checks") {
    for ((verb, call, check) <- checkVerbs) {
      val e = intercept[IllegalArgumentException](call(Map("$checks" -> Seq())))
      assert(e.getMessage.contains("$checks") && e.getMessage.contains(check),
        s"$verb: ${e.getMessage}")
    }
  }

  test("$checks: a repeated check name fails naqed-style") {
    for ((verb, call, check) <- checkVerbs) {
      val e = intercept[IllegalArgumentException](
        call(Map("$checks" -> Seq(check, check))))
      assert(e.getMessage.contains(s"'$check'"), s"$verb: ${e.getMessage}")
    }
  }
}
