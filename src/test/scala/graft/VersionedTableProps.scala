package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.sources.{MaterializedView, VersionedTable}
import graft.sources.MaterializedView.AggSpec
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The pruning soundness law: for EVERY predicate, `scan` (file-level
  * stats refutation + row filter) returns exactly `read` + the same
  * filter. The three-valued mayMatch logic is where data-skipping
  * implementations historically break (null stats, all-null files,
  * reversed literal comparisons, OR short-circuits) — so the predicate
  * space is generated, not hand-picked. */
class VersionedTableProps extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  // one z-ordered snapshot of documents, shared across all properties
  private lazy val root: String = {
    val r = Files.createTempDirectory("vtprops").toString + "/tbl"
    VersionedTable.create(spark, r,
      Tables(spark, SharedSpark.sf0001, "documents"))
    VersionedTable.cluster(spark, r, Seq("doc_id", "n_chars"), numFiles = 8)
    r
  }

  private val numCol = Gen.oneOf("doc_id", "n_chars")
  private val cmpOp = Gen.oneOf("<", "<=", "=", ">", ">=")

  private val numAtom: Gen[String] = for {
    c <- numCol
    op <- cmpOp
    // integer AND decimal literals against the long columns — the
    // analyzer coerces these, so pruning must too (not crash)
    v <- Gen.oneOf(
      Gen.chooseNum(-10L, 1200L).map(_.toString),
      Gen.chooseNum(-10.0, 1200.0).map(d => f"$d%.2f"))
    flip <- Gen.oneOf(true, false) // literal-on-the-left shapes too
  } yield if (flip) s"$v $op $c" else s"$c $op $v"

  private val strAtom: Gen[String] = for {
    vs <- Gen.nonEmptyListOf(Gen.oneOf("en", "de", "zh", "xx"))
    shape <- Gen.oneOf(0, 1, 2)
  } yield shape match {
    case 0 => s"lang = '${vs.head}'"
    case 1 => s"lang IN (${vs.distinct.map(v => s"'$v'").mkString(", ")})"
    case 2 => "lang IS NOT NULL"
  }

  private val nullAtom: Gen[String] =
    Gen.oneOf("text IS NULL", "text IS NOT NULL", "NOT (text IS NULL)")

  private val atom: Gen[String] = Gen.frequency(
    5 -> numAtom, 3 -> strAtom, 1 -> nullAtom)

  private val predicate: Gen[String] = for {
    a <- atom
    b <- atom
    c <- atom
    shape <- Gen.oneOf(0, 1, 2, 3)
  } yield shape match {
    case 0 => a
    case 1 => s"($a) AND ($b)"
    case 2 => s"($a) OR ($b)"
    case 3 => s"(($a) AND ($b)) OR ($c)"
  }

  test("scan(pred) == read().where(pred) for generated predicates") {
    val full = VersionedTable.read(spark, root)
    // deterministic sample of the predicate space (fixed seed — the
    // suite must be reproducible run to run)
    val preds = Gen.listOfN(60, predicate)
      .apply(Gen.Parameters.default, Seed(42L))
      .getOrElse(fail("generator exhausted"))
    preds.foreach { pred =>
      val (pruned, scanned, total) = VersionedTable.scan(spark, root, pred)
      val expected = full.where(pred).count()
      assert(pruned.count() == expected,
        s"pruning changed the result for: $pred (scanned $scanned/$total)")
    }
  }

  test("type-mixed literals neither crash nor misprune") {
    val full = VersionedTable.read(spark, root)
    Seq("doc_id < 10.5", "n_chars >= 100.0", "10.5 > doc_id", "doc_id = 3.0",
        "doc_id <=> 3", "lang = 'en' AND n_chars > 49.9",
        "doc_id IN (1, 2.5, 3)").foreach { pred =>
      val (pruned, _, _) = VersionedTable.scan(spark, root, pred)
      assert(pruned.count() == full.where(pred).count(), s"for: $pred")
    }
  }

  test("narrow range predicates actually skip files on both z-columns") {
    val (_, s1, t1) = VersionedTable.scan(spark, root, "doc_id < 20")
    val (_, s2, t2) = VersionedTable.scan(spark, root, "n_chars < 60")
    assert(s1 < t1 && s2 < t2)
  }

  // ---- temporal + floating domains (round-4 ADVICE regressions) ----

  // events-derived table: LTZ timestamp, date, NTZ timestamp, and a
  // float column, range-laid-out by time so pruning is observable
  private lazy val troot: String = {
    val r = Files.createTempDirectory("vtprops-t").toString + "/tbl"
    val ev = Tables(spark, SharedSpark.sf0001, "events")
      .select(col("event_id"), col("ts"),
        col("ts").cast("date").as("d"),
        col("ts").cast("timestamp_ntz").as("tntz"),
        col("value"), col("value").cast("float").as("fv"))
      .repartitionByRange(6, col("ts"))
      .sortWithinPartitions("ts")
    VersionedTable.create(spark, r, ev)
    r
  }

  private val tempAtom: Gen[String] = for {
    c <- Gen.oneOf("d", "ts", "tntz")
    op <- cmpOp
    day <- Gen.chooseNum(1, 30)
    lit <- Gen.oneOf(
      f"date'2024-01-$day%02d'",
      f"timestamp'2024-01-$day%02d 11:30:00'",
      f"timestamp_ntz'2024-01-$day%02d 11:30:00'")
    flip <- Gen.oneOf(true, false)
  } yield if (flip) s"$lit $op $c" else s"$c $op $lit"

  private val floatAtom: Gen[String] = for {
    c <- Gen.oneOf("fv", "value")
    op <- cmpOp
    // plain decimals, high-precision decimals (>15 sig digits — the
    // double-rounding trap), and double-typed literals
    v <- Gen.oneOf(
      Gen.chooseNum(-1.0, 1.0).map(d => f"$d%.3f"),
      Gen.chooseNum(-1.0, 1.0).map(d => f"$d%.17f"),
      Gen.chooseNum(-1.0, 1.0).map(d => f"${d}e0"))
  } yield s"$c $op $v"

  private val tfAtom: Gen[String] = Gen.frequency(3 -> tempAtom, 2 -> floatAtom)

  private val tfPredicate: Gen[String] = for {
    a <- tfAtom
    b <- tfAtom
    shape <- Gen.oneOf(0, 0, 1, 2)
  } yield shape match {
    case 0 => a
    case 1 => s"($a) AND ($b)"
    case 2 => s"($a) OR ($b)"
  }

  test("temporal/floating predicates: scan == read.where (generated)") {
    val full = VersionedTable.read(spark, troot)
    val preds = Gen.listOfN(60, tfPredicate)
      .apply(Gen.Parameters.default, Seed(42L))
      .getOrElse(fail("generator exhausted"))
    preds.foreach { pred =>
      val (pruned, scanned, total) = VersionedTable.scan(spark, troot, pred)
      val expected = full.where(pred).count()
      assert(pruned.count() == expected,
        s"pruning changed the result for: $pred (scanned $scanned/$total)")
    }
  }

  test("date col vs timestamp literal: no false refutation, still prunes") {
    val full = VersionedTable.read(spark, troot)
    // the ADVICE repro shape: a timestamp literal BELOW the whole date
    // range must keep every row (pre-fix: epoch-days stats vs
    // epoch-micros literal pruned everything)
    val (all, _, _) = VersionedTable.scan(spark, troot,
      "d > timestamp'2020-01-01 00:00:00'")
    assert(all.count() == full.count())
    // and a mid-range timestamp literal must both prune files AND
    // agree with the row-level filter
    val pred = "ts < timestamp'2024-01-06 00:00:00'"
    val (pruned, scanned, total) = VersionedTable.scan(spark, troot, pred)
    assert(pruned.count() == full.where(pred).count())
    assert(scanned < total, s"expected file skipping ($scanned/$total)")
    // date literal against the LTZ timestamp column: same law
    val p2 = "ts >= date'2024-01-20'"
    val (pr2, _, _) = VersionedTable.scan(spark, troot, p2)
    assert(pr2.count() == full.where(p2).count())
    // NTZ column with NTZ/date literals prunes; NTZ vs LTZ stays
    // conservative but correct
    Seq("tntz < timestamp_ntz'2024-01-10 00:00:00'",
        "tntz >= date'2024-01-10'",
        "tntz < timestamp'2024-01-10 00:00:00'").foreach { p =>
      val (pr, _, _) = VersionedTable.scan(spark, troot, p)
      assert(pr.count() == full.where(p).count(), s"for: $p")
    }
  }

  test("deleteWhere honors temporal straddle predicates") {
    val r = Files.createTempDirectory("vtdel-t").toString + "/tbl"
    import spark.implicits._
    VersionedTable.create(spark, r,
      Seq(java.sql.Date.valueOf("2024-03-01"), java.sql.Date.valueOf("2024-03-09"))
        .toDF("d"))
    // pre-fix this deleted nothing (rewritten=0: days-vs-micros stats
    // comparison refuted the file)
    val (_, rewritten, _, _) = VersionedTable.deleteWhere(spark, r,
      "d > timestamp'2024-03-05 00:00:00'")
    assert(rewritten == 1)
    assert(VersionedTable.read(spark, r).collect().map(_.getDate(0).toString)
      .toSeq == Seq("2024-03-01"))
  }

  test("restore commits an old snapshot as a new version") {
    val r = Files.createTempDirectory("vtrestore").toString + "/tbl"
    import spark.implicits._
    VersionedTable.create(spark, r, Seq((1L, "a")).toDF("id", "v"))
    VersionedTable.overwrite(spark, r, Seq((2L, "b")).toDF("id", "v"))
    val v = VersionedTable.restore(spark, r, 1L)
    assert(v == 3L)
    assert(VersionedTable.read(spark, r).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // history keeps all three ops
    assert(VersionedTable.history(spark, r).orderBy("version")
      .collect().map(_.getString(1)).toSeq == Seq("create", "overwrite", "restore"))
  }

  // ---- merge-on-read: random mixed writes against a rewrite-everything model ----

  /** One committed version of the model: id -> v, ids unique. */
  private type Snap = Map[Long, String]

  /** A delete predicate as SQL and as the model's row test. */
  private case class Pred(sql: String, hit: (Long, String) => Boolean)

  private def randomPred(rnd: scala.util.Random, live: Snap): Pred =
    rnd.nextInt(4) match {
      case 0 =>
        val (m, r) = (2 + rnd.nextInt(4), rnd.nextInt(2))
        Pred(s"id % $m = $r", (id, _) => id % m == r)
      case 1 =>
        val x = rnd.nextInt(60).toLong
        Pred(s"id < $x", (id, _) => id < x)
      case 2 =>
        val t = s"v${rnd.nextInt(3)}"
        Pred(s"v LIKE '$t%'", (_, v) => v.startsWith(t))
      case _ =>
        val ids = rnd.shuffle(live.keys.toSeq).take(1 + rnd.nextInt(3))
        if (ids.isEmpty) Pred("false", (_, _) => false)
        else Pred(s"id IN (${ids.mkString(", ")})", (id, _) => ids.contains(id))
    }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Snap = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate live ids")
    rows.toMap
  }

  test("random merge/delete/append/compact/restore: every version reads as the model") {
    import spark.implicits._
    (1 to 30).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val r = Files.createTempDirectory(s"vtmodel$seed").toString + "/tbl"
      var nextId = 0L
      def fresh(n: Int): Seq[(Long, String)] = (0 until n).map { _ =>
        nextId += 1; (nextId, s"v${rnd.nextInt(3)}i$nextId")
      }
      val init = fresh(10 + rnd.nextInt(30))
      VersionedTable.create(spark, r, init.toDF("id", "v").repartitionByRange(3, col("id")))
      val model = scala.collection.mutable.ArrayBuffer[Snap](Map.empty, init.toMap)
      val ops = scala.collection.mutable.ArrayBuffer[String]("create")
      (1 to 5).foreach { step =>
        val cur = model.last
        val op = rnd.nextInt(5)
        val next: Snap = op match {
          case 0 =>
            val rows = fresh(1 + rnd.nextInt(5))
            VersionedTable.append(spark, r, rows.toDF("id", "v"))
            ops += "append"; cur ++ rows
          case 1 =>
            val upd = rnd.shuffle(cur.keys.toSeq).take(rnd.nextInt(4))
              .map(id => (id, s"v${rnd.nextInt(3)}u$seed.$step")) ++ fresh(rnd.nextInt(3))
            VersionedTable.merge(spark, r, upd.toDF("id", "v"), Seq("id"))
            ops += s"merge ${upd.map(_._1).mkString(",")}"; cur ++ upd
          case 2 =>
            val p = randomPred(rnd, cur)
            val (_, _, _, gone) = VersionedTable.deleteWhere(spark, r, p.sql)
            val kept = cur.filterNot { case (id, v) => p.hit(id, v) }
            assert(gone == cur.size - kept.size, s"seed $seed: delete ${p.sql} reported $gone")
            ops += s"delete ${p.sql}"; kept
          case 3 =>
            VersionedTable.compact(spark, r, if (rnd.nextBoolean()) 2000L else 1L << 30)
            ops += "compact"; cur
          case _ =>
            val u = 1 + rnd.nextInt(model.size - 1)
            VersionedTable.restore(spark, r, u.toLong)
            ops += s"restore $u"; model(u)
        }
        model += next
        val v = model.size - 1L
        val trail = s"seed $seed: ${ops.mkString(" / ")}"
        // time travel: every version still reads as the model, in one job
        val all = (1L to v).map(u => VersionedTable.read(spark, r, Some(u))
          .withColumn("u", lit(u))).reduce(_.unionByName(_))
          .collect().groupBy(_.getLong(2))
        (1L to v).foreach { u =>
          val got = all.getOrElse(u, Array.empty).map(x => x.getLong(0) -> x.getString(1))
          assert(got.length == model(u.toInt).size && got.toMap == model(u.toInt),
            s"read(asOf = $u) differs from the model; $trail")
        }
        val (before, after) = (model(v.toInt - 1), next)
        assert(rowsOf(VersionedTable.changes(spark, r, v - 1, v)) ==
          after.filterNot { case (id, x) => before.get(id).contains(x) },
          s"changes(${v - 1}, $v); $trail")
        val feed = VersionedTable.changeFeed(spark, r, v - 1, v, Seq("id")).collect()
          .map(x => (x.getAs[String]("_change_type"), x.getAs[Long]("id"), x.getAs[String]("v")))
        val expected = after.keySet.union(before.keySet).toSeq.flatMap { id =>
          (before.get(id), after.get(id)) match {
            case (None, Some(x)) => Seq(("insert", id, x))
            case (Some(x), None) => Seq(("delete", id, x))
            case (Some(x), Some(y)) if x != y =>
              Seq(("update_preimage", id, x), ("update_postimage", id, y))
            case _ => Seq.empty
          }
        }
        assert(feed.length == expected.length && feed.toSet == expected.toSet,
          s"changeFeed(${v - 1}, $v); $trail")
      }
      val counts = VersionedTable.history(spark, r).orderBy("version").collect()
        .map(_.getLong(3)).toSeq
      assert(counts == model.tail.map(_.size.toLong), s"history n_rows; seed $seed")
    }
  }

  /** Version v's manifest file entries, as the log stores them. */
  private def entries(r: String, v: Long): Seq[com.fasterxml.jackson.databind.JsonNode] =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(new java.net.URI(r).getPath.stripSuffix("/") +
        f"/_graft_log/v$v%08d.json"))
      .get("files").elements().asScala.toSeq

  private def manifestPaths(r: String, v: Long): Seq[String] =
    entries(r, v).map(_.get("path").asText())

  private def vectored(r: String, v: Long): Int = entries(r, v).count(_.has("deleted"))

  test("a merge keeps the create-time files and adds exactly one") {
    import spark.implicits._
    val r = Files.createTempDirectory("vtmor").toString + "/tbl"
    VersionedTable.create(spark, r,
      (1L to 40L).map(i => (i, s"x$i")).toDF("id", "v").repartitionByRange(4, col("id")))
    val created = manifestPaths(r, 1L)
    val v = VersionedTable.merge(spark, r, Seq((3L, "new"), (99L, "ins")).toDF("id", "v"), Seq("id"))
    val after = manifestPaths(r, v)
    assert(created.forall(after.contains) && after.size == created.size + 1)
    assert(vectored(r, v) == 1, "only the file holding id 3 gets a vector")
    val got = VersionedTable.read(spark, r).collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(got == (1L to 40L).map(i => i -> s"x$i").toMap ++ Map(3L -> "new", 99L -> "ins"))
  }

  test("refresh after a merge or a delete does not take the append-only path") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("vtmormv").toString
    val (base, view) = (tmp + "/base", tmp + "/view")
    VersionedTable.create(spark, base,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L)).toDF("id", "k", "x"))
    MaterializedView.create(spark, view, base, Seq("k"),
      Seq(AggSpec("count", "*", "n"), AggSpec("sum", "x", "sx")))
    def state() = MaterializedView.read(spark, view).collect()
      .map(x => x.getString(0) -> (x.getAs[Long]("n"), x.getAs[Long]("sx"))).toMap
    VersionedTable.merge(spark, base, Seq((1L, "b", 11L)).toDF("id", "k", "x"), Seq("id"))
    assert(MaterializedView.refresh(spark, view)._3 == "full")
    assert(state() == Map("a" -> (1L, 20L), "b" -> (2L, 41L)))
    VersionedTable.deleteWhere(spark, base, "id = 2")
    assert(MaterializedView.refresh(spark, view)._3 == "full")
    assert(state() == Map("b" -> (2L, 41L)))
  }

  test("deleting every row of a file drops the file from the manifest") {
    import spark.implicits._
    val r = Files.createTempDirectory("vtmordrop").toString + "/tbl"
    VersionedTable.create(spark, r,
      (1L to 30L).map(i => (i, s"x$i")).toDF("id", "v").repartitionByRange(3, col("id")))
    val (v, touched, _, _) = VersionedTable.deleteWhere(spark, r, "id <= 10")
    assert(touched == 1)
    assert(manifestPaths(r, v).size == 2 && vectored(r, v) == 0)
    assert(VersionedTable.read(spark, r).count() == 20)
    // a partial delete keeps the file, vectored
    val (v2, _, _, _) = VersionedTable.deleteWhere(spark, r, "id = 15")
    assert(manifestPaths(r, v2).size == 2 && vectored(r, v2) == 1)
    assert(VersionedTable.history(spark, r).orderBy("version").collect()
      .map(_.getLong(3)).toSeq == Seq(30L, 20L, 19L))
  }

  test("vacuum after compact reaps the vectored files") {
    import spark.implicits._
    val r = Files.createTempDirectory("vtmorvac").toString + "/tbl"
    VersionedTable.create(spark, r,
      (1L to 30L).map(i => (i, s"x$i")).toDF("id", "v").repartitionByRange(3, col("id")))
    val (v1, _, _, _) = VersionedTable.deleteWhere(spark, r, "id % 7 = 0")
    val old = manifestPaths(r, v1)
    val v2 = VersionedTable.compact(spark, r, 1L << 30)
    assert(vectored(r, v2) == 0)
    VersionedTable.vacuum(spark, r, retainVersions = 1, minAgeMs = 0L)
    assert(old.forall(p => !new java.io.File(p).exists()))
    assert(VersionedTable.read(spark, r).collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 30L).filterNot(_ % 7 == 0))
  }

  test("a deletion vector round-trips through a file:// root") {
    import spark.implicits._
    val r = "file://" + Files.createTempDirectory("vtmoruri").toString + "/tbl"
    VersionedTable.create(spark, r, (1L to 20L).map(i => (i, s"x$i")).toDF("id", "v"))
    VersionedTable.merge(spark, r, Seq((4L, "four")).toDF("id", "v"), Seq("id"))
    VersionedTable.deleteWhere(spark, r, "id > 17")
    val got = VersionedTable.read(spark, r).collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(got == (1L to 17L).map(i => i -> s"x$i").toMap + (4L -> "four"))
    assert(VersionedTable.read(spark, r, Some(2L)).count() == 20)
  }

  test("a read's generated code does not depend on the deleted positions") {
    import spark.implicits._
    val r = Files.createTempDirectory("vtmorcg").toString + "/tbl"
    VersionedTable.create(spark, r, (1L to 20L).map(i => (i, s"x$i")).toDF("id", "v"))
    def code(): Seq[String] = org.apache.spark.sql.execution.debug
      .codegenStringSeq(VersionedTable.read(spark, r).where("id > 0")
        .queryExecution.executedPlan).map(_._2)
    VersionedTable.deleteWhere(spark, r, "id = 3")
    val first = code()
    VersionedTable.deleteWhere(spark, r, "id IN (5, 11)")
    assert(first.nonEmpty && code() == first)
    assert(VersionedTable.read(spark, r).count() == 17)
  }
}
