package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Pairs

/** `Pairs` against a plain-Scala reference, against the SQL lambda
  * strings the query sites used before the helper existed (same
  * optimized plan), and against the key-equal self-join it replaces. */
class PairsSpec extends AnyFunSuite {
  import SharedSpark._

  /** Every index pair (i, j) with key(arr(j)) > key(arr(i)), in the
    * helper's order: outer index i, then inner index j. */
  private def reference[T, K](arr: Seq[T], key: T => K)(implicit o: Ordering[K]): Seq[(T, T)] =
    for (i <- arr.indices; j <- arr.indices if o.gt(key(arr(j)), key(arr(i))))
      yield (arr(i), arr(j))

  // hand-picked edge cases first, then random arrays with repeats
  // (values from a small range, as a collect_list of a hot key has)
  private val arrays: Seq[Seq[Long]] = {
    val rnd = new scala.util.Random(42)
    Seq(Seq.empty[Long], Seq(7L), Seq(3L, 3L, 3L), Seq(1L, 2L), Seq(2L, 1L, 2L, 1L)) ++
      Seq.fill(60)(Seq.fill(rnd.nextInt(12))(rnd.nextInt(6).toLong))
  }

  private def longArrays: DataFrame = {
    import spark.implicits._
    arrays.zipWithIndex.map { case (a, id) => (id, a) }.toDF("id", "arr")
  }

  test("ordered: one pair per index pair with a greater key, on generated arrays") {
    val got = longArrays
      .select(col("id"), Pairs.ordered(col("arr"))((x, y) => struct(x.as("x"), y.as("y"))).as("ps"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(p => (p.getLong(0), p.getLong(1))))
      .toMap
    arrays.zipWithIndex.foreach { case (a, id) =>
      assert(got(id) == reference(a, identity[Long]), s"arr=$a")
    }
    // empty, single-element and all-equal arrays yield no pairs
    Seq(0, 1, 2).foreach(id => assert(got(id).isEmpty, s"arr=${arrays(id)}"))
    // duplicates keep their multiplicity: (1, 2) from both 1s to both 2s
    assert(got(4) == Seq((1L, 2L), (1L, 2L), (1L, 2L), (1L, 2L)))
  }

  test("ordered: a struct array ordered by one field (the span occ shape)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val occs: Seq[Seq[(Long, Long)]] = Seq(Seq.empty, Seq((1L, 5L)), Seq((4L, 1L), (4L, 9L))) ++
      Seq.fill(40)(Seq.fill(rnd.nextInt(10))((rnd.nextInt(5).toLong, rnd.nextInt(50).toLong)))
    val df = occs.zipWithIndex.map { case (o, id) => (id, o) }.toDF("id", "raw")
      .select(col("id"), transform(col("raw"), e => struct(e("_1").as("d"), e("_2").as("p"))).as("occ"))
    val got = df
      .select(col("id"), Pairs.ordered(col("occ"), _("d")) { (x, y) =>
        struct(x("d").as("d1"), y("d").as("d2"), x("p").as("p1"), (x("p") - y("p")).as("df"))
      }.as("ps"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getLong(0), p.getLong(1), p.getLong(2), p.getLong(3))))
      .toMap
    occs.zipWithIndex.foreach { case (o, id) =>
      val want = reference(o, (e: (Long, Long)) => e._1)
        .map { case ((d1, p1), (d2, p2)) => (d1, d2, p1, p1 - p2) }
      assert(got(id) == want, s"occ=$o")
    }
    Seq(0, 1, 2).foreach(id => assert(got(id).isEmpty, s"occ=${occs(id)}"))
  }

  test("ordered: same optimized plan as the SQL lambda string, both shapes") {
    import spark.implicits._
    val rows = Seq.tabulate(200)(i => ((i * 7919L) % 23, (i * 104729L) % 31, i.toLong))
      .toDF("g", "doc_id", "pos")
    val ids = rows.groupBy(col("g")).agg(collect_list(col("doc_id")).as("ids"))
    val occ = rows.groupBy(col("g"))
      .agg(collect_list(struct(col("doc_id").as("d"), col("pos").as("p"))).as("occ"))
    val shapes = Seq(
      (ids,
        "flatten(transform(ids, x -> transform(filter(ids, y -> y > x), " +
          "y -> struct(x AS d1, y AS d2))))",
        Pairs.ordered(col("ids"))((x, y) => struct(x.as("d1"), y.as("d2")))),
      (occ,
        "flatten(transform(occ, x -> transform(filter(occ, y -> y.d > x.d), " +
          "y -> struct(x.d AS d1, y.d AS d2, x.p AS p1, x.p - y.p AS df))))",
        Pairs.ordered(col("occ"), _("d")) { (x, y) =>
          struct(x("d").as("d1"), y("d").as("d2"), x("p").as("p1"), (x("p") - y("p")).as("df"))
        }))
    shapes.foreach { case (df, sql, helper) =>
      val viaSql = df.select(explode(expr(sql)).as("p")).select("p.*")
      val viaHelper = df.select(explode(helper).as("p")).select("p.*")
      assert(viaHelper.queryExecution.optimizedPlan
        .sameResult(viaSql.queryExecution.optimizedPlan), sql)
      assert(viaHelper.count() > 0)
      assert(viaHelper.exceptAll(viaSql).count() == 0 && viaSql.exceptAll(viaHelper).count() == 0)
    }
  }

  test("cooccurring == the key-equal self-join count, thresholded") {
    import spark.implicits._
    // groups with repeated members (collect_list keeps them, as the
    // self-join does) and pairs on both sides of the threshold
    val t = Seq(1 -> 10L, 1 -> 20L, 1 -> 30L, 2 -> 10L, 2 -> 20L, 2 -> 20L,
      3 -> 20L, 3 -> 30L, 4 -> 10L, 4 -> 30L, 4 -> 40L, 5 -> 40L)
      .toDF("g", "v")
    for (minGroups <- Seq(1, 2, 3)) {
      val got = Pairs.cooccurring(t.groupBy(col("g")).agg(collect_list(col("v")).as("vs")),
        col("vs"), minGroups)
      val l = t.toDF("g", "a")
      val r = t.toDF("g2", "b")
      val want = l.join(r, col("g") === col("g2") && col("b") > col("a"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= minGroups)
      assert(got.columns.toSeq == Seq("a", "b", "n"))
      assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
        s"minGroups=$minGroups")
    }
    val two = Pairs.cooccurring(t.groupBy(col("g")).agg(collect_list(col("v")).as("vs")),
      col("vs"), 2).as[(Long, Long, Long)].collect().toSet
    // (10,20): groups 1 and 2 (twice — two 20s in group 2) = 3
    assert(two == Set((10L, 20L, 3L), (10L, 30L, 2L), (20L, 30L, 2L)))
  }

  // ---- the span builds' capped occurrence collect ----

  test("CappedOcc: no buffer ever holds more than 21 occurrences, on generated hot groups") {
    import graft.ops.Pipelines.{CappedOcc, Occ}
    val rnd = new scala.util.Random(11)
    val sizes = Seq(0, 1, 2, 19, 20, 21, 22, 500, 5000) ++ Seq.fill(40)(rnd.nextInt(80))
    sizes.foreach { n =>
      val occ = (0 until n).map(i => (i.toLong, rnd.nextInt(100).toLong))
      // random partial groups, each folded by reduce, merged in random order
      val parts = occ.groupBy(_ => rnd.nextInt(1 + rnd.nextInt(6))).values.toSeq
      val partials = parts.map(_.foldLeft(CappedOcc.zero) { (b, o) =>
        val next = CappedOcc.reduce(b, o)
        assert(next.length <= 42, s"df=$n: reduce grew a buffer to ${next.length / 2}")
        next
      })
      val merged = rnd.shuffle(partials).foldLeft(CappedOcc.zero) { (a, b) =>
        val next = CappedOcc.merge(a, b)
        assert(next.length <= 42, s"df=$n: merge grew a buffer to ${next.length / 2}")
        next
      }
      val got = CappedOcc.finish(merged)
      if (n <= 20) assert(got.sortBy(o => (o.d, o.p)) == occ.map(o => Occ(o._1, o._2)).sortBy(o => (o.d, o.p)))
      else assert(got.isEmpty, s"df=$n is over the cap")
    }
  }

  test("spanGramPairs: a hash of df >> 20 pairs nothing; df in [2, 20] pairs like the self-join") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    // hot hash "hot" in 400 docs, one of df 21, and cold hashes of df 1..20
    val rows = (1 to 400).map(d => (d.toLong, 1L, "hot")) ++
      (1 to 21).map(d => (d.toLong, 2L, "df21")) ++
      (1 to 30).flatMap { h =>
        rnd.shuffle((1 to 400).toList).take(1 + rnd.nextInt(20))
          .map(d => (d.toLong, 3L + rnd.nextInt(50), s"c$h"))
      }
    val sh = rows.toDF("doc_id", "pos", "h")
    val got = ops.Pipelines.spanGramPairs(sh)
      .select(col("d1"), col("d2"), col("p1"), col("df")).as[(Long, Long, Long, Long)]
      .collect().toSeq.sorted
    val expected = rows.groupBy(_._3).values.filter(g => g.size >= 2 && g.size <= 20)
      .flatMap(g => for (x <- g; y <- g if y._1 > x._1) yield (x._1, y._1, x._2, x._2 - y._2))
      .toSeq.sorted
    assert(got.nonEmpty && got == expected)
  }
}
