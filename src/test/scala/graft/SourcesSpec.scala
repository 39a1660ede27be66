package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-enforced readers and the partitioned layout the declared
  * queries are served through, asserted on the executed plans. */
class SourcesSpec extends AnyFunSuite {
  import SharedSpark._

  test("declared src_partitioned_roundtrip actually prunes to one directory") {
    // the declared query's own plan: the event_type predicate must
    // resolve to PartitionFilters on the written layout — i.e. only
    // the purchase/ directory is scanned
    val q = graft.sources.Sources.via(spark, sf0001, "events", "parquet_partitioned")
      .filter(col("event_type") === "purchase")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    assert(!plan.toLowerCase.contains("pushedfilters: [isnotnull(event_type"),
      "event_type should be a partition filter, not a data filter")
  }

  test("csv and json round-trip with enforced schemas") {
    val docs = Tables(spark, sf0001, "documents")
    val out = java.nio.file.Files.createTempDirectory("graft_src").toString
    docs.write.mode("overwrite").option("header", "true").csv(s"$out/csv")
    docs.write.mode("overwrite").json(s"$out/json")
    val viaCsv = graft.sources.Sources.readCsv(spark, s"$out/csv", docs.schema)
    val viaJson = graft.sources.Sources.readJson(spark, s"$out/json", docs.schema)
    assert(viaCsv.count() == docs.count() && viaJson.count() == docs.count())
    assert(viaCsv.exceptAll(docs).count() == 0)
    assert(viaJson.exceptAll(docs).count() == 0)
    assert(viaCsv.schema == docs.schema)
    docs.write.mode("overwrite").orc(s"$out/orc")
    val viaOrc = graft.sources.Sources.readOrc(spark, s"$out/orc", docs.schema)
    assert(viaOrc.exceptAll(docs).count() == 0)
    docs.select("text").write.mode("overwrite").text(s"$out/txt")
    val viaText = graft.sources.Sources.readText(spark, s"$out/txt")
    assert(viaText.columns.toSeq == Seq("value"))
    assert(viaText.count() == docs.filter(col("text").isNotNull).count())
  }
}
