package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Schema-enforced ingestion for the formats a pipeline meets besides
  * parquet. Schemas are always supplied explicitly (never inferred) —
  * at 100 TB an inference pass is a full extra scan, and inferred
  * types drift between days of data; explicit schemas fail fast
  * instead (FAILFAST mode surfaces malformed rows immediately rather
  * than nulling them silently).
  */
object Sources {

  def readCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("mode", "FAILFAST")
      .csv(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("mode", "FAILFAST")
      .json(path)

  /** ORC: the other columnar warehouse format (predicate pushdown and
    * column pruning work the same as parquet — Spark ships the reader).
    * Schema supplied for uniformity with the other readers; ORC files
    * carry their own types, so this acts as a fail-fast contract check
    * rather than inference avoidance. */
  def readOrc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Line-oriented text (one string column `value`) — the raw-corpus
    * entry point before any parsing. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** A base table served through a BUCKETED managed table (§2.45):
    * written once per (session, sfDir, table) with `bucketBy(n, key)` +
    * `sortBy(key)` into the session warehouse, read back via
    * `spark.table`. Bucketing is THE co-located-join lever at 100 TB —
    * two tables bucketed on the same key sort-merge-join with ZERO
    * exchanges (pinned in EngineSpec) — and this helper is the
    * declared-query proof it works end to end, not just a SCALING.md
    * claim. The table name folds in the sfDir hash so multiple tiers
    * coexist in one warehouse. */
  def bucketed(spark: SparkSession, sfDir: String, name: String,
      keyCol: String, nBuckets: Int): DataFrame =
    bucketedBuild(spark, (sfDir, name, keyCol, nBuckets))

  private val bucketedBuild =
    graft.SharedBuild[(String, String, String, Int), DataFrame]("Sources.bucketed") {
    case (spark, (sfDir, name, keyCol, nBuckets)) =>
      // collision-resistant tier suffix: the shared build keys on the
      // full sfDir, so the table name must too — a hashCode collision
      // across tiers would silently serve the wrong tier's data (and
      // math.abs(Int.MinValue) stays negative)
      val tierTag = java.security.MessageDigest.getInstance("MD5")
        .digest(sfDir.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val tbl = s"bucketed_${name}_${nBuckets}_$tierTag"
      if (!spark.catalog.tableExists(tbl)) {
        // the warehouse DIRECTORY outlives the in-memory catalog across
        // JVMs: a fresh session doesn't know the table but its managed
        // location from a previous run blocks CREATE — reap it first
        // (it is scratch state in the gitignored warehouse)
        val wh = java.net.URI.create(
          spark.conf.get("spark.sql.warehouse.dir")).getPath
        val loc = java.nio.file.Paths.get(wh, tbl)
        if (java.nio.file.Files.exists(loc)) {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.walk(loc)) { st =>
            st.iterator().asScala.toSeq
          }.sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
        graft.Tables(spark, sfDir, name).write
          .bucketBy(nBuckets, keyCol).sortBy(keyCol)
          .mode("overwrite").saveAsTable(tbl)
      }
      spark.table(tbl)
    }

  // conversion dirs hold full table copies — reap them at JVM exit so
  // repeated bench/test runs don't accumulate unbounded /tmp data
  private val convDirs = java.util.Collections.synchronizedList(
    new java.util.ArrayList[java.nio.file.Path]())
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    convDirs.forEach { root =>
      try {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
          st.iterator().asScala.toSeq
        }.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Exception => () }
    }))

  /** A base table served THROUGH a non-parquet format: written once per
    * (session, sfDir, table, format) to a temp dir, then read back via
    * the schema-enforced reader above. This is how the oracle suite
    * proves the csv/json/orc readers end-to-end — the DuckDB oracle
    * aggregates the ORIGINAL parquet, so any value the round-trip
    * damages fails the hash gate. Caveats encoded by the caller's
    * choice of table: CSV/JSON serialize timestamps at millisecond
    * precision (fine for the midnight-valued orderdate, wrong for
    * events.ts — use ORC for exact micros) and doubles as
    * shortest-repr text (reads back bit-exact). */
  def via(spark: SparkSession, sfDir: String, name: String,
      format: String): DataFrame =
    conversions(spark, (sfDir, name, format))

  private val conversions =
    graft.SharedBuild[(String, String, String), DataFrame]("Sources.via") {
    case (spark, (sfDir, name, format)) =>
      val base = graft.Tables(spark, sfDir, name)
      val dirPath = java.nio.file.Files
        .createTempDirectory(s"graft-$format-$name")
      convDirs.add(dirPath)
      val path = s"${dirPath.toString}/$name"
      format match {
        case "csv" =>
          base.write.mode("overwrite").option("header", "true").csv(path)
          readCsv(spark, path, base.schema)
        case "json" =>
          base.write.mode("overwrite").json(path)
          readJson(spark, path, base.schema)
        case "orc" =>
          base.write.mode("overwrite").orc(path)
          readOrc(spark, path, base.schema)
        case "parquet_partitioned" =>
          // hive-style directory partitioning on the table's first
          // string column — the layout a predicate on that column
          // prunes to matching directories (PartitionFilters)
          val pcol = base.schema.fields
            .collectFirst { case f if f.dataType == org.apache.spark.sql.types.StringType => f.name }
            .getOrElse(throw new IllegalArgumentException(
              s"'$name' has no string column to partition by"))
          base.write.mode("overwrite").partitionBy(pcol).parquet(path)
          // partition columns come back last — restore declared order
          spark.read.parquet(path).select(base.columns.map(col): _*)
        case "text" =>
          // line-oriented text roundtrip (§2.42): the raw-corpus wire
          // format — one TSV line per document, free-text field LAST
          // (it contains no tabs here; a production packer would
          // escape). Written via the text sink, read back through
          // readText + a limit-5 split, so BOTH line-source directions
          // are exercised; the oracle aggregates the original parquet.
          import org.apache.spark.sql.functions._
          import org.apache.spark.sql.types.LongType
          require(name == "documents",
            "text roundtrip is modeled on the documents table")
          // the TSV pack puts the free-text field last unescaped — a
          // tab or newline INSIDE it would mis-split on read and
          // surface only as an opaque oracle hash mismatch, so fail
          // loudly here instead (a production packer would escape)
          require(base.filter(col("text").rlike("[\\t\\n]")).isEmpty,
            "documents.text contains tab/newline; TSV pack would tear")
          base.select(concat_ws("\t",
              col("doc_id"), col("lang"), col("source"),
              col("n_chars"), col("text")).as("value"))
            .write.mode("overwrite").text(path)
          readText(spark, path)
            .select(split(col("value"), "\t", 5).as("f"))
            .select(element_at(col("f"), 1).cast(LongType).as("doc_id"),
              element_at(col("f"), 5).as("text"),
              element_at(col("f"), 2).as("lang"),
              element_at(col("f"), 3).as("source"),
              element_at(col("f"), 4).cast(LongType).as("n_chars"))
        case "text_gzip" =>
          // the compressed-lines variant (§2.44): gzip is THE wire
          // format crawl corpora actually land in (.jsonl.gz/.tsv.gz);
          // Spark's text source decompresses by extension — gzip files
          // are NOT splittable, so at 100 TB the layout lever is many
          // moderate .gz files (one task each), exactly what this
          // write produces (one per input partition)
          import org.apache.spark.sql.functions._
          import org.apache.spark.sql.types.LongType
          require(name == "documents",
            "text_gzip roundtrip is modeled on the documents table")
          base.select(concat_ws("\t",
              col("doc_id"), col("lang"), col("source"),
              col("n_chars"), col("text")).as("value"))
            .write.mode("overwrite").option("compression", "gzip").text(path)
          readText(spark, path)
            .select(split(col("value"), "\t", 5).as("f"))
            .select(element_at(col("f"), 1).cast(LongType).as("doc_id"),
              element_at(col("f"), 5).as("text"),
              element_at(col("f"), 2).as("lang"),
              element_at(col("f"), 3).as("source"),
              element_at(col("f"), 4).cast(LongType).as("n_chars"))
        case "jsonl_corrupt" =>
          // ingest-audit fixture: every row whose key is ≡ 0 (mod 7)
          // is truncated by 5 chars — the closing brace is gone, so
          // the line CANNOT parse; the corruption rule is a pure
          // function of the key (not of row order), which is what
          // lets the oracle simulate it from the original table
          import org.apache.spark.sql.functions._
          require(name == "orders",
            "jsonl_corrupt is modeled on the orders table")
          base
            .select(to_json(struct(base.columns.map(col): _*)).as("j"),
              col("o_orderkey"))
            .select(when(col("o_orderkey") % 7 === 0,
                expr("substring(j, 1, length(j) - 5)"))
              .otherwise(col("j")).as("value"))
            .write.mode("overwrite").text(path)
          val withCorrupt = org.apache.spark.sql.types.StructType(
            base.schema.fields :+ org.apache.spark.sql.types.StructField(
              "_corrupt", org.apache.spark.sql.types.StringType))
          spark.read
            .schema(withCorrupt)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .json(path)
        case "parquet_evolved" =>
          // schema evolution: the pre-1996 slice ships WITHOUT the
          // priority column, the 1996+ slice WITHOUT totalprice —
          // reading with mergeSchema must union-by-name and null-fill,
          // the add-a-column migration every long-lived lake survives
          import org.apache.spark.sql.functions.{col, lit}
          import org.apache.spark.sql.types.TimestampType
          require(name == "orders",
            "parquet_evolved is modeled on the orders table")
          val cut = col("o_orderdate") < lit("1996-01-01").cast(TimestampType)
          base.filter(cut)
            .select("o_orderkey", "o_custkey", "o_orderstatus",
              "o_totalprice", "o_orderdate")
            .write.mode("overwrite").parquet(s"$path/v1")
          base.filter(!cut)
            .select("o_orderkey", "o_custkey", "o_orderstatus",
              "o_orderdate", "o_orderpriority")
            .write.mode("overwrite").parquet(s"$path/v2")
          spark.read.option("mergeSchema", "true")
            .parquet(s"$path/v1", s"$path/v2")
        case other => throw new IllegalArgumentException(
          s"unsupported via-format '$other' (csv, json, orc, parquet_partitioned, parquet_evolved, jsonl_corrupt)")
      }
    }
}
