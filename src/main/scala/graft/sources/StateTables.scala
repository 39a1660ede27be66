package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** Operator state kept in several [[VersionedTable]]s that one patch
  * must move together — the stored faces of the incremental dedup
  * operators. VersionedTable has no multi-table transaction: a patch
  * is a run of predicate DELETEs and appends, one commit each, so a
  * crash (or a concurrent writer) between them leaves the tables torn.
  *
  * The fence is one marker, `_state_tables.json` in the first table's
  * root, recording the head version of every state table after
  * the last COMPLETE patch (tmp-write + rename through Hadoop FS, so a
  * `file:`/`hdfs:`/`s3a:` root works as well as a bare path). [[check]]
  * refuses any state whose heads differ from the marker, or that has
  * no marker; [[patch]] checks before its body runs and stamps after,
  * so an empty patch over a torn state refuses too instead of
  * re-stamping it. The one recovery is to bootstrap the state again,
  * into fresh roots, from the corpus snapshot.
  */
object StateTables {

  private val mapper = new ObjectMapper()

  /** IN-list chunk size for the patch DELETE predicates: keeps each
    * parsed predicate ~100 KB even for very large deltas (the parser
    * chokes on multi-megabyte IN lists long before the pigeonhole
    * bound on |delta| does). */
  private val InChunk = 10000

  private def markerPath(roots: Seq[String]) =
    new Path(roots.head, "_state_tables.json")

  private def heads(spark: SparkSession, roots: Seq[String]): Seq[Long] =
    roots.map(r => VersionedTable.versions(spark, r).lastOption.getOrElse(0L))

  private def stamp(spark: SparkSession, roots: Seq[String]): Unit = {
    val path = markerPath(roots)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = heads(spark, roots)
    val tmp = new Path(path.getParent,
      s"${path.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(
      java.util.Map.of("versions", versions.map(Long.box).asJava)))
    finally out.close()
    fs.delete(path, false)
    fs.rename(tmp, path)
  }

  /** The fence: throws IllegalStateException unless the marker exists
    * and records exactly the tables' current heads. */
  def check(spark: SparkSession, roots: Seq[String]): Unit = {
    val path = markerPath(roots)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recorded =
      if (!fs.exists(path)) None
      else {
        val in = fs.open(path)
        try Some(mapper.readTree(in: java.io.InputStream).get("versions")
          .elements().asScala.map(_.asLong).toSeq)
        finally in.close()
      }
    val actual = heads(spark, roots)
    if (!recorded.contains(actual)) throw new IllegalStateException(
      s"torn state tables ${roots.mkString(", ")}: marker $path records " +
        recorded.fold("nothing (missing)")(_.mkString("versions ", ",", "")) +
        s" but the heads are ${actual.mkString(",")} — a patch was cut off " +
        "between its commits; bootstrap the state into fresh roots from " +
        "the corpus snapshot")
  }

  /** Create each (root, rows, clustering column) table range-clustered
    * into `files` files — so a patch's DELETE file-prunes to the
    * touched key ranges — and stamp the marker. */
  def create(spark: SparkSession, files: Int,
      tables: (String, DataFrame, String)*): Unit = {
    tables.foreach { case (root, df, key) =>
      VersionedTable.create(spark, root, df.repartitionByRange(files, col(key)))
    }
    stamp(spark, tables.map(_._1))
  }

  /** One patch of the tables at `roots`: [[check]] first, then `body`
    * (its commits), then the marker is stamped with the new heads. */
  def patch[T](spark: SparkSession, roots: Seq[String])(body: => T): T = {
    check(spark, roots)
    val out = body
    stamp(spark, roots)
    out
  }

  /** The single-column `keys` as SQL IN-list bodies of at most
    * [[InChunk]] literals each. The key set is |delta|-bounded by
    * construction, so collecting it is driver-safe. */
  def inLists(keys: DataFrame): Seq[String] =
    keys.collect().toSeq.map(_.get(0) match {
      case s: String => Literal(s).sql
      case k => k.toString
    }).grouped(InChunk).map(_.mkString(",")).toSeq

  /** One [[VersionedTable.deleteWhere]] per predicate. Returns
    * (filesRewritten summed, filesKept min'd) over the commits — 0 kept
    * when no predicate ran — so callers can observe the pruning. */
  def deleteWhere(spark: SparkSession, root: String,
      predicates: Seq[String]): (Int, Int) = {
    val counts = predicates.map { p =>
      val (_, rewritten, kept) = VersionedTable.deleteWhere(spark, root, p)
      (rewritten, kept)
    }
    (counts.map(_._1).sum, if (counts.isEmpty) 0 else counts.map(_._2).min)
  }

  /** Append `df`, skipping the commit when it has no rows (a
    * delete-only delta would otherwise commit empty parquet files).
    * `take(1)`, not `isEmpty`: the zero-column plan `isEmpty` runs
    * shares no generated code with the append's write, and on a cold
    * JVM that costs ~0.5 s per call. */
  def append(spark: SparkSession, root: String, df: DataFrame): Unit =
    if (df.take(1).nonEmpty) VersionedTable.append(spark, root, df)

  /** The head's file count: what an empty feed reports as kept. */
  def filesKept(spark: SparkSession, root: String): Int =
    VersionedTable.loadHead(spark, root)
      .fold(0)(h => VersionedTable.manifestFiles(h._2).size)
}
