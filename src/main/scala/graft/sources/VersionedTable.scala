package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{coalesce, col, count, floor, input_file_name, lit, max, min, shiftleft, shiftright, sum, udaf, udf, when}
import org.apache.spark.sql.types._
import org.roaringbitmap.RoaringBitmap
import scala.jdk.CollectionConverters._

/** A minimal snapshot table format over raw parquet — what
  * Delta/Iceberg add over a bare directory, built from public first
  * principles. It is the one table-write path: append, merge, delete,
  * compaction and streaming sinks all commit through it.
  *
  *  - **Snapshot isolation.** Every commit writes immutable data files
  *    plus a full-snapshot manifest `_graft_log/v%08d.json`; readers
  *    resolve ONE manifest and never observe a half-written table (the
  *    failure mode of an in-place directory swap).
  *  - **Optimistic concurrency.** The commit point is an atomic
  *    `rename` onto the next version file; losers re-read the head and
  *    retry, so concurrent appends serialize without locks.
  *  - **Time travel.** `read(spark, root, asOf = Some(v))`.
  *  - **Schema evolution.** Appends must match the table schema, or
  *    widen it explicitly with `mergeSchema = true` (absent columns
  *    read back as nulls via an explicit read schema).
  *  - **Data skipping.** Manifests carry per-file, per-column
  *    min/max/null-count stats; `scan(root, "predicate")` parses the
  *    predicate with Catalyst and drops files whose stats refute it
  *    BEFORE Spark plans the scan — at 100 TB this is the difference
  *    between touching 3 files and listing 300 000 (partition pruning
  *    generalized to every sortable column, cf. Delta data skipping /
  *    Iceberg manifests; the Spark-level parquet row-group pruning
  *    still applies afterwards to the files that survive).
  *  - **Merge-on-read row-level writes.** A file's manifest entry may
  *    carry a deletion vector, `deleted`: the base64 of a serialized
  *    RoaringBitmap of the parquet `_metadata.row_index` positions gone
  *    from it (Iceberg v2 position deletes / Delta deletion vectors).
  *    `merge` and `deleteWhere` never rewrite a data file: they grow
  *    vectors, and a merge appends its rows as one new file. Every read
  *    goes through [[readFiles]], which drops the vectored rows;
  *    `compact` and `cluster` rewrite the live rows and fold the
  *    vectors away. A file whose vector covers all its rows leaves the
  *    manifest.
  *
  * Scale notes: a full file list per manifest is O(files) per commit —
  * production formats amortize with delta logs + periodic checkpoints;
  * stats here are harvested with one Spark aggregation over the
  * just-written files (grouped by `input_file_name`), where a
  * production writer collects them from the parquet footers it is
  * already writing. Both are commit-time costs, not read-time.
  */
object VersionedTable {

  private val mapper = new ObjectMapper()
  private val LogDir = "_graft_log"
  private val DataDir = "data"

  /** Columns eligible for min/max stats: totally ordered, cheaply
    * JSON-serializable. Timestamps are stored as micros-since-epoch
    * longs, dates as days-since-epoch ints (matching Catalyst's
    * internal literal representation, so pruning compares exactly). */
  private def statable(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType |
         _: StringType | _: DateType | _: TimestampType |
         _: TimestampNTZType => true
    case _ => false
  }

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** The timezone Spark will use when the pruned predicate actually
    * executes — date->LTZ-timestamp coercions must prune in the SAME
    * zone or files containing matching rows get refuted. */
  private def sessionZone(spark: SparkSession): java.time.ZoneId =
    org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
      spark.sessionState.conf.sessionLocalTimeZone)

  // ---- manifest IO ----

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v") && n.endsWith(".json"))
      n.stripPrefix("v").stripSuffix(".json").toLongOption
    else None
  }

  /** All committed versions, ascending (empty for a non-table dir). */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    val log = new Path(root, LogDir)
    if (!f.exists(log)) Seq.empty
    else f.listStatus(log).toSeq.flatMap(s => versionOf(s.getPath)).sorted
  }

  private def manifestPath(root: String, v: Long): Path =
    new Path(new Path(root, LogDir), f"v$v%08d.json")

  private[sources] def readManifest(spark: SparkSession, root: String, v: Long)
      : java.util.Map[String, Object] = {
    val f = fs(spark, root)
    val in = f.open(manifestPath(root, v))
    try mapper.readValue(in: java.io.InputStream, classOf[java.util.Map[String, Object]])
    finally in.close()
  }

  private[sources] def loadHead(spark: SparkSession, root: String)
      : Option[(Long, java.util.Map[String, Object])] =
    versions(spark, root).lastOption.map(v => (v, readManifest(spark, root, v)))

  // ---- stats harvesting ----

  /** One aggregation pass over freshly written files: per file, row
    * count + min/max/nullCount for every statable column. */
  private[sources] def harvestStats(spark: SparkSession, schema: StructType,
      filePaths: Seq[String]): Map[String, java.util.Map[String, Object]] = {
    if (filePaths.isEmpty) return Map.empty
    val cols = schema.fields.filter(f => statable(f.dataType))
    val df = spark.read.schema(schema).parquet(filePaths: _*)
      .withColumn("__file", input_file_name())
    val aggs = count(lit(1)).as("__rows") +:
      cols.toSeq.flatMap { f =>
        Seq(min(col(f.name)).as(s"min__${f.name}"),
          max(col(f.name)).as(s"max__${f.name}"),
          sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls__${f.name}"))
      }
    df.groupBy(col("__file")).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val m = new java.util.LinkedHashMap[String, Object]()
      m.put("rows", Long.box(r.getAs[Long]("__rows")))
      val statsM = new java.util.LinkedHashMap[String, Object]()
      cols.foreach { f =>
        val cm = new java.util.LinkedHashMap[String, Object]()
        cm.put("min", toJson(r.getAs[Any](s"min__${f.name}"), f.dataType))
        cm.put("max", toJson(r.getAs[Any](s"max__${f.name}"), f.dataType))
        cm.put("nulls", Long.box(r.getAs[Long](s"nulls__${f.name}")))
        statsM.put(f.name, cm)
      }
      m.put("stats", statsM)
      normalizeFile(r.getString(0)) -> (m: java.util.Map[String, Object])
    }.toMap
  }

  private def normalizeFile(uri: String): String =
    new Path(new java.net.URI(uri)).toUri.getPath

  /** JSON-encode a stat value in Catalyst's internal comparison domain:
    * timestamps -> micros long, dates -> epoch days int, decimals ->
    * plain string, everything else natively. */
  private def toJson(v: Any, dt: DataType): Object = v match {
    case null => null
    case ts: java.sql.Timestamp => Long.box(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts))
    case ts: java.time.Instant => Long.box(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(ts))
    case d: java.sql.Date => Int.box(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Int.box(d.toEpochDay.toInt)
    case dt: java.time.LocalDateTime => Long.box(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(dt))
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.underlying.toPlainString
    case s: String => s
    case n: java.lang.Number => n
    case other => other.toString
  }

  // ---- commits ----

  /** Write `df` as new immutable data files under root/data and return
    * their (path -> per-file stats) map plus the file list in commit
    * order. */
  private[sources] def writeData(spark: SparkSession, root: String, df: DataFrame)
      : Seq[(String, java.util.Map[String, Object])] = {
    val f = fs(spark, root)
    val stage = new Path(root, s".stage-${java.util.UUID.randomUUID()}")
    df.write.parquet(stage.toString)
    val dataDir = new Path(root, DataDir)
    f.mkdirs(dataDir)
    val moved = f.listStatus(stage)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val dest = new Path(dataDir,
          s"${java.util.UUID.randomUUID().toString.take(8)}-${s.getPath.getName}")
        require(f.rename(s.getPath, dest), s"stage move failed: ${s.getPath}")
        dest.toUri.getPath
      }.toSeq
    f.delete(stage, true)
    val stats = harvestStats(spark, df.schema, moved)
    moved.map(p => (p, stats.getOrElse(p, new java.util.LinkedHashMap[String, Object]())))
  }

  /** Atomically publish version `v` (CAS via rename). True on win. */
  private def publish(spark: SparkSession, root: String, v: Long,
      manifest: java.util.Map[String, Object]): Boolean = {
    val f = fs(spark, root)
    val log = new Path(root, LogDir)
    f.mkdirs(log)
    val tmp = new Path(log, s".tmp-${java.util.UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(manifest))
    finally out.close()
    val dest = manifestPath(root, v)
    val won = atomicPublish(f, tmp, dest)
    if (f.exists(tmp)) f.delete(tmp, false)
    won
  }

  /** The commit point must be an ATOMIC create-if-absent. POSIX rename
    * overwrites silently, so exists+rename has a lost-update window —
    * on local filesystems we use hard-link creation instead (O_EXCL
    * semantics: fails with FileAlreadyExistsException if the target
    * exists, atomically). On HDFS-like filesystems rename-without-
    * overwrite IS atomic by the FileSystem contract, so the fallback
    * is correct there; an object store (S3) would need a coordinating
    * LogStore, exactly as Delta documents. */
  private def atomicPublish(f: FileSystem, tmp: Path, dest: Path): Boolean = {
    val scheme = f.getUri.getScheme
    if (scheme == null || scheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dest.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    } else {
      try !f.exists(dest) && f.rename(tmp, dest)
      catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
    }
  }

  private[sources] def buildManifest(op: String, schema: StructType,
      files: Seq[(String, java.util.Map[String, Object])],
      extra: Map[String, Object] = Map.empty): java.util.Map[String, Object] = {
    val m = new java.util.LinkedHashMap[String, Object]()
    m.put("op", op)
    m.put("schemaJson", schema.json)
    extra.foreach { case (k, v) => m.put(k, v) }
    val fl = new java.util.ArrayList[Object]()
    files.foreach { case (p, st) =>
      val fm = new java.util.LinkedHashMap[String, Object]()
      fm.put("path", p)
      st.asScala.foreach { case (k, v) => fm.put(k, v) }
      fl.add(fm)
    }
    m.put("files", fl)
    m
  }

  private[sources] def manifestFiles(man: java.util.Map[String, Object])
      : Seq[java.util.Map[String, Object]] =
    man.get("files").asInstanceOf[java.util.List[Object]].asScala.toSeq
      .map(_.asInstanceOf[java.util.Map[String, Object]])

  private[sources] def manifestSchema(man: java.util.Map[String, Object]): StructType =
    DataType.fromJson(man.get("schemaJson").asInstanceOf[String]).asInstanceOf[StructType]

  private[sources] def pathOf(fm: java.util.Map[String, Object]): String =
    fm.get("path").asInstanceOf[String]

  /** File entries keyed as a commit takes them: every commit that
    * carries files forward copies their entries verbatim (deletion
    * vectors included). */
  private[sources] def carried(files: Seq[java.util.Map[String, Object]])
      : Seq[(String, java.util.Map[String, Object])] =
    files.map(fm => (pathOf(fm), fm))

  // ---- deletion vectors ----

  private val DeletedKey = "deleted"

  private def bitmapOf(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }

  private def bytesOf(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = java.nio.ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    buf.array()
  }

  /** The entry's deletion vector, if it has one. */
  private def deletedOf(fm: java.util.Map[String, Object]): Option[RoaringBitmap] =
    Option(fm.get(DeletedKey)).map(s =>
      bitmapOf(java.util.Base64.getDecoder.decode(s.toString)))

  /** Rows of the file a reader sees: its row count less its vector. */
  private def liveRows(fm: java.util.Map[String, Object]): Option[Long] =
    numOf(fm.get("rows")).map(_ - deletedOf(fm).fold(0L)(_.getLongCardinality))

  /** Row positions folded into one bitmap per group on the executors. */
  private object Positions extends Aggregator[Long, RoaringBitmap, Array[Byte]] {
    def zero: RoaringBitmap = new RoaringBitmap()
    def reduce(b: RoaringBitmap, i: Long): RoaringBitmap = { b.add(Math.toIntExact(i)); b }
    def merge(a: RoaringBitmap, b: RoaringBitmap): RoaringBitmap = { a.or(b); a }
    def finish(b: RoaringBitmap): Array[Byte] = bytesOf(b)
    def bufferEncoder: Encoder[RoaringBitmap] = Encoders.javaSerialization[RoaringBitmap]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The one reader of a table's data files: `files` are manifest
    * entries, read under `schema`. Files without a deletion vector
    * read as a plain parquet scan (no `_metadata` column, no filter);
    * when any file has one, ONE filter on `_metadata.file_path` and
    * `_metadata.row_index` drops its rows. The bitmaps live in the
    * filter's UDF closure, keyed on the path as `_metadata.file_path`
    * spells it (the Hadoop `Path` of the scan's `inputFiles` URI),
    * never as literals, so the generated code does not change with
    * the deleted positions and later reads reuse its compiled class. */
  private[sources] def readFiles(spark: SparkSession, schema: StructType,
      files: Seq[java.util.Map[String, Object]]): DataFrame = {
    if (files.isEmpty) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val df = spark.read.schema(schema).parquet(files.map(pathOf): _*)
    val vectors = files.flatMap(fm => deletedOf(fm).map(pathOf(fm) -> _)).toMap
    if (vectors.isEmpty) df
    else {
      val byScanPath = df.inputFiles.toSeq.flatMap(p => vectors.get(normalizeFile(p))
        .map(new Path(new java.net.URI(p)).toString -> _)).toMap
      // positions are ints (Positions refuses a row index beyond that)
      val gone = udf((p: String, i: Long) =>
        i <= Int.MaxValue && byScanPath.get(p).exists(_.contains(i.toInt)))
      df.filter(!gone(col("_metadata.file_path"), col("_metadata.row_index")))
    }
  }

  /** When `newer` only appended to `older` — every older entry is still
    * there whole, path AND deletion vector — the entries it added;
    * None when a commit in between deleted or rewrote rows. */
  private[sources] def appendedSince(older: Seq[java.util.Map[String, Object]],
      newer: Seq[java.util.Map[String, Object]]): Option[Seq[java.util.Map[String, Object]]] = {
    def id(fm: java.util.Map[String, Object]) = (pathOf(fm), Option(fm.get(DeletedKey)))
    val newIds = newer.map(id).toSet
    if (!older.forall(fm => newIds.contains(id(fm)))) None
    else {
      val oldPaths = older.map(pathOf).toSet
      Some(newer.filterNot(fm => oldPaths.contains(pathOf(fm))))
    }
  }

  /** The one row-level write probe behind [[merge]] and [[deleteWhere]]:
    * reads `files` (the stats candidates) through [[readFiles]], keeps
    * the rows `hits` selects, and folds their positions into ONE bitmap
    * per file on the executors. The driver so receives at most one
    * compressed bitmap per touched file, never one row per deleted
    * position. Returns `files`' entries with their vectors grown by
    * those positions (a file whose every row is gone is dropped), and
    * how many rows the new positions remove. */
  private def deleteRows(spark: SparkSession, schema: StructType,
      files: Seq[java.util.Map[String, Object]], hits: DataFrame => DataFrame)
      : (Seq[(String, java.util.Map[String, Object])], Long) = {
    if (files.isEmpty) return (Seq.empty, 0L)
    val (fileCol, rowCol) = ("__graft_file", "__graft_row")
    val rows = readFiles(spark, schema, files)
      .withColumn(fileCol, col("_metadata.file_path"))
      .withColumn(rowCol, col("_metadata.row_index"))
    val found = hits(rows).groupBy(col(fileCol))
      .agg(udaf(Positions, Encoders.scalaLong)(col(rowCol)))
      .collect().map(r => normalizeFile(r.getString(0)) -> bitmapOf(r.getAs[Array[Byte]](1)))
      .toMap
    // readFiles already dropped the vectored rows, so every found
    // position is new; count before the old vectors are or-ed in
    val removed = found.valuesIterator.map(_.getLongCardinality).sum
    val entries = carried(files.flatMap { fm =>
      found.get(pathOf(fm)) match {
        case None => Some(fm)
        case Some(bm) =>
          deletedOf(fm).foreach(bm.or)
          if (numOf(fm.get("rows")).contains(bm.getLongCardinality)) None
          else {
            val grown = new java.util.LinkedHashMap[String, Object](fm)
            grown.put(DeletedKey, java.util.Base64.getEncoder.encodeToString(bytesOf(bm)))
            Some(grown: java.util.Map[String, Object])
          }
      }
    })
    (entries, removed)
  }

  /** Commit loop: recompute the snapshot against the current head until
    * the CAS wins. `nextFiles(head)` returns (op, schema, files);
    * `extra` adds manifest fields (e.g. the streaming batch id). When
    * `requireBase` is set, the commit only succeeds if the head is
    * still that version — write-conflict detection for snapshot-
    * REPLACING ops (merge/compact/cluster/restore/delete compute their
    * output from a specific snapshot; publishing it over a moved head
    * would silently drop the interleaved commit's rows). Additive
    * appends don't set it: they re-list the head's files per retry. */
  private[sources] def commit(spark: SparkSession, root: String,
      extra: Map[String, Object] = Map.empty,
      requireBase: Option[Long] = None)(
      nextFiles: Option[(Long, java.util.Map[String, Object])] =>
        (String, StructType, Seq[(String, java.util.Map[String, Object])])): Long = {
    var attempts = 0
    while (attempts < 20) {
      val head = loadHead(spark, root)
      requireBase.foreach { base =>
        val at = head.map(_._1).getOrElse(0L)
        if (at != base) throw new java.util.ConcurrentModificationException(
          s"$root moved v$base -> v$at since this operation read its " +
            "snapshot; re-run it against the new head")
      }
      val (op, schema, files) = nextFiles(head)
      val v = head.map(_._1).getOrElse(0L) + 1
      // carry the high-water streaming batch id forward through
      // non-streaming commits so sink idempotence survives them
      val carried = head.flatMap(h => Option(h._2.get(BatchIdKey)))
        .filterNot(_ => extra.contains(BatchIdKey))
        .map(v0 => Map(BatchIdKey -> v0)).getOrElse(Map.empty)
      if (publish(spark, root, v, buildManifest(op, schema, files, carried ++ extra)))
        return v
      attempts += 1
    }
    throw new IllegalStateException(s"commit to $root lost 20 CAS races; aborting")
  }

  private[sources] val BatchIdKey = "streamBatchId"

  // ---- public write API ----

  /** Create the table (version 1). Fails if the table exists. */
  def create(spark: SparkSession, root: String, df: DataFrame): Long = {
    require(versions(spark, root).isEmpty, s"table already exists at $root")
    val files = writeData(spark, root, df)
    commit(spark, root) { head =>
      require(head.isEmpty, s"table already exists at $root")
      ("create", df.schema, files)
    }
  }

  /** Append. Schema must match; pass mergeSchema = true to widen the
    * table schema to the union of fields (Delta's mergeSchema). */
  def append(spark: SparkSession, root: String, df: DataFrame,
      mergeSchema: Boolean = false): Long = {
    val files = writeData(spark, root, df)
    commit(spark, root) { headOpt =>
      val head = headOpt.getOrElse(
        throw new IllegalArgumentException(s"no table at $root — create() first"))._2
      val tableSchema = manifestSchema(head)
      val newSchema =
        if (tableSchema.fieldNames.sameElements(df.schema.fieldNames) &&
            tableSchema.fields.zip(df.schema.fields).forall {
              case (a, b) => a.dataType == b.dataType }) tableSchema
        else if (mergeSchema) mergedSchema(tableSchema, df.schema)
        else throw new IllegalArgumentException(
          s"append schema mismatch (pass mergeSchema=true to evolve): " +
            s"table ${tableSchema.simpleString} vs ${df.schema.simpleString}")
      ("append", newSchema, carried(manifestFiles(head)) ++ files)
    }
  }

  private def mergedSchema(a: StructType, b: StructType): StructType = {
    val extra = b.fields.filterNot(f => a.fieldNames.contains(f.name))
    b.fields.filter(f => a.fieldNames.contains(f.name)).foreach { f =>
      val existing = a(f.name).dataType
      require(existing == f.dataType,
        s"column ${f.name} type change $existing -> ${f.dataType} not supported")
    }
    StructType(a.fields ++ extra.map(_.copy(nullable = true)))
  }

  /** Replace the table contents (and schema) in one committed snapshot. */
  def overwrite(spark: SparkSession, root: String, df: DataFrame): Long = {
    val files = writeData(spark, root, df)
    commit(spark, root) { _ => ("overwrite", df.schema, files) }
  }

  /** Transactional MERGE (upsert): same-key rows replaced, new keys
    * inserted; readers see either the old or the new snapshot, never
    * a half-written table. Merge-on-read ([[upsertFiles]]): the
    * replaced rows are marked in their files' deletion vectors and
    * `updates` is appended as one new file; no existing data file is
    * rewritten. */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
      keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    val (dupKeys, bounds) = keyStats(updates, keyCols)
    require(dupKeys == 0, s"updates contain $dupKeys duplicate key(s)")
    val (base, man) = loadHead(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no table at $root"))
    // names AND types: with only a name check, a narrower updates
    // schema (table long / updates int) would be committed as the new
    // table schema while the append wrote the WIDER physical type —
    // every read of the new head would then fail on type conversion
    val tableSchema = manifestSchema(man)
    requireSameSchema(tableSchema, updates.schema, "merge updates")
    val files = upsertFiles(spark, root, man, updates, keyCols, bounds)
    commit(spark, root, requireBase = Some(base)) { _ => ("merge", tableSchema, files) }
  }

  /** One pass over `updates`: its duplicate-key count, and the stats
    * predicate bounding its keys (per key column, its [min, max]).
    * None when some key column is null in every row: a null key
    * matches no row, so no file is a candidate. */
  private def keyStats(updates: DataFrame, keyCols: Seq[String])
      : (Long, Option[Expression]) = {
    val aggs = sum(when(col("count") > 1, 1L).otherwise(0L)) +:
      keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))
    val r = updates.groupBy(keyCols.map(updates(_)): _*).count()
      .agg(aggs.head, aggs.tail: _*).head()
    val dupKeys = if (r.isNullAt(0)) 0L else r.getLong(0)
    val bounds = keyCols.zipWithIndex.map { case (k, j) =>
      val dt = updates.schema(k).dataType
      val (lo, hi) = (r.get(1 + 2 * j), r.get(2 + 2 * j))
      if (lo == null || hi == null) None
      else Some(And(
        GreaterThanOrEqual(UnresolvedAttribute.quoted(k), Literal.create(lo, dt)),
        LessThanOrEqual(UnresolvedAttribute.quoted(k), Literal.create(hi, dt))))
    }
    (dupKeys, if (bounds.forall(_.isDefined)) Some(bounds.flatten.reduce(And)) else None)
  }

  /** The keyed-upsert write shared by [[merge]] and [[mergeBatch]],
    * merge-on-read: among the files whose stats `bounds` cannot refute,
    * the rows whose key `updates` carries get their positions added to
    * the files' deletion vectors ([[deleteRows]]); `updates` itself is
    * written as one new file. Returns the new snapshot's file list. The
    * callers differ only in commit policy (plain pin vs batch-id replay
    * handling). */
  private def upsertFiles(spark: SparkSession, root: String,
      man: java.util.Map[String, Object], updates: DataFrame, keyCols: Seq[String],
      bounds: Option[Expression]): Seq[(String, java.util.Map[String, Object])] = {
    val schema = manifestSchema(man)
    implicit val zone: java.time.ZoneId = sessionZone(spark)
    val (candidates, spared) = manifestFiles(man)
      .partition(fm => bounds.exists(mayMatch(_, fm, schema)))
    val keys = updates.select(keyCols.map(updates(_)): _*)
    val (probed, _) = deleteRows(spark, schema, candidates, _.join(keys, keyCols, "left_semi"))
    carried(spared) ++ probed ++ writeData(spark, root, updates.coalesce(1))
  }

  /** Field names AND dataTypes must match; NULLABILITY is intentionally
    * ignored. Rationale: every read path of this table goes through
    * [[readFiles]]' explicit read schema on parquet files, and Spark
    * file-source reads force every field nullable regardless of the declared flag —
    * so a nullability mismatch here can never produce a row the reader
    * rejects, while enforcing it would spuriously refuse merges of
    * DataFrames that only differ in the (unenforced) flag. */
  private def requireSameSchema(tableSchema: StructType, dfSchema: StructType,
      what: String): Unit =
    require(tableSchema.fieldNames.sameElements(dfSchema.fieldNames) &&
      tableSchema.fields.zip(dfSchema.fields).forall {
        case (a, b) => a.dataType == b.dataType },
      s"$what schema ${dfSchema.simpleString} does not match " +
        s"table schema ${tableSchema.simpleString}")

  // ---- public read API ----

  /** Snapshot read, latest version or time travel via `asOf`. */
  def read(spark: SparkSession, root: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.getOrElse(versions(spark, root).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no table at $root")))
    val man = readManifest(spark, root, v)
    readFiles(spark, manifestSchema(man), manifestFiles(man))
  }

  /** Rows ADDED between two versions (CDC-lite). Fast path: for an
    * append-only range ([[appendedSince]]) the added files are read
    * directly — O(delta), the same manifest diff MaterializedView
    * folds on, and the pattern a downstream incremental consumer polls
    * (commit version = the resume cursor). When a commit in the range
    * deleted rows (a merge or delete grew a deletion vector, a compact
    * rewrote files): multiset row diff of the two snapshots
    * (`exceptAll`) — O(both snapshots), correct but expensive; a
    * production format answers this from a row-level change log
    * instead (Delta CDF). Deletions are not surfaced — consumers
    * needing them diff the other direction. */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"changes range must be ascending: $fromV > $toV")
    val newMan = readManifest(spark, root, toV)
    val schema = manifestSchema(newMan)
    val newFiles = manifestFiles(newMan)
    val oldFiles = manifestFiles(readManifest(spark, root, fromV))
    appendedSince(oldFiles, newFiles) match {
      case Some(added) => readFiles(spark, schema, added)
      // read BOTH sides under toV's schema so an evolved column
      // diffs as null rather than failing resolution
      case None => readFiles(spark, schema, newFiles)
        .exceptAll(readFiles(spark, schema, oldFiles))
    }
  }

  /** Full row-level change feed between two versions (round 8): the
    * Delta-CDF-shaped answer `changes` approximates — every row tagged
    * `_change_type` ∈ insert / delete / update_preimage /
    * update_postimage, derived by a null-safe key diff of the two
    * snapshots. `keys` must be a unique row identity over both
    * versions (the same contract merge holds the table to). Fast
    * path: an append-only range ([[appendedSince]]: every old file
    * entry, deletion vector included, is still in the new manifest;
    * a merge or delete in the range grows a vector and so takes the
    * general path) short-circuits to
    * the added files tagged insert — but only after a key-overlap
    * probe (ONE left-semi join of the added files' key columns
    * against the old snapshot, early-exited by take(1)) proves the
    * appended rows carry no pre-existing keys; if they do, an
    * append that re-uses a key is a logical upsert and the general
    * path classifies it as update_pre/postimage instead of a bare
    * insert. The probe reads only `keys` from both sides (column-
    * pruned scans) and costs at most one pass over the old keys —
    * cheaper than silently disagreeing with the join path.
    * General path:
    * ONE full-outer key join of the snapshots; presence markers
    * classify inserts/deletes, and a null-safe any-column-differs
    * predicate splits matched keys into unchanged (dropped) vs
    * updated (emitted twice, pre + post image). Both sides read under
    * the newer schema so evolved columns diff as null. At 100 TB this
    * is one key-partitioned shuffle of the two snapshots — the same
    * cost as the MERGE that produced the delta. */
  def changeFeed(spark: SparkSession, root: String,
      fromV: Long, toV: Long, keys: Seq[String]): DataFrame = {
    require(fromV <= toV, s"changeFeed range must be ascending: $fromV > $toV")
    require(keys.nonEmpty, "changeFeed needs the table's unique key columns")
    val newMan = readManifest(spark, root, toV)
    val schema = manifestSchema(newMan)
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"key column '$k' is not in the version-$toV schema"))
    val newFiles = manifestFiles(newMan)
    val oldFiles = manifestFiles(readManifest(spark, root, fromV))
    val outCols = schema.fieldNames.toSeq
    val appendFeed = appendedSince(oldFiles, newFiles).flatMap { added =>
      val addedDf = readFiles(spark, schema, added)
      // an appended file that re-used a live key is a logical upsert:
      // only the general full-outer diff classifies that correctly
      val keyReuse = added.nonEmpty && oldFiles.nonEmpty && {
        val oldKeys = readFiles(spark, schema, oldFiles).select(keys.map(col): _*)
        addedDf.select(keys.map(col): _*)
          .join(oldKeys, keys, "left_semi").take(1).nonEmpty
      }
      if (keyReuse) None else Some(addedDf.withColumn("_change_type", lit("insert")))
    }
    if (appendFeed.isDefined) return appendFeed.get
    val oldDf = readFiles(spark, schema, oldFiles).withColumn("__in_old", lit(true))
    val newDf = readFiles(spark, schema, newFiles).withColumn("__in_new", lit(true))
    val o = oldDf.toDF(outCols.map(c => s"o_$c") :+ "__in_old": _*)
    val n = newDf.toDF(outCols.map(c => s"n_$c") :+ "__in_new": _*)
    val joinCond = keys.map(k => col(s"o_$k") <=> col(s"n_$k")).reduce(_ && _)
    val j = o.join(n, joinCond, "full_outer")
    val nonKeys = outCols.filterNot(keys.contains)
    val differs =
      if (nonKeys.isEmpty) lit(false)
      else nonKeys.map(c => !(col(s"o_$c") <=> col(s"n_$c"))).reduce(_ || _)
    def side(prefix: String, tag: String) =
      outCols.map(c => col(s"${prefix}_$c").as(c)) :+ lit(tag).as("_change_type")
    val inserts = j.filter(col("__in_old").isNull)
      .select(side("n", "insert"): _*)
    val deletes = j.filter(col("__in_new").isNull)
      .select(side("o", "delete"): _*)
    val updated = j.filter(col("__in_old").isNotNull &&
      col("__in_new").isNotNull && differs)
    inserts
      .unionAll(deletes)
      .unionAll(updated.select(side("o", "update_preimage"): _*))
      .unionAll(updated.select(side("n", "update_postimage"): _*))
  }

  /** Row-level CDC as a STREAM (round 9): the version log replayed
    * micro-batch-per-committed-version — the streaming face of
    * [[changeFeed]], and the natural join of the two round-8 features
    * (batch change feeds + idempotent streaming sinks).
    *
    * Spark-first shape: the manifest directory IS a file-source
    * stream. `readStream.text(_graft_log)` tracks processed manifest
    * files in ITS checkpoint — Spark's own exactly-once file-tracking
    * is the version cursor, no custom Source needed. Each discovered
    * manifest v contributes `changeFeed(v-1, v)` (v=1: the created
    * snapshot tagged insert), stamped `_commit_version`; all versions
    * landing in one micro-batch reach `sink` as ONE DataFrame with one
    * batchId, so an idempotent sink ([[appendBatch]]/[[mergeBatch]],
    * keyed on that batchId) yields end-to-end exactly-once across
    * restarts — a failed batch replays under the SAME id and the sink
    * skips it. AvailableNow by default: drain committed versions,
    * stop, resume later from the checkpoint.
    *
    * Scale: per micro-batch this costs the same as the batch
    * changeFeed it wraps (append-only ranges O(delta) after the key
    * probe; general ranges one key-partitioned full-outer join) —
    * the manifest stream itself is a few KB of driver-side listing. */
  def changeFeedStream(spark: SparkSession, root: String, keys: Seq[String],
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val logDir = new Path(root, LogDir).toString
    spark.readStream
      .format("text")
      .option("pathGlobFilter", "v*.json")
      .load(logDir)
      .select(col("_metadata.file_path").as("path"))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // text rows are manifest LINES; versions come from the file
        // path (the manifest names carry them), deduped per batch
        val vs = batch.select(col("path")).distinct().collect()
          .flatMap(r => versionOf(new Path(r.getString(0))))
          .distinct.sorted
        if (vs.nonEmpty) {
          val feeds = vs.map { v =>
            val feed =
              if (v == 1L) read(spark, root, Some(1L))
                .withColumn("_change_type", lit("insert"))
              else changeFeed(spark, root, v - 1, v, keys)
            feed.withColumn("_commit_version", lit(v))
          }
          // additive schema evolution across versions in one batch:
          // older feeds surface evolved columns as null
          sink(feeds.reduce(_.unionByName(_, allowMissingColumns = true)),
            batchId)
        }
      }
      .start()
  }

  /** Register a snapshot as a temp view so the whole table-format
    * surface is reachable from spark.sql (time travel via `asOf` —
    * `registerView(s, "docs_v3", root, Some(3))`). */
  def registerView(spark: SparkSession, name: String, root: String,
      asOf: Option[Long] = None): Unit =
    read(spark, root, asOf).createOrReplaceTempView(name)

  /** Predicate-pruned snapshot scan: parse `predicate` with Catalyst,
    * drop every file whose min/max/null stats refute it, then apply the
    * predicate row-level on the survivors. Returns (df, filesScanned,
    * filesTotal) so callers and tests can observe the skipping. */
  def scan(spark: SparkSession, root: String, predicate: String,
      asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    val v = asOf.getOrElse(versions(spark, root).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no table at $root")))
    val man = readManifest(spark, root, v)
    val schema = manifestSchema(man)
    val expr = spark.sessionState.sqlParser.parseExpression(predicate)
    implicit val zone: java.time.ZoneId = sessionZone(spark)
    val all = manifestFiles(man)
    val kept = all.filter(fm => mayMatch(expr, fm, schema))
    (readFiles(spark, schema, kept).where(predicate), kept.size, all.size)
  }

  // ---- file-level predicate evaluation over stats ----

  /** Conservative three-valued check: false ONLY when the stats prove no
    * row of the file can satisfy `e`. Unknown shapes return true. */
  private def mayMatch(e: Expression, fm: java.util.Map[String, Object],
      schema: StructType)(implicit zone: java.time.ZoneId): Boolean = e match {
    case And(l, r) => mayMatch(l, fm, schema) && mayMatch(r, fm, schema)
    case Or(l, r) => mayMatch(l, fm, schema) || mayMatch(r, fm, schema)
    case Not(IsNull(a)) => mayMatch(IsNotNull(a), fm, schema)
    case Not(IsNotNull(a)) => mayMatch(IsNull(a), fm, schema)
    case IsNull(a) => attrName(a) match {
      case Some(n) => colStat(fm, n).forall(s => numOf(s.get("nulls")).forall(_ > 0))
      case None => true
    }
    case IsNotNull(a) => attrName(a) match {
      case Some(n) =>
        val rows = numOf(fm.get("rows"))
        colStat(fm, n) match {
          case Some(s) => (numOf(s.get("nulls")), rows) match {
            case (Some(nulls), Some(r)) => nulls < r
            case _ => true
          }
          case None => true
        }
      case None => true
    }
    case EqualTo(a, l: Literal) => cmpCheck(fm, a, l, schema) { (lo, hi, v, ord) =>
      ord.lteq(lo, v) && ord.lteq(v, hi) }
    case EqualTo(l: Literal, a) => mayMatch(EqualTo(a, l), fm, schema)
    case EqualNullSafe(a, l: Literal) =>
      if (l.value == null) mayMatch(IsNull(a), fm, schema)
      else mayMatch(EqualTo(a, l), fm, schema)
    case EqualNullSafe(l: Literal, a) => mayMatch(EqualNullSafe(a, l), fm, schema)
    case LessThan(a, l: Literal) => cmpCheck(fm, a, l, schema) { (lo, _, v, ord) =>
      ord.lt(lo, v) }
    case LessThanOrEqual(a, l: Literal) => cmpCheck(fm, a, l, schema) { (lo, _, v, ord) =>
      ord.lteq(lo, v) }
    case GreaterThan(a, l: Literal) => cmpCheck(fm, a, l, schema) { (_, hi, v, ord) =>
      ord.gt(hi, v) }
    case GreaterThanOrEqual(a, l: Literal) => cmpCheck(fm, a, l, schema) { (_, hi, v, ord) =>
      ord.gteq(hi, v) }
    case LessThan(l: Literal, a) => mayMatch(GreaterThan(a, l), fm, schema)
    case LessThanOrEqual(l: Literal, a) => mayMatch(GreaterThanOrEqual(a, l), fm, schema)
    case GreaterThan(l: Literal, a) => mayMatch(LessThan(a, l), fm, schema)
    case GreaterThanOrEqual(l: Literal, a) => mayMatch(LessThanOrEqual(a, l), fm, schema)
    case In(a, lits) if lits.forall(_.isInstanceOf[Literal]) =>
      lits.exists(l => mayMatch(EqualTo(a, l.asInstanceOf[Literal]), fm, schema))
    case _ => true
  }

  /** Only BARE column references participate in stats pruning. An
    * explicit cast in the predicate (`cast(ts AS date) = date'D'`)
    * must NOT be unwrapped to the bare column: a truncating cast maps
    * a stats interval [08:00, 16:00] of day D onto the single point D,
    * so comparing the RAW min/max against the cast-output literal
    * falsely refutes files whose rows all match. Implicit engine
    * coercions never appear here (the predicate tree is unresolved),
    * and typed-literal-vs-column pairs are handled soundly by
    * [[domainFor]]'s shared domains — so skipping casts costs no
    * pruning on the supported surface, it only keeps cast-wrapped
    * predicates conservatively. */
  private def attrName(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute => Some(u.name)
    case _ => None
  }

  private def colStat(fm: java.util.Map[String, Object], name: String)
      : Option[java.util.Map[String, Object]] =
    Option(fm.get("stats")).flatMap(s =>
      Option(s.asInstanceOf[java.util.Map[String, Object]].get(name)))
      .map(_.asInstanceOf[java.util.Map[String, Object]])

  private def numOf(o: Object): Option[Long] = o match {
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  /** Both sides of a stats comparison are normalized into a SHARED
    * comparison domain chosen from (column type, literal type) —
    * see [[domainFor]]. A literal/column pair with no shared domain
    * (string vs timestamp, NULL, temporal vs plain number) keeps the
    * file conservatively. A file whose column is entirely null
    * (min/max absent) cannot satisfy a null-rejecting comparison ->
    * false. */
  private def cmpCheck(fm: java.util.Map[String, Object], a: Expression,
      l: Literal, schema: StructType)(
      check: (Any, Any, Any, Ordering[Any]) => Boolean)(
      implicit zone: java.time.ZoneId): Boolean =
    attrName(a).flatMap { n =>
      schema.fields.find(_.name == n).flatMap { field =>
        colStat(fm, n).map { s =>
          val (loJ, hiJ) = (s.get("min"), s.get("max"))
          if (loJ == null || hiJ == null) false // all-null column refutes comparisons
          else domainFor(field.dataType, l.dataType).flatMap { dom =>
            (statToDomain(loJ, field.dataType, dom, zone),
              statToDomain(hiJ, field.dataType, dom, zone),
              litToDomain(l.value, l.dataType, dom, zone)) match {
              case (Some(lo), Some(hi), Some(v)) =>
                Some(check(lo, hi, v, domainOrdering(dom)))
              case _ => None
            }
          }.getOrElse(true)
        }
      }
    }.getOrElse(true)

  private def numericish(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType |
         _: DateType | _: TimestampType | _: TimestampNTZType => true
    case _ => false
  }

  private val MicrosPerDay = 86400000000L

  private def temporal(dt: DataType): Boolean = dt match {
    case _: DateType | _: TimestampType | _: TimestampNTZType => true
    case _ => false
  }

  private def floating(dt: DataType): Boolean = dt match {
    case _: FloatType | _: DoubleType => true
    case _ => false
  }

  /** The shared comparison domain for a (column, literal) type pair.
    *
    *  - `TemporalDom` — both temporal. Compared as micros-since-epoch:
    *    date days lift exactly, each side scaled by its OWN type.
    *    Without this, `date_col > timestamp'...'` compared epoch-DAYS
    *    stats against an epoch-MICROS literal and wrongly pruned files
    *    containing matching rows (the reverse micros->days direction
    *    is lossy, hence lifting both UP). When the partner side is a
    *    session-zoned timestamp, Spark casts the date to MIDNIGHT IN
    *    THE SESSION TIMEZONE, so the lift goes through
    *    `daysToMicros(days, zone)`; against dates and NTZ timestamps
    *    the lift is the plain x 86_400_000_000. An NTZ/LTZ mix has no
    *    zone-independent shared domain -> conservative.
    *  - `DoubleDom` — either side is float/double (both numeric).
    *    Spark's analyzer coerces such comparisons to DOUBLE at
    *    runtime, so BOTH sides pass through double rounding here too;
    *    x -> double(x) is monotone non-decreasing, so double(min) /
    *    double(max) still bound double(column value) and pruning
    *    mirrors the runtime comparison exactly. (Comparing an exact
    *    decimal literal against rounded stats — the old behavior —
    *    could refute a file whose rows match after coercion.)
    *  - `ExactDom` — both integral/decimal: exact BigDecimal, no
    *    rounding anywhere (runtime widens exactly too).
    *  - `StringDom` — both strings, in UTF8 BINARY order, because that
    *    is the order Spark's min/max computed the stats in (Java
    *    UTF-16 ordering diverges for supplementary-plane characters
    *    and would wrongly prune).
    *  - `None` — anything else (temporal vs number, string vs number,
    *    ...): no shared domain, keep the file conservatively. */
  private sealed trait Dom
  private case class TemporalDom(ltzPartner: Boolean) extends Dom
  private case object DoubleDom extends Dom
  private case object ExactDom extends Dom
  private case object StringDom extends Dom

  private def domainFor(colDt: DataType, litDt: DataType): Option[Dom] =
    (colDt, litDt) match {
      case (c, l) if temporal(c) && temporal(l) =>
        val ntz = c.isInstanceOf[TimestampNTZType] || l.isInstanceOf[TimestampNTZType]
        val ltz = c.isInstanceOf[TimestampType] || l.isInstanceOf[TimestampType]
        if (ntz && ltz) None else Some(TemporalDom(ltz))
      case (c, l) if temporal(c) || temporal(l) => None
      case (_: StringType, _: StringType) => Some(StringDom)
      case (c, l) if numericish(c) && numericish(l) =>
        Some(if (floating(c) || floating(l)) DoubleDom else ExactDom)
      case _ => None
    }

  /** Lift a temporal internal value (date days / timestamp micros)
    * into the shared micros domain, scaled by its own type. */
  private def temporalToMicros(n: java.lang.Number, dt: DataType,
      dom: TemporalDom, zone: java.time.ZoneId): BigDecimal = dt match {
    case _: DateType if dom.ltzPartner => BigDecimal(
      org.apache.spark.sql.catalyst.util.DateTimeUtils
        .daysToMicros(n.intValue(), zone))
    case _: DateType => BigDecimal(n.longValue()) * MicrosPerDay
    case _ => BigDecimal(n.longValue())
  }

  /** Finite double -> BigDecimal; NaN/Inf have no BigDecimal and keep
    * the file conservatively (NaN stats sort above every real value in
    * Spark, so refuting on them would be wrong anyway). */
  private def finiteBD(d: Double): Option[BigDecimal] =
    if (java.lang.Double.isFinite(d)) Some(BigDecimal(d)) else None

  /** Exact BigDecimal of an integral/decimal JSON number. */
  private def exactBD(n: java.lang.Number): BigDecimal = n match {
    case bd: java.math.BigDecimal => BigDecimal(bd)
    case bi: java.math.BigInteger => BigDecimal(new java.math.BigDecimal(bi))
    case other => BigDecimal(other.longValue())
  }

  /** Manifest stat value -> the shared domain. Stats are serialized as
    * JSON numbers (decimal columns as exact strings); a float column's
    * stat re-narrows through floatValue so the binary value round-trips
    * shortest-repr text exactly before widening to double. */
  private def statToDomain(o: Object, colDt: DataType, dom: Dom,
      zone: java.time.ZoneId): Option[Any] =
    (o, dom) match {
      case (n: java.lang.Number, t: TemporalDom) =>
        Some(temporalToMicros(n, colDt, t, zone))
      case (n: java.lang.Number, DoubleDom) => colDt match {
        case _: FloatType => finiteBD(n.floatValue().toDouble)
        case _ => finiteBD(n.doubleValue())
      }
      case (s: String, DoubleDom) if colDt.isInstanceOf[DecimalType] =>
        finiteBD(BigDecimal(s).doubleValue)
      case (s: String, ExactDom) if colDt.isInstanceOf[DecimalType] =>
        Some(BigDecimal(s))
      case (n: java.lang.Number, ExactDom) => Some(exactBD(n))
      case (s: String, StringDom) => Some(s)
      case _ => None
    }

  /** Catalyst literal -> the shared domain (None = can't normalize;
    * stay conservative). Literal internal reprs: date = Int days,
    * timestamp = Long micros, string = UTF8String, decimal = Decimal. */
  private def litToDomain(v: Any, litDt: DataType, dom: Dom,
      zone: java.time.ZoneId): Option[Any] =
    (v, dom) match {
      case (null, _) => None
      case (n: java.lang.Number, t: TemporalDom) =>
        Some(temporalToMicros(n, litDt, t, zone))
      case (d: Decimal, DoubleDom) => finiteBD(d.toBigDecimal.doubleValue)
      case (n: java.lang.Number, DoubleDom) => finiteBD(n.doubleValue())
      case (d: Decimal, ExactDom) => Some(d.toBigDecimal)
      case (n: java.lang.Number, ExactDom) => Some(exactBD(n))
      case (s: org.apache.spark.unsafe.types.UTF8String, StringDom) => Some(s.toString)
      case (s: String, StringDom) => Some(s)
      case _ => None
    }

  private val utf8BinaryOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int =
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
  }

  private def domainOrdering(dom: Dom): Ordering[Any] = dom match {
    case StringDom => utf8BinaryOrdering
    case _ => Ordering[BigDecimal].asInstanceOf[Ordering[Any]]
  }

  // ---- maintenance / introspection ----

  /** Version history as a DataFrame (version, op, files, rows): rows
    * are the live rows, each file's count less its deletion vector. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    versions(spark, root).map { v =>
      val man = readManifest(spark, root, v)
      val files = manifestFiles(man)
      (v, man.get("op").asInstanceOf[String], files.size.toLong,
        files.flatMap(liveRows).sum)
    }.toDF("version", "op", "n_files", "n_rows")
  }

  /** Delete rows matching `predicate` as a new committed snapshot,
    * merge-on-read: no data file is written. File-level stats pay off
    * on the WRITE side: files whose stats refute the predicate provably
    * contain no matching row and are carried into the new version
    * untouched (not even read); only the possibly-matching files are
    * probed ([[deleteRows]]), and the positions of their matching rows
    * join the files' deletion vectors. At 100 TB a delete touching one
    * day of data reads that day's files and writes a manifest.
    * Returns (newVersion, filesTouched, filesKept, rowsDeleted): the
    * stats candidates that were probed, the files the stats refuted,
    * and how many rows the commit removed. */
  def deleteWhere(spark: SparkSession, root: String, predicate: String)
      : (Long, Int, Int, Long) = {
    val base = versions(spark, root).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no table at $root"))
    val man = readManifest(spark, root, base)
    val schema = manifestSchema(man)
    val expr = spark.sessionState.sqlParser.parseExpression(predicate)
    implicit val zone: java.time.ZoneId = sessionZone(spark)
    val (touched, untouched) = manifestFiles(man)
      .partition(fm => mayMatch(expr, fm, schema))
    // rows where the predicate is NULL are NOT deleted (SQL DELETE
    // semantics)
    val (probed, removed) = deleteRows(spark, schema, touched,
      _.where(s"coalesce(($predicate), false)"))
    val v = commit(spark, root, requireBase = Some(base)) { _ =>
      ("delete", schema, carried(untouched) ++ probed)
    }
    (v, touched.size, untouched.size, removed)
  }

  /** Roll the table back to `version`'s snapshot AS A NEW COMMIT (the
    * history stays linear and auditable — Delta RESTORE semantics).
    *
    * Race with [[vacuum]]: restore re-references OLD files, which are
    * exactly what a concurrent vacuum deletes (the min-age guard only
    * protects in-flight writes, not historical files — they are old by
    * definition), and the head CAS cannot see the deletion. So after
    * the commit lands, every referenced file is re-checked; if any is
    * gone the just-written manifest is removed again (best-effort — a
    * concurrent append landing in the same instant could still have
    * copied the dead entries) and the restore fails loudly instead of
    * silently leaving a head that points at nothing. The operational
    * contract stays: do NOT run vacuum concurrently with restore. */
  def restore(spark: SparkSession, root: String, version: Long): Long = {
    val base = versions(spark, root).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no table at $root"))
    val man = readManifest(spark, root, version)
    val files = manifestFiles(man)
    val v = commit(spark, root, requireBase = Some(base)) { _ =>
      ("restore", manifestSchema(man), carried(files))
    }
    val f = fs(spark, root)
    val missing = files.map(pathOf)
      .filterNot(p => f.exists(new Path(p)))
    if (missing.nonEmpty) {
      f.delete(manifestPath(root, v), false)
      throw new IllegalStateException(
        s"restore($version) lost a race with vacuum: ${missing.size} " +
        s"referenced data file(s) no longer exist (e.g. ${missing.head}); " +
        "the restore commit was rolled back")
    }
    v
  }

  /** Drop manifests older than the last `retainVersions` and delete
    * data files no surviving manifest references. Returns the number
    * of data files deleted. Time travel older than the horizon is
    * gone after this — same contract as Delta VACUUM, including the
    * age guard: an unreferenced file younger than `minAgeMs` may
    * belong to an IN-FLIGHT write (staged + stats-harvested but not
    * yet committed), and deleting it would let that writer commit a
    * manifest pointing at nothing — permanent corruption. Only files
    * older than every plausible write duration are reaped (pass 0
    * only when no concurrent writers can exist, e.g. tests). */
  def vacuum(spark: SparkSession, root: String, retainVersions: Int = 1,
      minAgeMs: Long = 3600 * 1000L): Long = {
    require(retainVersions >= 1, "must retain at least the current version")
    val f = fs(spark, root)
    val vs = versions(spark, root)
    if (vs.isEmpty) return 0L
    val keep = vs.takeRight(retainVersions)
    val referenced = keep.flatMap(v =>
      manifestFiles(readManifest(spark, root, v)).map(pathOf)).toSet
    vs.dropRight(retainVersions).foreach(v => f.delete(manifestPath(root, v), false))
    val dataDir = new Path(root, DataDir)
    if (!f.exists(dataDir)) return 0L
    val horizon = System.currentTimeMillis() - minAgeMs
    val doomed = f.listStatus(dataDir)
      .filter(s => s.isFile && !referenced.contains(s.getPath.toUri.getPath) &&
        s.getModificationTime <= horizon)
    doomed.foreach(s => f.delete(s.getPath, false))
    // Detect the restore race from THIS side too: a restore that
    // committed while we were deleting re-references historical files
    // (which the min-age guard cannot protect — they are old by
    // definition). Re-read the log; if any manifest newer than our
    // snapshot references a file we just deleted, fail loudly so the
    // corruption is surfaced at the operation that caused it rather
    // than at some future read. (restore() independently rolls its own
    // commit back when it detects the same race.)
    val deleted = doomed.map(_.getPath.toUri.getPath).toSet
    if (deleted.nonEmpty) {
      val after = versions(spark, root).filter(_ > keep.last)
      val broken = after.filter(v => manifestFiles(readManifest(spark, root, v))
        .exists(fm => deleted.contains(pathOf(fm))))
      if (broken.nonEmpty)
        throw new IllegalStateException(
          s"vacuum raced a concurrent restore: version(s) ${broken.mkString(",")} " +
          "reference data files vacuum just deleted; restore+vacuum must not " +
          "run concurrently")
    }
    doomed.length.toLong
  }

  // ---- Z-order clustering ----

  private def zable(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType |
         _: DateType | _: TimestampType => true
    case _ => false
  }

  /** Rewrite the current snapshot Z-ordered on `zCols` into `numFiles`
    * files. Why: min/max skipping works on ONE sort column; a linear
    * sort on (a, b) leaves b's per-file ranges full-width. Interleaving
    * the bit patterns of the normalized columns (Morton order) gives
    * every z-range — hence every file — a bounded range in EVERY
    * clustered dimension, so `scan` prunes on any of them (the
    * multi-dimensional layout behind Delta/Databricks ZORDER BY and
    * z-curve literature). Normalization is linear min-max into 16-bit
    * ranks (one agg pass, no extra shuffle — vs. a rank() window, which
    * would be a second global sort); skewed columns degrade bucket
    * balance but never pruning CORRECTNESS, since stats are harvested
    * from the actual file contents. Clustered columns must be
    * numeric/date/timestamp; nulls sort to rank 0. */
  def cluster(spark: SparkSession, root: String, zCols: Seq[String],
      numFiles: Int): Long = {
    require(zCols.size >= 2, "z-ordering needs >= 2 columns (use compact for 1)")
    val base = versions(spark, root).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no table at $root"))
    val df = read(spark, root, Some(base))
    val schema = df.schema
    zCols.foreach { c =>
      require(schema.fieldNames.contains(c), s"no column $c")
      require(zable(schema(c).dataType), s"$c: ${schema(c).dataType} not z-orderable")
    }
    def asD(c: String): Column = schema(c).dataType match {
      case _: DateType => col(c).cast(TimestampType).cast(DoubleType)
      case _ => col(c).cast(DoubleType)
    }
    val bounds = df.agg(
      zCols.flatMap(c => Seq(min(asD(c)), max(asD(c)))).head,
      zCols.flatMap(c => Seq(min(asD(c)), max(asD(c)))).tail: _*).collect()(0)
    // the z-key is one signed long: budget the per-column rank width so
    // bit positions never exceed 62 (Java shifts wrap mod 64, which
    // would silently fold high-order bits onto low positions and
    // defeat the clustering for 5+ columns)
    val Bits = math.min(16, 62 / zCols.size)
    val ranks = zCols.zipWithIndex.map { case (c, j) =>
      if (bounds.isNullAt(2 * j) || bounds.isNullAt(2 * j + 1)) lit(0L)
      else {
      val (lo, hi) = (bounds.getDouble(2 * j), bounds.getDouble(2 * j + 1))
      if (hi <= lo) lit(0L)
      else coalesce(
        floor((asD(c) - lit(lo)) / lit(hi - lo) * ((1 << Bits) - 1)).cast(LongType),
        lit(0L))
      }
    }
    // Morton interleave: z bit (i*k + j) = bit i of column j's rank
    val z = (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      ranks.zipWithIndex.foldLeft(acc) { case (a, (r, j)) =>
        a.bitwiseOR(shiftleft(
          shiftright(r, i).bitwiseAND(lit(1L)), i * zCols.size + j))
      }
    }
    val laid = df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    val files = writeData(spark, root, laid)
    commit(spark, root, requireBase = Some(base)) { _ => ("cluster", df.schema, files) }
  }

  // ---- streaming sink ----

  /** Whether `man` already records streaming batch `batchId`: its
    * high-water mark is at or beyond it. */
  private def replayed(man: java.util.Map[String, Object], batchId: Long): Boolean =
    Option(man.get(BatchIdKey))
      .collect { case n: java.lang.Number => n.longValue() }
      .exists(_ >= batchId)

  /** Commit one micro-batch as a table version iff `batchId` is beyond
    * the table's recorded streaming high-water mark. Returns true when
    * committed, false when skipped as a replay — the foreachBatch body
    * of `appendStream`, exposed for direct testing. */
  def appendBatch(spark: SparkSession, root: String, batch: DataFrame,
      batchId: Long): Boolean = {
    if (loadHead(spark, root).exists(h => replayed(h._2, batchId))) return false
    val files = writeData(spark, root, batch)
    val extra = Map[String, Object](BatchIdKey -> Long.box(batchId))
    try {
      // the mark is rechecked against the head INSIDE the commit loop,
      // so a same-id race cannot double-commit; the loser's staged
      // files are unreferenced and reaped by the next vacuum
      commit(spark, root, extra) { headOpt =>
        if (headOpt.exists(h => replayed(h._2, batchId))) throw ReplaySkip
        val op = if (headOpt.isEmpty) "create" else "append"
        // same schema discipline as append(): never let a malformed
        // batch silently replace the table schema for historical files
        val schema = headOpt.map { h =>
          val tableSchema = manifestSchema(h._2)
          requireSameSchema(tableSchema, batch.schema, s"streaming batch $batchId")
          tableSchema
        }.getOrElse(batch.schema)
        val allFiles = headOpt.map(h => carried(manifestFiles(h._2))).getOrElse(Seq.empty) ++ files
        (op, schema, allFiles)
      }
      true
    } catch { case ReplaySkip => false }
  }

  private object ReplaySkip extends RuntimeException with scala.util.control.NoStackTrace

  /** Exactly-once streaming append: every micro-batch becomes one
    * committed version carrying its batch id; a replayed batch (sink
    * restart behind the checkpoint) is skipped, so writes are
    * idempotent — the parquet file sink's `_spark_metadata` story,
    * provided by the table format instead (and thus compatible with
    * `compact`/`vacuum`: a file sink's log enumerates its files, so a
    * rewrite of the directory breaks it). Use ONE sink checkpoint per
    * table: the high-water mark is per-table, not per-query. */
  def appendStream(stream: DataFrame, root: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(stream, checkpointDir, trigger)(appendBatch(_, root, _, _))

  /** The streaming query behind [[appendStream]] and [[mergeStream]]:
    * `commitBatch(spark, batch, batchId)` is the foreachBatch body. */
  private def sink(stream: DataFrame, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger)(
      commitBatch: (SparkSession, DataFrame, Long) => Boolean)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        commitBatch(batch.sparkSession, batch, id); ()
      }
      .start()

  /** Idempotent per-micro-batch MERGE: upsert `batch` by `keyCols` as
    * one committed version carrying `batchId`; a replayed batch (sink
    * restart behind the checkpoint) is skipped — the upsert analogue
    * of [[appendBatch]]. The first batch creates the table. `batch`
    * must be key-unique (collapse multi-update micro-batches to the
    * last write per key BEFORE the sink — only the caller knows the
    * stream's ordering column). Single-writer discipline: the merge
    * pins its base version, so a concurrent non-stream commit fails it
    * with ConcurrentModificationException rather than losing rows. */
  def mergeBatch(spark: SparkSession, root: String, batch: DataFrame,
      keyCols: Seq[String], batchId: Long): Boolean = {
    require(keyCols.nonEmpty, "merge requires at least one key column")
    // key-uniqueness holds from the FIRST batch — the table-creating
    // path must not smuggle duplicates past the guard
    def uniqueKeyBounds(): Option[Expression] = {
      val (dupKeys, bounds) = keyStats(batch, keyCols)
      require(dupKeys == 0, s"streaming merge batch $batchId has $dupKeys " +
        "duplicate key(s); collapse to last-write-per-key before the sink")
      bounds
    }
    loadHead(spark, root) match {
      case None =>
        uniqueKeyBounds()
        appendBatch(spark, root, batch, batchId)
      case Some((base, man)) =>
        if (replayed(man, batchId)) return false
        val bounds = uniqueKeyBounds()
        // names AND types (same discipline as appendBatch): a
        // same-name/other-type batch would write files whose physical
        // types contradict the committed manifest schema, failing
        // every subsequent read of the head version
        requireSameSchema(manifestSchema(man), batch.schema,
          s"streaming merge batch $batchId")
        val files = upsertFiles(spark, root, man, batch, keyCols, bounds)
        try {
          commit(spark, root, Map[String, Object](BatchIdKey -> Long.box(batchId)),
            requireBase = Some(base)) { headOpt =>
            if (headOpt.exists(h => replayed(h._2, batchId))) throw ReplaySkip
            ("merge", manifestSchema(man), files)
          }
          true
        } catch { case ReplaySkip => false }
    }
  }

  /** Exactly-once streaming upsert: every micro-batch MERGEs by key —
    * the Delta `foreachBatch` + MERGE pattern as one call. Same
    * one-checkpoint-per-table contract as [[appendStream]]. */
  def mergeStream(stream: DataFrame, root: String, keyCols: Seq[String],
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    sink(stream, checkpointDir, trigger)(mergeBatch(_, root, _, keyCols, _))

  /** Rewrite the current snapshot's live rows into
    * ~ceil(bytes/targetBytes) files as a new committed version, and
    * never into more files than the snapshot's read plans partitions:
    * compaction only ever coalesces, so a tiny `targetBytes` cannot
    * fan a table out into one file per few bytes. This is where
    * deletion vectors fold away: the rewritten files carry none, and
    * the vectored files they replace become unreferenced, for
    * [[vacuum]] to reap. Old versions remain time-travelable until
    * vacuum. */
  def compact(spark: SparkSession, root: String, targetBytes: Long): Long = {
    val f = fs(spark, root)
    val (base, head) = loadHead(spark, root).getOrElse(
      throw new IllegalArgumentException(s"no table at $root"))
    val paths = manifestFiles(head).map(pathOf)
    val totalBytes = paths.map(p => f.getFileStatus(new Path(p)).getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = read(spark, root, Some(base))
    // coalesce merges the read's partitions and never adds any, so
    // nOut above the scan's partition count writes that count
    val files = writeData(spark, root, df.coalesce(nOut))
    commit(spark, root, requireBase = Some(base)) { _ => ("compact", df.schema, files) }
  }
}
