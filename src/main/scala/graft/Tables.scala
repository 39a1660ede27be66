package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-sfDir table catalog with optional caching.
  *
  * Caching rationale (SURVEY.md §4.2, BASELINE.md): the bench suite runs
  * ~60 queries in one JVM; re-reading parquet footers 60x and rebuilding
  * the co-purchase EDGES graph 6x would blow the 52 s budget. At bench
  * scale (sf0.1, ≤ 11 MB/table) caching is free. At 100 TB cluster scale
  * you would NOT cache base fact tables — disable with
  * spark.graft.cacheTables=false; every operator in graft.ops is
  * cache-agnostic (they only see the DataFrames returned here, whose
  * plans remain plain parquet scans with full predicate pushdown when
  * caching is off).
  */
object Tables {
  /** The ten testdata base tables (TESTDATA.md / FIXTURES.md). */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private def cachingEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.cacheTables").forall(_.toBoolean)

  /** Base table by name, e.g. Tables(spark, sfDir, "lineitem"). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    tables(spark, (sfDir, name))

  private val tables = SharedBuild[(String, String), DataFrame]("Tables.apply") {
    case (spark, (sfDir, name)) =>
      val df = read(spark, s"$sfDir/$name.parquet")
      if (cachingEnabled(spark)) df.persist(StorageLevel.MEMORY_AND_DISK)
      else df
  }

  /** Mount an arbitrary source DataFrame as table `name` under a
    * (possibly virtual) `sfDir` for this session: every declared query
    * then runs against it unchanged — this is how the parquet-native
    * suite executes over CSV/JSON/JDBC-backed tables (Sources.readCsv
    * + mount + any Q). */
  def mount(spark: SparkSession, sfDir: String, name: String, df: DataFrame): Unit =
    tables.put(spark, (sfDir, name), df)

  /** Names of TIMESTAMP(NANOS) primitive fields in the parquet footer at
    * `path` (file or directory of .parquet parts). Spark 4 rejects nanos
    * natively; callers that see a non-empty result read under
    * `nanosAsLong` and truncate to µs. Shared by the batch reader below
    * and the streaming source (Streams.eventsStream) so both sides adapt
    * to whatever physical unit the fixtures carry — the driver has
    * regenerated them with different units across rounds (ns through
    * round 5, µs since round 6).
    */
  def nanosTimestampFields(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val file =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      else p
    val footer = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try footer.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          }) => f.getName
    }.toSeq
    finally footer.close()
  }

  /** Parquet read that tolerates TIMESTAMP(NANOS) columns, which Spark 4
    * rejects natively: nanos are read as LongType and truncated to
    * microsecond TimestampType — exactly DuckDB's ns->us conversion
    * (floor; values are post-1970 so integer `div` == floor). The
    * `nanosAsLong` conf is only set when the footer actually carries
    * nanos fields (it stays session-set afterwards: execution-time
    * schema conversion consults it again, so it cannot be restored
    * until the DataFrame is fully consumed — and it is a no-op for
    * non-nanos files).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val nanosFields = nanosTimestampFields(spark, path)
    if (nanosFields.nonEmpty)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // µs/ms parquet timestamps without isAdjustedToUTC would otherwise
    // surface as TIMESTAMP_NTZ (Spark 4 infers NTZ by default), which
    // rejects unix_micros()/double casts and diverges from the ns path
    // below. Under the suite's pinned UTC session timezone the NTZ
    // wallclock and the LTZ instant are the same value, so reading
    // everything as TimestampType is lossless and keeps every operator
    // timestamp-annotation-agnostic. All of this suite's sessions pin
    // the conf to false at CONSTRUCTION (build.sbt javaOptions + every
    // builder), so the branch below is normally a no-op; the
    // save/restore fallback only fires under a foreign session (e.g.
    // the driver's own) and exists so reads still work there — the
    // round-7 ADVICE race (concurrent mutate of shared conf) cannot
    // occur once the conf is construction-pinned.
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val raw =
      if (spark.conf.getOption(ntzKey).contains("false")) spark.read.parquet(path)
      else {
        val prevNtz = spark.conf.getOption(ntzKey)
        spark.conf.set(ntzKey, "false")
        try spark.read.parquet(path)
        finally prevNtz match {
          case Some(v) => spark.conf.set(ntzKey, v)
          case None => spark.conf.unset(ntzKey)
        }
      }
    raw.schema // force analysis before the conf could change again
    nanosFields.foldLeft(raw) { (df, f) =>
      df.withColumn(f, timestamp_micros(expr(s"`$f` div 1000")))
    }
  }

  /** Strong co-purchase graph (SURVEY.md §2.8): part pairs co-occurring
    * in >= 2 orders. Returns (e, ud): e = directed s<t edges with weight,
    * ud = symmetrized undirected view. Built once per sfDir and persisted
    * — the single biggest bench lever (6.3 s/build at sf0.1).
    *
    * Scale note: pairs are expanded in-row per order by
    * [[graft.ops.Pairs.cooccurring]] (ONE shuffle on l_orderkey); group
    * bound: ≤17 lines/order at sf0.1 (≤136 pairs/order). Only the
    * sparse strong graph (~4k edges) is ever persisted or traversed.
    */
  def edges(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    edgeBuild(spark, sfDir)

  private val edgeBuild = SharedBuild[String, (DataFrame, DataFrame)]("Tables.edges") {
    (spark, sfDir) =>
      val orders = apply(spark, sfDir, "lineitem")
        .groupBy(col("l_orderkey")).agg(collect_list(col("l_partkey")).as("ps"))
      val e = graft.ops.Pairs.cooccurring(orders, col("ps"), 2).toDF("s", "t", "w")
      val ePersisted = e.persist(StorageLevel.MEMORY_AND_DISK)
      val ud = ePersisted
        .select(col("s"), col("t"))
        .union(ePersisted.select(col("t").as("s"), col("s").as("t")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // materialize once so all six graph queries reuse it
      ud.count()
      (ePersisted, ud)
  }

  /** Undirected edge view only. */
  def ud(spark: SparkSession, sfDir: String): DataFrame =
    edges(spark, sfDir)._2

  /** Bipartite purchase graph (§2.42/§2.47): DISTINCT (customer,
    * supplier) edges from orders⋈lineitem, built once per sfDir and
    * persisted — the EDGES policy applied to the suite's largest
    * 100×-tier build (the distinct-edge pass was 523 CPU-s at the 60M
    * tier when graph_hits_bipartite built it privately; with three
    * consumers — HITS, the degree profile, assortativity — one build
    * amortizes it). The build is ONE fact-sized equi-join + distinct;
    * every consumer then works at edge/node grain. */
  def bipartite(spark: SparkSession, sfDir: String): DataFrame =
    bipartiteBuild(spark, sfDir)

  private val bipartiteBuild = SharedBuild[String, DataFrame]("Tables.bipartite") {
    (spark, sfDir) =>
      val e = apply(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(apply(spark, sfDir, "orders")
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count() // materialize once so all consumers reuse it
      e
  }

  /** Shared node-degree aggregates of the bipartite purchase graph
    * (round 17, the orderClose recipe): customer side (c, dc) and
    * supplier side (sup, ds), each localCheckpoint'ed once per sfDir.
    * Before this, the family re-aggregated the persisted edge relation
    * six times per run — HITS reads the supplier degree twice (a₁
    * feeds h₁ AND the final join), the degree profile histograms both
    * sides, assortativity joins both sides. Node-grain relations, so
    * the checkpoints are small at any SF. */
  val bipartiteDegrees = SharedBuild[String, (DataFrame, DataFrame)]("Tables.bipartiteDegrees") {
    (spark, sfDir) =>
      val e = bipartite(spark, sfDir)
      (e.groupBy(col("c")).agg(count(lit(1)).as("dc")).localCheckpoint(true),
        e.groupBy(col("sup")).agg(count(lit(1)).as("ds")).localCheckpoint(true))
  }

  /** Register every base table as a temp view (plus the EDGES views
    * `edges`/`ud`) so the whole surface is reachable from spark.sql —
    * the SQL entry point alongside the DataFrame programs and the
    * naqed object API. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))
    val (e, u) = edges(spark, sfDir)
    e.createOrReplaceTempView("edges")
    u.createOrReplaceTempView("ud")
  }
}
