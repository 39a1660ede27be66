package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.jdk.CollectionConverters._

/** The benchmark's engine program. Reads a plan written by `run.py`
  * (workload, data directory, operation lists), runs set-up, a warm-up
  * and the timed window, and writes one JSON result with every
  * operation's timing and output digest plus, when traced, the
  * per-layer counters and spans.
  *
  * Usage: perfbench.Main <plan.json> <result.json>
  *        perfbench.Main --describe <data dir> <out.json>
  */
object Main {
  private val mapper = new ObjectMapper()

  /** One operation's record; `fields` go into the result JSON as-is. */
  final class Op(val id: String, val kind: String) {
    val fields = new java.util.LinkedHashMap[String, Any]()
    fields.put("id", id)
    fields.put("kind", kind)
    def put(k: String, v: Any): Unit = fields.put(k, v)
    def fail(t: Throwable): Unit = {
      fields.put("ok", false)
      fields.put("error", t.getClass.getName)
      fields.put("message", String.valueOf(t.getMessage).take(500))
    }
  }

  def main(args: Array[String]): Unit = {
    if (args(0) == "--describe") {
      // the declared queries in order, and their oracle SQL for a data dir
      Files.writeString(Paths.get(args(2)), mapper.writeValueAsString(Json.toJava(Map(
        "declared" -> graft.SparkEntry.queries.keys.toSeq,
        "oracle" -> graft.Oracle.forDir(args(1))))))
      return
    }
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val bench = new Bench(plan)
    val result = try bench.run() finally bench.stop()
    println("perfbench: stopped")
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(Json.toJava(result)))
  }
}

/** Conversion of Scala values to the Java collections Jackson writes. */
object Json {
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case m: java.util.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: scala.collection.Seq[_] => s.map(toJava).asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  /** A JSON value as the Scala types the naqed API takes. */
  def fromJson(n: JsonNode): Any =
    if (n.isObject) n.fields().asScala.map(e => e.getKey -> fromJson(e.getValue)).toMap
    else if (n.isArray) n.elements().asScala.map(fromJson).toSeq
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isNull) null
    else n.asText()
}

/** Order-insensitive digest of result rows: each row is rendered to a
  * canonical string (struct fields sorted by name, array elements
  * sorted, doubles as IEEE bits, timestamps and dates as epoch
  * microseconds), and the first 8 bytes of each string's MD5 are summed
  * mod 2^64. `oracle.py` renders DuckDB's answers the same way. */
object Canon {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "s:" + s.replace("\\", "\\\\").replace(",", "\\,")
    case b: Boolean => "b:" + b
    case x: Byte => "i:" + x
    case x: Short => "i:" + x
    case x: Int => "i:" + x
    case x: Long => "i:" + x
    case x: Float => dbl(x.toDouble)
    case x: Double => dbl(x)
    case t: java.sql.Timestamp =>
      "t:" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    // a date reads as the timestamp of its midnight, so a date and a
    // timestamp at midnight compare equal (engines differ on the type of
    // date_trunc and the like)
    case d: java.sql.Date => "t:" + d.toLocalDate.toEpochDay * 86400000000L
    case d: java.math.BigDecimal => "n:" + d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case r: Row =>
      r.schema.fieldNames.zipWithIndex.sortBy(_._1)
        .map { case (n, i) => n + "=" + value(r.get(i)) }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).sorted.mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }
  private def dbl(d: Double): String =
    "d:" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def digest(rows: Seq[Row]): String = {
    var acc = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(value(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(md, 0, 8).getLong
    }
    java.lang.Long.toUnsignedString(acc, 16)
  }
}

/** Rows read by the leaf scans of an executed (adaptive) plan. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def scanRows(plan: SparkPlan): Long =
    collectLeaves(plan).flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}

final class Bench(plan: JsonNode) {
  import Main.Op

  private val workload = plan.get("workload").asText()
  private val dataDir = plan.get("data").asText()
  private val work = Paths.get(plan.get("work").asText())
  private val clients = plan.get("clients").asInt()
  private val cores = plan.get("cores").asInt()
  private val setupReps = plan.get("setup_reps").asInt()
  private val tracer = new Tracer(plan.get("trace").asBoolean())
  private val traced = tracer.enabled

  private val root: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.scheduler.mode", "FAIR")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  root.sparkContext.setLogLevel("WARN")
  private val sc = root.sparkContext
  private val execProbe = new ExecProbe
  private val planProbe = new PlanProbe
  if (traced) sc.addSparkListener(execProbe)

  private var session: SparkSession = root

  /** A new session over the same SparkContext with every cached table,
    * shared build and persisted RDD of the previous one dropped: the
    * engine's caches are keyed per session, and the cache manager is
    * cleared explicitly because it is shared between sessions. */
  private def fresh(): SparkSession = {
    session.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(r => r.unpersist(blocking = true))
    System.gc()
    val s = root.newSession()
    Seq("spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true").foreach { case (k, v) => s.conf.set(k, v) }
    if (traced) s.listenerManager.register(planProbe)
    session = s
    s
  }

  private val started = System.nanoTime()
  /** A progress line in the engine log, with seconds since start. */
  private def note(msg: String): Unit =
    println(f"perfbench: ${(System.nanoTime() - started) / 1e9}%.1f s: $msg")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds of `body` and the share of the machine's busy CPU time
    * the host stole meanwhile (see `Jvm.stealShare`). */
  private def timedSteal(body: => Unit): (Double, Double) = {
    val k0 = Jvm.cpuTicks
    val (_, wall) = timed(body)
    (wall, Jvm.stealShare(k0, Jvm.cpuTicks))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def load(s: SparkSession, dir: String, name: String, id: String): Unit =
    tracer.span("Tables.apply", id)(graft.Tables(s, dir, name).count())

  /** A fresh session with `tables` loaded on `cores` threads, under job
    * group "setup"; returns the loads' wall seconds and steal share. */
  private def loadAll(tables: Seq[String]): (Double, Double) = {
    val s = fresh()
    timedSteal(onThreads("perfbench-load", cores) { c =>
      tables.indices.filter(_ % cores == c).foreach(i =>
        withGroup("setup")(load(s, dataDir, tables(i), "setup")))
    })
  }

  private def withGroup[T](id: String)(body: => T): T = {
    sc.setLocalProperty("spark.scheduler.pool", Thread.currentThread().getName)
    sc.setJobGroup(id, id)
    try body finally sc.clearJobGroup()
  }

  // pools live as long as the run, so the window's per-thread CPU
  // snapshots still see their threads when the window closes
  private val pools = scala.collection.mutable.Map[(String, Int), java.util.concurrent.ExecutorService]()

  /** Runs `f(i)` for i < n on `n` named threads and waits for all of them. */
  private def onThreads(prefix: String, n: Int)(f: Int => Unit): Unit = {
    val pool = pools.getOrElseUpdate((prefix, n), Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r); t.setName(s"$prefix-${t.getId}"); t.setDaemon(true); t
    }))
    (0 until n).map(i => pool.submit(new Runnable { def run(): Unit = f(i) })).foreach(_.get())
  }

  // ---- window accounting shared by the workloads ----

  private final class Window {
    private var cpu0 = 0.0; private var cg0 = 0L
    private var ticks0 = (0L, 0L); private var busy = 0L; private var stolen = 0L
    private var threads0 = Map.empty[Long, (String, Double)]
    var wallS = 0.0; var cpuS = 0.0; var codegen = 0L
    def stealShare: Double = Jvm.stealShare((0L, 0L), (busy, stolen))
    /** CPU seconds by thread class (see `threadClass`), traced runs only. */
    var threadCpu = Map.empty[String, Double]
    private var t0 = 0L
    private var opened = false

    /** Opens one timed stretch; counters reset on the first one only. */
    def open(): Unit = {
      if (!opened) {
        if (traced) { org.apache.spark.BusDrain(sc); execProbe.reset(); planProbe.reset() }
        Jvm.resetHeapPeak()
        opened = true
      }
      threads0 = if (traced) Jvm.cpuByThread else Map.empty
      cpu0 = Jvm.processCpuS; cg0 = Jvm.codegenCompiles; ticks0 = Jvm.cpuTicks
      t0 = System.nanoTime()
    }
    /** Closes one timed stretch; stretches add up. */
    def close(): Unit = {
      wallS += (System.nanoTime() - t0) / 1e9
      cpuS += Jvm.processCpuS - cpu0
      codegen += Jvm.codegenCompiles - cg0
      val ticks = Jvm.cpuTicks
      busy += ticks._1 - ticks0._1; stolen += ticks._2 - ticks0._2
      if (traced) {
        val delta = Jvm.cpuByThread.toSeq.map { case (id, (name, c)) =>
          threadClass(name) -> (c - threads0.get(id).map(_._2).getOrElse(0.0)) }
        threadCpu = (threadCpu.toSeq ++ delta).groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
  }

  private def threadClass(name: String): String =
    if (name.startsWith("Executor task")) "executor"
    else if (name.startsWith("perfbench-clie")) "client"
    else if (name.startsWith("C1 Compiler") || name.startsWith("C2 Compiler")) "jit"
    else if (name.startsWith("GC Thread") || name.startsWith("G1 ") || name == "VM Thread") "gc"
    else "other"

  def stop(): Unit = {
    note("stopping")
    pools.values.foreach { p => p.shutdown(); p.awaitTermination(60, TimeUnit.SECONDS) }
    sc.setLogLevel("ERROR")
    root.stop()
  }

  def run(): Map[String, Any] = {
    val ops = new ConcurrentLinkedQueue[Op]()
    val win = new Window
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
    val (setup, warmup) = workload match {
      case w if w.startsWith("suite") => suite(ops, win, extra)
      case w if w.startsWith("naqed") => naqed(ops, win, extra)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    note("window closed")
    val opList = ops.asScala.toSeq
    val heapPeak = Jvm.heapPeakMb
    if (traced) {
      org.apache.spark.BusDrain(sc)
      opList.foreach(o => o.put("task_cpu_ms", execProbe.sum(_.taskCpuNs.get, _ == o.id) / 1e6))
    }
    System.gc()
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "setup_s" -> setup.map(_._1), "setup_steal" -> setup.map(_._2),
      "warmup_s" -> warmup,
      "window_s" -> win.wallS, "window_steal" -> win.stealShare, "cpu_s" -> win.cpuS,
      "heap_peak_mb" -> heapPeak,
      "heap_live_mb" -> Jvm.heapUsedMb,
      "ops" -> opList.map(_.fields))
    out ++= extra
    if (traced) {
      out("layers") = layers(opList, win, extra.toMap)
      out("thread_cpu_s") = win.threadCpu
      val spans = tracer.all.map(s => Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      out("spans") = spans
    }
    out.toMap
  }

  // ---- suite: the declared queries, concurrent, caches dropped per pass ----

  private val queries: Map[String, (SparkSession, String) => DataFrame] = graft.SparkEntry.queries
  private val suiteTables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** The shared-build prime step: independent chains of engine-level
    * materializations run concurrently under job group "prime". */
  private def prime(s: SparkSession, ops: ConcurrentLinkedQueue[Op], tag: String): Unit = {
    val d = dataDir
    val chains: Seq[(String, () => Unit)] = Seq(
      "facts" -> (() => { Seq("lineitem", "orders").foreach(load(s, d, _, "prime"))
        tracer.span("Tables.edges", "prime")(graft.Tables.edges(s, d)); () }),
      "bipartite" -> (() => { tracer.span("Tables.bipartite", "prime")(graft.Tables.bipartite(s, d)); () }),
      "documents" -> (() => { load(s, d, "documents", "prime")
        tracer.span("ops.Pipelines.prime", "prime")(graft.ops.Pipelines.prime(s, d)) }),
      "embeddings" -> (() => { load(s, d, "embeddings", "prime")
        tracer.span("ops.TextSim.prime", "prime")(graft.ops.TextSim.prime(s, d))
        load(s, d, "events", "prime") }),
      "dims" -> (() => Seq("region", "nation", "customer", "supplier", "part")
        .foreach(load(s, d, _, "prime"))),
      "via" -> (() => Seq("supplier" -> "csv", "customer" -> "json", "orders" -> "orc",
        "documents" -> "text").foreach { case (t, f) =>
          tracer.span("sources.Sources.via", "prime")(graft.sources.Sources.via(s, d, t, f).count()) }))
    onThreads("perfbench-prime", chains.size) { i =>
      val (name, chain) = chains(i)
      try withGroup("prime")(tracer.span("prime", "prime")(chain()))
      catch { case t: Throwable =>
        val op = new Op(s"prime.$tag.$name", "prime"); op.fail(t); ops.add(op) }
    }
  }

  private def suite(ops: ConcurrentLinkedQueue[Op], win: Window,
      extra: scala.collection.mutable.Map[String, Any]): (Seq[(Double, Double)], Double) = {
    // set-up: the tables loaded into a fresh session, repeated; then the
    // prime step's shared builds, once
    val setup = (1 to setupReps).map(_ => loadAll(suiteTables))
    val s = session
    val (primeS, primeSteal) = timedSteal(prime(s, ops, "setup"))
    extra("build_s") = primeS
    extra("build_steal") = primeSteal
    note(f"set-up: ${setup.map(_._1).mkString(", ")}; prime step: $primeS%.2f s")
    // no warm-up: the window is the first execution of the sampled
    // queries; the plan fixes the number of passes
    if (traced) extra("shared_cached_mb") = sc.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0
    val passes = list("passes").map(_.elements().asScala.map(_.asText()).toSeq)
    val walls = passes.zipWithIndex.map { case (order, i) =>
      win.open()
      val (_, wall) = timed(suitePass(s, order, s"p$i", ops))
      win.close()
      note(f"pass $i: $wall%.2f s")
      wall
    }
    extra("passes") = walls
    (setup, 0.0)
  }

  /** One pass: every query of `order` on `clients` threads, each
    * collecting its result and recording the result's digest. */
  private def suitePass(s: SparkSession, order: Seq[String], tag: String,
      ops: ConcurrentLinkedQueue[Op]): Unit = {
    val next = new AtomicInteger(0)
    onThreads("perfbench-client", clients) { _ =>
      var k = next.getAndIncrement()
      while (k < order.size) {
        val name = order(k)
        val id = s"$tag.$name"
        val op = new Op(id, "query")
        op.put("query", name)
        val c0 = Jvm.threadCpuS; val k0 = Jvm.cpuTicks
        val t0 = System.nanoTime()
        try withGroup(id) {
          val df = tracer.span("SparkEntry.queries", id)(queries(name)(s, dataDir))
          val t1 = System.nanoTime()
          val rows = tracer.span("action", id)(df.collect().toSeq)
          val t2 = System.nanoTime()
          op.put("ok", true)
          op.put("construct_ms", (t1 - t0) / 1e6); op.put("action_ms", (t2 - t1) / 1e6)
          op.put("rows", rows.size); op.put("digest", Canon.digest(rows))
        } catch { case t: Throwable => op.fail(t) }
        op.put("ms", (System.nanoTime() - t0) / 1e6)
        op.put("driver_cpu_ms", (Jvm.threadCpuS - c0) * 1e3)
        op.put("steal", Jvm.stealShare(k0, Jvm.cpuTicks))
        ops.add(op)
        k = next.getAndIncrement()
      }
    }
  }

  // ---- naqed: one session of object-API requests and versioned writes ----

  private val naqedTables = Seq("region", "nation", "supplier", "customer", "part", "orders", "lineitem")
  private val headDir = "perfbench-head"

  private def list(key: String): Seq[JsonNode] = plan.get(key).elements().asScala.toSeq

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally st.close()
    }

  /** One client sends the plan's operations in order: nested-object
    * requests over the cached base tables, and mutations of a versioned
    * orders table, each followed by a read of the new head. */
  private def naqed(ops: ConcurrentLinkedQueue[Op], win: Window,
      extra: scala.collection.mutable.Map[String, Any]): (Seq[(Double, Double)], Double) = {
    // set-up: the tables loaded into a fresh session, repeated; then the
    // shared builds once: the co-purchase graph behind `$depth` reach, and
    // a versioned orders table for the warm-up's writes and one for the window's
    val setup = (1 to setupReps).map(_ => loadAll(naqedTables))
    val s = session
    val roots = Seq("warm", "window").map(r => work.resolve("vt").resolve(r))
    val (buildS, buildSteal) = timedSteal(withGroup("setup") {
      tracer.span("Tables.edges", "setup")(graft.Tables.edges(s, dataDir))
      roots.foreach(r => tracer.span("sources.VersionedTable.create", "setup")(
        graft.sources.VersionedTable.create(s, r.resolve("orders").toString,
          graft.Tables(s, dataDir, "orders"))))
    })
    extra("build_s") = buildS
    extra("build_steal") = buildSteal
    note(f"set-up: ${setup.map(_._1).mkString(", ")}; builds: $buildS%.2f s")
    val schema = graft.Tables(s, dataDir, "orders").schema
    // the head reader sees the versioned orders plus the base tables the
    // built-in resolvers are declared on
    Seq("customer", "orders", "documents").foreach(t =>
      graft.Tables.mount(s, headDir, t, graft.Tables(s, dataDir, t)))
    val data = new graft.api.Naqed(s, dataDir)
    val head = new graft.api.Naqed(s, headDir)
    // the plan fixes the window's operations, so every run sends the same mix
    def runOps(list: Seq[JsonNode], root: Path, out: ConcurrentLinkedQueue[Op]): Unit =
      onThreads("perfbench-client", 1) { _ =>
        list.foreach { o =>
          if (o.has("mutation")) write(s, data, head, root, schema, o, out)
          else request(data, (o.get("id").asText(), o.get("kind").asText(), o.get("json").asText()), out)
        }
      }
    val warmOps = new ConcurrentLinkedQueue[Op]()
    val (_, warmS) = timed(runOps(list("warmup"), roots.head, warmOps))
    note(f"warm-up: $warmS%.2f s")
    win.open()
    runOps(list("ops"), roots.last, ops)
    win.close()
    note(f"window: ${win.wallS}%.2f s")
    // space amplification after the window's first `space_writes` commits
    // (the plan holds at least that many): data bytes of every version up
    // to there over the data bytes of that version
    val table = roots.last.resolve("orders").toString
    def files(v: Long) = graft.sources.VersionedTable.read(s, table, Some(v)).inputFiles.toSeq
    def bytes(fs: Seq[String]) = fs.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    val versions = graft.sources.VersionedTable.versions(s, table)
    val upto = versions.take(1 + plan.get("space_writes").asInt())
    extra("table_bytes") = bytes(upto.flatMap(files).distinct)
    extra("head_bytes") = bytes(files(upto.last))
    extra("head_files") = files(versions.last).size
    (setup, warmS)
  }

  private def request(naqed: graft.api.Naqed, r: (String, String, String),
      ops: ConcurrentLinkedQueue[Op]): Unit = {
    val (id, kind, json) = r
    val op = new Op(id, kind)
    val c0 = Jvm.threadCpuS; val k0 = Jvm.cpuTicks
    val t0 = System.nanoTime()
    try withGroup(id) {
      val df = tracer.span("api.Naqed#requestJson", id)(naqed.requestJson(json))
      val t1 = System.nanoTime()
      val rows = tracer.span("collect", id)(df.collect().toSeq)
      val t2 = System.nanoTime()
      op.put("ok", true)
      op.put("compile_ms", (t1 - t0) / 1e6); op.put("exec_ms", (t2 - t1) / 1e6)
      op.put("rows", rows.size); op.put("digest", Canon.digest(rows))
      if (traced) op.put("rows_read", PlanWalk.scanRows(df.queryExecution.executedPlan))
    } catch { case t: Throwable => op.fail(t) }
    op.put("ms", (System.nanoTime() - t0) / 1e6)
    op.put("driver_cpu_ms", (Jvm.threadCpuS - c0) * 1e3)
    op.put("steal", Jvm.stealShare(k0, Jvm.cpuTicks))
    ops.add(op)
  }

  /** Timestamp fields arrive as "yyyy-mm-dd hh:mm:ss" text in the plan. */
  private def typed(m: Any, schema: org.apache.spark.sql.types.StructType): Any = m match {
    case rows: Seq[_] => rows.map(typed(_, schema))
    case row: Map[_, _] => row.asInstanceOf[Map[String, Any]].map {
      case (k, v: String) if schema.fieldNames.contains(k) &&
          schema(k).dataType == org.apache.spark.sql.types.TimestampType =>
        k -> java.sql.Timestamp.valueOf(v)
      case (k, v) => k -> typed(v, schema)
    }
    case other => other
  }

  private def write(s: SparkSession, data: graft.api.Naqed, head: graft.api.Naqed, rootDir: Path,
      schema: org.apache.spark.sql.types.StructType, w: JsonNode,
      ops: ConcurrentLinkedQueue[Op]): Unit = {
    val id = w.get("id").asText()
    val op = new Op(id, w.get("kind").asText())
    val table = rootDir.resolve("orders").toString
    val mutation = typed(Json.fromJson(w.get("mutation")), schema).asInstanceOf[Map[String, Any]]
    val c0 = Jvm.threadCpuS; val k0 = Jvm.cpuTicks
    val t0 = System.nanoTime()
    try withGroup(id) {
      val before = if (traced) dirBytes(rootDir.resolve("orders").resolve("data")) else (0L, 0L)
      val counts = tracer.span("api.Naqed#mutateVersioned", id)(
        data.mutateVersioned(mutation, rootDir.toString))
      val t1 = System.nanoTime()
      if (traced) {
        val after = dirBytes(rootDir.resolve("orders").resolve("data"))
        op.put("files_written", after._1 - before._1)
        op.put("bytes_written", after._2 - before._2)
      }
      op.put("count", counts.values.sum)
      val version = tracer.span("sources.VersionedTable.versions", id)(
        graft.sources.VersionedTable.versions(s, table)).last
      val (scanDf, kept, total) = tracer.span("sources.VersionedTable.scan", id)(
        graft.sources.VersionedTable.scan(s, table, w.get("scan").asText()))
      val scanRows = tracer.span("collect", id)(scanDf.collect().toSeq)
      val headDf = tracer.span("sources.VersionedTable.read", id)(
        graft.sources.VersionedTable.read(s, table))
      graft.Tables.mount(s, headDir, "orders", headDf)
      val rdf = tracer.span("api.Naqed#requestJson", id)(head.requestJson(w.get("read").asText()))
      val readRows = tracer.span("collect", id)(rdf.collect().toSeq)
      val t2 = System.nanoTime()
      op.put("ok", true)
      op.put("write_ms", (t1 - t0) / 1e6); op.put("read_ms", (t2 - t1) / 1e6)
      op.put("version", version); op.put("scan_kept", kept); op.put("scan_total", total)
      op.put("scan_rows", scanRows.size); op.put("scan_digest", Canon.digest(scanRows))
      op.put("rows", readRows.size); op.put("digest", Canon.digest(readRows))
    } catch { case t: Throwable => op.fail(t) }
    op.put("ms", (System.nanoTime() - t0) / 1e6)
    op.put("driver_cpu_ms", (Jvm.threadCpuS - c0) * 1e3)
    op.put("steal", Jvm.stealShare(k0, Jvm.cpuTicks))
    ops.add(op)
  }

  // ---- per-layer metrics of the traced run ----

  /** Per-layer metrics. Counts and times marked "per op" are divided by
    * the window's operations (queries, requests and writes); load times
    * are per set-up repetition, build times those of the one build step. */
  private def layers(ops: Seq[Op], win: Window, extra: Map[String, Any]): Map[String, Double] = {
    def num(o: Op, k: String): Option[Double] = Option(o.fields.get(k)).collect {
      case d: Double => d; case i: Int => i.toDouble; case l: Long => l.toDouble }
    def vals(k: String) = ops.flatMap(num(_, k))
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val n = math.max(1, ops.size).toDouble
    val g = execProbe
    val opIds = ops.map(_.id).toSet
    val taskCpu = g.sum(_.taskCpuNs.get) / 1e9
    val opTaskCpu = g.sum(_.taskCpuNs.get, opIds) / 1e9
    val th = win.threadCpu.withDefaultValue(0.0)
    // the prime step and other shared builds run in set-up, outside the window
    val parts = Seq("ledger.task_frac" -> opTaskCpu, "ledger.driver_frac" -> th("client"),
      "ledger.gc_frac" -> th("gc"), "ledger.jit_frac" -> th("jit"),
      "ledger.spark_threads_frac" -> th("other"),
      // executor-thread CPU outside the tasks' own metrics (task set-up,
      // deserialization, result handling)
      "ledger.executor_other_frac" -> math.max(0.0, th("executor") - taskCpu))
    val passes = extra.get("passes").map(_.asInstanceOf[Seq[Double]].size).getOrElse(0)
    val reqs = ops.filter(_.fields.containsKey("compile_ms"))
    val writes = ops.filter(_.fields.containsKey("write_ms"))
    val buildNames = Set("Tables.edges", "Tables.bipartite", "ops.Pipelines.prime",
      "ops.TextSim.prime", "sources.Sources.via", "sources.VersionedTable.create")
    val spans = tracer.all
    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "api.req_p50_ms" -> median(reqs.flatMap(num(_, "ms"))),
      "api.compile_ms_p50" -> median(reqs.flatMap(num(_, "compile_ms"))),
      "api.exec_ms_p50" -> median(reqs.flatMap(num(_, "exec_ms"))),
      "api.jobs_per_req" -> ratio(reqs.map(o => g.sum(_.jobs.get, _ == o.id)).sum, reqs.size),
      "api.rows_read_per_row_out" -> ratio(reqs.flatMap(num(_, "rows_read")).sum,
        reqs.flatMap(num(_, "rows")).sum),
      "ops.construct_s" -> vals("construct_ms").sum / 1e3 / math.max(1, passes),
      "ops.action_s" -> vals("action_ms").sum / 1e3 / math.max(1, passes))
    m ++= Seq(
      "tables.load_s" -> spans.filter(s => s.name == "Tables.apply" && s.id == "setup")
        .map(_.seconds).sum / math.max(1, setupReps),
      "shared.build_s" -> spans.filter(s => buildNames(s.name)).map(_.seconds).sum,
      "shared.build_wall_s" -> extra("build_s").asInstanceOf[Double],
      "shared.cached_mb" -> extra.getOrElse("shared_cached_mb",
        sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0).asInstanceOf[Double],
      "plan.analysis_s" -> planProbe.analysisS.sum / n,
      "plan.optimization_s" -> planProbe.optimizationS.sum / n,
      "plan.planning_s" -> planProbe.planningS.sum / n,
      "plan.executions" -> planProbe.executions.get / n,
      "plan.codegen_compiles" -> win.codegen / n,
      "exec.jobs" -> g.sum(_.jobs.get) / n,
      "exec.stages" -> g.sum(_.stages.get) / n,
      "exec.tasks" -> g.sum(_.tasks.get) / n,
      "exec.task_cpu_s" -> taskCpu / n,
      "exec.task_run_s" -> g.sum(_.taskRunMs.get) / 1e3 / n,
      "exec.task_wait_s" -> g.sum(_.taskWaitMs.get) / 1e3 / n,
      "exec.shuffle_write_mb" -> g.sum(_.shuffleWriteBytes.get) / 1048576.0 / n,
      "exec.spill_mb" -> g.sum(_.spillBytes.get) / 1048576.0 / n,
      "exec.input_records" -> g.sum(_.inputRecords.get) / n,
      "exec.peak_task_mem_mb" -> g.groups.values.asScala.map(_.peakTaskMem.get).maxOption
        .getOrElse(0L) / 1048576.0,
      "exec.stage_skew" -> g.stageSkew,
      "driver.cpu_s" -> th("client") / n,
      "jvm.gc_s" -> th("gc") / n,
      "jvm.jit_s" -> th("jit") / n,
      "ledger.cpu_s" -> win.cpuS)
    parts.foreach { case (k, v) => m(k) = ratio(v, win.cpuS) }
    m("ledger.other_task_frac") = ratio(taskCpu - opTaskCpu, win.cpuS)
    m("ledger.unattributed_frac") = 1.0 - ratio(parts.map(_._2).sum + taskCpu - opTaskCpu, win.cpuS)
    def commit(kind: String) = median(writes.filter(_.kind == kind).flatMap(num(_, "write_ms")))
    val rowsWritten = writes.flatMap(num(_, "count")).sum
    m ++= Seq(
      "sources.commit_ms_p50.insert" -> commit("insert"),
      "sources.commit_ms_p50.update" -> commit("update"),
      "sources.commit_ms_p50.delete" -> commit("delete"),
      "sources.readback_ms_p50" -> median(writes.flatMap(num(_, "read_ms"))),
      "sources.files_written_per_commit" -> ratio(writes.flatMap(num(_, "files_written")).sum,
        writes.size),
      "sources.bytes_written_per_row" -> ratio(writes.flatMap(num(_, "bytes_written")).sum,
        rowsWritten),
      "sources.scan_files_kept_frac" -> ratio(writes.flatMap(num(_, "scan_kept")).sum,
        writes.flatMap(num(_, "scan_total")).sum),
      "sources.head_files" -> extra.get("head_files").map(_.asInstanceOf[Int].toDouble).getOrElse(0.0),
      "trace.spans" -> spans.size.toDouble)
    m.toMap
  }
}
