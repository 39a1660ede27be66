package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** naqed-style nested-object query API (the reference's signature
  * surface, SURVEY.md §1/§3.2 EP2) compiled to DataFrame join programs.
  *
  * Shape, mirroring the reference's plain-object queries:
  * {{{
  * new Naqed(spark, sfDir).request("customer", Map(
  *   "$c_mktsegment" -> "BUILDING",      // $key   = argument filter
  *   "c_name"        -> true,            // truthy = select field
  *   "balance_tier"  -> true,            // resolver-backed field
  *   "nation" -> Map(                    // nested  = FK traversal
  *     "n_name" -> true,
  *     "region" -> Map("r_name" -> true)),
  *   "orders" -> Map(                    // reverse FK = array of rows
  *     "$min_o_totalprice" -> 300000.0,
  *     "o_orderkey" -> true)))
  * }}}
  *
  * Many-to-one relations become struct columns; one-to-many relations
  * become sorted arrays of structs (naqed's `[Type]` fields). Resolvers
  * are named column programs with optional arguments — the Spark-native
  * re-expression of naqed's `(args, context) => value` functions — and
  * are REGISTERED PER INSTANCE (naqed's core extensibility: the spec
  * author supplies them):
  * {{{
  * naqed.resolver("customer", "debt_flag", Some("BOOL"))(_ => col("c_acctbal") < 0)
  * naqed.resolverWithArgs("orders", "is_big", Set("cutoff"), Some("BOOL"))(
  *   (args, _) => col("o_totalprice") >= lit(args.getOrElse("cutoff", 1e5)))
  * naqed.request("orders", Map("is_big" -> Map("$cutoff" -> 2e5), ...))
  * }}}
  * Registration is validated naqed-style (unknown table, field/relation
  * collision, program must analyze, declared result type must match);
  * unknown fields and unknown resolver arguments fail analysis with
  * errors listing the valid set (the reference type-checks queries
  * against the spec).
  */
class Naqed(spark: SparkSession, sfDir: String) {
  import Naqed._

  /** Per-thread table override used by [[subscribe]] — a
    * DynamicVariable, NOT a session-global mount, so a concurrent
    * `request` on another thread never observes the streaming binding
    * (a batch query resolving a streaming source fails at action
    * time). */
  private val boundSource =
    new scala.util.DynamicVariable[Option[(String, DataFrame)]](None)

  def table(name: String): DataFrame =
    boundSource.value match {
      case Some((n, df)) if n == name => df
      case _ => Tables(spark, sfDir, name)
    }

  // ---- per-instance resolver registration (naqed's extensibility
  // surface: the spec author supplies arbitrary resolver functions) ----

  /** A registered field resolver: the column program, its declared
    * `$`-argument names (empty = plain), and an optional declared naqed
    * result type checked against what the program actually resolves. */
  private case class Resolver(fn: (Map[String, Any], DataFrame) => Column,
      args: Set[String], returns: Option[String])

  private val instanceResolvers =
    scala.collection.concurrent.TrieMap[(String, String), Resolver]()

  /** Register a plain resolver: `field` on `table` computed by `fn`
    * over the table's columns (naqed's `(context) => value` function as
    * a column program). Validated at registration, naqed-style: the
    * table must exist, the name must not shadow a declared field or
    * relation, the program must analyze against the table, and — when
    * `returns` declares a naqed scalar type — the resolved Spark type
    * must satisfy it. Returns `this` for chained registration. */
  def resolver(table: String, field: String, returns: Option[String] = None)
      (fn: DataFrame => Column): this.type =
    resolverWithArgs(table, field, Set.empty, returns)((_, df) => fn(df))

  /** Register a `$`-args-aware resolver (naqed's `(args, context) =>
    * value`). `args` declares the accepted argument names (without the
    * `$`); a query invokes it as `field -> Map("$arg" -> v, ...)` and
    * unknown arguments fail analysis listing the declared set. The
    * result-type check runs per query (the args shape the column). */
  def resolverWithArgs(table: String, field: String, args: Set[String],
      returns: Option[String] = None)
      (fn: (Map[String, Any], DataFrame) => Column): this.type = {
    if (!Naqed.specs.contains(table))
      throw new IllegalArgumentException(
        s"unknown table '$table'; tables: ${Naqed.specs.keys.toSeq.sorted.mkString(", ")}")
    if (Naqed.specs(table).contains(field))
      throw new IllegalArgumentException(
        s"resolver '$field' collides with a declared field on '$table'; " +
          s"fields: ${Naqed.specs(table).keys.toSeq.sorted.mkString(", ")}")
    val rels = (Naqed.forward.keys ++ Naqed.reverse.keys)
      .collect { case (t, r) if t == table => r }.toSet
    if (rels.contains(field))
      throw new IllegalArgumentException(
        s"resolver '$field' collides with relation '$field' on '$table'")
    returns.filterNot(Naqed.knownTypes.contains).foreach(r =>
      throw new IllegalArgumentException(
        s"unknown result type '$r' for resolver '$field'; " +
          s"types: ${Naqed.knownTypes.toSeq.sorted.mkString(", ")}"))
    // plain resolvers type-check NOW (analysis only, no job): naqed
    // rejects a bad spec at registration, not first use
    if (args.isEmpty) resolvedType(table, field, fn(Map.empty, this.table(table)))
      .foreach(dt => checkReturns(table, field, returns, dt))
    instanceResolvers((table, field)) = Resolver(fn, args, returns)
    this
  }

  /** Analysis-time type of `c` selected over `table`, as a naqed-style
    * error if the program doesn't analyze. */
  private def resolvedType(table: String, field: String, c: Column) = {
    try Some(this.table(table).select(c.as(field)).schema.head.dataType)
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"resolver '$field' on '$table' does not analyze: ${e.getSimpleMessage}")
    }
  }

  private def checkReturns(table: String, field: String,
      returns: Option[String], dt: org.apache.spark.sql.types.DataType): Unit =
    returns.filterNot(Naqed.typeCheck(_, dt)).foreach(declared =>
      throw new IllegalArgumentException(
        s"resolver '$field' on '$table' declared $declared but resolved " +
          dt.simpleString))

  /** Resolve a registered field for a query, validating `$`-args and
    * the declared result type. */
  private def resolved(tname: String, k: String, rawArgs: Map[String, Any],
      df: DataFrame): Column = {
    val r = instanceResolvers((tname, k))
    val args = rawArgs.map { case (a, v) => a.drop(1) -> v }
    args.keys.filterNot(r.args.contains).toSeq.sorted.headOption.foreach(a =>
      throw new IllegalArgumentException(
        s"unknown argument '$$$a' for resolver '$k' on '$tname'; " +
          (if (r.args.isEmpty) "this resolver takes no arguments"
           else s"arguments: ${r.args.toSeq.sorted.map("$" + _).mkString(", ")}")))
    val c = r.fn(args, df).as(k)
    resolvedType(tname, k, c).foreach(dt => checkReturns(tname, k, r.returns, dt))
    c
  }

  // the compiled-in registry ports onto the instance API: same
  // validated registration path as user resolvers
  Naqed.resolvers.foreach { case ((t, f), fn) => resolver(t, f)(fn) }

  /** Execute a nested query rooted at `root`. Pagination args at the
    * root: `$sort -> "field"` (or `"-field"` for descending; ties
    * broken by the table's key columns so pages are stable) and
    * `$limit -> n`. Inside a one-to-many child, `$limit -> n` keeps
    * the first n collected children per parent (the arrays are
    * deterministically sorted).
    *
    * KEYSET cursor (round 7): `$after` resumes after the last row of
    * the previous page — `$after -> v` restarts strictly after sort
    * value v (skips boundary ties; fine for unique sort keys), and
    * `$after -> Map(sortField -> v, tieKey -> k, ...)` is the exact
    * lexicographic cursor (strictly after THAT row, ties included).
    * This is the only pagination that survives scale: OFFSET page n
    * scans and discards O(n · page) rows on every request, while the
    * keyset predicate is an indexable/min-max-prunable filter — the
    * scan skips straight to the page at any depth. Requires `$sort`
    * (naqed-style error otherwise). */
  /** `$sample -> rate` (0 < rate <= 1): deterministic md5-bucket
    * sampling of the ROOT entity set (ops.Sampling.deterministicSample
    * on the table's first key column) applied BEFORE selections,
    * traversals or aggregation — the API face of the engine's
    * reproducible sampler, so a paged walk, a re-run, or another
    * engine keyed the same way sees the identical sampled SET (rand()
    * sampling through an API is unreproducible by construction).
    * Composes with `$sort`/`$limit`/`$after` and with `$groupBy`
    * (a sampled aggregate — the caller owns the statistics). */
  private def sampleRateOf(v: Any): Double = v match {
    case d: java.lang.Number
      if d.doubleValue() > 0.0 && d.doubleValue() <= 1.0 => d.doubleValue()
    case other => throw new IllegalArgumentException(
      s"$$sample must be a rate in (0, 1], got: $other")
  }

  def request(root: String, q: Map[String, Any]): DataFrame =
    q.get("$sample").map(sampleRateOf) match {
      case None => requestImpl(root, q)
      case Some(rate) =>
        val key = keyColumns(root).headOption.getOrElse(
          throw new IllegalArgumentException(
            s"$$sample needs a keyed table; '$root' declares no key columns"))
        val sampled = graft.ops.Sampling.deterministicSample(
          Tables(spark, sfDir, root), key, rate)
        boundSource.withValue(Some((root, sampled))) {
          requestImpl(root, q - "$sample")
        }
    }

  private def requestImpl(root: String, q: Map[String, Any]): DataFrame = {
    val (sortKey, limitN, afterV, rest) = pageArgs(q)
    val grouped = rest.contains("$groupBy")
    // sorting by a legal-but-unselected table field: co-select it for
    // the orderBy, drop it from the output afterwards. NOT under
    // $groupBy — there the sortable columns ARE the output (group
    // keys + aggregate names), and injecting a selection would trip
    // the no-mixing rule.
    val field = sortKey.map(s => if (s.startsWith("-")) s.drop(1) else s)
    val extra = field.filter(f =>
      !grouped && !rest.contains(f) && table(root).columns.contains(f))
    val compiled = compile(root, rest ++ extra.map(_ -> true))
    // stable pages need deterministic ties: group keys for an
    // aggregation, the table's key columns otherwise
    val ties =
      if (grouped) groupKeysOf(rest("$groupBy")) else keyColumns(root)
    val paged = applyPage(compiled, root, sortKey, limitN, afterV, ties)
    extra.filterNot(f => keyColumns(root).contains(f))
      .fold(paged)(paged.drop(_))
  }

  private def intOf(v: Any): Int = v match {
    case i: Int => i
    // JSON integrals arrive as Long (see requestJson.toScala) — wrap
    // is a caller bug, not a page size
    case l: Long if l >= Int.MinValue && l <= Int.MaxValue => l.toInt
    // non-integral doubles are rejected, not truncated
    case n: java.lang.Number if !n.isInstanceOf[java.lang.Long] &&
      n.doubleValue() == math.floor(n.doubleValue()) &&
      !n.doubleValue().isInfinite => n.intValue()
    case other => throw new IllegalArgumentException(
      s"$$limit must be an integer, got: $other")
  }

  /** intOf + naqed-style validation: limits are page sizes, so they
    * must be non-negative — catching it here yields a request-time
    * error instead of an opaque planner/executor failure (child
    * `slice(col, 1, -n)` would only fail per-row mid-job). */
  private def limitOf(v: Any): Int = {
    val n = intOf(v)
    if (n < 0) throw new IllegalArgumentException(
      s"$$limit must be >= 0, got: $n")
    n
  }

  private def pageArgs(q: Map[String, Any])
      : (Option[String], Option[Int], Option[Any], Map[String, Any]) =
    (q.get("$sort").map(_.toString), q.get("$limit").map(limitOf),
      q.get("$after"), q - "$sort" - "$limit" - "$after")

  /** Group-key list of a `$groupBy` value (field or list of fields). */
  private def groupKeysOf(v: Any): Seq[String] = v match {
    case s: String => Seq(s)
    case xs: Seq[_] => xs.map(_.toString)
    case other => throw new IllegalArgumentException(
      s"$$groupBy must be a field or list of fields, got: $other")
  }

  private def applyPage(df: DataFrame, tname: String,
      sortKey: Option[String], limitN: Option[Int],
      afterV: Option[Any], tieCols: Seq[String]): DataFrame = {
    val cursored = afterV match {
      case None => df
      case Some(av) =>
        val s = sortKey.getOrElse(throw new IllegalArgumentException(
          "$after is a keyset cursor over the $sort order — add $sort"))
        val (field, desc) = if (s.startsWith("-")) (s.drop(1), true) else (s, false)
        if (!df.columns.contains(field))
          throw new IllegalArgumentException(
            s"unknown sort field '$field' on '$tname'; fields: ${df.columns.sorted.mkString(", ")}")
        // Strictly-after under the ACTUAL sort order including its
        // null placement (round-7 ADVICE): Spark sorts desc NULLS
        // LAST / asc NULLS FIRST, and a bare col < lit(v) evaluates
        // to NULL on null rows — a desc cursor walk would silently
        // drop every null-keyed row a one-shot $sort query returns.
        def strictAfter(c: String, v: Any): org.apache.spark.sql.Column =
          if (desc && c == field) {
            // desc NULLS LAST: null rows come after every non-null;
            // a null cursor value is already in the null tail, so
            // nothing is after it on this key (ties page via tie keys)
            if (v == null) lit(false)
            else col(c) < lit(v) || col(c).isNull
          } else {
            // asc NULLS FIRST (sort field or tie key): every non-null
            // is after a null cursor value; null rows are after
            // nothing non-null
            if (v == null) col(c).isNotNull
            else col(c) > lit(v)
          }
        av match {
          case m: Map[_, _] =>
            val cur = m.asInstanceOf[Map[String, Any]]
            if (!cur.contains(field))
              throw new IllegalArgumentException(
                s"$$after cursor must carry the sort field '$field'; got keys ${cur.keys.mkString(", ")}")
            cur.keys.filterNot(k => k == field || tieCols.contains(k)).foreach(k =>
              throw new IllegalArgumentException(
                s"$$after cursor key '$k' is neither the sort field nor a tie key (${tieCols.mkString(", ")})"))
            // supplied tie keys must form a PREFIX of the tie order:
            // a cursor carrying tie2 but omitting tie1 would build a
            // lexicographic predicate over (field, tie2) that
            // disagrees with the actual sort (field, tie1, tie2) and
            // silently skips or repeats rows
            val supplied = tieCols.filter(k => k != field && cur.contains(k))
            val prefix = tieCols.filterNot(_ == field).take(supplied.size)
            if (supplied != prefix)
              throw new IllegalArgumentException(
                s"$$after cursor tie keys must be a prefix of (${tieCols.mkString(", ")}); got (${supplied.mkString(", ")})")
            // lexicographic "strictly after the cursor row": for keys
            // k0=field, k1.., row qualifies iff it differs strictly at
            // the FIRST key where it departs from the cursor. Prefix
            // equality is null-SAFE (<=>): a null cursor component
            // must match null rows, not poison the predicate
            val keys = field +: supplied
            val preds = keys.zipWithIndex.map { case (k, i) =>
              keys.take(i).map(p => col(p) <=> lit(cur(p)))
                .foldLeft(strictAfter(k, cur(k)))((acc, eq) => acc && eq)
            }
            df.filter(preds.reduce(_ || _))
          case v =>
            df.filter(strictAfter(field, v))
        }
    }
    val sorted = sortKey match {
      case Some(s) =>
        val (field, desc) = if (s.startsWith("-")) (s.drop(1), true) else (s, false)
        if (!cursored.columns.contains(field))
          throw new IllegalArgumentException(
            s"unknown sort field '$field' on '$tname'; fields: ${cursored.columns.sorted.mkString(", ")}")
        val key = if (desc) col(field).desc else col(field).asc
        val ties = tieCols.filter(c => c != field && cursored.columns.contains(c)).map(col)
        cursored.orderBy(key +: ties: _*)
      case None => cursored
    }
    limitN.fold(sorted)(sorted.limit)
  }

  /** Wire-compatible entry point: naqed queries are plain JSON objects,
    * so accept them as JSON text — `{"customer": {"$c_mktsegment":
    * "BUILDING", "c_name": true, "nation": {"n_name": true}}}`.
    * Exactly one root key; the nested object is the selection tree. */
  def requestJson(json: String): DataFrame = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    require(root.isObject && root.size() == 1,
      s"naqed query must be a single-rooted object, got: $json")
    val name = root.fieldNames().next()
    def toScala(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) {
        val it = n.fields()
        val b = Map.newBuilder[String, Any]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> toScala(e.getValue)) }
        b.result()
      } else if (n.isArray) {
        val b = Seq.newBuilder[Any]
        n.elements().forEachRemaining(e => b += toScala(e))
        b.result()
      } else if (n.isBoolean) n.asBoolean()
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isNumber) n.asDouble()
      else if (n.isTextual) n.asText()
      else if (n.isNull) null
      else throw new IllegalArgumentException(s"unsupported query node: $n")
    request(name, toScala(root.get(name)).asInstanceOf[Map[String, Any]])
  }

  /** naqed-style subscription: the SAME query tree as `request`,
    * compiled against an unbounded source bound to `root`. Filters
    * (`$`-args), field selections, resolvers and traversals all lower
    * to stream-compatible plans: a many-to-one traversal becomes a
    * stream-static dimension join, and a one-to-many traversal (r6)
    * becomes a STATIC-side pre-aggregation — the child table is never
    * the streamed source (only the root binds to the stream), so its
    * sorted struct arrays are built as a batch subplan and joined
    * stream-static per micro-batch, with ZERO streaming state. (That
    * is why the pre-r6 "unbounded state" rejection was wrong: state
    * would only be unbounded if the CHILD were the stream.)
    * `$groupBy`/`$agg` over the streamed root (round-8) compile to a
    * WATERMARKED streaming aggregation: the query must declare
    * `"$watermark" -> "<timeCol>:<delay>"` (e.g. `"ts:10 minutes"`)
    * — without one the grouped state would be unbounded and the query
    * is rejected at subscribe time with that exact guidance. An
    * optional `"$window" -> "<timeCol>:<duration>"` adds an
    * event-time tumbling window as a leading group key (output column
    * `window`), which is what makes the state EVICTABLE: the store
    * drops a window's rows once the watermark passes its end, so
    * state is bounded by (groups alive per watermark horizon), not by
    * the stream's lifetime. Without `$window` the per-group state is
    * bounded only by group-key cardinality (fine for enum-like keys;
    * the caller's responsibility) and the sink must run in
    * update/complete mode; with `$window`, append mode emits each
    * window once finalized — the same contract as Spark's native
    * windowed aggregation, because it IS one. Returns a streaming
    * DataFrame ready for `writeStream`. The streaming binding is a
    * per-thread DynamicVariable scoped to this compilation, so it
    * never leaks into `request` calls — including concurrent ones on
    * other threads. */
  def subscribe(root: String, q: Map[String, Any], source: DataFrame): DataFrame = {
    require(source.isStreaming,
      s"subscribe('$root') needs a readStream source; use request() for batch queries")
    if (q.contains("$sort") || q.contains("$limit") || q.contains("$after"))
      throw new IllegalArgumentException(
        "$sort/$limit/$after are batch pagination args; a subscription is " +
          "unbounded and append-ordered — page the sink, not the stream")
    if (q.contains("$sample"))
      throw new IllegalArgumentException(
        "$sample is a batch directive over a keyed entity set; sample the " +
          "stream with a deterministic key filter in the source query")
    if (q.contains("$groupBy") || q.contains("$agg")) {
      if (!q.contains("$groupBy"))
        throw new IllegalArgumentException(
          "$agg on a subscription needs $groupBy (a global aggregate has no " +
            "emit key); group by a field, or aggregate in the sink")
      val wm = q.get("$watermark").map(_.toString).getOrElse(
        throw new IllegalArgumentException(
          "$groupBy/$agg aggregate the whole stream — unbounded state on a " +
            "subscription unless bounded by a watermark: declare " +
            "\"$watermark\" -> \"<timeCol>:<delay>\" (e.g. \"ts:10 minutes\"), " +
            "optionally \"$window\" -> \"<timeCol>:<duration>\" for evictable " +
            "windowed state; or use request() for batch aggregation"))
      val (wmCol, wmDelay) = timeSpecOf("$watermark", wm)
      if (!source.columns.contains(wmCol))
        throw new IllegalArgumentException(
          s"$$watermark column '$wmCol' is not on the streamed source; " +
            s"columns: ${source.columns.sorted.mkString(", ")}")
      val winKey = q.get("$window").map(_.toString).map { ws =>
        val (wc, dur) = timeSpecOf("$window", ws)
        if (!source.columns.contains(wc))
          throw new IllegalArgumentException(
            s"$$window column '$wc' is not on the streamed source; " +
              s"columns: ${source.columns.sorted.mkString(", ")}")
        window(col(wc), dur).as("window")
      }
      val bound = source.withWatermark(wmCol, wmDelay)
      return boundSource.withValue(Some((root, bound)))(
        compileAggregate(root, q - "$watermark" - "$window", winKey.toSeq))
    }
    if (q.contains("$watermark") || q.contains("$window"))
      throw new IllegalArgumentException(
        "$watermark/$window only apply to $groupBy subscriptions; plain " +
          "selections stream stateless")
    boundSource.withValue(Some((root, source)))(compile(root, q))
  }

  /** Subscribe to a versioned table's ROW-LEVEL CHANGES (round 9):
    * the same query tree as [[request]] applied to each committed
    * version's change feed — naqed subscriptions riding mutations.
    * `tname` must be a declared table name (so FK traversals and
    * resolvers resolve against the shared catalog); the change rows
    * of the versioned table at `root` stand in for it per micro-batch
    * and additionally expose `_change_type` / `_commit_version` as
    * selectable fields. Delivery is
    * [[graft.sources.VersionedTable.changeFeedStream]]'s: one
    * micro-batch per committed version, exactly-once across restarts
    * when `sink` is idempotent on its batchId. Pagination/sampling
    * args are rejected with the same guidance as [[subscribe]]. */
  def subscribeChanges(tname: String, q: Map[String, Any], root: String,
      keys: Seq[String], checkpointDir: String)(
      sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    Seq("$sort", "$limit", "$after", "$sample", "$groupBy", "$agg").foreach(k =>
      if (q.contains(k)) throw new IllegalArgumentException(
        s"$k is a batch directive; a change subscription delivers each " +
          "version's rows once — page/aggregate in the sink"))
    graft.sources.VersionedTable.changeFeedStream(spark, root, keys,
      checkpointDir) { (feed, bid) =>
      sink(boundSource.withValue(Some((tname, feed)))(compile(tname, q)), bid)
    }
  }

  /** "<timeCol>:<duration>" → (col, duration), naqed-style error. */
  private def timeSpecOf(arg: String, v: String): (String, String) =
    v.split(":", 2) match {
      case Array(c, s) if c.nonEmpty && s.trim.nonEmpty => (c, s.trim)
      case _ => throw new IllegalArgumentException(
        s"$arg must be \"<timeCol>:<duration>\" (e.g. \"ts:10 minutes\"), got: '$v'")
    }

  /** Validate + coerce naqed mutation rows into a typed DataFrame.
    * Schema check up-front, per row: unknown fields are errors, absent
    * fields are only legal when nullable, and every present value must
    * fit the declared Spark type (with numeric widening) — a bad row
    * fails HERE with a naqed-style message, not opaquely at execution. */
  private def rowsToDf(tname: String,
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[Map[String, Any]]): DataFrame = {
    val unknown = rows.flatMap(_.keys).distinct.filterNot(schema.fieldNames.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown fields ${unknown.mkString(", ")} on '$tname'")
    val data = rows.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(schema.fields.map { f =>
        r.get(f.name) match {
          case None | Some(null) if f.nullable => null
          case None | Some(null) => throw new IllegalArgumentException(
            s"row $i: missing required field '$tname.${f.name}' (${f.dataType.simpleString})")
          case Some(v) => Naqed.coerce(v, f, tname, i)
        }
      }.toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data.toList), schema)
  }

  /** Full naqed mutation parity over VERSIONED tables (naqed mutations
    * are arbitrary resolvers, not just inserts). Each "~<table>" key
    * maps to ONE of:
    *
    *   - `Seq(row, ...)` — INSERT: each row a field -> value map,
    *     schema-checked against the table, committed by
    *     `VersionedTable.append`;
    *   - `Map("$set" -> Map(field -> value), <arg filters>)` — UPDATE:
    *     the same `$`-argument convention as queries selects the rows
    *     (`$min_x`, `$max_x`, `$like_x`, `$x`), `$set` assigns typed
    *     values via the declared-schema coercion used for inserts;
    *     lowered to `VersionedTable.merge` keyed by the table's keys
    *     (merge-on-read: the matched rows' old copies are marked in
    *     their files' deletion vectors and the updated rows land as one
    *     new file), so readers see old or new snapshot, never a torn
    *     write;
    *   - `Map("$delete" -> true, <arg filters>)` — DELETE: lowered to
    *     `VersionedTable.deleteWhere` (min/max-pruned probe; the
    *     matching rows join their files' deletion vectors, no data
    *     file is written).
    *     A filter is REQUIRED — an unfiltered delete needs an explicit
    *     `"$where" -> "true"`. `$where` accepts a raw SQL predicate
    *     AND-ed with the arg filters in both update and delete.
    *
    * The versioned table lives at `rootDir/<table>` and is seeded from
    * the source table on first mutation (the read-only testdata dir is
    * never written). Returns rows inserted/updated/deleted per key.
    * Unknown fields/args and type mismatches fail naqed-style, naming
    * the field and the valid alternatives. */
  def mutateVersioned(q: Map[String, Any], rootDir: String): Map[String, Long] = {
    import graft.sources.VersionedTable
    q.map {
      case (key, body) if key.startsWith("~") =>
        val tname = key.drop(1)
        val root = s"$rootDir/$tname"
        if (VersionedTable.versions(spark, root).isEmpty)
          VersionedTable.create(spark, root, table(tname))
        val current = VersionedTable.read(spark, root)
        val schema = current.schema
        val cols = schema.fieldNames.toSet

        def argFilters(m: Map[String, Any]): Seq[(String, (Column, Any) => Column, Any, String)] =
          m.collect {
            case (k, v) if k.startsWith("$") &&
                k != "$set" && k != "$delete" && k != "$where" =>
              val (colName, op) = argTarget(k.drop(1))
              if (!cols.contains(colName))
                throw new IllegalArgumentException(
                  s"unknown argument field '$colName' on '$tname'; " +
                    s"fields: ${cols.toSeq.sorted.mkString(", ")}")
              (colName, op, v, k.drop(1))
          }.toSeq

        /** The same filter as SQL text, for deleteWhere's predicate
          * pruning path. */
        def sqlLit(v: Any): String = v match {
          case s: String => "'" + s.replace("'", "''") + "'"
          case b: Boolean => b.toString
          case n: java.lang.Number => n.toString
          // temporal filters must work symmetrically for $set and
          // $delete (round-5 advice): serialize to ANSI literals
          case t: java.sql.Timestamp => s"TIMESTAMP '${t.toString}'"
          case d: java.sql.Date => s"DATE '${d.toString}'"
          case other => throw new IllegalArgumentException(
            s"unsupported literal in delete filter: $other (${other.getClass.getSimpleName})")
        }
        def sqlPred(filters: Seq[(String, (Column, Any) => Column, Any, String)],
            where: Option[String]): String = {
          val parts = filters.map { case (c, _, v, raw) =>
            if (raw.startsWith("min_")) s"$c >= ${sqlLit(v)}"
            else if (raw.startsWith("max_")) s"$c <= ${sqlLit(v)}"
            else if (raw.startsWith("like_")) s"$c LIKE ${sqlLit(v)}"
            else s"$c = ${sqlLit(v)}"
          } ++ where.map(w => s"($w)")
          if (parts.isEmpty) throw new IllegalArgumentException(
            s"'~$tname' delete needs a filter ($$-args or $$where); " +
              "pass \"$where\" -> \"true\" to delete every row")
          parts.mkString(" AND ")
        }

        key -> (body match {
          case rows: Seq[_] =>
            val df = rowsToDf(tname, schema,
              rows.map(_.asInstanceOf[Map[String, Any]]))
            VersionedTable.append(spark, root, df)
            rows.length.toLong

          case m: Map[_, _] if m.asInstanceOf[Map[String, Any]].contains("$set") =>
            val mm = m.asInstanceOf[Map[String, Any]]
            val sets = mm("$set") match {
              case sm: Map[_, _] if sm.nonEmpty => sm.asInstanceOf[Map[String, Any]]
              case _ => throw new IllegalArgumentException(
                s"'~$tname' $$set must be a non-empty map of field -> value")
            }
            sets.keys.filterNot(cols.contains).toSeq.sorted.headOption.foreach(f =>
              throw new IllegalArgumentException(
                s"unknown field '$f' in $$set on '$tname'; " +
                  s"fields: ${cols.toSeq.sorted.mkString(", ")}"))
            val keyCols = Naqed.keyColumns(tname)
            require(keyCols.nonEmpty, s"no declared keys for '$tname' — cannot update")
            sets.keys.find(keyCols.contains).foreach(f =>
              throw new IllegalArgumentException(
                s"$$set cannot assign key field '$f' on '$tname' (delete + insert instead)"))
            val filters = argFilters(mm)
            val where = mm.get("$where").map(_.toString)
            if (filters.isEmpty && where.isEmpty)
              throw new IllegalArgumentException(
                s"'~$tname' update needs a filter ($$-args or $$where); " +
                  "pass \"$where\" -> \"true\" to update every row")
            val matchedPred = (filters.map { case (c, op, v, _) => op(col(c), v) } ++
              where.map(expr)).reduce(_ && _)
            val matched = current.filter(matchedPred)
            val updates = sets.foldLeft(matched) { case (df, (f, v)) =>
              val field = schema(f)
              if (field.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
                throw new IllegalArgumentException(
                  s"$$set on array field '$tname.$f' is not supported; " +
                    "delete + insert the row instead")
              if (v == null) {
                // coerce's fallthrough would NPE; null is legal exactly
                // when the schema says the field is nullable
                if (!field.nullable) throw new IllegalArgumentException(
                  s"$$set cannot assign NULL to non-nullable field '$tname.$f'")
                df.withColumn(f, lit(null).cast(field.dataType))
              } else {
                val coerced = Naqed.coerce(v, field, tname, 0)
                df.withColumn(f, lit(coerced).cast(field.dataType))
              }
            }.select(schema.fieldNames.map(col).toSeq: _*)
            val n = matched.count()
            if (n > 0) VersionedTable.merge(spark, root, updates, keyCols)
            n

          case m: Map[_, _] if m.asInstanceOf[Map[String, Any]].get("$delete").contains(true) =>
            val mm = m.asInstanceOf[Map[String, Any]]
            val pred = sqlPred(argFilters(mm), mm.get("$where").map(_.toString))
            val (_, _, _, deleted) = VersionedTable.deleteWhere(spark, root, pred)
            deleted

          case m: Map[_, _] =>
            throw new IllegalArgumentException(
              s"'~$tname' mutation map must contain $$set (update) or " +
                s"$$delete -> true; got keys: ${m.keys.mkString(", ")}")
          case other =>
            throw new IllegalArgumentException(
              s"'~$tname' expects rows (insert) or a $$set/$$delete map, got: $other")
        })
      case (key, _) =>
        throw new IllegalArgumentException(
          s"mutation keys must be '~'-prefixed table names, got '$key'")
    }
  }

  /** The one `$`-argument decoder of the directive verbs: any key of
    * `q` outside `known` fails analysis naqed-style, listing the valid
    * set, and each typed reader names the argument it rejects. */
  private final class Args(verb: String, q: Map[String, Any], known: String*) {
    private val unknown = q.keys.filterNot(known.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown $verb arguments ${unknown.mkString(", ")}; " +
          s"valid: ${known.sorted.mkString(", ")}")

    private def bad(k: String, wants: String, got: Any) =
      throw new IllegalArgumentException(s"$k expects $wants, got $got")

    def num(k: String, dflt: Double): Double = q.get(k) match {
      case Some(n: Number) => n.doubleValue()
      case Some(other) => bad(k, "a number", other)
      case None => dflt
    }

    def int(k: String, dflt: Int): Int = num(k, dflt).toInt

    def positiveLong(k: String): Option[Long] = q.get(k).map {
      case n: Number if n.longValue() > 0 => n.longValue()
      case other => bad(k, "a positive number", other)
    }

    /** `$k` as one of `choices`, `dflt` when absent. */
    def oneOf(k: String, choices: Seq[String], dflt: String): String =
      q.get(k) match {
        case Some(s: String) if choices.contains(s) => s
        case Some(other) => throw new IllegalArgumentException(
          s"unknown $verb ${k.stripPrefix("$")} '$other'; " +
            s"valid: ${choices.mkString(", ")}")
        case None => dflt
      }

    def numMap(k: String): Option[Map[String, Number]] = q.get(k).map {
      case m: Map[_, _] => m.map {
        case (name: String, n: Number) => name -> n
        case (name, v) => bad(k, "Map(name -> number)", s"$name -> $v")
      }
      case other => bad(k, "Map(name -> number)", other)
    }

    /** Rejects `$k` unless `$action` is one of `actions`. */
    def onlyWith(action: String, k: String, actions: String*): Unit =
      if (q.contains(k) && !actions.contains(action))
        throw new IllegalArgumentException(
          s"$k only applies to $$action -> ${actions.mkString(" or ")}")

    /** The `$checks` list: a non-empty selection of distinct names
      * from `all`, or all of them when absent. */
    def checks(all: Seq[String]): Seq[String] = q.get("$checks") match {
      case Some(xs: Seq[_]) if xs.nonEmpty =>
        xs.find(x => !all.contains(x)).foreach(x =>
          throw new IllegalArgumentException(
            s"unknown $verb check '$x'; valid: ${all.mkString(", ")}"))
        xs.diff(xs.distinct).headOption.foreach(x =>
          throw new IllegalArgumentException(
            s"$verb check '$x' is repeated in $$checks"))
        xs.map(_.toString)
      case Some(other) => throw new IllegalArgumentException(
        s"$$checks expects a non-empty list of check names " +
          s"(${all.mkString(", ")}), got $other")
      case None => all
    }
  }

  /** The one `$checks` report: the selected checks' relations in one
    * long-format (check, metric, value) DataFrame, so callers can
    * union/pivot it like any other relation. Each check IS its
    * oracle-checked operator, so the API cannot drift from the verified
    * semantics (NaqedSpec pins value equality with the direct ops).
    * Unknown arguments, unknown or repeated check names and an empty
    * `$checks` fail analysis naqed-style. */
  private def checksReport(verb: String, q: Map[String, Any],
      table: Check*): DataFrame =
    new Args(verb, q, "$checks").checks(table.map(_.name)).map { name =>
      val c = table.find(_.name == name).get
      val df = c.op(spark, sfDir)
      val cols = df.columns.filterNot(c.key.contains)
      val metric = c.key.fold(col("m"))(k =>
        concat_ws("_", col("m"), concat(lit(c.prefix), col(k).cast("string"))))
      df.select(c.key.map(col).toSeq :+ expr(s"stack(${cols.length}, " +
          cols.map(m => s"'$m', cast(`$m` AS STRING)").mkString(", ") + ")")
          .as(Seq("m", "value")): _*)
        .select(lit(name).as("check"), metric.as("metric"), col("value"))
    }.reduce(_ unionByName _)

  /** Curation directive (naqed resolver-with-args style): the corpus
    * pipeline (ops.Curation: quality -> exact dedup -> near dedup ->
    * rebalance -> split) driven through the same `$`-argument
    * convention as queries. Returns (train, test, report) — report as
    * a single-row DataFrame so the whole surface stays DataFrame-
    * valued. Unknown arguments fail analysis naqed-style. */
  def curate(q: Map[String, Any] = Map.empty): (DataFrame, DataFrame, DataFrame) = {
    val a = new Args("curation", q,
      "$min_tokens", "$max_stop_ratio", "$fractions", "$test_fraction")
    val (train, test, rep) = graft.ops.Curation.curate(spark, sfDir,
      minTokens = a.int("$min_tokens", 5),
      maxStopRatio = a.num("$max_stop_ratio", 0.9),
      fractions = a.numMap("$fractions").fold(Map.empty[String, Double])(
        _.map { case (lang, f) => lang -> f.doubleValue() }),
      testFraction = a.num("$test_fraction", 0.1))
    import spark.implicits._
    (train, test, Seq(rep).toDS().toDF())
  }

  /** Integrity-audit directive (round 10): the §2.33 money-movement
    * forensics as one [[checksReport]] — `$checks` selects from
    * {duplicates, round_numbers, splits} (default: all three). */
  def audit(q: Map[String, Any] = Map.empty): DataFrame = {
    import graft.ops.Relational._
    checksReport("audit", q,
      Check("duplicates", aggDuplicatePaymentAudit),
      Check("round_numbers", aggRoundNumberBias),
      Check("splits", aggSplitTransactionDetect))
  }

  /** Experiment-readout directive (round 11): the §2.36 A/B readout a
    * platform runs in order, as one [[checksReport]] — `srm`
    * (unit-count guardrail), `balance` (pre-period SMD), `welch` (the
    * primary difference-of-means test), `cuped` (covariate-adjusted
    * means + variance reduction), `ratio_ci` (delta-method CI for
    * revenue/order at the customer unit). The per-arm checks key their
    * metrics on the arm (`<col>_arm<arm>`). */
  def experiment(q: Map[String, Any] = Map.empty): DataFrame = {
    import graft.ops.Relational._
    checksReport("experiment", q,
      Check("srm", aggSrmCheck),
      Check("balance", aggCovariateBalance),
      Check("welch", aggWelchTtest),
      Check("cuped", aggCupedAdjust, Some("arm"), "arm"),
      Check("ratio_ci", aggRatioDeltaCi, Some("arm"), "arm"))
  }

  /** Forecasting & guardrail directive (round 12): the §2.37 family as
    * one [[checksReport]] — `$checks` selects from {holt_winters,
    * poisson_rate, cusum}. The 7-step forecast keys its metrics on the
    * horizon h, the CUSUM top-20 on the day. */
  def forecast(q: Map[String, Any] = Map.empty): DataFrame =
    checksReport("forecast", q,
      Check("holt_winters", graft.ops.TimeSeries.tsHoltWinters, Some("h")),
      Check("poisson_rate", graft.ops.Relational.aggPoissonRateTest),
      Check("cusum", graft.ops.TimeSeries.tsCusumTop, Some("dt")))

  /** Retrieval-eval directive (round 12): the retrieval-quality stack
    * as one [[checksReport]] — `$checks` selects from {ndcg, mrr, map,
    * rrf, rbo}. Per-probe relations key the metric on the probe id,
    * the fused ranking on the doc. */
  def retrieval(q: Map[String, Any] = Map.empty): DataFrame = {
    import graft.ops.TextSim._
    checksReport("retrieval", q,
      Check("ndcg", simNdcgAt10, Some("pid")),
      Check("mrr", simMrrAt10, Some("pid")),
      Check("map", simMapAt10, Some("pid")),
      Check("rrf", simRrfFusion, Some("doc_id")),
      Check("rbo", simRboRankings, Some("pid")))
  }

  /** PII & corpus-cleanse directive (round 13): the §2.46 transforms
    * behind the `$`-argument convention. `$action` selects:
    *  - `"profile"` (default): the per-source PII census over the
    *    ACTUAL corpus text (ops.Curation.piiProfile — same detector
    *    patterns as the oracle-checked pipeline_pii_profile, so the
    *    API cannot drift from verified regex semantics);
    *  - `"redact"`: the corpus with every detector match masked
    *    (ops.Curation.redactPii — idempotent, CurationSpec);
    *  - `"excise"`: the corpus rewritten with every ≥`$min_tokens`
    *    (default 12) cross-doc verbatim span removed on the
    *    greater-doc side (ops.Curation.exciseSpans — the Lee-et-al
    *    rewrite; span semantics oracle-checked via
    *    pipeline_span_excised_tokens).
    * Unknown arguments/actions fail analysis naqed-style. */
  def pii(q: Map[String, Any] = Map.empty): DataFrame = {
    val a = new Args("pii", q, "$action", "$min_tokens")
    val action = a.oneOf("$action", Seq("profile", "redact", "excise"), "profile")
    val minTok = a.int("$min_tokens", 12)
    a.onlyWith(action, "$min_tokens", "excise")
    action match {
      case "profile" =>
        graft.ops.Curation.piiProfile(graft.Tables(spark, sfDir, "documents"))
      case "redact" =>
        graft.ops.Curation.redactPii(graft.Tables(spark, sfDir, "documents"))
      case "excise" =>
        graft.ops.Curation.exciseSpans(spark, sfDir, minTok)
    }
  }

  /** Embedding near-dedup directive (naqed resolver-with-args style):
    * the curation stage for embedding-carrying corpora
    * (ops.Curation.annNearDedup), driven through the `$`-argument
    * convention. Default is `$path -> "auto"` — a one-probe cost-based
    * switch at the measured SCALING.md crossover (exact block-grid
    * below ~50k items where it is both cheaper and recall-1.0, the
    * FIXED-nprobe ANN pipeline — the measured α-1.33 scale path —
    * above it); `$path -> "exact"|"ann"` pins a side, and
    * `$path -> "ann_adaptive"` opts into the density-adaptive IVFADC
    * variant (recall knob; measured α 2.08 — never chosen by auto).
    * The retired `$exact` boolean alias of `$path` fails as an unknown
    * argument. `$mass_factor` widens adaptive probing, `$margin` widens
    * the PQ-code prefilter band, `$n_cells` sizes the IVF grid.
    * Returns the kept corpus. Unknown arguments fail analysis
    * naqed-style. */
  def nearDedupEmbeddings(q: Map[String, Any] = Map.empty): DataFrame = {
    val a = new Args("near-dedup", q, "$n_cells", "$mass_factor", "$margin", "$path")
    val path = a.oneOf("$path", Seq("auto", "exact", "ann", "ann_adaptive"), "auto")
    graft.ops.Curation.annNearDedup(spark, sfDir, table("embeddings"),
      idCol = "vec_id",
      nCells = a.int("$n_cells", 16),
      massFactor = a.num("$mass_factor", 8.0),
      margin = a.num("$margin", 0.05),
      path = path)
  }

  /** Crawl-hygiene directive (round 14, the `pii` precedent): the
    * §2.51–§2.52 stack — HTML extraction → mojibake repair → NFC
    * normalization → URL-keyed dedup → boilerplate-line strip →
    * quality gate → PII redaction — run as ONE reported pipeline
    * (ops.Curation.crawl). `$action -> "clean"` (default) returns the
    * cleaned corpus; `$action -> "report"` returns the stage-count
    * report as a (stage, n_docs) DataFrame in stage order — each row
    * value-equal to running the corresponding Curation stage alone
    * (NaqedSpec pins both). `$min_tokens` / `$max_stop_ratio` tune the
    * quality gate. `$action -> "export"` (round 15) runs the clean
    * pipeline and packs the result into deterministic fixed-budget
    * training shards (ops.Export): returns the shard MANIFEST; when
    * `$out -> dir` is supplied the shards are also written as
    * hive-partitioned parquet (`$budget` tokens per shard, default
    * 2048). `$action -> "lm_gate"` drops cleaned docs above `$max_nll`
    * (default 3.5); `$action -> "mix"` draws a `$budget`-token source
    * mixture weighted by `$weights`. An argument given with another
    * action, and any unknown argument, fails analysis naqed-style. */
  def crawl(q: Map[String, Any] = Map.empty): DataFrame = {
    val a = new Args("crawl", q, "$action", "$min_tokens", "$max_stop_ratio",
      "$budget", "$out", "$max_nll", "$weights")
    val action = a.oneOf("$action",
      Seq("clean", "report", "export", "lm_gate", "mix"), "clean")
    a.onlyWith(action, "$budget", "export", "mix")
    a.onlyWith(action, "$out", "export")
    a.onlyWith(action, "$max_nll", "lm_gate")
    a.onlyWith(action, "$weights", "mix")
    val minTok = a.int("$min_tokens", 5)
    val maxStop = a.num("$max_stop_ratio", 0.9)
    val budget = a.positiveLong("$budget")
    val maxNll = a.num("$max_nll", 3.5)
    val weights = a.numMap("$weights")
    if (weights.exists(_.isEmpty))
      throw new IllegalArgumentException("$weights must not be empty")
    if (action == "mix" && budget.isEmpty)
      throw new IllegalArgumentException(
        "$action -> mix requires $budget (total tokens)")
    val docs = graft.Tables(spark, sfDir, "documents")
    // pure-transform path: no report counts, no persists
    lazy val cleaned = graft.ops.Curation.crawl(docs, "text", minTok, maxStop,
      withReport = false)._1
    action match {
      case "clean" => cleaned
      case "report" =>
        val rep = graft.ops.Curation.crawl(docs, "text", minTok, maxStop)._2.get
        import spark.implicits._
        Seq(("input", rep.input),
          ("url_deduped", rep.urlDeduped),
          ("non_empty_after_boilerplate", rep.nonEmptyAfterBoilerplate),
          ("after_quality", rep.afterQuality),
          ("pii_masked_docs", rep.piiMaskedDocs))
          .toDF("stage", "n_docs")
      case "export" =>
        val perShard = budget.getOrElse(2048L)
        q.get("$out") match {
          case Some(dir: String) =>
            // the query-facing export REFUSES an existing non-empty
            // target (round-16 advice): a user-supplied path must not
            // be silently clobbered from the object API; the internal
            // Export.exportShards keeps Overwrite for callers that
            // manage their own directories (re-export determinism
            // tests, ExportSpec)
            val p = new org.apache.hadoop.fs.Path(dir)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p) && fs.listStatus(p).nonEmpty)
              throw new IllegalArgumentException(
                s"$$out path already exists and is non-empty: $dir — " +
                  "refusing to overwrite; export to a fresh directory")
            graft.ops.Export.exportShards(cleaned, dir, perShard)
          case Some(other) => throw new IllegalArgumentException(
            s"$$out expects a directory path string, got $other")
          case None =>
            graft.ops.Export.manifest(
              graft.ops.Export.assignShards(cleaned, perShard))
        }
      case "lm_gate" =>
        // perplexity gate (round 16): drop docs whose mean bigram KN
        // NLL exceeds $max_nll — the SAME train-bucket LM and doc
        // scoring as pipeline_kneser_ney_nll (one formula, no drift;
        // Curation.lmFilter)
        graft.ops.Curation.lmFilter(cleaned,
          graft.ops.Pipelines.knTrainOn(docs), maxNll)
      case "mix" =>
        // weighted token-budgeted source mixture (round 16):
        // Curation.mixByTokens over $budget total tokens, weight 1 for
        // sources $weights does not list; returns the per-source
        // MANIFEST
        val weightCol = weights.getOrElse(Map.empty).foldLeft(lit(1L)) {
          case (acc, (src, n)) =>
            when(col("source") === src, lit(n.longValue())).otherwise(acc)
        }
        graft.ops.Curation.mixByTokens(cleaned, budget.get, weightCol)._2
    }
  }

  /** Aggregation directive: `$groupBy -> field | Seq(fields)` plus
    * `$agg -> Map(outName -> "count" | "fn:field")` with fn in
    * {count, sum, min, max, avg, count_distinct, median, stddev,
    * p0–p100 (exact interpolated percentile, e.g. "p95:value")}.
    * `$`-arg filters at
    * the same level apply BEFORE grouping; `$having -> Map("$min_n" ->
    * 5, ...)` (round 8) applies the same `$`-condition convention to
    * the AGGREGATE OUTPUTS and group keys AFTER grouping — the HAVING
    * clause of the object API. Plain field selections and relation
    * traversals don't mix with aggregation (naqed-style error). The
    * naqed analytics surface alongside selection queries. */
  private def compileAggregate(tname: String, q: Map[String, Any],
      extraKeys: Seq[Column] = Nil): DataFrame = {
    var df = table(tname)
    val cols = df.columns.toSet
    val keys = groupKeysOf(q("$groupBy"))
    keys.filterNot(cols.contains).foreach(k =>
      throw new IllegalArgumentException(
        s"unknown group field '$k' on '$tname'; fields: ${cols.toSeq.sorted.mkString(", ")}"))
    val aggSpec = q.getOrElse("$agg", Map("n" -> "count")) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]].view.mapValues(_.toString).toMap
      case other => throw new IllegalArgumentException(
        s"$$agg must be a map of outputName -> aggregate, got: $other")
    }
    require(aggSpec.nonEmpty, "$agg must name at least one aggregate")
    q.keys.filterNot(k => k == "$groupBy" || k == "$agg" || k.startsWith("$")).toSeq.sorted
      .headOption.foreach { k =>
        throw new IllegalArgumentException(
          s"field '$k' cannot mix with $$groupBy on '$tname'; an aggregation " +
            "level takes only arg filters, $groupBy and $agg")
      }
    q.foreach {
      case (k, v) if k.startsWith("$") && k != "$groupBy" && k != "$agg" &&
          k != "$having" =>
        val (colName, op) = argTarget(k.drop(1))
        if (!cols.contains(colName))
          throw new IllegalArgumentException(
            s"unknown argument field '$colName' on '$tname'; fields: ${cols.toSeq.sorted.mkString(", ")}")
        df = df.filter(op(col(colName), v))
      case _ =>
    }
    // percentile aggregates: p50, p95, p99, ... (exact interpolated)
    val PctFn = "^p(\\d{1,3})$".r
    def aggCol(out: String, spec: String): Column = {
      val (fn, fieldOpt) = spec.split(":", 2) match {
        case Array(f) => (f, None)
        case Array(f, c) => (f, Some(c))
      }
      fieldOpt.filterNot(cols.contains).foreach(c =>
        throw new IllegalArgumentException(
          s"unknown aggregate field '$c' on '$tname'; fields: ${cols.toSeq.sorted.mkString(", ")}"))
      (fn, fieldOpt) match {
        case ("count", None) => count(lit(1)).as(out)
        case ("count", Some(c)) => count(col(c)).as(out)
        case ("count_distinct", Some(c)) => count_distinct(col(c)).as(out)
        case ("sum", Some(c)) => sum(col(c)).as(out)
        case ("min", Some(c)) => min(col(c)).as(out)
        case ("max", Some(c)) => max(col(c)).as(out)
        case ("avg", Some(c)) => avg(col(c)).as(out)
        case ("median", Some(c)) => percentile(col(c), lit(0.5)).as(out)
        case ("stddev", Some(c)) => stddev_samp(col(c)).as(out)
        case (PctFn(p), Some(c)) if p.toInt <= 100 =>
          percentile(col(c), lit(p.toInt / 100.0)).as(out)
        case _ => throw new IllegalArgumentException(
          s"unknown aggregate '$spec' for '$out'; use count, count_distinct:f, " +
            "sum:f, min:f, max:f, avg:f, median:f, stddev:f, p<0-100>:f")
      }
    }
    val aggs = aggSpec.toSeq.sortBy(_._1).map { case (out, spec) => aggCol(out, spec) }
    val agged = df.groupBy(extraKeys ++ keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    q.get("$having").fold(agged) {
      case m: Map[_, _] =>
        val conds = m.asInstanceOf[Map[String, Any]]
        val targets = (keys ++ aggSpec.keys).toSet
        conds.toSeq.sortBy(_._1).foldLeft(agged) { case (acc, (k, v)) =>
          if (!k.startsWith("$"))
            throw new IllegalArgumentException(
              s"$$having conditions use the $$-arg convention over aggregate " +
                s"outputs (e.g. \"$$min_n\" -> 5), got '$k'")
          val (colName, op) = argTarget(k.drop(1))
          if (!targets.contains(colName))
            throw new IllegalArgumentException(
              s"$$having target '$colName' is neither a group key nor an " +
                s"aggregate output; available: ${targets.toSeq.sorted.mkString(", ")}")
          acc.filter(op(col(colName), v))
        }
      case other => throw new IllegalArgumentException(
        s"$$having must be a map of $$-conditions over aggregate outputs, got: $other")
    }
  }

  private def compile(tname: String, q: Map[String, Any]): DataFrame = {
    if (q.contains("$groupBy")) return compileAggregate(tname, q)
    if (q.contains("$having"))
      throw new IllegalArgumentException(
        "$having filters aggregate outputs — it needs $groupBy at the same level")
    val reaches = q.collect {
      case (k, sub: Map[_, _]) if Naqed.selfReach.contains((tname, k)) =>
        (k, sub.asInstanceOf[Map[String, Any]])
    }.toSeq
    if (reaches.nonEmpty) return compileReach(tname, q, reaches)
    var df = table(tname)
    val cols = df.columns.toSet
    // output columns tracked BY NAME (every selection is named `k`
    // below) — projection dedup must not depend on Column.toString
    // rendering, which is not a semantic identity
    val selected = scala.collection.mutable.LinkedHashMap[String, Column]()

    q.foreach {
      case (k, v) if k.startsWith("$") =>
        val (colName, op) = argTarget(k.drop(1))
        if (!cols.contains(colName))
          throw new IllegalArgumentException(
            s"unknown argument field '$colName' on '$tname'; fields: ${cols.toSeq.sorted.mkString(", ")}")
        df = df.filter(op(col(colName), v))

      case (k, true) if cols.contains(k) =>
        selected(k) = col(k)

      case (k, true) if instanceResolvers.contains((tname, k)) =>
        selected(k) = resolved(tname, k, Map.empty, df)

      // args-aware resolver invocation: a sub-map of only $-keys on a
      // registered resolver name is an argument list, not a traversal
      case (k, sub: Map[_, _]) if instanceResolvers.contains((tname, k)) &&
          sub.asInstanceOf[Map[String, Any]].keys.forall(_.startsWith("$")) =>
        selected(k) = resolved(tname, k, sub.asInstanceOf[Map[String, Any]], df)

      case (k, sub: Map[_, _]) if (forward.contains((tname, k)) ||
          reverse.contains((tname, k))) &&
          sub.asInstanceOf[Map[String, Any]].contains("$groupBy") =>
        // a grouped child would lose the join key (forward) or trip
        // the no-mixing rule on the injected FK (reverse) — reject
        // with guidance instead of an opaque downstream error
        throw new IllegalArgumentException(
          s"$$groupBy inside traversal '$k' is not supported; aggregate at " +
            s"the root (request(\"$k\", ...)) and join results yourself")

      case (k, sub: Map[_, _]) if (forward.contains((tname, k)) &&
          (sub.asInstanceOf[Map[String, Any]].contains("$limit") ||
            sub.asInstanceOf[Map[String, Any]].contains("$sort"))) ||
          (reverse.contains((tname, k)) &&
            sub.asInstanceOf[Map[String, Any]].contains("$sort")) =>
        // without this guard the $-key falls through to argTarget and
        // surfaces as "unknown argument field 'limit'" — misleading
        // for what is a misplaced pagination arg
        throw new IllegalArgumentException(
          if (forward.contains((tname, k)))
            s"$$sort/$$limit inside many-to-one traversal '$k' have nothing " +
              "to page (one row per parent); pagination args apply at the " +
              "root and, as $limit, inside one-to-many children"
          else
            s"$$sort inside one-to-many traversal '$k' is implicit (child " +
              "arrays are deterministically sorted); only $limit pages a " +
              "child array")

      case (k, sub: Map[_, _]) if forward.contains((tname, k)) =>
        val (fk, pk) = forward((tname, k))
        val child = compile(k, sub.asInstanceOf[Map[String, Any]])
        val alias = s"__c_$k"
        val childCols = child.columns.map(c => col(s"$alias.$c"))
        df = df.join(child.as(alias), col(fk) === col(s"$alias.$pk"), "left")
        selected(k) = struct(childCols.toSeq: _*).as(k)

      case (k, sub: Map[_, _]) if reverse.contains((tname, k)) =>
        val (pk, fk) = reverse((tname, k))
        val subMap = sub.asInstanceOf[Map[String, Any]]
        // per-parent pagination: the collected array is sorted, so
        // `$limit` is a slice of the first n children ($sort is a
        // root-level arg — child arrays already sort deterministically)
        val childLimit = subMap.get("$limit").map(limitOf)
        // the child must carry its FK back up for the group-join
        val child = compile(k, (subMap - "$limit") + (fk -> true))
          .withColumnRenamed(fk, s"__fk_$fk")
        val grouped = child
          .groupBy(col(s"__fk_$fk"))
          .agg(sort_array(collect_list(struct(child.columns.filterNot(_ == s"__fk_$fk")
            .map(col).toSeq: _*))).as(k))
        df = df.join(grouped, col(pk) === col(s"__fk_$fk"), "left")
        selected(k) = childLimit.fold(col(k))(n => slice(col(k), 1, n).as(k))

      case (k, _) =>
        throw new IllegalArgumentException(
          s"unknown field '$k' on '$tname'; fields: ${cols.toSeq.sorted.mkString(", ")}, " +
            s"relations: ${(forward.keys ++ reverse.keys).collect { case (t, r) if t == tname => r }.mkString(", ")}")
    }

    // keep join/sort keys resolvable for parent levels
    keyColumns(tname).filterNot(selected.contains)
      .foreach(k => selected(k) = col(k))
    df.select(selected.values.toSeq: _*)
  }

  /** Graph traversal with depth AS DATA (round 9) — the naqed
    * capability face for arbitrary-depth circular traversal: a
    * self-referencing relation (registered in [[Naqed.selfReach]])
    * queried with `$depth: k` returns the min-hop frontier `(v,
    * depth)` within k hops of the $-filtered seed rows; `$depth: 0`
    * (or omitted) runs to the true FIXPOINT. Nested selection writes
    * a traversal of depth equal to what's written in the query
    * (compile recurses); this is the "k decided at runtime" form that
    * previously required hand-writing k levels.
    *
    * Execution is GraphOps.reachable's shape — Iterate.converge over
    * the shared EDGES relation: per-round one frontier equi-join +
    * min-depth groupBy, localCheckpoint between rounds (bounded plan
    * at any k — no k-deep join tree), early stop at the fixpoint.
    * The traversal REPLACES the row grain, so only $-argument
    * filters (which select the seeds) may appear beside it. */
  private def compileReach(tname: String, q: Map[String, Any],
      reaches: Seq[(String, Map[String, Any])]): DataFrame = {
    if (reaches.size > 1)
      throw new IllegalArgumentException(
        s"one graph traversal per level; got: ${reaches.map(_._1).mkString(", ")}")
    val (rel, sub) = reaches.head
    val pk = Naqed.selfReach((tname, rel))
    val extraSub = sub.keySet - "$depth"
    if (extraSub.nonEmpty)
      throw new IllegalArgumentException(
        s"graph traversal '$rel' takes only $$depth (hop count as data; " +
          s"0 or omitted = run to fixpoint); got: ${extraSub.mkString(", ")}")
    val depth = sub.get("$depth").map(intOf).getOrElse(0)
    if (depth < 0)
      throw new IllegalArgumentException(s"$$depth must be >= 0, got: $depth")
    var df = table(tname)
    val cols = df.columns.toSet
    (q - rel).foreach {
      case (k, v) if k.startsWith("$") =>
        val (colName, op) = Naqed.argTarget(k.drop(1))
        if (!cols.contains(colName))
          throw new IllegalArgumentException(
            s"unknown argument field '$colName' on '$tname'; fields: ${cols.toSeq.sorted.mkString(", ")}")
        df = df.filter(op(col(colName), v))
      case (k, _) =>
        throw new IllegalArgumentException(
          s"traversal '$rel' replaces the row grain with (v, depth) — " +
            s"only $$-argument seed filters may appear beside it (drop '$k')")
    }
    val seeds = df.select(col(pk).cast("long").as("v")).distinct()
      .withColumn("depth", lit(0))
    val ud = Tables.ud(spark, sfDir)
    val rounds = if (depth == 0) 50 else depth
    graft.ops.Iterate.converge(seeds, rounds) { vis =>
      vis.unionAll(
        ud.as("u").join(vis.as("f"), col("u.s") === col("f.v"))
          .select(col("u.t").as("v"), (col("f.depth") + 1).as("depth")))
        .groupBy(col("v")).agg(min(col("depth")).as("depth"))
    }.orderBy("depth", "v")
  }
}

object Naqed {
  /** One `$checks` entry: the check's name, the oracle-checked operator
    * it runs, and — for a multi-row relation — the row key folded into
    * each metric name as `<col>_<prefix><key>`. */
  private final case class Check(name: String, op: graft.ops.Q,
      key: Option[String] = None, prefix: String = "")

  /** FK edges: (table, relationName) -> (localKey, remoteKey). */
  val forward: Map[(String, String), (String, String)] = Map(
    ("customer", "nation") -> ("c_nationkey", "n_nationkey"),
    ("supplier", "nation") -> ("s_nationkey", "n_nationkey"),
    ("nation", "region") -> ("n_regionkey", "r_regionkey"),
    ("orders", "customer") -> ("o_custkey", "c_custkey"),
    ("lineitem", "orders") -> ("l_orderkey", "o_orderkey"),
    ("lineitem", "part") -> ("l_partkey", "p_partkey"),
    ("lineitem", "supplier") -> ("l_suppkey", "s_suppkey"),
    ("documents", "embeddings") -> ("doc_id", "vec_id"),
    ("embeddings", "documents") -> ("vec_id", "doc_id"),
    // events.user_id is a customer key (TESTDATA: user ids are drawn
    // from the custkey domain) — gives subscriptions a dimension hop
    ("events", "customer") -> ("user_id", "c_custkey"))

  /** Self-referencing graph relations (round 9): (table, relationName)
    * -> the key column whose co-occurrence graph (the shared EDGES
    * relation, Tables.ud — parts co-ordered >= 2 times) the `$depth`
    * traversal walks. This is the object-API face of naqed's
    * arbitrary-depth circular traversal with the depth as DATA —
    * `naqed.request("part", Map("$p_partkey" -> root, "co_parts" ->
    * Map("$depth" -> 3)))` — where nested selection only ever
    * expresses depths written in the query text. */
  val selfReach: Map[(String, String), String] = Map(
    ("part", "co_parts") -> "p_partkey")

  /** Reverse (one-to-many) edges: (table, relationName) -> (localPk, childFk). */
  val reverse: Map[(String, String), (String, String)] = Map(
    ("customer", "orders") -> ("c_custkey", "o_custkey"),
    ("orders", "lineitem") -> ("o_orderkey", "l_orderkey"),
    ("nation", "customer") -> ("n_nationkey", "c_nationkey"),
    ("part", "lineitem") -> ("p_partkey", "l_partkey"))

  /** Argument operators: "$min_x" -> x >= v, "$max_x" -> x <= v,
    * "$like_x" -> LIKE, plain "$x" -> equality (naqed resolver args). */
  private def argTarget(arg: String): (String, (Column, Any) => Column) =
    if (arg.startsWith("min_")) (arg.drop(4), (c, v) => c >= lit(v))
    else if (arg.startsWith("max_")) (arg.drop(4), (c, v) => c <= lit(v))
    else if (arg.startsWith("like_")) (arg.drop(5), (c, v) => c.like(v.toString))
    else (arg, (c, v) => c === lit(v))

  /** Built-in resolver-backed derived fields (naqed resolver functions
    * as column programs). These SEED every instance's registry through
    * the same validated `resolver(...)` registration path users call —
    * see the instance methods `resolver` / `resolverWithArgs`. */
  val resolvers: Map[(String, String), DataFrame => Column] = Map(
    ("customer", "balance_tier") -> (_ =>
      when(col("c_acctbal") >= 5000, "high")
        .when(col("c_acctbal") >= 0, "mid").otherwise("negative")),
    ("orders", "order_year") -> (_ => year(col("o_orderdate"))),
    ("documents", "n_tokens") -> (_ => size(split(col("text"), " "))))

  /** naqed scalar types (§1.1: BOOL / INT / FLOAT / STRING / ID, plus
    * [T] arrays and TS timestamps for the extension tables) and which
    * Spark types satisfy them — the analysis-time type checking the
    * reference performs on results. */
  import org.apache.spark.sql.types._
  /** Declared-type names accepted by resolver registration. */
  private[api] def knownTypes: Set[String] = typeOk.keySet
  /** Does Spark type `t` satisfy declared naqed type `declared`? */
  private[api] def typeCheck(declared: String, t: DataType): Boolean =
    typeOk(declared)(t)

  private val typeOk: Map[String, DataType => Boolean] = Map(
    "BOOL" -> (_ == BooleanType),
    "INT" -> (t => t == IntegerType || t == LongType),
    "FLOAT" -> (t => t == FloatType || t == DoubleType),
    "STRING" -> (_ == StringType),
    "ID" -> (t => t == IntegerType || t == LongType),
    "TS" -> (t => t == TimestampType || t == TimestampNTZType),
    "[FLOAT]" -> {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })

  /** Declared table specs (the naqed `$TypeName` schema objects). */
  val specs: Map[String, Map[String, String]] = Map(
    "region" -> Map("r_regionkey" -> "ID", "r_name" -> "STRING"),
    "nation" -> Map("n_nationkey" -> "ID", "n_name" -> "STRING", "n_regionkey" -> "ID"),
    "customer" -> Map("c_custkey" -> "ID", "c_name" -> "STRING",
      "c_nationkey" -> "ID", "c_acctbal" -> "FLOAT", "c_mktsegment" -> "STRING"),
    "orders" -> Map("o_orderkey" -> "ID", "o_custkey" -> "ID", "o_orderstatus" -> "STRING",
      "o_totalprice" -> "FLOAT", "o_orderdate" -> "TS", "o_orderpriority" -> "STRING"),
    "events" -> Map("event_id" -> "ID", "ts" -> "TS", "user_id" -> "ID",
      "event_type" -> "STRING", "value" -> "FLOAT", "props" -> "STRING"),
    "documents" -> Map("doc_id" -> "ID", "text" -> "STRING", "lang" -> "STRING",
      "source" -> "STRING", "n_chars" -> "INT"),
    "embeddings" -> Map("vec_id" -> "ID", "embedding" -> "[FLOAT]", "label" -> "INT"))

  /** Coerce one mutation value to its declared Spark type (numeric
    * widening allowed; anything else is a typed error naming the
    * field). */
  private[api] def coerce(v: Any, f: StructField, tname: String, rowIdx: Int): Any =
    (f.dataType, v) match {
      case (LongType, x: Long) => x
      case (LongType, x: Int) => x.toLong
      case (IntegerType, x: Int) => x
      case (IntegerType, x: Long) if x.isValidInt => x.toInt
      case (DoubleType, x: java.lang.Number) => x.doubleValue
      case (FloatType, x: java.lang.Number) => x.floatValue
      case (StringType, x: String) => x
      case (BooleanType, x: Boolean) => x
      case (TimestampType, x: java.sql.Timestamp) => x
      case (ArrayType(FloatType, _), x: Seq[_])
          if x.forall(_.isInstanceOf[java.lang.Number]) =>
        x.map(_.asInstanceOf[java.lang.Number].floatValue)
      case (t, x) => throw new IllegalArgumentException(
        s"row $rowIdx: '$tname.${f.name}' expects ${t.simpleString}, " +
          s"got ${x.getClass.getSimpleName} ($x)")
    }

  /** Validate a table against its declared spec; returns violations
    * (empty = type-checks, naqed-style). */
  def validateSpec(df: org.apache.spark.sql.DataFrame, tname: String): Seq[String] =
    specs.get(tname).toSeq.flatMap { spec =>
      spec.flatMap { case (field, declared) =>
        df.schema.fields.find(_.name == field) match {
          case None => Some(s"$tname.$field: declared $declared but missing")
          case Some(f) if !typeOk(declared)(f.dataType) =>
            Some(s"$tname.$field: declared $declared but is ${f.dataType.simpleString}")
          case _ => None
        }
      }
    }

  /** Primary keys kept through projection so parents can join/group. */
  private val keyColumns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id")).withDefaultValue(Seq())
}
