package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

/** A session-scoped shared build: a relation (or model) that several
  * queries read, built once per (SparkSession, key) on first use and
  * reused until [[SharedBuild.clearAll]]. Declaring a build registers
  * it; nothing else needs wiring.
  *
  * Entries are keyed weakly on the session object, so a new session
  * (e.g. `newSession()`) is never handed DataFrames of another. The
  * build runs outside the registry lock: callers of one (session,
  * build, key) wait on that entry's latch while other keys build in
  * parallel, and builds may nest. A build that throws is not memoized —
  * the callers already waiting see its exception, the next call builds
  * again. */
final class SharedBuild[K, V] private (val name: String,
    build: (SparkSession, K) => V) extends ((SparkSession, K) => V) {
  import SharedBuild._

  def apply(spark: SparkSession, key: K): V = {
    val k = (this, key)
    val (entry, owner) = lock.synchronized {
      val m = entries(spark)
      m.get(k).map((_, false)).getOrElse { val e = new Entry; m(k) = e; (e, true) }
    }
    if (owner) {
      // fatal errors too: waiters must not hang, and get rethrows them
      val r = try Success(build(spark, key)) catch { case t: Throwable => Failure(t) }
      if (r.isFailure) lock.synchronized {
        Option(bySession.get(spark)).foreach(m =>
          if (m.get(k).exists(_ eq entry)) m.remove(k))
      }
      entry.complete(r)
    }
    entry.get.asInstanceOf[V]
  }

  /** Replace this session's entry for `key` (e.g. a mounted table). */
  def put(spark: SparkSession, key: K, value: V): Unit = {
    val e = new Entry
    e.complete(Success(value))
    lock.synchronized { entries(spark)((this, key)) = e }
  }
}

object SharedBuild {
  def apply[K, V](name: String)(build: (SparkSession, K) => V): SharedBuild[K, V] =
    lock.synchronized {
      require(!declaredNames.contains(name), s"shared build '$name' declared twice")
      declaredNames += name
      new SharedBuild(name, build)
    }

  private final class Entry {
    private val done = new CountDownLatch(1)
    @volatile private var result: Try[Any] = _
    def complete(r: Try[Any]): Unit = { result = r; done.countDown() }
    def get: Any = { done.await(); result.get }
  }

  private val lock = new Object
  private val declaredNames = mutable.LinkedHashSet[String]()
  private val bySession = new java.util.WeakHashMap[SparkSession,
    mutable.Map[(SharedBuild[_, _], Any), Entry]]()

  private def entries(spark: SparkSession) =
    bySession.computeIfAbsent(spark, _ => mutable.HashMap())

  /** Names of every declared build (of the modules loaded so far). */
  private[graft] def declared: Seq[String] = lock.synchronized(declaredNames.toList)

  /** (build name, key) of every live entry, over all sessions. */
  private[graft] def live: Seq[(String, Any)] = lock.synchronized {
    bySession.values.asScala.flatMap(_.keys.map { case (b, k) => (b.name, k) }).toList
  }

  /** Drop every shared build and everything cached or persisted in
    * `spark`'s context, so the next query starts from parquet. The
    * entries go first, so none is left pointing at a released
    * checkpoint block; checkpoints are persisted RDDs, which the sweep
    * after the cache manager's clear releases. */
  def clearAll(spark: SparkSession): Unit = {
    lock.synchronized(bySession.clear())
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
      try rdd.unpersist(blocking = false)
      catch { case NonFatal(e) =>
        System.err.println(s"[clearAll] unpersist of RDD ${rdd.id} failed: $e")
      }
    }
    System.gc()
  }
}
