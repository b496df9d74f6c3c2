package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo for expensive shared intermediates (tokenized
  * shingle-id tables, fitted ML models, the prepared train/test split,
  * the fixture tables' resolved schemas — [[Tables.schema]]):
  * several queries in one Verify/Bench session consume the SAME subtree,
  * and without memoization each of them re-caches and re-computes it.
  *
  * Session artifacts: [[cached]] frames and [[dir]]s (index dirs and
  * tables, materialized inputs) are released ONLY by eviction
  * ([[invalidate]]/[[evictSession]]), never by the query that built them.
  * A memo dir is uniquely named and exempt from [[TempArtifacts]]'
  * per-prefix replacement, so two sessions never touch each other's.
  *
  * Lifecycle: entries are evicted when their owning session's application
  * ends (a SparkListener is registered on first insert per session), so a
  * stopped session does not pin its cached DataFrames/models forever.
  * Within a session the inputs under a fixture dir are assumed immutable —
  * the driver's one-dir-per-session layout guarantees it; a long-lived
  * multi-corpus service would call [[invalidate]] when a dir is rewritten.
  *
  * Compute runs OUTSIDE the map (get / putIfAbsent, not computeIfAbsent):
  * memoized builders call other memoized builders (model → prepare →
  * shingle ids), and nested `computeIfAbsent` on one ConcurrentHashMap is
  * a documented recursive-update hazard. The cost is a benign duplicate
  * compute under a genuine race; query execution here is sequential.
  */
private[graft] object SessionMemo {
  private val store =
    new ConcurrentHashMap[(SparkSession, String), (AnyRef, () => Unit)]()
  // session -> its registered application-end listener, so eviction can
  // deregister it (evict + re-memoize must not accumulate listeners on
  // the shared SparkContext)
  private val hooked = new ConcurrentHashMap[SparkSession, SparkListener]()

  def getOrCompute[T <: AnyRef](spark: SparkSession, key: String)
      (compute: => T): T =
    getOrComputeCleanup(spark, key)(compute)(_ => ())

  /** [[getOrCompute]] plus an eviction cleanup, which
    * [[invalidate]]/[[evictSession]] run exactly once when the entry
    * goes: the one path behind [[cached]] and [[dir]]. Cleanups must be
    * idempotent and safe on a stopping session (wrap Spark calls in
    * Try — application-end eviction fires while the context shuts
    * down).
    */
  private def getOrComputeCleanup[T <: AnyRef](spark: SparkSession, key: String)
      (compute: => T)(cleanup: T => Unit): T = {
    if (!hooked.containsKey(spark)) {
      val l = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evictSession(spark)
      }
      if (hooked.putIfAbsent(spark, l) == null)
        spark.sparkContext.addSparkListener(l)
    }
    val k = (spark, key)
    val existing = store.get(k)
    if (existing != null) existing._1.asInstanceOf[T]
    else {
      val v = compute
      val prev = store.putIfAbsent(k, (v, () => cleanup(v)))
      if (prev != null) prev._1.asInstanceOf[T] else v
    }
  }

  /** The frame `df` persisted at `level` and memoized under `key`;
    * eviction unpersists it. `MEMORY_AND_DISK` is what `.cache()` means;
    * the session-long token, signature and window tables keep
    * `MEMORY_AND_DISK_SER` to hold less heap.
    *
    * Known defect, left open: Spark's `CacheManager` keys its entries
    * by plan, not by session, so the same frame memoized in two
    * sessions on one SparkContext shares ONE cache entry, and either
    * session's eviction uncaches it for the other, whose later
    * consumers then recompute it.
    */
  def cached(spark: SparkSession, key: String, level: StorageLevel)
      (df: => DataFrame): DataFrame =
    getOrComputeCleanup(spark, key)(df.persist(level))(d =>
      Try(d.unpersist()): Unit)

  /** A fresh, uniquely named dir under `prefix`, filled by `write` and
    * memoized under `key`; returns its path. It is registered for
    * JVM-exit deletion and deleted on eviction (or when `write` fails),
    * after `release`, which drops what else points into the dir, such as
    * a catalog table.
    */
  def dir(spark: SparkSession, key: String, prefix: String,
      release: String => Unit = _ => ())(write: String => Unit): String = {
    def free(d: String): Unit = {
      Try(release(d)): Unit
      TempArtifacts.delete(d)
    }
    getOrComputeCleanup(spark, key) {
      val d = TempArtifacts.ownedDir(prefix)
      try { write(d); d }
      catch { case NonFatal(e) => free(d); throw e }
    }(free)
  }

  /** How many sessions hold an application-end listener: one per session
    * that memoized anything and was not evicted since.
    */
  def hookedSessions: Int = hooked.size

  /** Drop one entry (e.g. after rewriting the data under a dir),
    * running its cleanup.
    */
  def invalidate(spark: SparkSession, key: String): Unit =
    Option(store.remove((spark, key))).foreach(_._2())

  def evictSession(spark: SparkSession): Unit = {
    val it = store.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey._1 eq spark) {
        it.remove()
        e.getValue._2()
      }
    }
    Option(hooked.remove(spark)).foreach { l =>
      // the context may already be shutting down (application-end path)
      Try(spark.sparkContext.removeSparkListener(l)): Unit
    }
  }
}
