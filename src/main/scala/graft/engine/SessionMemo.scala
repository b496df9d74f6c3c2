package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Session-scoped memo for expensive shared intermediates (tokenized
  * shingle-id tables, fitted ML models, the prepared train/test split,
  * the fixture tables' resolved schemas — [[Tables.schema]]):
  * several queries in one Verify/Bench session consume the SAME subtree,
  * and without memoization each of them re-caches and re-computes it.
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

  /** [[getOrCompute]] plus an eviction cleanup: entries owning on-disk
    * or catalog artifacts (the persisted band/cell indexes) register how
    * to release them, and [[invalidate]]/[[evictSession]] run it exactly
    * once when the entry goes. Cleanups must be idempotent and safe on a
    * stopping session (wrap catalog calls in Try — application-end
    * eviction fires while the context shuts down).
    */
  def getOrComputeCleanup[T <: AnyRef](spark: SparkSession, key: String)
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
      scala.util.Try(spark.sparkContext.removeSparkListener(l)): Unit
    }
  }
}
