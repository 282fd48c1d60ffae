package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

/** Per-session, per-key memo: the engine's one way to stage a derived
  * value once per session and fan it out to its consumers (frames,
  * scalars, driver-side models alike). Keyed by the session OBJECT
  * (identity). Weak keying cannot work here: a cached DataFrame strongly
  * references its SparkSession (df.queryExecution → session), so a
  * weakly keyed map whose values are DataFrames keeps its own keys
  * strongly reachable and never evicts — the leak it was meant to
  * prevent.
  *
  * Every instance joins one registry: [[SessionCache.clearAll]]
  * (called by [[Graft.clearCaches]]) drops them all, and one listener
  * per session forgets the session's entries when its SparkContext
  * stops.
  *
  * A value is built under its own (cache, session) lock, never inside a
  * `ConcurrentHashMap.computeIfAbsent`: builds nest across caches
  * (adjacency → orientation → degrees → edges), and a nested write to a
  * map whose `computeIfAbsent` is still running throws "Recursive
  * update". */
private[graft] final class SessionCache[V] {
  SessionCache.registry.add(this)
  private val m = new ConcurrentHashMap[SparkSession, scala.collection.mutable.Map[String, V]]()

  def getOrElseUpdate(s: SparkSession, key: String)(mk: => V): V = {
    SessionCache.watch(s)
    val inner = m.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty[String, V])
    inner.synchronized(inner.getOrElseUpdate(key, mk))
  }

  /** Forget every value this cache holds for `s`, unpersisting the ones
    * that are Datasets; the next getOrElseUpdate rebuilds from scratch. */
  def clear(s: SparkSession): Unit = {
    val inner = m.remove(s)
    if (inner != null) inner.synchronized {
      inner.values.foreach {
        case ds: Dataset[_] =>
          try ds.unpersist(blocking = false)
          catch { case _: Throwable => () } // session may be stopping
        case _ => ()
      }
    }
  }

  private def size(s: SparkSession): Int = {
    val inner = m.get(s)
    if (inner == null) 0 else inner.synchronized(inner.size)
  }
}

/** The registry of every SessionCache instance. Instances are
  * object-level vals (one per memoized artifact), never per-query. */
private[graft] object SessionCache {
  private val registry = ConcurrentHashMap.newKeySet[SessionCache[_]]()
  private val watched = ConcurrentHashMap.newKeySet[SparkSession]()

  private def watch(s: SparkSession): Unit =
    if (watched.add(s)) s.sparkContext.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
        registry.forEach(_.m.remove(s))
        watched.remove(s)
      }
    })

  /** Drop every cache's values for `s` (see [[SessionCache.clear]]). */
  def clearAll(s: SparkSession): Unit = registry.forEach(_.clear(s))

  /** Number of values memoized for `s` across every cache (spec hook). */
  private[graft] def entries(s: SparkSession): Int = {
    var n = 0
    registry.forEach(c => n += c.size(s))
    n
  }
}
