package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The one staging module: every derive-once memo in the engine goes
  * through one of its two scopes, picked by the lifetime of the value.
  *
  *  - [[SessionCache.perSession]] — frames holding `localCheckpoint`
  *    blocks. The blocks are bound to the creating session, so a
  *    different session in the same JVM derives its own (ADVICE r11).
  *  - [[SessionCache.perContext]] — scratch directories, catalog table
  *    tags and driver-side scalars. `newSession()` shares the context,
  *    its warehouse and its external catalog, so every session of one
  *    SparkContext is served the same value. Spark runs one context per
  *    JVM at a time, so the scope holds only the current context's
  *    memos: the first use under a new context drops the stopped one's.
  *
  * Keys are owner-prefixed tuples (`("Bucketing", dir)`), so call sites
  * sharing one scope never collide.
  */
private[graft] object SessionCache {
  private val sessions = new SessionCache[Any, Any]()
  private var context: SparkContext = _
  private var contextMemos: OnceMap[Any, Any] = _

  def perSession[V](spark: SparkSession, key: Any)(derive: => V): V =
    sessions.getOrDerive(spark, key)(derive).asInstanceOf[V]

  def perContext[V](spark: SparkSession, key: Any)(derive: => V): V =
    synchronized {
      if (context ne spark.sparkContext) {
        context = spark.sparkContext
        contextMemos = new OnceMap[Any, Any]
      }
      contextMemos
    }.getOrDerive(key)(derive).asInstanceOf[V]
}

/** Per-key once-cells: each key derives exactly once, and the derive
  * runs under that key's cell only — never under a map lock. So a
  * derive may re-enter for another key (ccLabels stages the pair set
  * first; CF's increment state stages the base index), unrelated keys
  * derive concurrently, and a racer for the same key waits for the
  * one derivation instead of running its own. A derive that throws
  * leaves the cell empty; the next caller derives again.
  */
private[graft] final class OnceMap[K, V] {
  private final class Cell {
    @volatile var done = false
    var value: V = _
  }
  private val cells = new ConcurrentHashMap[K, Cell]()

  def getOrDerive(key: K)(derive: => V): V = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    if (!cell.done) cell.synchronized {
      if (!cell.done) { cell.value = derive; cell.done = true }
    }
    cell.value
  }
}

/** Per-session scope, bounded (ADVICE r12): a strong SparkSession key
  * retains every session ever used — plus all its checkpointed frames —
  * for the JVM lifetime, and a WeakHashMap would not fix it (cached
  * frames strongly reference their creating session, and WeakHashMap
  * holds values strongly, so the value→key chain pins every entry).
  * Instead this is an access-ordered LRU over sessions capped at
  * `maxSessions`. Evicting a session drops its frames (and the only
  * cache-held reference to the session); a still-live evicted session
  * re-derives on next use, which is deterministic and answer-identical.
  */
private[graft] final class SessionCache[K, V](maxSessions: Int = 4) {
  private val perSessionMaps =
    new java.util.LinkedHashMap[SparkSession, OnceMap[K, V]](
        16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, OnceMap[K, V]]): Boolean =
        size() > maxSessions
    }

  def getOrDerive(spark: SparkSession, key: K)(derive: => V): V =
    perSessionMaps.synchronized {
      perSessionMaps.computeIfAbsent(spark, _ => new OnceMap[K, V])
    }.getOrDerive(key)(derive)
}
