package graft.util

import java.lang.ref.SoftReference

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Session-scoped memoization that cannot pin a [[SparkSession]].
  *
  * A plain object-level map keyed by session holds the session (and
  * every logical plan cached under it) for the JVM lifetime — a leak
  * for any long-lived multi-session library use. This cache breaks
  * both strong paths:
  *
  *  - sessions are WEAK KEYS (`java.util.WeakHashMap`): a closed /
  *    dropped session's entries vanish with the session;
  *  - values are SOFT REFERENCES: cached DataFrames strongly
  *    reference their session, so a strong value would re-pin the
  *    weak key through the value chain (the classic WeakHashMap
  *    value→key trap). Soft (not weak) because a weak value dies at
  *    every minor GC — measured: the streaming gate bundle re-ran
  *    once per gate query instead of once per session. A soft value
  *    survives routine GC and is cleared only under memory pressure,
  *    so the worst case is a memory-bounded cache, never an OOM and
  *    never a JVM-lifetime pin.
  *
  * Memoization is still best-effort: an eviction costs a recompute,
  * never correctness (use sites cache cheap-to-rebuild artifacts — a
  * parquet file listing, a collected gate result).
  *
  * Only [[Artifacts]] creates one, so that every memo is registered
  * for reset.
  */
final class SessionCache[K, V <: AnyRef] private[util] () {

  private val bySession =
    new java.util.WeakHashMap[SparkSession, TrieMap[K, SoftReference[V]]]()

  private def scope(session: SparkSession): TrieMap[K, SoftReference[V]] =
    bySession.synchronized {
      bySession.computeIfAbsent(session, _ => TrieMap.empty)
    }

  def get(session: SparkSession, key: K): Option[V] =
    scope(session).get(key).flatMap(r => Option(r.get))

  def put(session: SparkSession, key: K, value: V): Unit =
    scope(session).update(key, new SoftReference(value))

  def getOrElseUpdate(session: SparkSession, key: K)(build: => V): V =
    get(session, key).getOrElse {
      val v = build
      put(session, key, v)
      v
    }

  /** Drop everything (benchmark hygiene between timed runs). */
  private[util] def invalidate(): Unit = bySession.synchronized(bySession.clear())

  /** No key is held for any live session (a GC-cleared value's key
    * still counts as held: its external state may not be released).
    */
  def isEmpty: Boolean = bySession.synchronized {
    bySession.values().asScala.forall(_.isEmpty)
  }

  /** TEST HOOK: clear every soft value reference, exactly as the JVM
    * does under memory pressure. Eviction timing is otherwise not
    * reproducible in a spec, and the GC-cleared-entry path is the one
    * [[invalidateKeys]] exists for — it must stay pinned by a test,
    * not by luck.
    */
  private[util] def simulateValueEviction(): Unit = bySession.synchronized {
    bySession.forEach((_, scoped) => scoped.values.foreach(_.clear()))
  }

  /** Drop everything, first running `onKey` for EVERY (session, key)
    * pair still reachable through a live session — INCLUDING entries
    * whose soft value has already been GC-cleared.
    *
    * This is the cleanup hook for values with external state (a
    * persisted DataFrame's storage blocks). A value-based hook cannot
    * reach a cleared entry's blocks — they would survive the
    * invalidation and the next run would silently ride them — but a
    * key-based hook can rebuild the value's canonical plan from the
    * key and unpersist that: Spark's cache registry matches plans by
    * canonical form, so a rebuilt identical plan reaches the same
    * cached entry whether or not our soft reference is still live.
    */
  private[util] def invalidateKeys(onKey: (SparkSession, K) => Unit): Unit = bySession.synchronized {
    bySession.forEach { (session, scoped) => scoped.keys.foreach(k => onKey(session, k)) }
    bySession.clear()
  }
}
