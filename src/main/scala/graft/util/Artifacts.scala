package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry of every memoised artifact, so that a reset is
  * complete by construction.
  *
  * A memo registers its reset under the module object that owns it
  * when it is created (a module object's `val`s are created with the
  * object, so a module that never ran has nothing registered and
  * nothing to reset). [[reset]] with no argument resets every memo,
  * and is the one reset a timed run needs: a timed run must do its own
  * work, and a memo left out of a hand-kept list would let it ride the
  * previous run's artifact. `reset(owner)` resets one module's memos.
  */
object Artifacts {

  private final case class Entry(owner: AnyRef, label: String, reset: () => Unit, isEmpty: () => Boolean)

  private val entries = new ConcurrentLinkedQueue[Entry]

  private def register(owner: AnyRef, label: String, reset: () => Unit, isEmpty: () => Boolean): Unit = {
    entries.add(Entry(owner, label, reset, isEmpty))
    ()
  }

  /** A plain session memo owned by `owner`; its reset drops every entry. */
  def sessionMemo[K, V <: AnyRef](owner: AnyRef): SessionCache[K, V] = {
    val cache = new SessionCache[K, V]
    register(owner, "session memo", () => cache.invalidate(), () => cache.isEmpty)
    cache
  }

  /** A named artifact memo owned by `owner`: each key's artifact is
    * cached through the catalog under the view
    * `NamedArtifact.viewName(prefix, key)`, and the reset drops those
    * views by name (see [[NamedMemo]]).
    */
  def memo(owner: AnyRef, prefix: String): NamedMemo = {
    val memo = new NamedMemo(prefix)
    register(owner, prefix, () => memo.reset(), () => memo.isEmpty)
    memo
  }

  /** Run `hook` on every reset of `owner`: for state that lives
    * outside a memo but must not outlast a reset.
    */
  def onReset(owner: AnyRef)(hook: => Unit): Unit =
    register(owner, "reset hook", () => hook, () => true)

  /** Reset every registered memo, in registration order. */
  def reset(): Unit = entries.asScala.foreach(_.reset())

  /** Reset the memos `owner` registered. */
  def reset(owner: AnyRef): Unit = entries.asScala.foreach(e => if (e.owner eq owner) e.reset())

  /** The registered memos that hold an entry, as `Owner label`. */
  def occupied: Seq[String] =
    entries.asScala.toSeq.filterNot(_.isEmpty()).map { e =>
      e.owner.getClass.getSimpleName.stripSuffix("$") + " " + e.label
    }
}

/** A session memo of named, catalog-cached artifacts that owns its
  * view-name prefix: the name an artifact is built under and the name
  * its reset drops come from the one [[viewName]].
  */
final class NamedMemo private[util] (prefix: String) {

  private val cache = new SessionCache[String, DataFrame]

  def viewName(key: String): String = NamedArtifact.viewName(prefix, key)

  /** The memoised artifact for `key`, built from `plan` and cached
    * under [[viewName]] on a miss.
    */
  def apply(spark: SparkSession, key: String)(plan: => DataFrame): DataFrame =
    cache.getOrElseUpdate(spark, key)(NamedArtifact.cache(spark, viewName(key), plan))

  /** Drop every artifact by name, including entries whose soft value
    * the GC has already cleared (see [[SessionCache.invalidateKeys]]).
    */
  def reset(): Unit = cache.invalidateKeys((spark, key) => NamedArtifact.drop(spark, viewName(key)))

  def isEmpty: Boolean = cache.isEmpty

  /** TEST HOOK: see [[SessionCache.simulateValueEviction]]. */
  private[graft] def simulateValueEviction(): Unit = cache.simulateValueEviction()

  private[graft] def get(spark: SparkSession, key: String): Option[DataFrame] = cache.get(spark, key)
}
