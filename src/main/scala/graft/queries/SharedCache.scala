package graft.queries

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.operators.CacheScope

/** One session-shared persisted intermediate: an expensive build that
  * several queries consume, memoized per (session, sf dir) and kept alive
  * across [[CacheScope.drain]]. Declared once as
  * `SharedCache(name, deps*)(build)` and called like the builder it stands
  * for (`nearDupPairs(s, d)`).
  *
  * The cache owns the whole memo contract:
  *  - one build per key: concurrent first calls for a key wait on that
  *    key's slot (never on the map), and a build that throws leaves the key
  *    empty for the next call;
  *  - entries of stopped sessions are evicted, so neither their blocks nor
  *    their session object graphs stay reachable;
  *  - every frame is persisted MEMORY_AND_DISK and [[CacheScope.pin]]ned,
  *    so a standalone persist of the identical plan cannot evict it at its
  *    drain;
  *  - declared `deps` are built first. A build that reads another cache
  *    must declare it: [[SharedCaches.builders]] orders by these deps, so
  *    a dependent's line never prices its dependency's build.
  *
  * A dependency is passed by value, so it must be declared ABOVE its
  * dependent in the same object (a forward reference is still `null`
  * during object initialisation).
  *
  * [[SharedCache.twin]] is one build yielding two frames, registered under
  * two names and installed together.
  */
final class SharedCache[A] private (
    val names: Seq[String], val deps: Seq[SharedCache[_]],
    build: (SparkSession, String) => A, frames: A => Seq[DataFrame])
    extends ((SparkSession, String) => A) {

  private final class Slot(s: SparkSession, d: String) {
    @volatile var value: Option[A] = None
    def get: A = value.getOrElse(synchronized {
      if (value.isEmpty) {
        deps.foreach(_(s, d))
        val a = build(s, d)
        frames(a).foreach(f => CacheScope.pin(f.persist(StorageLevel.MEMORY_AND_DISK)))
        value = Some(a)
      }
      value.get
    })
  }

  private val slots = new ConcurrentHashMap[(SparkSession, String), Slot]()

  def apply(s: SparkSession, d: String): A = {
    slots.keySet.removeIf(_._1.sparkContext.isStopped)
    slots.computeIfAbsent((s, d), _ => new Slot(s, d)).get
  }

  /** Whether the (session, dir) build has installed its frames. */
  private[graft] def installed(s: SparkSession, d: String): Boolean =
    Option(slots.get((s, d))).exists(_.value.isDefined)

  /** The registry entries: each name with the builder of its frame. */
  private[queries] def entries: Seq[(String, (SparkSession, String) => DataFrame)] =
    names.indices.map(i =>
      names(i) -> ((s: SparkSession, d: String) => frames(apply(s, d))(i)))
}

object SharedCache {

  def apply(name: String, deps: SharedCache[_]*)(
      build: (SparkSession, String) => DataFrame): SharedCache[DataFrame] =
    new SharedCache[DataFrame](Seq(name), deps, build, Seq(_))

  def twin(first: String, second: String, deps: SharedCache[_]*)(
      build: (SparkSession, String) => (DataFrame, DataFrame))
      : SharedCache[(DataFrame, DataFrame)] =
    new SharedCache[(DataFrame, DataFrame)](Seq(first, second), deps, build,
      p => Seq(p._1, p._2))

  /** `caches` with every dependency placed before its dependents: a stable
    * depth-first topological sort, so an already-ordered list is returned
    * unchanged and a dependency missing from `caches` is added ahead of
    * its first dependent. */
  private[queries] def dependencyOrder(caches: Seq[SharedCache[_]]): Seq[SharedCache[_]] = {
    val out = mutable.LinkedHashSet.empty[SharedCache[_]]
    def visit(c: SharedCache[_]): Unit =
      if (!out.contains(c)) { c.deps.foreach(visit); out += c }
    caches.foreach(visit)
    out.toSeq
  }
}
