package graft

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList, ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** One declared per-(session, dir[, param…]) cache of an operator artifact.
  * The key is `"<sessionKey>#<dir>[#<param>…]"`, built here and nowhere
  * else, so eviction can select entries by session and by dir.
  *
  * Fills are single-flight per key: the first caller runs `build` on its
  * own thread, and concurrent callers of the same key wait for that one
  * build instead of running a duplicate (whose persisted relation would
  * leak). No lock is held while a build runs its Spark jobs, so a build
  * may fill other keys, of this cache or another; a build must not read
  * its own key. A build that throws leaves no entry, and the next call
  * retries it.
  */
final class GraftCache[V] private (val name: String, val kind: GraftCache.Kind,
    onEvict: (String, V) => Unit) {

  private val entries = new ConcurrentHashMap[String, FutureTask[V]]()

  /** The value for (`spark`, `dir`, `params`), built on first use. */
  def apply(spark: SparkSession, dir: String, params: Any*)(build: => V): V =
    fill(GraftCache.key(spark, dir, params))(build)

  private[graft] def fill(key: String)(build: => V): V = {
    val mine = new FutureTask[V](() => build)
    val task = entries.putIfAbsent(key, mine) match {
      case null => mine.run(); mine
      case other => other
    }
    try task.get()
    catch { case e: ExecutionException =>
      entries.remove(key, task)
      throw e.getCause
    }
  }

  /** Keys of the completed entries. */
  private[graft] def keys: Set[String] =
    entries.asScala.collect { case (k, t) if t.isDone => k }.toSet

  /** Drop every completed entry whose key satisfies `p`, passing its value
    * to `onEvict`. A build still in flight is left to land. With `quiet`,
    * an `onEvict` failure (a stopped session's relation) is ignored.
    */
  private[graft] def evict(p: String => Boolean, quiet: Boolean = false): Unit =
    entries.forEach { (k, t) =>
      if (p(k) && t.isDone && entries.remove(k, t))
        scala.util.Try(t.get()).foreach { v =>
          try onEvict(k, v) catch { case _: Throwable if quiet => () }
        }
    }

  Caches.register(this)
}

object GraftCache {

  /** The invalidation class of a cache: what survives a bench pass. */
  sealed trait Kind
  /** Precomputable per-item structure (signatures, token hub, weights),
    * kept resident across passes like a deployment's index.
    */
  case object Index extends Kind
  /** A detection or search output, evicted by [[Caches.clearResultMemos]]
    * so every pass re-pays it once.
    */
  case object Result extends Kind

  def apply[V](name: String, kind: Kind,
      onEvict: (String, V) => Unit = (_: String, v: V) => free(v)): GraftCache[V] =
    new GraftCache[V](name, kind, onEvict)

  private[graft] def dirKey(spark: SparkSession, dir: String): String =
    GraftBridge.sessionKey(spark) + "#" + dir

  private def key(spark: SparkSession, dir: String, params: Seq[Any]): String =
    (dirKey(spark, dir) +: params.map(_.toString)).mkString("#")

  /** Release a cached relation's blocks; other values hold none. */
  def free(v: Any): Unit = v match {
    case df: DataFrame @unchecked =>
      df.unpersist() // CacheManager-backed relations (persist())
      // checkpoint-backed relations: unpersist is a no-op there, the RDD
      // itself holds the blocks
      GraftBridge.unpersistCheckpointRdds(df)
    case _ => ()
  }
}

/** Eviction over every declared [[GraftCache]]. Without it a long-lived
  * session touching many input dirs accumulates unbounded cached storage,
  * and entries for stopped sessions linger.
  */
object Caches {

  private val registry = new CopyOnWriteArrayList[GraftCache[_]]()

  private[graft] def register(c: GraftCache[_]): Unit = {
    require(!all.exists(_.name == c.name), s"cache ${c.name} declared twice")
    registry.add(c)
    ()
  }

  /** Every declared cache whose owning object has been initialized (an
    * uninitialized owner has no entries).
    */
  private[graft] def all: Seq[GraftCache[_]] = registry.asScala.toSeq

  private def inDir(key: String)(k: String): Boolean =
    k == key || k.startsWith(key + "#")

  /** Every INDEX-class cache key for (`spark`, `dir`) — the bench's
    * warmup-completeness instrument: keys present after the final pass but
    * absent after warmup are artifacts the warmup failed to prefill, so
    * the timed cold pass paid them. Parameterized entries ("…#dir#param")
    * count like plain ones.
    */
  def indexKeys(spark: SparkSession, dir: String): Set[String] = {
    val key = GraftCache.dirKey(spark, dir)
    all.filter(_.kind == GraftCache.Index).flatMap(_.keys.filter(inDir(key))).toSet
  }

  /** Evict this session's RESULT entries while keeping its INDEX entries
    * warm. Bench steady-state passes call this between passes: replaying a
    * memoized detection result would measure a cache hit, not the query —
    * but a deployment legitimately keeps its index-like relations resident.
    */
  def clearResultMemos(spark: SparkSession): Unit = {
    val prefix = GraftBridge.sessionKey(spark) + "#"
    all.filter(_.kind == GraftCache.Result).foreach(_.evict(_.startsWith(prefix)))
  }

  /** Evict every entry for ONE (session, input dir), parameterized ones
    * included — for callers that rewrite a dir's contents in place (e.g.
    * the streaming corpus audit's staging dir) and must not read stale
    * entries.
    */
  def clearDir(spark: SparkSession, dir: String): Unit =
    all.foreach(_.evict(inDir(GraftCache.dirKey(spark, dir))))

  /** Evict every entry of `spark` (other sessions' entries are untouched). */
  def clear(spark: SparkSession): Unit = {
    val prefix = GraftBridge.sessionKey(spark) + "#"
    all.foreach(_.evict(_.startsWith(prefix)))
  }

  /** Drop every entry in every cache (test/teardown hammer). */
  def clearAll(): Unit = all.foreach(_.evict(_ => true, quiet = true))
}
