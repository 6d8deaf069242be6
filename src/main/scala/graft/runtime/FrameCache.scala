package graft.runtime

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}

/** The process's one memo for expensive shared artifacts: cached frames
  * (the LSH pair set, the IVF inverted index, the curation-funnel
  * stages, ...) and the plain values built from them (trained
  * centroids, staged fixture paths, ...). At cluster scale these are
  * the "materialize once per corpus snapshot" tables; this is their
  * in-memory tier.
  *
  * An entry is keyed by (scope, name, key):
  *
  *  - '''Session-scoped''' entries (`get(s, name, key)`) hold frames
  *    bound to the session that built them. `evict(s)`, called by
  *    `GraftSession.close`, releases them, and entries whose
  *    SparkContext has stopped are swept on the next build.
  *  - '''Process-scoped''' entries (`get(name, key)`) hold values that
  *    stay valid across sessions (paths, counts, centroid matrices) and
  *    live until evicted by key.
  *
  * Each key builds at most once: racing callers wait for the first
  * build, where a check-then-insert on a bare concurrent map may run it
  * twice and orphan one cached frame. Builds of different keys run
  * concurrently and may nest (the IVF cells build trains centroids,
  * which read the prepped corpus). A build that throws leaves the key
  * unbuilt, and the next caller retries it.
  *
  * Releasing an entry unpersists every Dataset reachable in it, through
  * tuples, case classes (e.g. `Dedup.NearDupIndex`) and collections,
  * except one whose plan another entry still holds.
  * Single-query scratch frames (q36's sketch, q75's posting list, ...)
  * are entries too: a bare per-invocation `.cache()` would pin its frame
  * for the session's lifetime with nothing able to drop it.
  */
object FrameCache {

  private final case class Key(session: Option[SparkSession], name: String, key: Any)

  /** One key's entry; its monitor serializes the key's build and release. */
  private final class Slot {
    @volatile var value: Option[Any] = None
    var evicted = false
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** Session-scoped memo lookup; on a miss, runs `build` once per key. */
  def get[V](s: SparkSession, name: String, key: Any)(build: => V): V =
    lookup(Key(Some(s), name, key), build)

  /** Process-scoped memo lookup; on a miss, runs `build` once per key. */
  def get[V](name: String, key: Any)(build: => V): V =
    lookup(Key(None, name, key), build)

  /** Current session-scoped entry, if built — never builds. */
  def peek[V](s: SparkSession, name: String, key: Any): Option[V] =
    current(Key(Some(s), name, key))

  /** Current process-scoped entry, if built — never builds. */
  def peek[V](name: String, key: Any): Option[V] =
    current(Key(None, name, key))

  /** Release and drop every entry of session `s`; returns entries released. */
  def evict(s: SparkSession): Int = evictWhere((k, _) => k.session.contains(s))

  /** Release and drop one process-scoped entry; returns entries released. */
  def evict(name: String, key: Any): Int = {
    val k = Key(None, name, key)
    evictWhere((o, _) => o == k)
  }

  private def current[V](k: Key): Option[V] =
    Option(slots.get(k)).flatMap(_.value).map(_.asInstanceOf[V])

  @annotation.tailrec
  private def lookup[V](k: Key, build: => V): V = {
    val slot = slots.computeIfAbsent(k, _ => new Slot)
    slot.value match {
      case Some(v) => v.asInstanceOf[V]
      case None =>
        // housekeeping on the rare miss path: entries of a stopped
        // SparkContext can never be served again, so stale session keys
        // must not pin the process; built entries only, so the sweep
        // never waits on another key's build
        evictWhere((o, os) => o != k && os.value.isDefined &&
          o.session.exists(_.sparkContext.isStopped))
        val built = slot.synchronized {
          if (slot.evicted) None
          else {
            if (slot.value.isEmpty) slot.value = Some(build)
            slot.value
          }
        }
        built match {
          case Some(v) => v.asInstanceOf[V]
          case None => lookup(k, build) // evicted while we waited: re-key
        }
    }
  }

  private def evictWhere(p: (Key, Slot) => Boolean): Int = {
    var n = 0
    slots.forEach { (k, slot) =>
      if (p(k, slot) && slots.remove(k, slot)) slot.synchronized {
        slot.evicted = true
        slot.value.foreach { v =>
          release(v)
          n += 1
        }
      }
    }
    n
  }

  /** Unpersists each Dataset in `v` that no remaining entry holds.
    * Spark's CacheManager is shared by every session of a context and
    * uncaches by plan, so unpersisting a frame also drops the cache
    * behind an identical frame another entry still serves (the same
    * corpus read memoized by two live sessions): the last holder
    * releases it. */
  private def release(v: Any): Unit = {
    lazy val held = slots.values.asScala.flatMap(_.value).flatMap(datasets).toSeq
    datasets(v).foreach { ds =>
      try { if (!held.exists(sharesCache(ds, _))) ds.unpersist() }
      catch { case NonFatal(_) => () }
    }
  }

  private def sharesCache(a: Dataset[_], b: Dataset[_]): Boolean =
    (a.sparkSession.sharedState eq b.sparkSession.sharedState) &&
      a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed)

  private def datasets(v: Any): Iterator[Dataset[_]] = v match {
    case ds: Dataset[_] => Iterator(ds)
    case xs: Iterable[_] => xs.iterator.flatMap(datasets)
    case p: Product => p.productIterator.flatMap(datasets)
    case _ => Iterator.empty
  }
}
