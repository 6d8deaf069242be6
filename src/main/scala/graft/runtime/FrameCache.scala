package graft.runtime

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.sinks.ArtifactStore
import graft.sinks.ArtifactStore.Codec

/** The process's one memo tier for expensive shared artifacts: cached
  * frames (the LSH pair set, the IVF index, the curation-funnel stages,
  * ...) and the plain values built from them (trained centroids, staged
  * fixture paths, ...) — the "materialize once per corpus snapshot"
  * tables at cluster scale.
  *
  * An entry is keyed by (scope, name, d), `d` being the corpus dir it
  * is built from. '''Session-scoped''' entries (`get(s, name, d)`) hold
  * frames bound to the session that built them; `evict(s)`, called by
  * `GraftSession.close`, releases them, and entries of a stopped
  * SparkContext are swept on the next build. '''Process-scoped'''
  * entries (`get(name, d)`) hold values valid across sessions and live
  * until evicted by key.
  *
  * Every entry is tied to the snapshot of `d` it was built from: path,
  * length and mtime of each file, one Hadoop listing, no data scan. A
  * `get` that lists `d` otherwise releases the entry, and every other
  * entry built from the earlier snapshot, and builds again: a corpus
  * rewritten under a live session is never answered from the old one.
  * A missing `d` lists as empty.
  *
  * With an [[ArtifactStore.Codec]], a memory miss loads the session's
  * persisted artifact (under `spark.graft.artifactDir`, named after the
  * entry) before building, and saves what it builds, recording built,
  * loaded or rebuilt in [[ArtifactStore.lastOrigin]]; a memo hit records
  * nothing. An artifact that fails to load (another snapshot's
  * fingerprint, missing or damaged members) is rebuilt and overwritten;
  * a load failure caused by a JVM-fatal error propagates.
  *
  * Each key builds at most once: racing callers wait for the first
  * build, where a check-then-insert on a bare concurrent map may run it
  * twice and orphan one cached frame. Builds of different keys run
  * concurrently and may nest (the IVF index build reads the centroids,
  * which read the prepped corpus). A build that throws leaves the key
  * unbuilt, and the next caller retries it.
  *
  * Releasing an entry unpersists every Dataset reachable in it, through
  * tuples, case classes (e.g. `Dedup.NearDupIndex`) and collections,
  * except one whose plan another entry still holds. Single-query
  * scratch frames (q36's sketch, q75's posting list, ...) are entries
  * too: a bare per-invocation `.cache()` would pin its frame for the
  * session's lifetime with nothing able to drop it.
  */
object FrameCache {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private final case class Key(session: Option[SparkSession], name: String, d: String)

  /** (path, length, mtime) of every file under a corpus dir. */
  private type Listing = Vector[(String, Long, Long)]

  /** One key's entry; its monitor serializes the key's build and release. */
  private final class Slot {
    @volatile var listing: Listing = Vector.empty
    @volatile var value: Option[Any] = None
    var evicted = false
  }

  private val slots = new ConcurrentHashMap[Key, Slot]()

  /** Session-scoped memo lookup; on a miss, runs `build` once per key. */
  def get[V](s: SparkSession, name: String, d: String)(build: => V): V =
    lookup(Key(Some(s), name, d), None, build)

  /** Session-scoped lookup that resolves a miss through `codec`'s
    * persisted artifact before building. */
  def get[V](s: SparkSession, name: String, d: String, codec: Codec[V])(build: => V): V =
    lookup(Key(Some(s), name, d), Some(codec), build)

  /** Process-scoped memo lookup; on a miss, runs `build` once per key. */
  def get[V](name: String, d: String)(build: => V): V =
    lookup(Key(None, name, d), None, build)

  /** Process-scoped lookup that resolves a miss through `codec`. */
  def get[V](name: String, d: String, codec: Codec[V])(build: => V): V =
    lookup(Key(None, name, d), Some(codec), build)

  /** Current session-scoped entry of `d` as it is now — never builds. */
  def peek[V](s: SparkSession, name: String, d: String): Option[V] =
    current(Key(Some(s), name, d))

  /** Current process-scoped entry of `d` as it is now — never builds. */
  def peek[V](name: String, d: String): Option[V] =
    current(Key(None, name, d))

  /** Release and drop every entry of session `s`; returns entries released. */
  def evict(s: SparkSession): Int = evictWhere((k, _) => k.session.contains(s))

  /** Release and drop one process-scoped entry; returns entries released. */
  def evict(name: String, d: String): Int = evictWhere((o, _) => o == Key(None, name, d))

  private def current[V](k: Key): Option[V] =
    Option(slots.get(k)).filter(_.listing == listing(k)).flatMap(_.value).map(_.asInstanceOf[V])

  @annotation.tailrec
  private def lookup[V](k: Key, codec: Option[Codec[V]], build: => V): V = {
    val now = listing(k)
    val slot = slots.computeIfAbsent(k, _ => new Slot)
    // listing before value: a rebuild clears the value before it
    // publishes the new listing, so a stale value is never read as fresh
    val fresh = slot.listing == now
    slot.value match {
      case Some(v) if fresh => v.asInstanceOf[V]
      case _ =>
        // housekeeping on the rare miss path: entries of a stopped
        // SparkContext or of an earlier snapshot of `d` can never be
        // served again, and a stale cached frame would still answer,
        // through Spark's plan-matched cache, a rebuild that reads the
        // same files; built entries only, so the sweep never waits on
        // another key's build
        evictWhere((o, os) => o != k && os.value.isDefined &&
          (o.session.exists(_.sparkContext.isStopped) || (o.d == k.d && os.listing != now)))
        val built = slot.synchronized {
          if (slot.evicted) None
          else {
            if (slot.listing != now) slot.value.foreach { old => slot.value = None; release(old) }
            if (slot.value.isEmpty) {
              slot.listing = now
              slot.value = Some(resolve(k, codec, build))
            }
            slot.value
          }
        }
        built match {
          case Some(v) => v.asInstanceOf[V]
          case None => lookup(k, codec, build) // evicted while we waited: re-key
        }
    }
  }

  /** The listing `k`'s entry is tied to. Only path, length, mtime and
    * the directory bit are read: Hadoop's local file status forks a
    * process to load a permission or owner. */
  private def listing(k: Key): Listing = try {
    val root = new Path(k.d)
    val fs = root.getFileSystem(k.session.orElse(SparkSession.getActiveSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration))
    def walk(p: Path): Iterator[(String, Long, Long)] = fs.listStatus(p).iterator.flatMap(st =>
      if (st.isDirectory) walk(st.getPath)
      else Iterator((st.getPath.toString, st.getLen, st.getModificationTime)))
    walk(root).toVector.sorted
  } catch { case _: java.io.FileNotFoundException | _: IllegalArgumentException => Vector.empty }

  /** Memory miss: load `codec`'s artifact when the session configures
    * an artifact dir and one exists there, else build (and save when a
    * dir is configured). */
  private def resolve[V](k: Key, codec: Option[Codec[V]], build: => V): V = codec.fold(build) { c =>
    val name = c.artifact.getOrElse(k.name)
    val dir = ArtifactStore.configuredDir(c.s, name, k.d)
    def built(origin: String): V = {
      val v = build
      for (d <- dir; save <- c.save) { save(v, d, c.snapshot); ArtifactStore.lastOrigin(name) = origin }
      v
    }
    dir.filter(ArtifactStore.exists).fold(built("built")) { d =>
      try { val v = c.load(d, c.snapshot); ArtifactStore.lastOrigin(name) = "loaded"; v }
      catch {
        // Recoverable = "this artifact is stale, damaged, or
        // unreadable": the kind/snapshot/parameter gates
        // (IllegalArgumentException — NumberFormatException is a
        // subtype), missing or truncated members (IOException covers
        // FileNotFound and the EOF a cut-short blob throws), and
        // Spark-level read failures on damaged parquet
        // (AnalysisException, SparkException). Spark WRAPS executor
        // fatals, so the cause chain is walked: a SparkException
        // carrying an OOM/interrupt is resource pressure, not
        // artifact damage, and propagates. The residual bias is
        // availability-over-efficiency: a transient infra failure
        // during load takes the rebuild path (wasteful, logged with
        // the full cause) — and a corpus that is itself unreadable
        // makes the rebuild fail loudly on the same error, so the
        // conflation can waste work but never silently mis-serve.
        case e @ (_: IllegalArgumentException | _: java.io.IOException
            | _: org.apache.spark.SparkException
            | _: org.apache.spark.sql.AnalysisException) if !fatalCause(e) =>
          log.warn(s"stale/incompatible $name artifact at $d ($e) — rebuilding for the current snapshot")
          built("rebuilt")
      }
    }
  }

  /** True when `e`'s cause chain carries a JVM-fatal throwable (OOM,
    * interrupt…) that Spark wrapped in a job failure. The walk is
    * exhaustive (a depth cap would misclassify a deeper-wrapped fatal as
    * damage) and cycle-safe. */
  private def fatalCause(e: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    Iterator.iterate(e)(_.getCause).takeWhile(t => t != null && seen.add(t)).exists(!NonFatal(_))
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
