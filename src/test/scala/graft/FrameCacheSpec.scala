package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Dedup
import graft.runtime.FrameCache

/** What FrameCache adds over a bare concurrent-map memo: a racing build
  * runs ONCE per key in either scope (no orphaned cached frames pinning
  * executor memory), builds may nest, and eviction releases every cached
  * frame an entry holds — and only the retiring session's entries.
  *
  * Suites share one SparkSession and run concurrently, so every case
  * keys its entries on private `newSession()` clones or unique names and
  * never evicts the shared session. */
class FrameCacheSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** Whether a query over `df` planned now reads an in-memory cache. */
  private def planned(df: DataFrame): Boolean =
    df.filter(col("v") >= 0).queryExecution.optimizedPlan
      .collectFirst { case r: InMemoryRelation => r }.isDefined

  /** Runs `get` from 8 threads released together; returns builds run. */
  private def race(get: (=> String) => String): Int = {
    val built = new AtomicInteger(0)
    val threads = 8
    val start = new CountDownLatch(1)
    val done = new CountDownLatch(threads)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      (0 until threads).foreach { _ =>
        pool.execute { () =>
          start.await()
          get {
            built.incrementAndGet()
            Thread.sleep(50) // widen the race window
            "v"
          }
          done.countDown()
        }
      }
      start.countDown()
      assert(done.await(10, TimeUnit.SECONDS), "racing gets deadlocked")
    } finally pool.shutdown()
    built.get()
  }

  test("racing gets build the value exactly once") {
    val s = spark.newSession()
    val n = race(b => FrameCache.get(s, "spec-race-session", "k")(b))
    assert(n == 1, s"builder ran $n times")
    assert(FrameCache.peek[String](s, "spec-race-session", "k").contains("v"))
    assert(GraftSession.close(s) == 1)
  }

  test("racing process-scoped gets build once (the getOrElseUpdate defect)") {
    val n = race(b => FrameCache.get("spec-race-process", "k")(b))
    assert(n == 1, s"builder ran $n times")
    assert(FrameCache.peek[String]("spec-race-process", "k").contains("v"))
    assert(FrameCache.evict("spec-race-process", "k") == 1)
    assert(FrameCache.peek[String]("spec-race-process", "k").isEmpty)
  }

  test("evictSession unpersists and drops only that session's entries") {
    val mineS = spark.newSession()
    val otherS = spark.newSession()
    val mine = FrameCache.get(mineS, "spec-evict", "dirA")(
      mineS.range(10).toDF("v").cache())
    // different plan than `mine`: sessions of one SparkContext share a
    // CacheManager, and identical plans dedupe to ONE cache entry, which
    // eviction keeps until its last holder goes (the shared-plan case)
    val theirs = FrameCache.get(otherS, "spec-evict", "dirA")(
      otherS.range(20).toDF("v").cache())
    mine.count(); theirs.count() // materialize both caches
    assert(cached(mine))

    assert(FrameCache.evict(mineS) == 1)
    assert(!cached(mine), "evicted frame still cached")
    assert(cached(theirs), "eviction bled into another session's entry")
    assert(FrameCache.peek[DataFrame](mineS, "spec-evict", "dirA").isEmpty)
    assert(FrameCache.peek[DataFrame](otherS, "spec-evict", "dirA").isDefined)

    // rebuilding after eviction works (fresh entry, not the stale handle)
    val again = FrameCache.get(mineS, "spec-evict", "dirA")(
      mineS.range(5).toDF("v").cache())
    assert(again.count() == 5)
    assert(FrameCache.evict(mineS) == 1 && FrameCache.evict(otherS) == 1)
  }

  test("GraftSession.close releases a retired session's standing frames (r6 #2)") {
    // entries under two names, two sessions sharing one context —
    // closing one session must unpersist exactly its frames, across
    // every name, and leave the other's alone
    val retiring = spark.newSession()
    val surviving = spark.newSession()
    val r1 = FrameCache.get(retiring, "spec-close-a", "d")(
      retiring.range(11).toDF("v").cache())
    val r2 = FrameCache.get(retiring, "spec-close-b", "d")(
      retiring.range(12).toDF("v").cache())
    val s1 = FrameCache.get(surviving, "spec-close-a", "d")(
      surviving.range(13).toDF("v").cache())
    Seq(r1, r2, s1).foreach(_.count())
    assert(Seq(r1, r2, s1).forall(cached))

    assert(GraftSession.close(retiring) == 2,
      "teardown missed entries owned by the retiring session")
    assert(!cached(r1) && !cached(r2),
      "retired session's standing frames still pinned after close")
    assert(cached(s1), "close bled into another session's entries")
    assert(GraftSession.close(surviving) == 1)
  }

  test("closing one session keeps the cache behind another session's identical entry") {
    val p = Files.createTempDirectory("spec_shared_plan_").toString + "/t"
    spark.range(30).toDF("v").write.parquet(p)
    val a = spark.newSession()
    val b = spark.newSession()
    // two live memos of the same read: one CacheManager entry behind both
    val fa = FrameCache.get(a, "spec-shared-plan", p)(a.read.parquet(p).cache())
    val fb = FrameCache.get(b, "spec-shared-plan", p)(b.read.parquet(p).cache())
    assert(fb.count() == 30 && planned(fa) && planned(fb))

    assert(GraftSession.close(a) == 1)
    assert(cached(fb) && planned(fb),
      "closing session a uncached session b's live entry")
    assert(FrameCache.peek[DataFrame](b, "spec-shared-plan", p).isDefined)

    assert(GraftSession.close(b) == 1)
    assert(!cached(fa) && !cached(fb), "the last holder's close left the frame cached")
    assert(!planned(b.read.parquet(p)))
  }

  test("a build may call get for another key: no deadlock, no recursive update") {
    val s = spark.newSession()
    implicit val ec: ExecutionContext = ExecutionContext.global
    // the corpusCells → trainCentroids → prepped shape: a session entry
    // whose build reads a process entry whose build reads a session entry
    def inner: DataFrame = FrameCache.get(s, "spec-nest-inner", "d")(
      s.range(7).toDF("v").cache())
    def middle: Long = FrameCache.get("spec-nest-middle", s.toString)(inner.count())
    def outer: (DataFrame, Long) = FrameCache.get(s, "spec-nest-outer", "d")(
      (inner.filter(col("v") > 2), middle))
    // two threads enter the chain at different depths at once
    val both = Future.sequence(Seq(Future(outer._2), Future(middle)))
    assert(Await.result(both, 60.seconds) == Seq(7L, 7L))
    assert(FrameCache.peek[(DataFrame, Long)](s, "spec-nest-outer", "d")
      .exists(_._2 == 7L))
    assert(GraftSession.close(s) == 2) // inner + outer; middle is process-scoped
    assert(FrameCache.evict("spec-nest-middle", s.toString) == 1)
  }

  test("close releases frames inside tuples, case classes and Seqs, not process entries") {
    val s = spark.newSession()
    import s.implicits._
    val docs = Seq((1L, "the quick brown fox jumps"), (2L, "the quick brown fox leaps"))
      .toDF("doc_id", "text")
    val pair = FrameCache.get(s, "spec-release-tuple", "d")(
      (s.range(21).toDF("v").cache(), s.range(22).toDF("v").cache(), "label"))
    val idx = FrameCache.get(s, "spec-release-index", "d")(
      Dedup.buildNearDupIndex(docs, "doc_id", "text", 3, 16, 4, 0.8))
    val frames = FrameCache.get(s, "spec-release-seq", "d")(
      Seq(s.range(23).toDF("v").cache(), s.range(24).toDF("v").cache()))
    // a process-scoped entry built from the same session stays put
    val kept = FrameCache.get("spec-release-process", "d")(
      s.range(25).toDF("v").cache())
    val all = Seq(pair._1, pair._2, idx.hashes, idx.guardedBands) ++ frames :+ kept
    all.foreach(_.count())
    assert(all.forall(cached))

    assert(GraftSession.close(s) == 3)
    assert(Seq(pair._1, pair._2, idx.hashes, idx.guardedBands).forall(!cached(_)),
      "a frame nested in a tuple or case class survived close")
    assert(frames.forall(!cached(_)), "a frame inside a Seq survived close")
    assert(cached(kept), "close released a process-scoped entry")
    assert(FrameCache.peek[DataFrame]("spec-release-process", "d").isDefined)
    assert(FrameCache.evict("spec-release-process", "d") == 1)
    assert(!cached(kept))
  }
}
