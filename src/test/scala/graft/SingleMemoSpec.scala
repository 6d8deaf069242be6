package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every in-process memo goes through `graft.runtime.FrameCache`, the one
  * place that builds each key once and releases what it holds. A pack that
  * grows its own map memo reintroduces the double build (a racing
  * `getOrElseUpdate` runs the builder twice and orphans one cached frame)
  * and an entry `GraftSession.close` cannot see. These checks read the
  * source, so regrowth fails here before any query runs. */
class SingleMemoSpec extends AnyFunSuite {

  private val memoFile = "graft/runtime/FrameCache.scala"

  /** Shared maps that are not memos: each records the last result of an
    * operation for a reader outside the build and is never read back to
    * skip work. */
  private val sideChannels = Set(
    "graft/sinks/ArtifactStore.scala" -> "lastOrigin",
    "graft/queries/StreamingQueries.scala" -> "lastStateMetrics")

  private def sources = MainSources.code

  test("src/main has no getOrElseUpdate memo") {
    val hits = sources.collect { case (f, code) if code.contains("getOrElseUpdate") => f }
    assert(hits.isEmpty, s"getOrElseUpdate memo in ${hits.mkString(", ")}; use FrameCache.get")
  }

  test("FrameCache declares the only memo map in src/main") {
    // a concurrent map anywhere, or a mutable map held as an object or
    // class member (two-space indent); method-local accumulators are fine
    val decl = ("""(?m)^( *)(?:[\w\[\]]+ +)*(?:val|var) +(\w+)\s*(?::[^=]+)?=\s*""" +
      """(?:new\s+)?[\w.]*?(?:(TrieMap|ConcurrentHashMap|ConcurrentSkipListMap|""" +
      """WeakHashMap)|(mutable\.\w*Map|util\.HashMap|util\.LinkedHashMap))\b""").r
    val found = sources.flatMap { case (f, code) =>
      decl.findAllMatchIn(code)
        .filter(m => m.group(3) != null || m.group(1).length <= 2)
        .map(m => f -> m.group(2)) }
    assert(found.exists(_._1 == memoFile),
      "the memo map pattern no longer matches FrameCache's own map")
    val extra = found.filterNot { case (f, name) =>
      f == memoFile || sideChannels((f, name)) }
    assert(extra.isEmpty, "map declared outside FrameCache (a second memo?): " +
      extra.map { case (f, n) => s"$f: $n" }.mkString(", "))
    assert(!sources.exists { case (f, code) =>
      f != memoFile && code.contains("computeIfAbsent") },
      "computeIfAbsent memo outside FrameCache")
  }

  test("only the memo tier resolves artifacts and evicts memo entries") {
    val tier = Set(memoFile, "graft/sinks/ArtifactStore.scala")
    // artifact-dir lookups, existence probes, origin writes and the old
    // hand-nested resolution belong to FrameCache.get with a codec
    val resolution = ("""configuredDir\(|ArtifactStore\.exists\(|\bstanding\(|""" +
      """lastOrigin\s*\([^)]*\)\s*=[^=]|lastOrigin\s*\.\s*(?:put|update|addOne)\(""").r
    val resolving = sources.collect {
      case (f, code) if !tier(f) && resolution.findFirstIn(code).isDefined =>
        s"$f: ${resolution.findFirstIn(code).get}" }
    assert(resolving.isEmpty, "artifact resolution outside the memo tier: " +
      resolving.mkString(", "))
    // a stale entry is the tier's to release; beyond session close and
    // the bucketed tables' catalog re-validation, nothing evicts by hand
    val evicting = Set(memoFile, "graft/GraftSession.scala", "graft/sinks/BucketedTables.scala")
    val evicts = sources.collect {
      case (f, code) if !evicting(f) && code.contains("FrameCache.evict(") => f }
    assert(evicts.isEmpty, s"FrameCache.evict outside the tier: ${evicts.mkString(", ")}")
  }
}
