package graft

import org.scalatest.funsuite.AnyFunSuite

/** The near-duplicate family writes each stage once. The Jaccard verify
  * is `Dedup.verifiedPairs`, the MinHash signature and band stages are
  * `Dedup.signatures` and `Dedup.bandRows`, the SimHash and winnowing
  * pair stages are `Dedup.hammingPairs` and `Dedup.winnowPairs`, and
  * q101/q105 report through one admission shell; a query that
  * hand-rolls its own copy drifts from the others. The removed
  * connected-components `algorithm` option and the one-shot cross-set
  * pair call stay gone. These checks read the source, so regrowth fails
  * before any query runs. */
class DedupLayoutSpec extends AnyFunSuite {

  private val dedupFile = "graft/ext/Dedup.scala"
  private val queriesFile = "graft/queries/DedupQueries.scala"
  private val streamingFile = "graft/queries/StreamingQueries.scala"
  private val multimodalFile = "graft/queries/MultimodalQueries.scala"
  private val scaleProbeFile = "graft/ScaleProbe.scala"

  private def source(f: String): String =
    MainSources.code.collectFirst { case (`f`, code) => code }
      .getOrElse(fail(s"$f is missing"))

  private def filesWith(needle: String): Seq[String] =
    MainSources.code.collect { case (f, code) if code.contains(needle) => f }

  test("sizeRatioGuard is called once, inside verifiedPairs") {
    val calls = MainSources.code.flatMap { case (f, code) =>
      """(?<!def )\bsizeRatioGuard\(""".r.findAllMatchIn(code).map(m => f -> m.start)
    }
    assert(calls.size === 1,
      s"sizeRatioGuard is called ${calls.size} times (${calls.map(_._1).mkString(", ")}); " +
        "verify through Dedup.verifiedPairs")
    val code = source(dedupFile)
    val start = code.indexOf("def verifiedPairs(")
    assert(start >= 0, s"$dedupFile defines no verifiedPairs")
    val end = code.indexOf("def ", start + 1)
    assert(calls.head._1 === dedupFile && calls.head._2 > start && calls.head._2 < end,
      "the sizeRatioGuard call is not inside verifiedPairs")
  }

  test("DedupQueries writes no size-ratio guard of its own") {
    val handRolled = source(queriesFile).contains("least(size(")
    assert(!handRolled,
      s"$queriesFile hand-rolls a size-ratio guard; use Dedup.verifiedPairs")
  }

  test("MinHash signatures and band hashes are built only in Dedup") {
    for (stage <- Seq("minhashSignature(", "lshBandHashes(")) {
      val elsewhere = filesWith(stage).filterNot(_ == dedupFile)
      assert(elsewhere.isEmpty,
        s"$stage outside $dedupFile: ${elsewhere.mkString(", ")}; " +
          "use Dedup.signatures / Dedup.bandRows")
    }
  }

  test("SimHash chunks and Hamming verify are written only in Dedup") {
    for (stage <- Seq("simhashChunks(", "hamming(")) {
      val elsewhere = filesWith(stage).filterNot(_ == dedupFile)
      assert(elsewhere.isEmpty,
        s"$stage outside $dedupFile: ${elsewhere.mkString(", ")}; " +
          "use Dedup.hammingPairs")
    }
  }

  test("q104 hand-rolls no band shift and no xor verify") {
    // the DuckDB oracle spells these xor( and >>, so neither trips on SQL
    for (stage <- Seq("bitwiseXOR(", "shiftright(")) {
      assert(!source(multimodalFile).contains(stage),
        s"$multimodalFile calls $stage; use Dedup.hammingPairs")
    }
  }

  test("winnowing fingerprints are paired only in Dedup") {
    // q33 (TextQueries) counts fingerprints and pairs none of them
    val allowed = Set(dedupFile, "graft/ext/TextAnalysis.scala",
      "graft/queries/TextQueries.scala")
    val elsewhere = filesWith("fingerprintsFromHashes(").filterNot(allowed)
    assert(elsewhere.isEmpty,
      s"fingerprintsFromHashes( in ${elsewhere.mkString(", ")}; " +
        "use Dedup.winnowPairs")
  }

  test("ScaleProbe measures the production pair stages, not its own") {
    assert(!source(scaleProbeFile).contains("pairsFromBuckets("),
      s"$scaleProbeFile builds its own bucket pairs; call the Dedup stage " +
        "the query runs")
  }

  test("no connected-components algorithm switch and no one-shot cross-set pairs") {
    for (gone <- Seq("\"minlabel\"", "minhashLshPairsAcross")) {
      val hits = filesWith(gone)
      assert(hits.isEmpty, s"$gone is back in ${hits.mkString(", ")}")
    }
  }

  test("StreamingQueries tallies n_admitted in one place") {
    val n = """\.as\("n_admitted"\)""".r.findAllMatchIn(source(streamingFile)).size
    assert(n === 1, s"n_admitted is aliased $n times in $streamingFile; use admission")
  }
}
