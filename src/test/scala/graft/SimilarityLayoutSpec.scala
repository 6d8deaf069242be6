package graft

import org.scalatest.funsuite.AnyFunSuite

/** The similarity pack keeps one recall tail and keeps its oracle apart.
  * Every recall query reports through `recallVsExact`, so the exact
  * baseline join and the `n_true`/count/recall columns are written once;
  * a query that hand-rolls its own tail drifts from the others. The
  * DuckDB SQL lives in `SimilarityOracles.scala` and shares only the
  * index knobs with the engine: an oracle that calls engine code would
  * check the engine against itself. The IVF index, its probe and the
  * vec_id-ordered vector fold are likewise written once, in
  * `Similarity`, and ScaleProbe measures that production path rather
  * than a hand copy. These checks read the source, so regrowth fails
  * before any query runs. */
class SimilarityLayoutSpec extends AnyFunSuite {

  private val queriesFile = "graft/queries/SimilarityQueries.scala"
  private val oraclesFile = "graft/queries/SimilarityOracles.scala"
  private val probeFile = "graft/ScaleProbe.scala"

  private def source(f: String): String =
    MainSources.code.collectFirst { case (`f`, code) => code }
      .getOrElse(fail(s"$f is missing"))

  private def occurrences(code: String, s: String): Int =
    java.util.regex.Pattern.quote(s).r.findAllMatchIn(code).size

  test("SimilarityQueries aliases n_true in one place") {
    val n = """\.as\("n_true"\)""".r.findAllMatchIn(source(queriesFile)).size
    assert(n === 1, s"n_true is aliased $n times in $queriesFile; use recallVsExact")
  }

  test("SimilarityQueries holds no DuckDB SQL") {
    val sql = Seq("list_reduce", "list_transform")
    assert(sql.exists(source(oraclesFile).contains),
      s"$oraclesFile no longer holds the oracle SQL")
    val hits = sql.filter(source(queriesFile).contains)
    assert(hits.isEmpty, s"DuckDB SQL in $queriesFile: ${hits.mkString(", ")}")
  }

  test("SimilarityOracles references no engine code") {
    val engine = """graft\.ext\.(?:Similarity|_)|\bSimilarity\.|FrameCache|DataFrame""".r
    val hits = engine.findAllIn(source(oraclesFile)).toSeq.distinct
    assert(hits.isEmpty, s"engine code in $oraclesFile: ${hits.mkString(", ")}")
  }

  test("one vec_id-ordered vector fold in src/main") {
    val fold = """collect_list(struct(col("vec_id")"""
    val hits = MainSources.code.map { case (f, code) => f -> occurrences(code, fold) }
      .filter(_._2 > 0)
    assert(hits.map(_._2).sum === 1, s"the ordered fold is written at $hits; use Similarity.orderedSum")
  }

  test("ScaleProbe probes IVF through the production index and rank") {
    val hits = Seq("assignCells(", "Window.").filter(source(probeFile).contains)
    assert(hits.isEmpty, s"$probeFile hand-rolls ${hits.mkString(", ")}; " +
      "use Similarity.ivfCells, ivfCandidates and topByScore")
  }

  test("SimilarityQueries builds one query-LUT frame and never dedups payloads") {
    val code = source(queriesFile)
    val dedups = occurrences(code, "dropDuplicates")
    assert(dedups === 0, s"$queriesFile dedups candidate payloads; rank the standing candidate set")
    val luts = occurrences(code, "pqLuts(")
    assert(luts === 1, s"pqLuts is called $luts times in $queriesFile; share pqFrames")
  }
}
