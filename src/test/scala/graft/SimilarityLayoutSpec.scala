package graft

import org.scalatest.funsuite.AnyFunSuite

/** The similarity pack keeps one recall tail and keeps its oracle apart.
  * Every recall query reports through `recallVsExact`, so the exact
  * baseline join and the `n_true`/count/recall columns are written once;
  * a query that hand-rolls its own tail drifts from the others. The
  * DuckDB SQL lives in `SimilarityOracles.scala` and shares only the
  * index knobs with the engine: an oracle that calls engine code would
  * check the engine against itself. These checks read the source, so
  * regrowth fails before any query runs. */
class SimilarityLayoutSpec extends AnyFunSuite {

  private val queriesFile = "graft/queries/SimilarityQueries.scala"
  private val oraclesFile = "graft/queries/SimilarityOracles.scala"

  private def source(f: String): String =
    MainSources.code.collectFirst { case (`f`, code) => code }
      .getOrElse(fail(s"$f is missing"))

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
}
