package graft

import graft.ext.{Hashing, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class TextAnalysisSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  test("md5Long matches the engine-portable definition (known value)") {
    // md5("abc") = 900150983cd24fb0...; first 15 hex = 0x900150983cd24fb
    val got = Seq("abc").toDF("s")
      .select(Hashing.md5Long(col("s")).as("h")).head.getLong(0)
    assert(got === 648541476951500027L)
  }

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("ab cd1 ef-gh").toDF("t").select(
      TextAnalysis.wsTokenCount(col("t")).as("ws"),
      TextAnalysis.bpeTokenCount(col("t")).as("bpe"))
    val r = df.head
    assert(r.getInt(0) === 3)
    // pieces: ab, cd, 1, ef, -, gh
    assert(r.getInt(1) === 6)
  }

  test("quality score is in [0,1] and stopword-rich text scores higher") {
    val df = Seq(
      ("rich", ("the a of and to in is it " * 10).trim),
      ("poor", ("zz qq xx yy ww vv uu tt " * 10).trim)
    ).toDF("k", "t").select(col("k"), round(TextAnalysis.qualityScoreRaw(col("t")), 4).as("q"))
    val m = df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m("rich") > m("poor"))
  }

  test("langId picks the profile with most stopword hits; ties → order") {
    val df = Seq(
      ("the a of data", "en"),
      ("el la de los datos", "es"),
      ("der die das und", "de"),
      ("xxxx yyyy zzzz", "en") // zero everywhere → first in LangOrder
    ).toDF("t", "want").select(TextAnalysis.langId(col("t")).as("got"), col("want"))
    df.collect().foreach(r => assert(r.getString(0) === r.getString(1)))
    // NULL text pinned to NULL (null-in/null-out), not a guessed language
    val nul = Seq(Option.empty[String], Some("the a of data")).toDF("t")
      .select(TextAnalysis.langId(col("t")).as("got")).collect()
    assert(nul.map(r => Option(r.getString(0))).toSet
      === Set(None, Some("en")))
  }

  test("native WinnowFingerprints is bit-identical to the HOF composition") {
    val rnd = new scala.util.Random(13)
    // lengths straddle every branch: empty, < w, == w, long with repeats
    val rows = Seq(Seq.empty[Long], Seq(5L), Seq(3L, 1L, 2L)) ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(40) + 1)(rnd.nextLong() % 50))
    val w = 4
    val df = rows.toDF("h")
    // the composition the kernel replaced, inlined verbatim
    val composed = array_distinct(
      when(size(col("h")) >= w,
        transform(sequence(lit(1), size(col("h")) - (w - 1)),
          i => array_min(slice(col("h"), i, lit(w)))))
        .otherwise(when(size(col("h")) > 0, array(array_min(col("h"))))
          .otherwise(array().cast("array<bigint>"))))
    val a = df.select(composed.as("fp")).collect().map(_.getSeq[Long](0))
    val b = df.select(TextAnalysis.fingerprintsFromHashes(col("h"), w).as("fp"))
      .collect().map(_.getSeq[Long](0))
    assert(a.toSeq === b.toSeq)
  }

  test("CMS totalCount equals the row count it replaced (q84's nTotal source)") {
    // q84 derives nTotal from sketch.totalCount() instead of a separate
    // distributed count action — valid because the CMS aggregate adds
    // each non-null input exactly once and q84's exploded term stream
    // has no nulls. Pin the equivalence on a frame with duplicates.
    val df = Seq("a", "b", "a", "c", "a", "b").toDF("term")
    val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      df.agg(count_min_sketch(col("term"), lit(0.01), lit(0.99), lit(42))
        .as("sk")).head.getAs[Array[Byte]](0))
    assert(sk.totalCount() === df.count())
    assert(sk.estimateCount("a") >= 3L)
  }

  test("fingerprints: deterministic, dedup'd, robust to short docs") {
    val txt = "a b c d e f g h i j k l m n"
    val df = Seq(txt, txt, "a b", "").toDF("t")
      .withColumn("h", TextAnalysis.shingleHashes(col("t"), 3))
      .select(TextAnalysis.fingerprintsFromHashes(col("h"), 4).as("fp"))
    val rows = df.collect().map(_.getSeq[Long](0))
    assert(rows(0).nonEmpty && rows(0) === rows(1)) // same text → same fp
    assert(rows(0).distinct === rows(0))            // dedup'd
    assert(rows(2).isEmpty && rows(3).isEmpty)      // < 3 tokens → empty
  }
}
