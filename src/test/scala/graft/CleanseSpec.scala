package graft

import graft.transforms.Cleanse
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class CleanseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sentinelToZeroCast: NIL -> 0.0, others cast to double") {
    val df = Seq("NIL", "99.7", "0").toDF("kpiValue")
    val out = Cleanse.sentinelToZeroCast("kpiValue")(df)
      .as[Double].collect().sorted
    assert(out.toSeq == Seq(0.0, 0.0, 99.7))
    assert(Cleanse.sentinelToZeroCast("kpiValue")(df).schema("kpiValue")
      .dataType == DoubleType)
  }

  test("malformed inputs cleanse to null instead of throwing under ANSI") {
    // Pre-fix all three THREW under Spark 4's default ANSI mode
    // (CAST_INVALID_INPUT / CANNOT_PARSE_TIMESTAMP), wedging a
    // checkpointed streaming drain on one bad row forever.
    val junkCast = Cleanse.sentinelToZeroCast("v")(Seq("junk").toDF("v"))
      .collect()
    assert(junkCast.head.isNullAt(0))
    val junkTime = Cleanse.parseTime("t")(Seq("not a date").toDF("t"))
      .collect()
    assert(junkTime.head.isNullAt(0))
    val goodTime = Cleanse.parseTime("t")(Seq("04-13-2025 10:15").toDF("t"))
      .collect()
    assert(!goodTime.head.isNullAt(0)) // well-formed still parses
  }

  test("unknownFallback: marker survives a null id; chain() of zero stages is identity") {
    // concat is null-propagating: pre-fix a null id nulled the WHOLE
    // fallback and the row lumped into a null-name group
    val df = Seq((Option.empty[String], Option.empty[String]),
      (None, Some("9"))).toDF("name", "id")
    val out = df.select(Cleanse.unknownFallback(col("name"), col("id")).as("n"))
      .collect().map(_.getString(0)).toSet
    assert(out === Set("UNKNOWN_", "UNKNOWN_9"))
    // pre-fix: empty.reduceLeft UnsupportedOperationException
    val same = Cleanse.chain()(df)
    assert(same.collect().length === 2)
  }

  test("nilNormalizedToZero: trims + lowercases before comparing") {
    val df = Seq(" NIL ", "nil", "Nil", "3.5", "anil").toDF("v")
    val out = Cleanse.nilNormalizedToZero("v")(df).as[String].collect()
    assert(out.count(_ == "0") == 3)
    assert(out.contains("3.5") && out.contains("anil"))
  }

  test("nilNullToZero: NIL, NULL-string and real null all become 0") {
    val df = Seq(Some("NIL"), Some("NULL"), None, Some("7")).toDF("v")
    val out = Cleanse.nilNullToZero("v")(df).as[String].collect()
    assert(out.count(_ == "0") == 3 && out.contains("7"))
  }

  test("nodeid: split('=')[1].split(',')[0] semantics") {
    val df = Seq("eNodeB=NODE42,Cell=7", "noequals", "a=b").toDF("measObjLdn")
    val out = df.select(Cleanse.nodeid(col("measObjLdn")))
      .as[String].collect()
    assert(out.toSet == Set("NODE42", "", "b"))
  }

  test("nodeid: a second '=' inside the first field stops the capture") {
    // split('=')[1].split(',')[0] on "x=ABC=1,y" is "ABC": the [1] slice
    // already ends at the SECOND '='. The unanchored pre-r10 pattern
    // "=([^,]+)" captured "ABC=1" — this fixture fails on that code.
    val df = Seq("x=ABC=1,y", "SubNet=AREA=7", "k=v=w=z,t").toDF("measObjLdn")
    val out = df.select(Cleanse.nodeid(col("measObjLdn")))
      .as[String].collect()
    assert(out.toSet == Set("ABC", "AREA", "v"))
  }

  test("unknownFallback: UNKNOWN_{id} when name missing") {
    val df = Seq((Some("FT_RRC"), "1"), (None, "9")).toDF("kpiName", "kpiId")
    val out = df.select(Cleanse.unknownFallback(col("kpiName"), col("kpiId")))
      .as[String].collect()
    assert(out.toSet == Set("FT_RRC", "UNKNOWN_9"))
  }

  test("jsonValue: compact payload, excluded col dropped, optional key") {
    val df = Seq(("a", 1, "drop")).toDF("n", "k", "x")
    val v = Cleanse.jsonValue(df, exclude = Set("x")).as[String].head()
    assert(v == """{"n":"a","k":1}""")
    val kv = Cleanse.jsonValue(df, exclude = Set("x"),
      keyExpr = Some(org.apache.spark.sql.functions.lit(5)))
    assert(kv.columns.toSeq == Seq("key", "value"))
    assert(kv.head().getString(0) == "5")
  }

  test("cellKpiChain: reference order of fills/sentinels/rename/drop") {
    val schema = StructType(Seq(
      StructField("Time", StringType),
      StructField("eNodeB Name", StringType),
      StructField("Cell Name", StringType),
      StructField("Downlink EARFCN", IntegerType),
      StructField("LocalCell Id", IntegerType),
      StructField("Downlink bandwidth", IntegerType),
      StructField("Latitude", DoubleType),
      StructField("Longitude", DoubleType),
      StructField("Integrity", StringType),
      StructField("FT_UL.Interference", StringType)))
    val rows = Seq(
      Row("04-13-2025 10:15", null, "c1", null, 1, null, null, 35.1, "OK", " NIL "),
      Row("04-13-2025 10:30", "e1", null, 7, 2, 10, 36.2, null, "OK", "2.5"))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = Cleanse.cellKpiChain(df)
    assert(!out.columns.contains("Integrity"))
    assert(out.columns.contains("FT_UL_Interference"))
    assert(out.schema("Time").dataType == TimestampType)
    val r0 = out.filter($"`Cell Name`" === "c1").head()
    assert(r0.getAs[String]("eNodeB Name") == "N/A")
    assert(r0.getAs[Int]("Downlink EARFCN") == 0)
    assert(r0.getAs[Double]("Latitude") == 999.0)
    assert(r0.getAs[String]("FT_UL_Interference") == "0")
    val r1 = out.filter($"`eNodeB Name`" === "e1").head()
    assert(r1.getAs[String]("Cell Name") == "N/A")
    assert(r1.getAs[Double]("Longitude") == 999.0)
    assert(r1.getAs[String]("FT_UL_Interference") == "2.5")
  }

  test("cleanse idempotence: clean(clean(df)) == clean(df)") {
    val df = Seq(" NIL ", "3.5", "nil").toDF("v")
    val once = Cleanse.nilNormalizedToZero("v")(df)
    val twice = Cleanse.nilNormalizedToZero("v")(once)
    assert(once.as[String].collect().sorted.sameElements(
      twice.as[String].collect().sorted))
  }
}
