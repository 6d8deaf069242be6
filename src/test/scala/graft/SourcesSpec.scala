package graft

import graft.model.Schemas
import graft.streaming.{FilePipeline, FilePipelineConfig}
import graft.transforms.Cleanse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

class SourcesSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  test("corrupt JSON records: PERMISSIVE captures, DROPMALFORMED skips") {
    val dir = Files.createTempDirectory("corrupt_").toString
    Files.writeString(java.nio.file.Paths.get(dir, "a.json"),
      """{"kpiName":"A","kpiValue":"1"}
        |{not json at all
        |{"kpiName":"B","kpiValue":"2"}""".stripMargin)
    val schema = StructType(Seq(
      StructField("kpiName", StringType), StructField("kpiValue", StringType),
      StructField("_corrupt_record", StringType)))
    // Spark disallows querying only the corrupt column straight off the
    // scan (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — cache first, per docs
    val permissive = spark.read.schema(schema).json(dir).cache()
    assert(permissive.count() === 3)
    assert(permissive.filter(col("_corrupt_record").isNotNull).count() === 1)
    permissive.unpersist()
    val dropped = spark.read
      .schema(StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() === 2)
  }

  test("streaming CSV flow: 69-col schema, dotted names, full cellKpi cleanse") {
    val in = Files.createTempDirectory("csv_in_").toString
    val out = Files.createTempDirectory("csv_out_").toString
    val chk = Files.createTempDirectory("csv_chk_").toString
    val arch = Files.createTempDirectory("csv_arch_").toString
    val header = Schemas.cellKpi69.fieldNames
      .map(n => if (n.contains(",")) "\"" + n + "\"" else n).mkString(",")
    // two data rows: one clean, one with nulls + " NIL " interference
    def row(time: String, enb: String, nil: Boolean): String = {
      val cells = Schemas.cellKpi69.fields.map { f =>
        f.name match {
          case "Time" => time
          case "eNodeB Name" => enb
          case "Cell Name" => "cell-1"
          case "Integrity" => "OK"
          case "FT_UL.Interference" => if (nil) " NIL " else "42.5"
          case "Latitude" | "Longitude" => if (nil) "" else "10.5"
          case _ => if (nil) "" else "1"
        }
      }
      cells.mkString(",")
    }
    Files.writeString(java.nio.file.Paths.get(in, "kpis.csv"),
      header + "\n" + row("04-13-2025 10:00", "enb1", nil = false) +
        "\n" + row("04-13-2025 10:15", "enb2", nil = true))
    val cfg = FilePipelineConfig(inputDir = in, schema = Schemas.cellKpi69,
      format = "csv", checkpointDir = chk, archiveDir = Some(arch),
      provenanceCol = None)
    FilePipeline.drainAvailable(spark, cfg,
      transform = Cleanse.cellKpiChain,
      sink = (df, _) => df.write.mode("append").parquet(s"$out/data"))
    val got = spark.read.parquet(s"$out/data").orderBy(col("Time")).collect()
    assert(got.length === 2)
    val bySchema = spark.read.parquet(s"$out/data").schema.fieldNames.toSet
    assert(!bySchema.contains("Integrity"))            // dropped (P2)
    assert(bySchema.contains("FT_UL_Interference"))    // renamed (F6)
    assert(got(0).getAs[String]("FT_UL_Interference") === "42.5")
    assert(got(1).getAs[String]("FT_UL_Interference") === "0") // " NIL "→0 (P6)
    assert(got(1).getAs[Double]("Latitude") === 999.0) // null→sentinel (F5)
    assert(got(1).getAs[String]("eNodeB Name") === "enb2")
    assert(got(0).getAs[java.sql.Timestamp]("Time") != null) // parsed (F3)
  }

  test("Tables.events: every shipped ts encoding normalizes to TimestampType") {
    // The driver's generator has shipped events.ts three ways across
    // rounds: TIMESTAMP(NANOS) (read as long under nanosAsLong),
    // timestamp[us] isAdjustedToUTC=false (read as TIMESTAMP_NTZ), and a
    // tz-adjusted timestamp. Tables.events must hand every query
    // TimestampType with identical UTC instants regardless of encoding —
    // q58/q89/q99 collect/convert ts and break on a leaked NTZ.
    val base = Files.createTempDirectory("events_enc_").toString
    val instantUs = 1700000000000000L // 2023-11-14T22:13:20Z, micros
    val asTz = Seq((new java.sql.Timestamp(instantUs / 1000), 7L, "click", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
    asTz.write.parquet(s"$base/tz/events.parquet")
    asTz.select(col("ts").cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .write.parquet(s"$base/ntz/events.parquet")
    Seq((instantUs * 1000L, 7L, "click", 1.0))
      .toDF("ts", "user_id", "event_type", "value")
      .write.parquet(s"$base/nanos_as_long/events.parquet")
    for (enc <- Seq("tz", "ntz", "nanos_as_long")) {
      val df = Tables.events(spark, s"$base/$enc")
      assert(df.schema("ts").dataType === TimestampType, s"encoding=$enc")
      val got = df.select(unix_micros(col("ts"))).head.getLong(0)
      assert(got === instantUs, s"encoding=$enc")
    }
  }
}
