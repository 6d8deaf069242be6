package graft

import graft.sinks.{KafkaJsonSink, TopicRouter}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

/** File-backed contract test of the Kafka wire path (SURVEY §2.2
  * K1/K3): the sandbox has no broker, so the spec exercises every
  * engine-side stage — payload serialization, the binary (key, value,
  * topic) wire shape the connector transmits, multi-topic fan-in and
  * topic routing — by persisting the wire frame to parquet where a
  * broker would carry it. The engine has no consumer (the reference
  * consumes with Logstash), so the spec decodes the frame itself, the
  * way any subscriber reads it. Only the socket is out of scope; the
  * producer option map is asserted against the exact keys
  * spark-sql-kafka consumes. */
class KafkaContractSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  private val schema = StructType(Seq(
    StructField("nodeid", StringType), StructField("kpiValue", DoubleType)))

  /** A subscriber's view of wire rows: topic, string key and the value
    * JSON decoded with a fixed schema, which drops fields it does not
    * name (schema-on-read, P3). */
  private def decode(wire: DataFrame): DataFrame =
    wire.select(col("topic"), col("key").cast("string").as("key"),
      from_json(col("value").cast("string"), schema).as("r"))
      .select(col("topic"), col("key"), col("r.*"))

  test("connector option maps carry the exact keys spark-sql-kafka consumes") {
    assert(KafkaJsonSink.kafkaWriteOptions("xmlt", "b1:9092,b2:9092") ===
      Map("kafka.bootstrap.servers" -> "b1:9092,b2:9092", "topic" -> "xmlt"))
  }

  test("produce→consume round trip: payload → wire frame → parse") {
    val rows = Seq(("n1", 1.5, "drop_me"), ("n2", 0.0, "x"))
      .toDF("nodeid", "kpiValue", "extra")
    val payload = KafkaJsonSink.payload(rows, exclude = Set.empty,
      keyExpr = Some(lit("batch-7")))
    val wire = KafkaJsonSink.wireFrame(payload, "xmlt")
    assert(wire.schema.map(f => (f.name, f.dataType)) === Seq(
      "key" -> BinaryType, "value" -> BinaryType, "topic" -> StringType))
    // persist where the broker would sit, read back, decode; the
    // subscriber's fixed schema drops `extra` (schema-on-read P3)
    val dir = Files.createTempDirectory("kwire_").toString + "/t"
    wire.write.parquet(dir)
    val got = decode(spark.read.parquet(dir))
      .orderBy("nodeid").collect()
    assert(got.map(_.getString(0)).toSeq === Seq("xmlt", "xmlt"))
    assert(got.map(_.getString(1)).toSeq === Seq("batch-7", "batch-7"))
    assert(got.map(r => (r.getString(2), r.getDouble(3))).toSeq ===
      Seq(("n1", 1.5), ("n2", 0.0)))
  }

  test("keyless payload wires a null key (valid kafka produce)") {
    val payload = KafkaJsonSink.payload(Seq(("n9", 2.0))
      .toDF("nodeid", "kpiValue"), exclude = Set.empty)
    val wire = KafkaJsonSink.wireFrame(payload, "xmlhard")
    val r = wire.head
    assert(r.isNullAt(0) && r.getString(2) === "xmlhard")
  }

  test("multi-topic fan-in parses then routes back out per topic (K3 round trip)") {
    val fast = KafkaJsonSink.wireFrame(KafkaJsonSink.payload(
      Seq(("f1", 1.0)).toDF("nodeid", "kpiValue"), Set.empty), "xmlt_fast")
    val hard = KafkaJsonSink.wireFrame(KafkaJsonSink.payload(
      Seq(("h1", 2.0), ("h2", 3.0)).toDF("nodeid", "kpiValue"), Set.empty), "xmlhard")
    val stray = KafkaJsonSink.wireFrame(KafkaJsonSink.payload(
      Seq(("s1", 9.0)).toDF("nodeid", "kpiValue"), Set.empty), "unknown_topic")
    // one subscription over all topics
    val consumed = decode(fast.union(hard).union(stray))
    val outDir = Files.createTempDirectory("kroute_").toString
    TopicRouter.route(consumed, "topic",
      Map(
        "xmlt_fast" -> ((df: DataFrame) =>
          df.write.parquet(s"$outDir/fast")),
        "xmlhard" -> ((df: DataFrame) =>
          df.write.parquet(s"$outDir/hard"))),
      fallback = Some(df => df.write.parquet(s"$outDir/rest")))
    assert(spark.read.parquet(s"$outDir/fast").select("nodeid")
      .as[String].collect().toSet === Set("f1"))
    assert(spark.read.parquet(s"$outDir/hard").select("nodeid")
      .as[String].collect().toSet === Set("h1", "h2"))
    assert(spark.read.parquet(s"$outDir/rest").select("nodeid")
      .as[String].collect().toSet === Set("s1"))
  }
}
