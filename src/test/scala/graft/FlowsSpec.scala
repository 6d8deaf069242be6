package graft

import graft.flows.Flows
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

/** End-to-end drains of the reference's four flows (SURVEY.md §3) on
  * temp dirs with a file sink standing in for Kafka. */
class FlowsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  private val xml =
    """<measCollecFile><fileHeader><measCollec beginTime="t0"/></fileHeader>
      |<measData><managedElement localDn="SubNetwork=TN,ManagedElement=ME1"/>
      |<measInfo measInfoId="M"><job jobId="j"/>
      |<granPeriod duration="PT900S" endTime="t1"/>
      |<measType p="1">K1</measType>
      |<measValue measObjLdn="eNodeB=N7,Cell=1"><r p="1">4.5</r><r p="2">NIL</r></measValue>
      |</measInfo></measData></measCollecFile>""".stripMargin

  private def mkFlow(): (Flows.FlowDirs, String) = {
    val root = Files.createTempDirectory("flow_").toString
    Seq("in", "proc", "bak", "out").foreach(d =>
      Files.createDirectories(Paths.get(root, d)))
    (Flows.FlowDirs(s"$root/in", s"$root/proc", s"$root/bak"), root)
  }

  private def fileSink(dir: String): DataFrame => Unit =
    df => df.write.mode("append").parquet(dir)

  test("xmlFast flow: flatten → publish → backup/move → clean audit") {
    val (dirs, root) = mkFlow()
    Files.writeString(Paths.get(dirs.input, "a.xml"), xml)
    val r = Flows.xmlFast(spark, dirs, fileSink(s"$root/out/data"), nowMillis = 7L)
    assert(r.files === 1 && r.rows === 2 && r.ok && r.remaining === 0)
    val vals = spark.read.parquet(s"$root/out/data").collect().map(_.getString(0))
    assert(vals.exists(v => v.contains("\"nodeid\":\"N7\"") && v.contains("\"kpiValue\":4.5")))
    assert(vals.exists(_.contains("\"kpiName\":\"UNKNOWN_2\"")))
    assert(!vals.exists(_.contains("localDn"))) // xml-fast variant has no localDn
    assert(Files.exists(Paths.get(dirs.processed, "processed_7_a.xml")))
    assert(new java.io.File(dirs.backup).list().count(_.startsWith("backup_")) === 1)
  }

  test("a file arriving MID-DRAIN does not fail the completeness audit") {
    // The audit compares the drain-START listing against what is still
    // present, not a re-glob of the live dir: pre-fix, this drain
    // reported ok=false/remaining=1 for the documented-healthy case
    // (late arrival waits for the next drain), which under continuous
    // feed made EVERY successful drain read as incomplete.
    val (dirs, root) = mkFlow()
    Files.writeString(Paths.get(dirs.input, "a.xml"), xml)
    val sink: DataFrame => Unit = df => {
      df.write.mode("append").parquet(s"$root/out/data")
      // simulate an upload landing while the drain is publishing
      Files.writeString(Paths.get(dirs.input, "late.xml"), xml)
    }
    val r = Flows.xmlFast(spark, dirs, sink, nowMillis = 9L)
    assert(r.files === 1 && r.ok && r.remaining === 0)
    assert(Files.exists(Paths.get(dirs.input, "late.xml"))) // next drain's
    assert(Files.exists(Paths.get(dirs.processed, "processed_9_a.xml")))
  }

  test("audit identity is (path, modTime): re-delivered same-named file is not a miss") {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    def st(name: String, mod: Long) =
      new FileStatus(1L, false, 1, 1L, mod, new HPath(s"/in/$name"))
    val started = Seq(st("a.xml", 100L), st("b.xml", 100L))
    // a.xml was moved, then a NEW upload re-used its name (new modTime) —
    // healthy, next drain's problem; b.xml is byte-for-byte the status
    // from the start listing — it survived its own move, a genuine miss.
    // Pre-fix bare-path comparison counted both.
    assert(Flows.missedOf(started,
      Seq(st("a.xml", 200L), st("b.xml", 100L))) === 1)
    assert(Flows.missedOf(started, Seq.empty) === 0)
  }

  test("gzip flow: gunzip stage, 9-field variant drops nodeid") {
    val (dirs, root) = mkFlow()
    val gz = s"$root/gz"; Files.createDirectories(Paths.get(gz))
    val zos = new GZIPOutputStream(new java.io.FileOutputStream(s"$gz/a.xml.gz"))
    zos.write(xml.getBytes("UTF-8")); zos.close()
    val r = Flows.gzipXml(spark, gz, dirs, fileSink(s"$root/out/data"), nowMillis = 7L)
    assert(r.files === 1 && r.rows === 2 && r.remaining === 0)
    val vals = spark.read.parquet(s"$root/out/data").collect().map(_.getString(0))
    assert(!vals.exists(_.contains("nodeid"))) // P3 projection
    assert(vals.exists(_.contains("\"measObjLdn\":\"eNodeB=N7,Cell=1\"")))
  }

  test("hardware flow: localDn present, raw measObjLdn, no nodeid") {
    val (dirs, root) = mkFlow()
    Files.writeString(Paths.get(dirs.input, "hw.xml"), xml)
    val r = Flows.hardware(spark, dirs, fileSink(s"$root/out/data"), nowMillis = 7L)
    assert(r.rows === 2)
    val vals = spark.read.parquet(s"$root/out/data").collect().map(_.getString(0))
    assert(vals.forall(_.contains("\"localDn\":\"SubNetwork=TN,ManagedElement=ME1\"")))
    assert(!vals.exists(_.contains("nodeid")))
  }

  test("empty input dir: branch-if-empty short-circuits cleanly") {
    val (dirs, root) = mkFlow()
    val r = Flows.xmlFast(spark, dirs, fileSink(s"$root/out/data"))
    assert(r === Flows.FlowReport(0, 0L, ok = true, remaining = 0))
    assert(!Files.exists(Paths.get(root, "out", "data")))
  }

  test("a listed file that flattens to zero KPI rows still drains") {
    // Branch-if-empty is the start listing (the reference skips on zero
    // FILES): a file with no measValue publishes zero rows, is backed up
    // and moved, and the drain reports it.
    val (dirs, root) = mkFlow()
    val noValues = xml.replaceAll("(?s)<measValue.*</measValue>", "")
    Files.writeString(Paths.get(dirs.input, "z.xml"), noValues)
    val r = Flows.xmlFast(spark, dirs, fileSink(s"$root/out/data"), nowMillis = 5L)
    assert(r === Flows.FlowReport(files = 1, rows = 0L, ok = true, remaining = 0))
    assert(spark.read.parquet(s"$root/out/data").count() === 0L)
    assert(Files.exists(Paths.get(dirs.processed, "processed_5_z.xml")))
    assert(!Files.exists(Paths.get(dirs.input, "z.xml")))
    assert(new java.io.File(dirs.backup).list().count(_.startsWith("backup_")) === 1)
  }

  test("index store: all four reference topics route to their index dirs " +
      "with kafka_topic + content doc_id (logstash.conf:13-46)") {
    import graft.sinks.{IndexStore, TopicRouter}
    import spark.implicits._
    val root = Files.createTempDirectory("idx_").toString
    val batch = Seq(
      ("xmlt_fast", """{"k":"a"}"""), ("xmlt_fast", """{"k":"b"}"""),
      ("xmlt", """{"k":"c"}"""), ("csv", """{"k":"d"}"""),
      ("xmlhard", """{"k":"e"}"""), ("other", """{"k":"z"}"""))
      .toDF("topic", "value")
    var fellBack = 0L
    TopicRouter.route(batch, "topic", IndexStore.sinks(root),
      fallback = Some(df => fellBack = df.count()))
    val expected = Map("filesxmlonly" -> 2L, "filesgziphere" -> 1L,
      "filescsv" -> 1L, "xmlhardware" -> 1L)
    expected.foreach { case (index, n) =>
      val df = IndexStore.index(spark, root, index)
      assert(df.count() === n, index)
      // decoration: topic metadata survives, doc_id is the content md5
      val row = df.select("kafka_topic", "doc_id", "value").head
      assert(IndexStore.ReferenceRouting(row.getString(0)) === index)
      assert(row.getString(1) ===
        org.apache.commons.codec.digest.DigestUtils.md5Hex(row.getString(2)))
    }
    assert(fellBack === 1L) // the unrouted topic went to the fallback
    // replay the same batch: append lands a second copy with IDENTICAL
    // doc_ids — the at-least-once contract stays dedupable downstream
    TopicRouter.route(batch, "topic", IndexStore.sinks(root))
    val replayed = IndexStore.index(spark, root, "filesxmlonly")
    assert(replayed.count() === 4L)
    assert(replayed.select("doc_id").distinct().count() === 2L)
  }

  test("serving round-trip: documents routed through an index store read back content-identical") {
    import graft.sinks.{IndexStore, TopicRouter}
    import org.apache.spark.sql.functions.{col, from_json, md5, struct, to_json}
    import org.apache.spark.sql.types._
    val root = Files.createTempDirectory("idx_docs_").toString
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("text"))
    val batch = docs
      .select(to_json(struct(col("doc_id"), col("source"), col("text")))
        .as("value"))
      .withColumn("topic", org.apache.spark.sql.functions.lit("docs"))
    TopicRouter.route(batch, "topic",
      IndexStore.sinks(root, routing = Map("docs" -> "documents_idx")))
    // read the index back and re-project the payload: any retrieval
    // query (q103's BM25, q86's chunks) now runs on this frame — the
    // round trip must therefore preserve the corpus EXACTLY
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("source", StringType), StructField("text", StringType)))
    val served = IndexStore.index(spark, root, "documents_idx")
      .select(from_json(col("value"), schema).as("p")).select("p.*")
    assert(served.count() === docs.count())
    assert(served.select(md5(col("text").cast("binary"))).except(
      docs.select(md5(col("text").cast("binary")))).count() === 0L)
    assert(docs.join(served, Seq("doc_id", "source", "text"), "left_anti")
      .count() === 0L)
  }
}
