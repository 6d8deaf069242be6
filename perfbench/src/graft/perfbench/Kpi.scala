package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flows.Flows
import graft.model.Schemas
import graft.sinks.KafkaJsonSink
import graft.sources.XmlMeas
import graft.streaming.{FileLifecycle, FilePipeline, FilePipelineConfig}
import graft.transforms.Cleanse

/** The `kpi_ingest` workload: each round lands one generated batch per
  * flow and drains it through `Flows`. The XML flows land into fresh flow
  * directories; the csv flow, like the reference schedule, drains one
  * input/checkpoint pair across rounds, because its file source archives
  * a batch's files only when it plans the next batch: the last file of a
  * drain is archived by the next drain. Landed files carry the round in
  * their names, so no round reuses a path the source has seen. A file
  * sink built from `KafkaJsonSink.wireFrame`/`writeFiles` stands in for
  * the broker. Each drain is one unit; its published rows, kpiValue sum,
  * lifecycle effects and `FlowReport` are checked against the numbers the
  * generator wrote next to the batch. The first `warmRounds` rounds in
  * the process pay the drains' first-use and compilation cost: they are
  * checked but left out of the end-to-end metrics, which come from the
  * `coreRounds` rounds after them. Those run even past the time limit,
  * so every run measures the same rounds; later rounds, until the time
  * is up, are checked only.
  *
  * Traced core rounds also land the batch a second time and
  * drain it through the individual layer calls, so each layer's share
  * and the residual the layer calls do not account for both show. */
class Kpi(ctx: Ctx, spark: SparkSession, work: String, trace: Boolean) {
  import Main.mapper

  private val pool = s"$work/pool"
  private val expected: JsonNode = mapper.readTree(new File(s"$pool/expected.json"))
  private val batches = expected.get("batches").size()

  private val topics = Map("gzip" -> "xmlt", "xml_fast" -> "xmlt_fast",
    "hardware" -> "xmlhard", "csv" -> "csv")
  private val variants = Map("gzip" -> Schemas.kpiGzip, "xml_fast" -> Schemas.kpiXmlFast,
    "hardware" -> Schemas.kpiHardware).map { case (k, v) => k -> v.fieldNames.toSeq }
  private val flows = Seq("gzip", "xml_fast", "hardware", "csv")
  private val warmRounds = 2
  private val coreRounds = 2

  private val layer = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = layer(k) += v
  // time spent in outermost layer calls (a csv micro-batch's cleanse and
  // write run inside FilePipeline.drainAvailable and count once)
  private var topLevel = 0.0
  private var depth = 0
  private def clock[T](k: String)(body: => T): T = {
    val t0 = System.nanoTime()
    depth += 1
    try body finally {
      depth -= 1
      val dt = (System.nanoTime() - t0) / 1e9
      add(s"$k.s", dt)
      if (depth == 0) topLevel += dt
    }
  }

  private def ls(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filterNot(f => f.getName.startsWith(".") || f.getName.endsWith(".crc"))

  /** Flow directories of one landing: `src` is where the batch lands.
    * The csv flow's input, archive and checkpoint are under `stream`,
    * which outlives the round. */
  private final class Dirs(val root: String, flow: String, stream: String) {
    private val keep = if (flow == "csv") stream else s"$root/$flow"
    val src: String = s"$keep/src"
    val in: String = if (flow == "gzip") s"$root/$flow/in" else src
    val proc = s"$keep/proc"
    val bak = s"$root/$flow/bak"
    val chk = s"$keep/chk"
    val out = s"$root/$flow/out"
    def flowDirs: Flows.FlowDirs = Flows.FlowDirs(in, proc, bak)
  }

  /** Land batch `b` as round `round`; returns the directories and the
    * names of the landed files per flow. */
  private def land(b: Int, round: Int, root: String, stream: String)
      : Map[String, (Dirs, Set[String])] = flows.map { f =>
    val d = new Dirs(root, f, stream)
    Files.createDirectories(Paths.get(d.src))
    val names = ls(s"$pool/b$b/$f").map { x =>
      val name = s"r${round}_${x.getName}"
      Files.copy(x.toPath, Paths.get(d.src, name)); name
    }
    f -> (d, names.toSet)
  }.toMap

  private def sink(flow: String, dir: String): DataFrame => Unit =
    df => KafkaJsonSink.writeFiles(KafkaJsonSink.wireFrame(df, topics(flow)), dir)

  private def drain(flow: String, d: Dirs): Option[Flows.FlowReport] = flow match {
    case "gzip" => Some(Flows.gzipXml(spark, d.src, d.flowDirs, sink(flow, d.out)))
    case "xml_fast" => Some(Flows.xmlFast(spark, d.flowDirs, sink(flow, d.out)))
    case "hardware" => Some(Flows.hardware(spark, d.flowDirs, sink(flow, d.out)))
    case "csv" => Flows.csvCells(spark, d.src, d.chk, d.proc, sink(flow, d.out)); None
  }

  /** Published rows and the sum of the checked numeric field per topic,
    * over every flow's sink in one job. */
  private def published(dirs: Seq[String]): Map[String, (Long, Double)] = {
    val value = col("value").cast("string")
    spark.read.parquet(dirs: _*).groupBy(col("topic")).agg(count(lit(1)),
        sum(coalesce(get_json_object(value, "$.kpiValue"),
          get_json_object(value, "$.Latitude")).cast("double")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) 0.0 else r.getDouble(2))).toMap
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  /** Every way a drain can be wrong, as a list of complaints. */
  private def check(flow: String, d: Dirs, landed: Set[String],
      rep: Option[Flows.FlowReport], exp: JsonNode,
      pub: Map[String, (Long, Double)]): Seq[String] = {
    val rows = exp.get("rows").asLong; val total = exp.get("sum").asDouble
    val (n, s) = pub.getOrElse(topics(flow), (0L, 0.0))
    val left = (ls(d.src) ++ (if (flow == "gzip") ls(d.in) else Nil)).map(_.getName)
    // csv: every earlier round's files archived, and of this round's at
    // most the last committed one, which the next drain archives
    val drained =
      if (flow == "csv") left.forall(landed) && left.size <= 1 else left.isEmpty
    Seq(
      (n == rows) -> s"published $n rows, expected $rows",
      near(s, total) -> s"published sum $s, expected $total",
      drained -> s"input not drained: ${left.mkString(",")}") ++
      rep.toSeq.flatMap { r => Seq(
        r.ok -> s"FlowReport not ok: $r",
        (r.rows == rows) -> s"FlowReport rows ${r.rows}, expected $rows",
        (r.files == exp.get("files").asInt) -> s"FlowReport files ${r.files}",
        (ls(d.bak).size == exp.get("distinct").asInt) ->
          s"${ls(d.bak).size} backups, expected ${exp.get("distinct").asInt}")
      } collect { case (false, why) => s"$flow: $why" }
  }

  def run(seed: Long, seconds: Double, out: ObjectNode): Unit = {
    val start = new java.util.Random(seed).nextInt(batches)
    val stream = ctx.freshDir("kpi-stream")
    val layersStream = ctx.freshDir("kpi-layers-stream")
    val t0 = ctx.now
    var round = 0; var tracedRounds = 0
    while (round < warmRounds + coreRounds || ctx.now - t0 < seconds) {
      val b = (start + round) % batches
      val exp = expected.get("batches").get(b)
      val dirs = land(b, round, ctx.freshDir("kpi"), stream)
      val core = round >= warmRounds && round < warmRounds + coreRounds
      val drained = flows.map { f =>
        var rep: Option[Flows.FlowReport] = None
        val i = ctx.timed(s"r$round/$f", "drain", core) {
          rep = drain(f, dirs(f)._1); (true, exp.get(f).get("rows").asLong)
        }
        (f, i, rep)
      }
      val flowsWall = drained.map(d => ctx.units(d._2).wall).sum
      val pub = try published(flows.map(dirs(_)._1.out).filter(d => new File(d).exists))
        catch { case e: Exception => System.err.println(s"[perfbench] read-back: $e"); Map.empty[String, (Long, Double)] }
      drained.foreach { case (f, i, rep) =>
        if (ctx.units(i).ok) {
          val (d, landed) = dirs(f)
          val bad = try check(f, d, landed, rep, exp.get(f), pub)
            catch { case e: Exception => Seq(s"$f: check threw $e") }
          if (bad.nonEmpty) ctx.fail(i, bad.mkString("; "))
        }
      }
      if (trace && core) {
        val dec = land(b, round, ctx.freshDir("kpi-layers"), layersStream)
        val d0 = System.nanoTime()
        flows.foreach(f => decomposed(f, dec(f)._1))
        add("kpi.decomposed_s", (System.nanoTime() - d0) / 1e9)
        add("kpi.flows_s", flowsWall)
        tracedRounds += 1
        ctx.rmrf(dec.values.head._1.root)
      }
      ctx.rmrf(dirs.values.head._1.root)
      round += 1
    }

    val per = math.max(tracedRounds, 1).toDouble
    layer("kpi.residual_s") = layer("kpi.flows_s") - topLevel
    layer.foreach { case (k, v) => out.put(k, v / per) }
  }

  /** The same drain as `Flows`, one layer call at a time. The flatten is
    * cached and counted so its cost lands on the source layer instead of
    * the sink that would otherwise pull it. */
  private def decomposed(flow: String, d: Dirs): Unit = {
    val now = System.currentTimeMillis()
    if (flow == "csv") {
      val cfg = FilePipelineConfig(inputDir = d.src, schema = Schemas.cellKpi69,
        format = "csv", checkpointDir = d.chk, archiveDir = Some(d.proc),
        provenanceCol = None)
      clock("FilePipeline.drainAvailable") {
        FilePipeline.drainAvailable(spark, cfg, transform = identity,
          sink = (batch, id) => {
            val cleaned = clock("Cleanse.cellKpiChain") {
              val c = Cleanse.cellKpiChain(batch).cache(); c.count(); c
            }
            write(KafkaJsonSink.payload(cleaned, exclude = Set.empty,
              keyExpr = Some(lit(id.toString))), flow, d.out)
            cleaned.unpersist()
          })
      }
      return
    }
    val fl = new FileLifecycle(spark.sparkContext.hadoopConfiguration)
    if (flow == "gzip") {
      val n = clock("FileLifecycle.gunzipAll") {
        fl.gunzipAll(new Path(d.src), new Path(d.in), new Path(d.proc), now)
      }
      add("FileLifecycle.gunzipAll.files", n)
    }
    val listed = clock("FileLifecycle.auditRemaining") {
      fl.auditRemaining(new Path(d.in), "*.xml")
    }
    add("FileLifecycle.auditRemaining.files", listed.size)
    val flat = clock("XmlMeas.readAndFlatten") {
      val f = XmlMeas.readAndFlatten(spark, listed.map(_.getPath.toString))
        .select(variants(flow).map(col): _*).cache()
      add("XmlMeas.readAndFlatten.rows", f.count()); f
    }
    write(KafkaJsonSink.payload(flat, exclude = Set.empty), flow, d.out)
    flat.unpersist()
    listed.map(_.getPath).foreach { f =>
      val copied = clock("FileLifecycle.backupDeduped") {
        fl.backupDeduped(f, new Path(d.bak), now)
      }
      add("FileLifecycle.backupDeduped.files", 1)
      if (!copied) add("FileLifecycle.backupDeduped.skipped", 1)
      clock("FileLifecycle.moveProcessed") { fl.moveProcessed(f, new Path(d.proc), now) }
      add("FileLifecycle.moveProcessed.files", 1)
    }
    clock("FileLifecycle.auditRemaining") { fl.auditRemaining(new Path(d.in), "*.xml") }
  }

  private def dirBytes(dir: String): Long =
    ls(dir).filter(_.getName.endsWith(".parquet")).map(_.length).sum

  private def write(payload: DataFrame, flow: String, dir: String): Unit = {
    val before = dirBytes(dir)
    clock("KafkaJsonSink.write") {
      KafkaJsonSink.writeFiles(KafkaJsonSink.wireFrame(payload, topics(flow)), dir)
    }
    add("KafkaJsonSink.write.bytes", dirBytes(dir) - before)
  }
}
