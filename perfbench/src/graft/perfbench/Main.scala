package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{GraftSession, SparkEntry}
import graft.sinks.ArtifactStore

/** JVM side of the benchmark: sets up the engine session, runs one
  * workload closed-loop for a fixed time, checks every output and writes
  * the measurements as JSON. `run.py` builds it, generates the inputs
  * and prints the result line.
  *
  * Usage: `Main run <work> <data> <plan.json> <workload> <seed> <seconds> <trace>`
  *    or: `Main calibrate <work> <data> <out.json>`
  */
object Main {
  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: work :: data :: plan :: wl :: seed :: secs :: trace :: Nil =>
      val ctx = new Ctx(work, data, trace == "1")
      val res = ctx.run(wl, mapper.readTree(new File(plan)), seed.toLong,
        secs.toDouble)
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(new File(s"$work/result.json"), res)
      ctx.shutdown()
    case "calibrate" :: work :: data :: out :: Nil =>
      val ctx = new Ctx(work, data, trace = false)
      mapper.writerWithDefaultPrettyPrinter()
        .writeValue(new File(out), ctx.calibrate())
      ctx.shutdown()
    case _ =>
      System.err.println("usage: Main run <work> <data> <plan> <workload> " +
        "<seed> <seconds> <trace> | Main calibrate <work> <data> <out>")
      sys.exit(2)
  }

  /** Row count plus an order-independent hash of a query result.
    * Doubles are rounded to 6 places first so the hash does not hinge on
    * the last bits of a float sum; maps and variants are hashed through
    * their JSON text. Columns are renamed positionally so duplicate or
    * dotted output names cannot make the projection ambiguous. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      (f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case _: MapType => to_json(c)
        case t if t.typeName == "variant" => c.cast(StringType)
        case _ => c
      }).as(f.name)
    }
    val snap = ArtifactStore.snapshot(named.select(cols: _*), named.columns.toSeq)
    (snap.rows, snap.hashSum)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest order statistic with at least 10 units beyond it; with
    * 11 units or fewer, the lowest. */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.max(0, s.size - 11)) }
}

/** One measured execution: a drain or a query in one phase. `core` units
  * are the fixed set the end-to-end metrics are computed from; `threw`
  * units have no time worth reporting. */
final case class Measured(key: String, phase: String, wall: Double, cpu: Double,
    ok: Boolean, threw: Boolean, rows: Long, core: Boolean)

class Ctx(work: String, data: String, trace: Boolean) {
  import Main._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memBean = ManagementFactory.getMemoryMXBean
  private def cpuNow: Double = osBean.getProcessCpuTime / 1e9
  private[perfbench] def now: Double = System.nanoTime() / 1e9

  private[perfbench] val units = ArrayBuffer.empty[Measured]
  private var heapPeak = 0.0
  private var setupS = 0.0
  private var spark: SparkSession = _
  private var nextDir = 0

  val artifactRoot = s"$work/artifacts"

  private[perfbench] def freshDir(kind: String): String = {
    nextDir += 1
    val d = s"$work/$kind/$nextDir"
    Files.createDirectories(Paths.get(d)); d
  }

  private[perfbench] def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
  }

  // ---- session set-up --------------------------------------------------

  /** Build the session, run a first query and the warm-up; the set-up
    * time runs from JVM launch to the end of the warm-up. With tracing on,
    * the listeners are registered through the session confs here. */
  def setUp(): Unit = {
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) Trace.confs.foreach { case (k, v) => System.setProperty(k, v) }
    spark = GraftSession.local(cpus)
    SparkEntry.queries("q01_agg_summary")(spark, data).count()
    warmUp()
    setupS = System.currentTimeMillis() / 1e3 -
      ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
  }

  /** Warm-up the set-up ends with: a small stateful streaming drain
    * and an XML flatten, so the engine paths every workload uses are
    * loaded and compiled before the first measured unit. The inputs are
    * the benchmark's own, so no measured query's plan or fixture is
    * reused. */
  private def warmUp(): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val dir = s"$work/warmup"
    spark.range(0, 2000).select(col("id"),
        timestamp_seconds(col("id") * 7).as("ts"), (col("id") % 13).as("k"))
      .repartition(2).write.json(s"$dir/in")
    val q = spark.readStream.schema("id LONG, ts TIMESTAMP, k LONG").json(s"$dir/in")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "5 minutes"), col("k")).count()
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) => df.write.mode("append").parquet(s"$dir/out") }
      .option("checkpointLocation", s"$dir/chk").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val xml = "<measCollecFile><fileHeader><measCollec beginTime=\"t\"/></fileHeader>" +
      "<measData><measInfo measInfoId=\"m\"><measType p=\"1\">k</measType>" +
      "<measValue measObjLdn=\"a=b,c\"><r p=\"1\">1</r></measValue></measInfo>" +
      "</measData></measCollecFile>"
    graft.sources.XmlMeas.flatten(spark.range(1).select(lit(xml).as("x"), lit("f").as("f")),
      "x", "f").collect()
    rmrf(dir)
  }

  def shutdown(): Unit = if (spark != null) {
    GraftSession.close(spark); spark.stop(); spark = null
  }

  /** Collect garbage after a unit (untimed, so units do not pay for each
    * other's garbage); `record` adds the heap left in use to the peak,
    * which is taken after core units only. */
  private[perfbench] def sampleHeap(record: Boolean): Unit = {
    System.gc()
    if (record)
      heapPeak = math.max(heapPeak, memBean.getHeapMemoryUsage.getUsed / 1048576.0)
  }

  /** Time `body` as one unit (wall and process CPU); a throw or a wrong
    * output is a failed unit. Returns the unit's index. */
  private[perfbench] def timed(key: String, phase: String, core: Boolean)(
      body: => (Boolean, Long)): Int = {
    Trace.enabled = trace
    val c0 = cpuNow; val t0 = now
    val (ok, threw, rows) = try { val (o, r) = body; (o, false, r) } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $key/$phase failed: $e")
        (false, true, 0L)
    }
    units += Measured(key, phase, now - t0, cpuNow - c0, ok, threw, rows, core)
    // the listeners count a unit's own work only: deliver its events, then
    // stop recording before the checks and the next set-up run
    if (trace) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    Trace.enabled = false
    sampleHeap(record = core)
    if (!ok && !threw) System.err.println(s"[perfbench] $key/$phase: wrong output")
    units.size - 1
  }

  private[perfbench] def fail(i: Int, why: String): Unit = {
    System.err.println(s"[perfbench] ${units(i).key}: $why")
    units(i) = units(i).copy(ok = false)
  }

  // ---- queries ---------------------------------------------------------

  private def runQuery(s: SparkSession, q: String, d: String, phase: String,
      golden: JsonNode, core: Boolean): Unit = timed(q, phase, core) {
    val (rows, hash) = fingerprint(SparkEntry.queries(q)(s, d))
    val hashOk = golden.get("hash").isNull || golden.get("hash").asLong == hash
    (rows == golden.get("rows").asLong && hashOk, rows)
  }

  /** Land a private copy of the corpus tables: every memo and artifact is
    * keyed on the directory, so nothing carries over between operations. */
  private def landSnapshot(): String = {
    val d = freshDir("snap")
    new File(data).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, Paths.get(d, f.getName)))
    d
  }

  private def planQueries(plan: JsonNode, workload: String): Seq[(String, JsonNode)] =
    plan.get("queries").fields().asScala.map(e => e.getKey -> e.getValue)
      .filter(_._2.get("workload").asText == workload).toSeq.sortBy(_._1)

  private def refTotal(q: JsonNode): Double =
    q.get("ref").elements().asScala.map(_.asDouble).sum

  /** Size of each workload's core: the end-to-end metrics come from the
    * same units in every run, because which units a short run reaches
    * would otherwise move them more than any change could. */
  private val coreSize = Map("query_suite" -> 8, "corpus_snapshot" -> 2)

  /** The workload's queries split into the core and the rest. The core is
    * a stratified sample by reference cost: the queries ranked by cost
    * are cut into `coreSize` equal strata and the middle query of each is
    * taken, cheapest first. The rest is visited from a seeded offset, in
    * an order that spreads the cost ranks by the golden ratio, so any
    * stretch of it mixes cheap and costly queries alike. */
  private def coreAndRest(plan: JsonNode, workload: String, seed: Long)
      : (Seq[String], Iterator[String]) = {
    val ranked = planQueries(plan, workload)
      .map { case (n, q) => n -> refTotal(q) }.sortBy { case (n, c) => (-c, n) }.map(_._1)
    val k = coreSize(workload)
    val core = (0 until k).map(i => ranked(((i + 0.5) * ranked.size / k).toInt)).reverse
    val rest = ranked.filterNot(core.contains).zipWithIndex
      .sortBy { case (n, r) => ((r * 0.6180339887498949) % 1.0, n) }.map(_._1).toIndexedSeq
    val start = new java.util.Random(seed).nextInt(math.max(rest.size, 1))
    (core, rest.indices.iterator.map(i => rest((start + i) % rest.size)))
  }

  private def corpusOps(plan: JsonNode, seed: Long, seconds: Double,
      layer: ObjectNode): Unit = {
    val byName = planQueries(plan, "corpus_snapshot").toMap
    val (core, rest) = coreAndRest(plan, "corpus_snapshot", seed)
    val origins = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var entries = 0; var ops = 0
    def recordOrigins(): Unit = {
      ArtifactStore.lastOrigin.values.foreach(o => origins(o) += 1)
      ArtifactStore.lastOrigin.clear()
    }
    def op(q: String, isCore: Boolean): Unit = {
      val g = byName(q)
      val d = landSnapshot()
      ArtifactStore.lastOrigin.clear()
      runQuery(spark, q, d, "cold", g, isCore)
      runQuery(spark, q, d, "warm", g, isCore)
      recordOrigins()
      val reload = if (g.get("standing").asBoolean) {
        val r = spark.newSession()
        r.conf.set("spark.graft.artifactDir", artifactRoot)
        runQuery(r, q, d, "reload", g, isCore)
        recordOrigins()
        Some(r)
      } else None
      entries += GraftSession.close(spark) + reload.map(GraftSession.close).getOrElse(0)
      // unpersist removes cached blocks asynchronously; wait, so the next
      // operation's heap samples do not see this one's blocks
      val settle = now + 2
      while (spark.sparkContext.getRDDStorageInfo.nonEmpty && now < settle) Thread.sleep(20)
      ops += 1
      rmrf(d)
    }
    spark.conf.set("spark.graft.artifactDir", artifactRoot)
    val t0 = now
    core.foreach(op(_, isCore = true))
    rotate(rest, byName, t0 + seconds)(op(_, isCore = false))
    val per = math.max(ops, 1).toDouble
    layer.put("FrameCache.entries_built", entries / per)
    Seq("built", "loaded", "rebuilt").foreach(o =>
      layer.put(s"ArtifactStore.$o", origins(o) / per))
    layer.put("corpus.ops", ops)
  }

  private def suite(plan: JsonNode, seed: Long, seconds: Double): Unit = {
    val byName = planQueries(plan, "query_suite").toMap
    val (core, rest) = coreAndRest(plan, "query_suite", seed)
    val t0 = now
    core.foreach(q => runQuery(spark, q, data, "once", byName(q), core = true))
    rotate(rest, byName, t0 + seconds)(q =>
      runQuery(spark, q, data, "once", byName(q), core = false))
  }

  /** Run rotation queries while each is predicted to end by `deadline`:
    * its calibrated cost scaled by how much slower than calibrated the
    * core ran in this process. A query predicted to overrun is skipped. */
  private def rotate(rest: Iterator[String], byName: Map[String, JsonNode],
      deadline: Double)(run: String => Unit): Unit = {
    val core = units.filter(_.core)
    val slow = core.map(_.wall).sum / math.max(1e-9,
      core.map(u => Option(byName(u.key).get("ref").get(u.phase)).map(_.asDouble).getOrElse(0.0)).sum)
    rest.takeWhile(_ => now < deadline).foreach { q =>
      if (now + refTotal(byName(q)) * slow <= deadline) run(q)
    }
  }

  // ---- result ----------------------------------------------------------

  def run(workload: String, plan: JsonNode, seed: Long,
      seconds: Double): ObjectNode = {
    setUp()
    val layer = mapper.createObjectNode()
    val t0 = now
    workload match {
      case "kpi_ingest" => new Kpi(this, spark, work, trace).run(seed, seconds, layer)
      case "corpus_snapshot" => corpusOps(plan, seed, seconds, layer)
      case "query_suite" => suite(plan, seed, seconds)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loopWall = now - t0
    val all = units.toSeq
    val core = Some(all.filter(u => u.core && !u.threw)).filter(_.nonEmpty)
      .getOrElse(all.filterNot(_.threw))
    // a pass: one kpi round (median over the run's rounds) or the core set
    val (pass, passCpu) = workload match {
      case "kpi_ingest" =>
        val rounds = core.groupBy(_.key.takeWhile(_ != '/')).values.toSeq
        (median(rounds.map(_.map(_.wall).sum)), median(rounds.map(_.map(_.cpu).sum)))
      case _ => (core.map(_.wall).sum, core.map(_.cpu).sum)
    }
    def put(o: ObjectNode, k: String, v: Double, unit: String): Unit = {
      val m = o.putObject(k); m.put("value", v); m.put("unit", unit)
    }
    val out = mapper.createObjectNode()
    val e2e = out.putObject("end_to_end")
    put(e2e, "setup_s", setupS, "s")
    put(e2e, "wall_s", pass, "s")
    put(e2e, "cpu_s", passCpu, "s")
    put(e2e, "unit_p50_s", median(core.map(_.wall)), "s")
    put(e2e, "rows_per_s", core.map(_.rows).sum / core.map(_.wall).sum, "rows/s")
    put(e2e, "heap_peak_mb", heapPeak, "MB")

    val failed = all.count(!_.ok)
    val layerOut = out.putObject("per_layer")
    def putL(k: String, v: Double, unit: String): Unit = put(layerOut, k, v, unit)
    layerUnits.foreach { case (k, unit) =>
      putL(k, Option(layer.get(k)).map(_.asDouble).getOrElse(0.0), unit) }
    putL("failed_frac", if (all.isEmpty) 1.0 else failed.toDouble / all.size, "ratio")
    putL("unit_tail_s", tail(core.map(_.wall)), "s")
    Seq("cold", "warm", "reload").foreach { p =>
      putL(s"corpus.${p}_s", core.filter(_.phase == p).map(_.wall).sum, "s")
    }
    packTimes(all, putL)
    traceMetrics(all, putL)

    out.put("attempted", all.size)
    out.put("failed", failed)
    val det = out.putObject("details")
    det.put("loop_wall_s", loopWall)
    det.put("core_units", core.size)
    det.put("unit_tail_rank", math.max(0, core.size - 11) + 1)
    det.put("cpus", cpus)
    val ua = det.putArray("unit_log")
    all.foreach { u =>
      val n = ua.addObject()
      n.put("key", u.key); n.put("phase", u.phase); n.put("wall_s", u.wall)
      n.put("cpu_s", u.cpu); n.put("ok", u.ok); n.put("threw", u.threw)
      n.put("rows", u.rows); n.put("core", u.core)
    }
    out
  }

  /** Time per query pack over every query the run measured. */
  private def packTimes(all: Seq[Measured], putL: (String, Double, String) => Unit): Unit =
    Packs.names.foreach { pack =>
      putL(s"queries.$pack.s", all.filter(u => Packs.of(u.key) == pack).map(_.wall).sum, "s")
    }

  private def traceMetrics(all: Seq[Measured],
      putL: (String, Double, String) => Unit): Unit = {
    val n = math.max(all.size, 1).toDouble
    putL("spark.jobs", Trace.jobs.get / n, "count")
    putL("spark.tasks", Trace.tasks.get / n, "count")
    putL("spark.executor_cpu_s", Trace.executorCpuNs.get / 1e9 / n, "s")
    putL("spark.gc_s", Trace.gcMs.get / 1e3 / n, "s")
    putL("spark.shuffle_write_bytes", Trace.shuffleWriteBytes.get / n, "bytes")
    putL("spark.input_bytes", Trace.inputBytes.get / n, "bytes")
    putL("spark.spill_bytes", Trace.spillBytes.get / n, "bytes")
    val planS = Trace.planS.sum / n; val execS = Trace.execS.sum / n
    putL("query.plan_s", planS, "s")
    putL("query.exec_s", execS, "s")
    putL("query.residual_s", if (trace) all.map(_.wall).sum / n - planS - execS else 0.0, "s")
    val b = Trace.batchDurations
    putL("stream.batches", b.size / n, "count")
    putL("stream.batch_p50_ms", median(b.map(_._1)), "ms")
    putL("stream.commit_ms", median(b.map(_._2)), "ms")
  }

  /** Every per-layer metric the harness fills; ones a workload never
    * feeds stay 0 (the layer did no work in it). */
  private val layerUnits: Seq[(String, String)] = Seq(
    "FileLifecycle.gunzipAll.s" -> "s", "FileLifecycle.gunzipAll.files" -> "count",
    "FileLifecycle.backupDeduped.s" -> "s", "FileLifecycle.backupDeduped.files" -> "count",
    "FileLifecycle.backupDeduped.skipped" -> "count",
    "FileLifecycle.moveProcessed.s" -> "s", "FileLifecycle.moveProcessed.files" -> "count",
    "FileLifecycle.auditRemaining.s" -> "s", "FileLifecycle.auditRemaining.files" -> "count",
    "XmlMeas.readAndFlatten.s" -> "s", "XmlMeas.readAndFlatten.rows" -> "count",
    "KafkaJsonSink.write.s" -> "s", "KafkaJsonSink.write.bytes" -> "bytes",
    "Cleanse.cellKpiChain.s" -> "s", "FilePipeline.drainAvailable.s" -> "s",
    "kpi.decomposed_s" -> "s", "kpi.flows_s" -> "s", "kpi.residual_s" -> "s",
    "FrameCache.entries_built" -> "count", "ArtifactStore.built" -> "count",
    "ArtifactStore.loaded" -> "count", "ArtifactStore.rebuilt" -> "count",
    "corpus.ops" -> "count")

  // ---- calibration -----------------------------------------------------

  /** Run every registered query on its own fresh snapshot: cold, warm
    * and (for standing-artifact consumers) reload. A query belongs to
    * `corpus_snapshot` when it leaves session memo entries behind
    * (`GraftSession.close` evicts any) or records an artifact origin;
    * every other query belongs to `query_suite`. */
  def calibrate(): ObjectNode = {
    setUp()
    spark.conf.set("spark.graft.artifactDir", artifactRoot)
    val out = mapper.createObjectNode()
    val qs = out.putObject("queries")
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      val d = landSnapshot()
      def once(s: SparkSession): (Double, Option[(Long, Long)]) = {
        sampleHeap(record = false)
        val t0 = now
        val r = try Some(fingerprint(SparkEntry.queries(q)(s, d))) catch {
          case e: Throwable => System.err.println(s"[calibrate] $q failed: $e"); None
        }
        (now - t0, r)
      }
      ArtifactStore.lastOrigin.clear()
      val (cold, f1) = once(spark)
      val (warm, f2) = once(spark)
      val origins = ArtifactStore.lastOrigin.values.toSeq
      val standing = origins.contains("built")
      val reload = if (standing) {
        val r = spark.newSession()
        r.conf.set("spark.graft.artifactDir", artifactRoot)
        val res = once(r); GraftSession.close(r); Some(res)
      } else None
      val entries = GraftSession.close(spark)
      val corpus = entries > 0 || origins.nonEmpty
      val n = qs.putObject(q)
      n.put("pack", Packs.of(q))
      n.put("workload", if (corpus) "corpus_snapshot" else "query_suite")
      n.put("standing", standing)
      n.put("memo_entries", entries)
      val fs = Seq(f1, f2) ++ reload.map(_._2)
      n.put("rows", f1.map(_._1).getOrElse(-1L))
      if (fs.forall(_ == f1) && f1.isDefined) n.put("hash", f1.get._2) else n.putNull("hash")
      val ref = n.putObject("ref")
      if (corpus) {
        ref.put("cold", cold); ref.put("warm", warm)
        reload.foreach(r => ref.put("reload", r._1))
      } else ref.put("once", cold)
      System.err.println(s"[calibrate] $q corpus=$corpus entries=$entries " +
        s"origins=${origins.mkString(",")} cold=$cold warm=$warm " +
        s"reload=${reload.map(_._1)} stable=${!n.get("hash").isNull}")
      ArtifactStore.lastOrigin.clear()
      rmrf(d)
    }
    out
  }
}

/** Query → pack attribution, from the packs `SparkEntry` assembles. */
object Packs {
  import graft.queries._
  private val packs: Seq[(String, graft.QueryPack)] = Seq(
    "CoreQueries" -> CoreQueries, "CleanseQueries" -> CleanseQueries,
    "TextQueries" -> TextQueries, "DedupQueries" -> DedupQueries,
    "SimilarityQueries" -> SimilarityQueries, "XmlQueries" -> XmlQueries,
    "StreamingQueries" -> StreamingQueries, "MultimodalQueries" -> MultimodalQueries,
    "AdvancedQueries" -> AdvancedQueries, "CurationQueries" -> CurationQueries)
  val names: Seq[String] = packs.map(_._1)
  def of(q: String): String =
    packs.find(_._2.queries.contains(q)).map(_._1).getOrElse("other")
}
