package graft.flows

import graft.model.Schemas
import graft.sinks.KafkaJsonSink
import graft.sources.XmlMeas
import graft.streaming.{FileLifecycle, FilePipeline, FilePipelineConfig}
import graft.transforms.Cleanse
import graft.runtime.Runner
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's four pipelines as engine entry points (SURVEY.md §3)
  * — what a user of the reference runs today, re-expressed as one-JVM
  * Spark flows. Each drain is idempotent-by-lifecycle: backup (md5
  * dedup) → process → move-to-processed → completeness audit, with the
  * at-least-once-to-sink contract documented in SURVEY §2.8.
  *
  * The sink is injected (`DataFrame => Unit` over the JSON payload) so
  * production wires `KafkaJsonSink.writeKafka(_, topic, bootstrap)` and
  * tests wire a file sink — the payload shape is identical.
  */
object Flows {

  final case class FlowDirs(input: String, processed: String, backup: String)

  final case class FlowReport(files: Int, rows: Long, ok: Boolean,
      remaining: Int)

  private def lifecycle(spark: SparkSession) =
    new FileLifecycle(spark.sparkContext.hadoopConfiguration)

  /** Shared XML drain: flatten exactly the *.xml files listed in
    * `dirs.input` AT DRAIN START, project the flow's variant columns,
    * publish, then backup+move each listed file. Reading the explicit
    * listing (not the directory) keeps the published set and the
    * moved set identical — non-xml junk is never parsed, and files
    * arriving mid-drain wait for the next drain instead of being
    * published-but-never-moved (at-least-once stays confined to the
    * documented failure path).
    *
    * Branch-if-empty (O3) is the start listing: the reference skips the
    * publish only when there are no files (dags/Dag2.py:158-162), so a
    * listed file that flattens to zero rows still publishes (nothing)
    * and is backed up and moved. Row count comes from an
    * [[org.apache.spark.sql.Observation]] on the publish pass itself —
    * one Spark job per drain; the sink contract is that it CONSUMES the
    * payload (every publish is an action). */
  private def xmlDrain(spark: SparkSession, dirs: FlowDirs,
      variant: Seq[String], sink: DataFrame => Unit,
      nowMillis: Long): FlowReport = {
    val fl = lifecycle(spark)
    val listed = fl.auditRemaining(new Path(dirs.input), "*.xml")
    if (listed.isEmpty) return FlowReport(0, 0L, ok = true, remaining = 0)
    val flat = XmlMeas.readAndFlatten(spark, listed.map(_.getPath.toString))
    val projected = flat.select(variant.map(col): _*)
    // O5 retry around the publish
    val rows = Runner.retry(3) {
      val obs = org.apache.spark.sql.Observation()
      val observed = projected.observe(obs, count(lit(1)).as("rows"))
      sink(KafkaJsonSink.payload(observed, exclude = Set.empty))
      obs.get("rows").asInstanceOf[Long]
    }
    listed.map(_.getPath).foreach { f =>
      fl.backupDeduped(f, new Path(dirs.backup), nowMillis)
      fl.moveProcessed(f, new Path(dirs.processed), nowMillis)
    }
    // Completeness audit against THIS drain's starting listing, not a
    // re-glob of the live dir: files arriving mid-drain are the
    // documented-healthy case ("wait for the next drain"), so counting
    // them made every drain under continuous feed report ok=false while
    // an actual miss from this drain's set was the one thing the old
    // audit could never isolate. (Publish/move failures still THROW;
    // `ok` surfaces a file that survived its own move.)
    val missed = missedOf(listed,
      fl.auditRemaining(new Path(dirs.input), "*.xml"))
    FlowReport(listed.size, rows, ok = missed == 0, remaining = missed)
  }

  /** Audit identity is (path, modificationTime), not bare path: a file
    * RE-DELIVERED under its old name mid-drain (healthy) is a NEW
    * status, unlike one that survived its own move; mtime-preserving
    * re-delivery is indistinguishable and fail-safe reads as a miss. */
  private[graft] def missedOf(started: Seq[FileStatus],
      still: Seq[FileStatus]): Int = {
    def key(s: FileStatus) = (s.getPath.toString, s.getModificationTime)
    val there = still.map(key).toSet
    started.count(s => there.contains(key(s)))
  }

  /** Flow 2 — xml_fast (reference Dag2 + mypy/xmlonly.py → topic
    * xmlt_fast): 10-field EAV with nodeid, kpiValue already double. */
  def xmlFast(spark: SparkSession, dirs: FlowDirs, sink: DataFrame => Unit,
      nowMillis: Long = System.currentTimeMillis()): FlowReport =
    xmlDrain(spark, dirs, Schemas.kpiXmlFast.fieldNames.toSeq, sink, nowMillis)

  /** Flow 3 — gzip (Dag3 + mypy/streaming.py → topic xmlt): gunzip
    * stage first, then the 9-field variant (schema-on-read drops
    * nodeid, SURVEY §1.3 P3). */
  def gzipXml(spark: SparkSession, gzipInput: String, dirs: FlowDirs,
      sink: DataFrame => Unit,
      nowMillis: Long = System.currentTimeMillis()): FlowReport = {
    val fl = lifecycle(spark)
    fl.gunzipAll(new Path(gzipInput), new Path(dirs.input),
      new Path(dirs.processed), nowMillis)
    xmlDrain(spark, dirs, Schemas.kpiGzip.fieldNames.toSeq, sink, nowMillis)
  }

  /** Flow 4 — hardware (Dag4 + mypy/xmlhard.py → topic xmlhard):
    * localDn from managedElement, raw measObjLdn (no nodeid). */
  def hardware(spark: SparkSession, dirs: FlowDirs, sink: DataFrame => Unit,
      nowMillis: Long = System.currentTimeMillis()): FlowReport =
    xmlDrain(spark, dirs, Schemas.kpiHardware.fieldNames.toSeq, sink, nowMillis)

  /** Flow 1 — CSV cell-KPIs (Dag1 + mypy/preprocessproduce.py → topic
    * csv): streaming drain with the 69-col schema, full cleanse chain,
    * batch-id key, source-managed archive (ST7). */
  def csvCells(spark: SparkSession, inputDir: String, checkpointDir: String,
      archiveDir: String, sink: DataFrame => Unit): Unit = {
    val cfg = FilePipelineConfig(inputDir = inputDir,
      schema = Schemas.cellKpi69, format = "csv",
      checkpointDir = checkpointDir, archiveDir = Some(archiveDir),
      provenanceCol = None)
    FilePipeline.drainAvailable(spark, cfg,
      transform = Cleanse.cellKpiChain,
      sink = (df, batchId) => sink(KafkaJsonSink.payload(df,
        exclude = Set.empty, keyExpr = Some(lit(batchId.toString)))))
  }
}
