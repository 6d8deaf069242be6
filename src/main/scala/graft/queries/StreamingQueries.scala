package graft.queries

import graft.{QueryPack, Tables}
import graft.runtime.FrameCache
import graft.sinks.ArtifactStore
import graft.streaming.{FilePipeline, StateMetrics}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** Structured-Streaming coverage with a DuckDB oracle (SURVEY.md §2.8
  * ST10 — event-time windowed aggregation the reference lacks): the
  * query materializes `events` as JSON files, drains them through a
  * streaming file source into a tumbling-window aggregate (complete
  * mode, one [[FilePipeline.drain]] whose sink collects the final
  * result table), and the oracle computes the same aggregate
  * relationally. Watermark/late-data semantics are
  * covered by StreamingSpec (they drop rows by arrival order, which a
  * batch oracle can't express).
  */
object StreamingQueries extends QueryPack {

  /** Fixture INPUT dir per (kind, sfDir), memoized process-wide: the
    * staging of the input is identical on every invocation, so repeated
    * runs (bench best-of-2, q57-style composition) reuse it and the
    * timed region measures the STREAMING QUERY, not fixture I/O.
    * Checkpoint/output dirs stay fresh per invocation — reusing a
    * checkpoint would make the second run a no-op. (Only on-disk paths —
    * safe across session restarts.) */
  private def fixtureDir(kind: String, d: String)(build: String => Unit): String =
    FrameCache.get(s"stream-fixture-$kind", d) {
      val tmp = Files.createTempDirectory(s"graft_${kind}_").toString
      build(tmp)
      tmp
    }

  /** The q55/q58 arrival shape — ONE definition so the two
    * stream-stream joins cannot drift apart. */
  private val ArrivalSchema = StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  /** Filtered + watermarked click/purchase branches off ONE streaming
    * source (the stream SELF-JOIN form — a second independent file
    * source would scan and JSON-parse the full input per micro-batch
    * and keep its own offset log), plus the 1-hour interval join
    * condition. Shared by q55 (inner) and q58 (left outer). */
  private def clickPurchaseBranches(src: DataFrame)
      : (DataFrame, DataFrame, Column) = {
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val cond = col("p_user") === col("c_user") &&
      col("c_ts") <= col("p_ts") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
    (clicks, purchases, cond)
  }

  /** Clone of `s` with state partitions sized to the stream's volume.
    * Stream-stream joins keep FOUR state stores per side per partition;
    * at the session's 32 shuffle partitions even a 2-row micro-batch
    * commits 128 store deltas (~4 s measured per batch). A streaming
    * query's state partitioning is pinned by its first start — sizing
    * `spark.sql.shuffle.partitions` to throughput before that start is
    * exactly what a real deployment does (here: 40k rows → 8
    * partitions; a 100 TB stream would size UP the same way). The clone
    * keeps the tuning off the shared batch session. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // SPARK_GRAFT_STATE_STORE=rocksdb drains every streaming query on
    // the CLUSTER state backend (GraftSession.clusterBuilder's
    // default) so the local bench can measure its per-batch commit
    // cost; unset, the local heap provider stands (see GraftSession
    // Scaladoc for the posture split).
    if (sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb"))
      graft.GraftSession.RocksDbStateStoreConfigs
        .foreach { case (k, v) => ss.conf.set(k, v) }
    ss
  }

  /** State-store metrics of each streaming query's most recent drain
    * (every [[drainRun]]) — the observability surface a production
    * runner would export (see [[StateMetrics]]). Specs regression-guard
    * state sizing and watermark-bounded growth here. */
  val lastStateMetrics = scala.collection.concurrent.TrieMap
    .empty[String, Seq[StateMetrics.StoreMetrics]]

  /** Drain `stream` once under a fresh run dir's checkpoint (every query
    * drain starts clean, so a run never replays), recording the drain's
    * state-store metrics under `name`. `sink` gets the run dir to write
    * under; the run dir is returned. */
  private def drainRun(name: String, stream: DataFrame,
      outputMode: String = "append")(
      sink: String => (DataFrame, Long) => Unit): String = {
    val run = Files.createTempDirectory(s"graft_${name}_").toString
    val q = FilePipeline.drain(stream, s"$run/chk", outputMode)(sink(run))
    lastStateMetrics(name) = StateMetrics.collect(q)
    run
  }

  /** [[drainRun]] appending `perBatch` of every micro-batch to parquet;
    * returns that dir. */
  private[queries] def drainToParquet(name: String, stream: DataFrame,
      perBatch: DataFrame => DataFrame = identity): String = {
    val run = drainRun(name, stream)(dir =>
      (df, _) => perBatch(df).write.mode("append").parquet(s"$dir/out"))
    s"$run/out"
  }

  /** Complete-mode [[drainRun]]: each batch is the whole result table,
    * collected to the driver; the last one comes back as a local frame. */
  private def drainComplete(name: String, stream: DataFrame): DataFrame = {
    var last = Array.empty[Row]
    drainRun(name, stream, "complete")(_ => (df, _) => last = df.collect())
    stream.sparkSession.createDataFrame(
      java.util.Arrays.asList(last: _*), stream.schema)
  }

  private val EventSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Arrival schema of the document-admission fixtures (q101/q105;
    * q107 extends it with `_corrupt_record`). */
  private val DocArrivalSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("text", StringType)))

  /** Stage `df` as ONE file named `name` in `inDir` — the ordered-
    * arrival fixture convention every streaming query uses (coalesce(1)
    * write, move the single part file to its arrival name). Default is
    * line-delimited JSON; `format = "text"` stages pre-serialized lines
    * (q107's deliberately-corrupt payloads), `"parquet"` q111's query
    * waves. Shared so the staging convention cannot drift between
    * queries. */
  private[queries] def stageSingleFile(df: DataFrame, fxRoot: String,
      inDir: java.io.File, name: String, format: String = "json"): Unit = {
    val st = s"$fxRoot/stage_$name"
    df.coalesce(1).write.mode("overwrite").format(format).save(st)
    val ext = if (format == "text") ".txt" else s".$format"
    val part = new java.io.File(st).listFiles()
      .filter(_.getName.endsWith(ext)).head
    Files.move(part.toPath, new java.io.File(inDir, name).toPath)
  }

  /** STANDING admission artifacts, memoized per (session, dir) like the
    * other shared frames: the q101 corpus (distinct content keys +
    * their bloom) and the q105 [[graft.ext.Dedup.NearDupIndex]]
    * ([[DedupQueries.standingNearDupIndex]]). A
    * production admission gate builds these once per corpus snapshot
    * and keeps them standing across micro-batch drains — rebuilding
    * (and unpersisting) per invocation, as these queries did before r5,
    * re-pays the corpus fold on every run. FrameCache eviction is the
    * drop-the-snapshot lifecycle; a persisted artifact skips the corpus
    * fold AND the bloom treeAggregate. */
  private def corpusBloom(s: SparkSession, d: String): (DataFrame, Array[Byte]) = {
    def corpusKeys = Tables.documents(s, d).filter(col("doc_id") % 7 =!= 3)
      .select(md5(col("text").cast("binary")).as("ck")).distinct()
    val codec = ArtifactStore.bloomCodec(s, corpusKeys)
    FrameCache.get(s, "q101-bloom", d, codec) {
      val keys = corpusKeys.cache()
      // the fingerprint's aggregate (taken here, after cache()) is the
      // job that materializes `keys`, which the bloom's treeAggregate
      // then reuses; its row count is the exact distinct-key count
      (keys, graft.ext.BloomPrune.buildBloom(keys, col("ck"),
        expectedItems = ArtifactStore.bloomItems(codec.snapshot)))
    }
  }

  /** The document-admission shell of q101/q105: the `inDelta` documents
    * arrive as two ordered files (even, then odd doc_id) staged once
    * under fixture `kind`, drain one file per micro-batch through
    * `admit` (the per-batch gate, returning the admitted (doc_id,
    * source) rows), and tally n_delta/n_admitted per source. */
  private def admission(s: SparkSession, d: String, name: String,
      kind: String, inDelta: Column)(admit: DataFrame => DataFrame): DataFrame = {
    def delta = Tables.documents(s, d).filter(inDelta)
    val fxDir = fixtureDir(kind, d) { fx =>
      val docs = delta.select(col("doc_id"), col("source"), col("text"))
      val in = new java.io.File(s"$fx/in"); in.mkdirs()
      stageSingleFile(docs.filter(col("doc_id") % 2 === 0), fx, in, "001_even.json")
      stageSingleFile(docs.filter(col("doc_id") % 2 === 1), fx, in, "002_odd.json")
    }
    val ss = streamSession(s)
    val out = drainToParquet(name, ss.readStream.schema(DocArrivalSchema)
      .option("maxFilesPerTrigger", 1).json(s"$fxDir/in"), admit)
    val totals = delta.groupBy(col("source")).agg(count(lit(1)).as("n_delta"))
    val adm = ss.read.parquet(out)
      .groupBy(col("source")).agg(count(lit(1)).as("n_admitted"))
    totals.join(adm, Seq("source"), "left")
      .na.fill(0L, Seq("n_admitted"))
      .orderBy(col("source"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- Streaming exact dedup: the same corpus lands twice in the
    //      source dir; dropDuplicatesWithinWatermark keeps one copy per
    //      event_id while the WATERMARK BOUNDS THE STATE — an entry is
    //      evicted once the watermark passes its event time + delay, so
    //      state holds one delay-window of ids instead of every id ever
    //      seen (the unbounded-state killer at stream scale). Duplicates
    //      here share the original's ts, so any delay covers them.
    //      Oracle = plain aggregation of the original (dedup must be
    //      semantically invisible). ----
    "q48_stream_dedup" -> ((s, d) => {
      val in = fixtureDir("sdedup", d) { fx =>
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        ev.write.mode("overwrite").json(s"$fx/in")
        ev.write.mode("append").json(s"$fx/in") // duplicate copy
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val out = drainToParquet("q48_stream_dedup",
        streamSession(s).readStream.schema(schema).json(s"$in/in")
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id"))
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // ---- Stream-stream interval join (ST10): purchases join clicks of
    //      the same user within the preceding hour. Both sides are
    //      watermarked streams; the time-bound condition lets Spark
    //      expire join state. Joined rows land in parquet via
    //      foreachBatch; the small final aggregate runs in batch. ----
    "q55_stream_stream_join" -> ((s, d) => {
      val in = fixtureDir("ssj", d) { fx =>
        Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("ts"), col("user_id"), col("event_type"), col("value"))
          .write.mode("overwrite").json(s"$fx/in")
      }
      // `val src` (not def): see clickPurchaseBranches — one source
      val src = streamSession(s).readStream.schema(ArrivalSchema).json(s"$in/in")
      val (clicks, purchases, cond) = clickPurchaseBranches(src)
      val out = drainToParquet("q55_stream_stream_join",
        purchases.join(clicks, cond))
      s.read.parquet(out)
        .groupBy((col("p_user") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum(col("p_value")), 2).as("sum_value"))
        .orderBy(col("cohort"))
    }),

    // ---- Stream-stream LEFT OUTER interval join (ST10): purchases
    //      keep a null-click row when no click of the same user
    //      precedes them within an hour. Outer-null emission is
    //      WATERMARK-DRIVEN: an unmatched left row is released only
    //      once the watermark proves no future match can arrive. Under
    //      AvailableNow the fixture stages three ordered micro-batches
    //      (main file, then two far-future sentinel files via
    //      maxFilesPerTrigger=1) so the final batches' watermark passes
    //      every purchase and ALL unmatched rows drain; sentinel rows
    //      (user_id = -1, present on both streams so both watermarks
    //      advance) are filtered from the result. ----
    "q58_stream_left_outer" -> ((s, d) => {
      val fxDir = fixtureDir("sslo", d) { fx =>
        val ev = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("ts"), col("user_id"), col("event_type"), col("value"))
        val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
        val in = new java.io.File(s"$fx/in"); in.mkdirs()
        stageSingleFile(ev, fx, in, "000_main.json")
        val t0 = new java.io.File(in, "000_main.json").lastModified()
        def sentinel(name: String, offMs: Long, modMs: Long): Unit = {
          val ts = java.time.Instant.ofEpochMilli(maxTs.getTime + offMs).toString
          val f = new java.io.File(in, name)
          Files.writeString(f.toPath,
            s"""{"ts":"$ts","user_id":-1,"event_type":"click","value":0.0}
               |{"ts":"$ts","user_id":-1,"event_type":"purchase","value":0.0}"""
              .stripMargin)
          f.setLastModified(modMs)
        }
        sentinel("001_s1.json", 2 * 3600 * 1000L, t0 + 60000)
        sentinel("002_s2.json", 4 * 3600 * 1000L, t0 + 120000)
      }
      // ONE source (see clickPurchaseBranches) — maxFilesPerTrigger=1
      // additionally makes each micro-batch feed BOTH sides from the
      // same file instead of two sources pacing their own file queues
      val src = streamSession(s).readStream.schema(ArrivalSchema)
        .option("maxFilesPerTrigger", 1).json(s"$fxDir/in")
      val (clicks, purchases, cond) = clickPurchaseBranches(src)
      val out = drainToParquet("q58_stream_left_outer",
        purchases.join(clicks, cond, "leftOuter"))
      s.read.parquet(out)
        .filter(col("p_user") >= 0)
        .groupBy((col("p_user") % 10).as("cohort"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_user")).as("n_matched"),
          round(sum(col("p_value")), 2).as("sum_value"))
        .orderBy(col("cohort"))
    }),

    "q42_stream_tumbling" -> ((s, d) => {
      val in = fixtureDir("stream", d) { fx =>
        Tables.events(s, d).write.mode("overwrite").json(s"$fx/in")
      }
      val stream = streamSession(s).readStream.schema(EventSchema).json(s"$in/in")
      val agg = stream
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n"), col("sum_value"))
      drainComplete("q42_stream_tumbling", agg)
        .orderBy(col("hour"), col("event_type"))
    }),

    // ---- Sliding event-time windows (1 h span, 30 min slide): each
    //      event lands in exactly 2 overlapping windows — the overlap
    //      factor is the state/shuffle cost a sliding aggregation pays
    //      over tumbling, paid map-side at assignment (Spark explodes
    //      the window list per row before the keyed state). Same drain
    //      harness as q42; oracle assigns the 2 windows relationally. ----
    "q85_stream_sliding" -> ((s, d) => {
      val in = fixtureDir("stream", d) { fx =>
        Tables.events(s, d).write.mode("overwrite").json(s"$fx/in")
      }
      val stream = streamSession(s).readStream.schema(EventSchema).json(s"$in/in")
      val agg = stream
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("sum_value"))
      drainComplete("q85_stream_sliding", agg)
        .orderBy(col("win_start"), col("event_type"))
    }),

    // ---- Streaming CDC apply: update/insert batches arrive on a file
    //      stream and foreachBatch MERGEs each into the standing
    //      snapshot (q81's latest-version-per-key shape, applied
    //      incrementally). The merge is commutative (arg-max on
    //      version), so batch order cannot change the final state —
    //      the property that makes at-least-once replays safe. Each
    //      batch rewrites the snapshot to a fresh directory (a table
    //      format would give transactional point updates; the merge
    //      PLAN — one shuffle on the key, map-side partial arg-max —
    //      is identical). Oracle rebuilds the final snapshot
    //      relationally. ----
    "q88_stream_upsert" -> ((s, d) => {
      val fxDir = fixtureDir("cdc", d) { fx =>
        val base = Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        base.withColumn("version", lit(1L))
          .write.mode("overwrite").parquet(s"$fx/snap0")
        val in = new java.io.File(s"$fx/in"); in.mkdirs()
        def stage(df: DataFrame, name: String): Unit =
          stageSingleFile(df, fx, in, name)
        stage(base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("U"))
          .withColumn("version", lit(2L)), "001_upd.json")
        stage(base.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L))
          .withColumn("o_orderstatus", lit("N"))
          .withColumn("version", lit(2L))
          .unionByName(base.filter(col("o_orderkey") % 21 === 0)
            .withColumn("o_orderstatus", lit("W"))
            .withColumn("version", lit(3L))), "002_ins.json")
      }
      val ss = streamSession(s)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("version", LongType)))
      var snapPath = s"$fxDir/snap0"
      drainRun("q88_stream_upsert", ss.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(s"$fxDir/in")) { run =>
        (batch, id) =>
          val next = ss.read.parquet(snapPath).unionByName(batch)
            .groupBy(col("o_orderkey"))
            .agg(max_by(struct(col("o_orderstatus"), col("o_totalprice"),
              col("version")), col("version")).as("r"))
            .select(col("o_orderkey"),
              col("r.o_orderstatus").as("o_orderstatus"),
              col("r.o_totalprice").as("o_totalprice"),
              col("r.version").as("version"))
          val out = s"$run/snap_$id"
          next.write.mode("overwrite").parquet(out)
          snapPath = out
      }
      ss.read.parquet(snapPath)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("sum_price"),
          max(col("version")).as("max_version"))
        .orderBy(col("o_orderstatus"))
    }),

    // ---- Stream-static enrichment join: the dimension-lookup shape
    //      (events stream × small static table) the stream-stream
    //      queries don't cover. The static side broadcasts per
    //      micro-batch — no state store at all (unlike q55/q58's
    //      stream-stream state), which is why at 100 TB a stream
    //      enriches against dimensions statically and reserves stateful
    //      joins for stream×stream. Same drain harness as q42. ----
    "q93_stream_static_join" -> ((s, d) => {
      val in = fixtureDir("stream", d) { fx =>
        Tables.events(s, d).write.mode("overwrite").json(s"$fx/in")
      }
      val ss = streamSession(s)
      val dim = Tables.nation(ss, d)
        .select(col("n_nationkey"), col("n_name"))
      val stream = ss.readStream.schema(EventSchema).json(s"$in/in")
        .withColumn("n_nationkey", col("user_id") % 25)
      val agg = stream.join(broadcast(dim), Seq("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      drainComplete("q93_stream_static_join", agg).orderBy(col("n_name"))
    }),

    // ---- Streaming ingest dedup with bloom prefilter: new docs arrive
    //      on a stream and are admitted only if their content key is
    //      absent from the standing corpus. The corpus's keys fold into
    //      ONE bloom (built once, shipped as a literal); per batch, the
    //      bloom SPLITS the work map-side — bloom-miss rows are
    //      DEFINITELY new (no false negatives) and skip the join
    //      entirely, only bloom-hit rows pay the exact anti join that
    //      removes false positives. At 100 TB that is the difference
    //      between joining every arriving row against the corpus and
    //      joining the few-% that might collide. Admitted set is exact,
    //      so the oracle is the plain batch anti join. ----
    "q101_stream_bloom_dedup" -> ((s, d) => {
      // standing artifacts (memoized on the BASE session — streamSession
      // clones a new session per invocation): corpus fold paid once,
      // reused by every subsequent drain over the same snapshot.
      // corpusKeys stays cached — it is the standing snapshot artifact,
      // owned by its FrameCache entry, not this drain
      val (corpusKeys, bloom) = corpusBloom(s, d)
      admission(s, d, "q101_stream_bloom_dedup", "blmdedup",
          col("doc_id") % 7 === 3) { batch =>
        // DELIBERATELY uncached (unlike q107's per-batch frame): the
        // lineage here is one JSON file read + map-side md5/bloom
        // probes, and cache() overhead measured MORE than the
        // re-evaluation it saves (5.2 vs 3.4 s total; BASELINE.md r5
        // row). Cache per-batch frames only when lineage is expensive.
        val withCk = batch
          .withColumn("ck", md5(col("text").cast("binary")))
        val hit = graft.ext.BloomPrune.mightContain(bloom, col("ck"))
        val definiteNew = withCk.filter(!hit)
        val confirmedNew = withCk.filter(hit)
          .join(corpusKeys, Seq("ck"), "left_anti")
        definiteNew.unionByName(confirmedNew)
          .select(col("doc_id"), col("source"))
      }
    }),

    // ---- Streaming NEAR-dup admission: q101's exact-key gate upgraded
    //      to MinHash-LSH. The standing corpus folds ONCE into a
    //      [[graft.ext.Dedup.NearDupIndex]] (cached shingle hashes +
    //      guarded band rows — at cluster scale, tables persisted with
    //      the snapshot); each arriving micro-batch PROBES it:
    //      O(|batch|) signature work map-side, a bucket equi-join
    //      against the standing band index, jaccard-verify, and a
    //      left-anti on the rejected ids. The corpus is never
    //      re-hashed, and batch latency is independent of corpus size
    //      except through index bucket occupancy (bounded by the
    //      hot-bucket guard). Oracle: the batch cross-corpus MinHash
    //      (q80's CTE mirror) — admission is exactly "no verified
    //      near-dup pair against the corpus". ----
    "q105_stream_neardup_admission" -> ((s, d) => {
      val inDelta = col("doc_id") % 9 === 4
      // idx stays cached — standing snapshot artifact, owned by its FrameCache entry
      val idx = DedupQueries.standingNearDupIndex(s, d, "q105-neardup", !inDelta)
      admission(s, d, "q105_stream_neardup_admission", "nddedup", inDelta) { batch =>
        // uncached: the anti join is the only reader of `rejected`
        val rejected = idx.probe(batch, "doc_id", "text", shingleN = 3)
          .select(col("d_id").as("doc_id")).distinct()
        batch.join(rejected, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("source"))
      }
    }),

    // ---- Dead-letter routing: the failure-handling half of ingest.
    //      Arriving JSON parses in PERMISSIVE mode with a
    //      _corrupt_record column; per micro-batch, parsed rows flow to
    //      the main sink and malformed lines land RAW in a dead-letter
    //      store (provenance preserved for replay after a parser fix) —
    //      the pipeline never stalls on bad input and never silently
    //      drops it; the two sinks partition every arrival exactly.
    //      Fixture corruption is deterministic (doc_id % 3 = 1 lines
    //      truncated mid-string, interleaved with good lines in the
    //      same files), so the oracle recomputes both sides of the
    //      split from the documents table. ----
    "q107_dead_letter" -> ((s, d) => {
      val fxDir = fixtureDir("deadletter", d) { fx =>
        val delta = Tables.documents(s, d).filter(col("doc_id") % 11 === 5)
          .select(col("doc_id"), col("source"), col("text"))
        val in = new java.io.File(s"$fx/in"); in.mkdirs()
        def stage(df: DataFrame, name: String): Unit = {
          val lines = df
            .withColumn("value", when(col("doc_id") % 3 === 1,
              // truncated mid-string — unparseable, whole row corrupt
              concat(lit("{\"doc_id\":"), col("doc_id"),
                lit(",\"source\":\""), col("source"),
                lit("\",\"text\":\""), substring(col("text"), 1, 20)))
              .otherwise(to_json(struct(col("doc_id"), col("source"),
                col("text")))))
            .select(col("value"))
          stageSingleFile(lines, fx, in, name, format = "text")
        }
        stage(delta.filter(col("doc_id") % 2 === 0), "001_even.json")
        stage(delta.filter(col("doc_id") % 2 === 1), "002_odd.json")
      }
      val ss = streamSession(s)
      val schema = DocArrivalSchema
        .add(StructField("_corrupt_record", StringType))
      val run = drainRun("q107_dead_letter", ss.readStream.schema(schema)
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .option("maxFilesPerTrigger", 1).json(s"$fxDir/in")) { dir =>
        (batch, _) =>
          val b = batch.cache()
          try {
            b.filter(col("_corrupt_record").isNull)
              .select(col("doc_id"), col("source"))
              .write.mode("append").parquet(s"$dir/good")
            b.filter(col("_corrupt_record").isNotNull)
              .select(col("_corrupt_record").as("raw"))
              .write.mode("append").parquet(s"$dir/dead")
          } finally b.unpersist()
      }
      val good = ss.read.parquet(s"$run/good")
        .groupBy(col("source").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val dead = ss.read.parquet(s"$run/dead")
        .agg(count(lit(1)).as("n"))
        .select(lit("_corrupt").as("bucket"), col("n"))
      good.unionByName(dead).orderBy(col("bucket"))
    })
  )

  override def oracles: Map[String, String] = Map(
    "q55_stream_stream_join" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id % 10 AS cohort, count(*) AS n_pairs,
        |  round(sum(p.value), 2) AS sum_value
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |GROUP BY cohort ORDER BY cohort""".stripMargin,

    "q48_stream_dedup" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q58_stream_left_outer" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id % 10 AS cohort, count(*) AS n_rows,
        |  count(c.user_id) AS n_matched,
        |  round(sum(p.value), 2) AS sum_value
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |GROUP BY cohort ORDER BY cohort""".stripMargin,

    "q42_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    "q88_stream_upsert" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |snap AS (SELECT *, 1 AS version FROM base),
        |u1 AS (SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice,
        |    2 AS version FROM base WHERE o_orderkey % 7 = 0),
        |u2a AS (SELECT o_orderkey + 1000000000 AS o_orderkey,
        |    'N' AS o_orderstatus, o_totalprice, 2 AS version
        |  FROM base WHERE o_orderkey % 13 = 0),
        |u2b AS (SELECT o_orderkey, 'W' AS o_orderstatus, o_totalprice,
        |    3 AS version FROM base WHERE o_orderkey % 21 = 0),
        |u AS (SELECT * FROM snap UNION ALL SELECT * FROM u1
        |  UNION ALL SELECT * FROM u2a UNION ALL SELECT * FROM u2b),
        |m AS (SELECT o_orderkey,
        |    arg_max(o_orderstatus, version) AS o_orderstatus,
        |    arg_max(o_totalprice, version) AS o_totalprice,
        |    max(version) AS version
        |  FROM u GROUP BY o_orderkey)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price,
        |  CAST(max(version) AS BIGINT) AS max_version
        |FROM m GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q107_dead_letter" ->
      """WITH delta AS (SELECT doc_id, source FROM documents
        |  WHERE doc_id % 11 = 5),
        |g AS (SELECT source AS bucket, count(*) AS n FROM delta
        |  WHERE doc_id % 3 != 1 GROUP BY source),
        |c AS (SELECT '_corrupt' AS bucket, count(*) AS n FROM delta
        |  WHERE doc_id % 3 = 1)
        |SELECT bucket, n FROM (SELECT * FROM g UNION ALL SELECT * FROM c)
        |ORDER BY bucket ASC NULLS FIRST""".stripMargin,

    "q105_stream_neardup_admission" ->
      s"""WITH esv AS (SELECT doc_id, source, text FROM documents
         |  WHERE doc_id % 9 = 4),
         |corpus AS (SELECT doc_id, source, text FROM documents
         |  WHERE doc_id % 9 != 4),
         |${DedupQueries.crossMinhashCtes},
         |a2 AS (SELECT e.source, count(*) AS n_admitted FROM esv e
         |  WHERE e.doc_id NOT IN (SELECT d_id FROM ndx)
         |  GROUP BY e.source),
         |t AS (SELECT source, count(*) AS n_delta FROM esv GROUP BY source)
         |SELECT t.source, t.n_delta,
         |  CAST(coalesce(a2.n_admitted, 0) AS BIGINT) AS n_admitted
         |FROM t LEFT JOIN a2 ON t.source = a2.source
         |ORDER BY t.source ASC NULLS FIRST""".stripMargin,

    "q101_stream_bloom_dedup" ->
      """WITH delta AS (SELECT doc_id, source, text FROM documents
        |  WHERE doc_id % 7 = 3),
        |adm AS (SELECT d.source FROM delta d
        |  WHERE md5(d.text) NOT IN
        |    (SELECT md5(text) FROM documents WHERE doc_id % 7 != 3)),
        |a2 AS (SELECT source, count(*) AS n_admitted FROM adm GROUP BY source),
        |t AS (SELECT source, count(*) AS n_delta FROM delta GROUP BY source)
        |SELECT t.source, t.n_delta,
        |  CAST(coalesce(a2.n_admitted, 0) AS BIGINT) AS n_admitted
        |FROM t LEFT JOIN a2 ON t.source = a2.source
        |ORDER BY t.source ASC NULLS FIRST""".stripMargin,

    "q93_stream_static_join" ->
      """SELECT n.n_name, count(*) AS n, round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name ASC NULLS FIRST""".stripMargin,

    "q85_stream_sliding" ->
      """WITH w AS (SELECT
        |    time_bucket(INTERVAL '30 minutes', ts)
        |      - to_minutes(30 * k.k) AS win_start,
        |    event_type, value
        |  FROM events, (VALUES (0), (1)) k(k))
        |SELECT win_start, event_type, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM w GROUP BY win_start, event_type
        |ORDER BY win_start, event_type""".stripMargin
  )
}
