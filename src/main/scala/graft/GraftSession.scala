package graft

import graft.runtime.NioLocalFileSystem
import org.apache.spark.sql.SparkSession

/** One place for engine session defaults.
  *
  * Scale posture: AQE on (runtime coalescing + skew-join splitting), a
  * shuffle-partition count matched to local cores here but meant to be
  * overridden to ~2-3× total cores on a real cluster, and the legacy
  * nanos conf so TIMESTAMP(NANOS) parquet (events.ts) is readable.

  */
object GraftSession {
  /** `spark.sql.artifact.isolation.enabled`, off (Spark 4.1 default:
    * on). Isolation gives every `SparkSession` its own executor class
    * loader: each `newSession()`, each `StreamingQueries.streamSession`
    * and the clone each streaming query makes (so each `Flows.csvCells`
    * drain) runs its SQL tasks under a new `ExecutorClassLoader`. Spark
    * keys its codegen cache on (class loader, code), so each new loader
    * recompiles every generated class it touches. The engine adds no
    * session artifacts (no `addArtifact`, `addJar` or `addFile`), so
    * isolation only costs it compiles. Measured at sf0.01 on 4 cores: a
    * q64 reload in a `newSession()` 44 compiles (0.6–0.7 s of Janino) →
    * 15 the first time, 0 after; each `Flows.csvCells` drain after the
    * first 3 → 0; a second q85 run 17 → 0; q76's cold Janino time
    * 0.52–0.66 → 0.43–0.48 s. */
  val ArtifactIsolation: Boolean = false

  /** `spark.sql.codegen.cache.maxEntries` (Spark default: 100). One pass
    * over all 109 queries fills about 1,030 entries at sf0.01 and at
    * sf0.1 (local mode holds each class twice, once per loader), so the
    * default evicts a query's classes before it runs again: a second
    * pass recompiled about 1,130 classes; with 4096 it compiles 2–12.
    * An entry costs about 27 KB of heap and 8 KB of Metaspace. A static conf:
    * `CodeGenerator` reads it once, when it first initializes, so it
    * only takes effect on the builder that creates the context;
    * `CodegenReuseSpec` checks that it reaches the cache. */
  val CodegenCacheEntries: Int = 4096

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-engine")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.artifact.isolation.enabled", ArtifactIsolation.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** FQCN of Spark's FileSystem-API checkpoint file manager (ships in
    * spark-sql; the documented alternative to the FileContext default —
    * see `spark.sql.streaming.checkpointFileManagerClass` docs). */
  val FsCheckpointManager: String =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Local-mode session. Besides the sizing, it fixes the `file://`
    * posture: without native Hadoop libs (libhadoop), Hadoop's local
    * filesystem forks one `chmod` process, about 3 ms, for every file or
    * directory it creates — `.crc` sidecars, parquet `_temporary` dirs,
    * backups and checkpoint files included. `file://` therefore resolves
    * to [[graft.runtime.NioLocalFileSystem]], which sets the same modes
    * through java.nio with the same `.crc` layout. The cluster preset
    * keeps Hadoop's default, where libhadoop and a real filesystem exist.
    */
  def local(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", math.max(cpus, 4))
      // in the context's Hadoop conf from its first file:// lookup on
      .config(s"spark.hadoop.${NioLocalFileSystem.ImplKey}",
        classOf[NioLocalFileSystem].getName)
      // On file:// checkpoints without native Hadoop libs, the default
      // FileContext-based manager resolves every path through
      // AbstractFileSystem.getFileLinkStatus, which Hadoop implements by
      // forking a `readlink` (and `chmod` for permissioned creates)
      // process per file operation: measured 12,725 forks and
      // 75–175 ms per state-store commit on one q58 drain, about 2× the
      // query's wall time. The FileSystem-API manager takes the java.io
      // stat path instead (no exec), with the same rename-based atomic
      // write protocol and checkpoint layout; q58 5.0 → 2.9 s isolated.
      // Local only: the cluster preset keeps Spark's FileContext
      // default, the preferred manager where a real HDFS/object-store
      // scheme (and libhadoop) exists.
      .config("spark.sql.streaming.checkpointFileManagerClass",
        FsCheckpointManager)
      // Spark 4.1's per-file checkpoint checksums (an integrity layer
      // for remote checkpoint stores) double the metadata-file count per
      // commit; on local file:// the sidecar buys nothing (same disk,
      // same failure domain) and costs about 1,300 forked file ops per
      // drain. The cluster preset keeps the 4.1 default. This restores
      // the ≤4.0 local checkpoint layout.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .getOrCreate()
    // and on the live conf: getOrCreate may return a context built
    // without it, and a stale cached instance must be bypassed
    NioLocalFileSystem.install(s.sparkContext.hadoopConfiguration)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** shuffle partitions = 3 × total cores (see [[clusterBuilder]]). */
  def clusterShufflePartitions(executors: Int, coresPerExecutor: Int): Int =
    3 * executors * coresPerExecutor

  /** FQCN of Spark's RocksDB state store provider (ships in spark-sql;
    * rocksdbjni is a stock Spark dependency — no extra jars). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The cluster state-store posture as conf pairs — the SINGLE source
    * consumed by [[clusterBuilder]], the `SPARK_GRAFT_STATE_STORE`
    * local-measurement knob, and the heap-vs-RocksDB equality spec, so
    * a posture change (new RocksDB tuning key, changelog version)
    * reaches all three or none. */
  val RocksDbStateStoreConfigs: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
      -> "true")

  /** Cluster-sizing preset — the deployment analogue of [[local]], with
    * every derived number stated instead of implied by comments:
    *
    *  - shuffle partitions = 3× total cores: enough parallelism that
    *    one straggler does not serialize a stage, small enough that a
    *    sf-proportional shuffle keeps partitions in the tens-of-MB
    *    range where AQE coalescing (still on) can merge the small
    *    ones. AQE's skew split then has ≥3 mapper ranges per reduce
    *    partition to slice — the precondition BASELINE.md's skew
    *    numbers (from a one-off measurement main, since deleted) rest on.
    *  - maxPartitionBytes stays at Spark's 128 MB default: scan tasks
    *    of ~1 core-minute; the reference pins 64 MB on a 4-core
    *    cluster for the same reason at half the per-task budget.
    *  - broadcast threshold 64 MB (as [[builder]]): dimension tables
    *    and probe sets ship to executors instead of shuffling facts.
    *  - RocksDB state store + changelog checkpointing: streaming state
    *    (stream-stream join buffers, dedup sets, window/session
    *    accumulators) lives in per-partition RocksDB instances bounded
    *    by local DISK, not executor HEAP — the default HDFS-backed
    *    provider holds every key in JVM memory, which OOMs long before
    *    100 TB-scale join state. Changelog checkpointing uploads
    *    per-batch deltas instead of a full state snapshot, so commit
    *    latency stays flat as state grows. [[local]] keeps the heap
    *    provider: for the bench fixtures' KB-scale state it is faster
    *    (RocksDB pays a fixed per-batch commit cost — measured delta
    *    in BASELINE.md), and `SPARK_GRAFT_STATE_STORE=rocksdb` flips
    *    the streaming queries over to measure the cluster backend
    *    locally. Result equality across providers is spec-asserted
    *    (`StreamingSpec` "stream-stream left outer join: heap and RocksDB
    *    state stores agree").
    *
    * The local/cluster split changes ONLY sizing numbers and the state
    * backend: plans, kernels, and lifecycle are identical, which is
    * what keeps the local bench predictive of the cluster shape.
    */
  def clusterBuilder(master: String, executors: Int,
      coresPerExecutor: Int): SparkSession.Builder =
    RocksDbStateStoreConfigs.foldLeft(
      builder(master, clusterShufflePartitions(executors, coresPerExecutor))
        .config("spark.executor.instances", executors.toString)
        .config("spark.executor.cores", coresPerExecutor.toString)
        // production per-source means: the tree-reduced VecMean
        // aggregate (bounded per-group state) instead of the
        // order-pinned collect_list fold the DuckDB oracle needs — an
        // unbounded source domain must never materialize into one row
        // on a real cluster (SimilarityQueries.sourceMeans)
        .config("spark.graft.exactMeans", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Retire an engine session: release every session-scoped
    * [[graft.runtime.FrameCache]] entry it built (the LSH pair set, IVF
    * index, admission bloom/index, funnel stages, ...) so its pinned
    * executor memory is actually released. Process-scoped entries
    * (centroid matrices, staged fixture dirs, bucketed table names) are
    * not the session's and stay; persisted artifacts stay on disk. (An
    * entry whose corpus was rewritten is released by the next lookup of
    * that corpus, not here.) A long-lived process that drops one
    * session (`newSession` clones, notebook rotation) calls this instead
    * of — or before — `SparkSession.stop`; stopping the whole
    * SparkContext also works, but only because the next memo build
    * sweeps stopped sessions, which a still-running context never
    * triggers for a merely-abandoned session. Returns entries released. */
  def close(s: SparkSession): Int = graft.runtime.FrameCache.evict(s)
}
