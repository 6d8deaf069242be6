package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.Dedup

/** Persisted index artifacts: the on-disk half of the one memo tier.
  * [[graft.runtime.FrameCache.get]] resolves memory, then an artifact
  * here, then a build; this object holds the [[Codec]]s that say how
  * each standing structure (the q101 corpus bloom, the q80/q105
  * [[Dedup.NearDupIndex]], the IVF inverted index) is saved and loaded.
  * At cluster scale a restarted job (or a different job entirely) loads
  * these instead of re-deriving: an index over 100 TB of documents is
  * hours of work, the load is a metadata open. Each artifact is parquet
  * (frames) or a raw blob (sketch binaries) plus a `meta.properties`
  * sidecar pinning the build parameters, so a probe against a loaded
  * index runs with EXACTLY the build-time configuration — mismatched
  * parameters are the classic way a restored index silently returns
  * different candidates.
  *
  * Snapshot identity: every sidecar also pins a [[CorpusSnapshot]]
  * fingerprint of the corpus the artifact was built FROM, and every
  * load requires the caller's fingerprint to match. An index loaded
  * against a corpus it wasn't built on silently mis-admits (a rolled
  * snapshot is the likeliest 100 TB operator error — the reference
  * guards the same class of mistake at file level with its md5 dedup
  * intent, mypy/xmlonly.py:26-40); the fingerprint turns that into a
  * fail-fast. Both fingerprint components are one cheap aggregate scan
  * of the corpus — orders cheaper than the index build it gates.
  *
  * Round-trip fidelity: long/double/array columns survive parquet
  * bit-for-bit, and the sketch blobs are byte-identical — so probes
  * against a loaded artifact return bit-identical answers to probes
  * against the freshly built one (asserted in ArtifactLifecycleSpec).
  *
  * Durability: every save stages into a sibling dir and swaps it in by
  * rename ([[commitDir]]) — a reader never sees a half-written
  * artifact, and a crashed writer leaves the prior artifact untouched.
  * All IO (parquet members, blobs, the sidecar) goes through the
  * Hadoop FileSystem API, so an artifact root on HDFS or a mounted
  * cluster FS behaves identically to a local dir.
  */
object ArtifactStore {

  // ---- corpus snapshot fingerprint ----------------------------------

  /** Order-independent identity of a corpus snapshot: row count plus
    * the sum of per-row xxhash64 over the identifying columns, reduced
    * mod 2⁶¹−1. Commutative, so any partitioning/ordering of the same
    * rows fingerprints identically; the decimal intermediate keeps the
    * sum exact (no ANSI long overflow) at any corpus size. */
  final case class CorpusSnapshot(rows: Long, hashSum: Long) {
    override def toString: String = s"(rows=$rows, hashSum=$hashSum)"
  }

  private val SnapshotMod = java.math.BigInteger.valueOf((1L << 61) - 1)

  /** Fingerprint `corpus` by `cols` (the columns the artifact indexes —
    * id + content, so both membership and content drift are caught). */
  def snapshot(corpus: DataFrame, cols: Seq[String]): CorpusSnapshot = {
    val h = xxhash64(cols.map(col): _*).cast(DecimalType(38, 0))
    val r = corpus.agg(count(lit(1)), sum(h)).head()
    val hs = Option(r.getDecimal(1))
      .map(_.toBigInteger.mod(SnapshotMod).longValueExact).getOrElse(0L)
    CorpusSnapshot(r.getLong(0), hs)
  }

  // ---- filesystem seam ----------------------------------------------
  // Every byte of an artifact — parquet members, sketch blobs, the meta
  // sidecar — goes through the Hadoop FileSystem API, so an artifact
  // root on HDFS (or any mounted cluster FS) works the same as a local
  // dir, matching FileLifecycle's posture.
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  /** Commit `dir` as a unit: `write` fills a sibling staging dir, which
    * is then swapped in with two directory renames (atomic on local and
    * HDFS-like filesystems). A concurrent reader never observes a
    * half-written artifact at `dir` — it sees the prior artifact, no
    * artifact (the instant between the renames, which the memo tier's
    * build fallback already tolerates), or the complete new one.
    *
    * Writer-vs-writer: each save stages under a UNIQUE suffix, so two
    * concurrent builds of the same artifact can no longer interleave
    * writes into ONE shared staging dir and commit a mixed artifact
    * (sidecar from one writer over members from the other — passing
    * the snapshot gate while k/bands/contents disagree). With unique
    * staging plus the commit retry loop, the last committed rename wins
    * WHOLE on both rename semantics: one writer's complete output, no
    * losing-writer debris inside it. A writer that crashes mid-stage
    * leaves `dir` untouched; its orphaned staging dir is invisible to
    * [[exists]] and bounded by crash count (deliberately NOT swept by
    * later saves — a sweep would be the shared-staging interference
    * again). */
  private[graft] def commitDir(dir: String)(write: String => Unit): Unit = {
    val target = new Path(dir)
    val fs = fsOf(target)
    fs.mkdirs(target.getParent)
    val staging = new Path(target.getParent,
      s".${target.getName}.staging_${java.util.UUID.randomUUID().toString.take(8)}")
    fs.delete(staging, true)
    write(staging.toString)
    commitStaged(fs, target, staging)
  }

  /** The rename dance of [[commitDir]], fs-parameterized so specs can
    * fault-inject rename failures (the race branches below are
    * unreachable deterministically on a real local FS). Commit loop: a
    * lost writer-vs-writer race on either rename is retried — local FS
    * renames return FALSE; HDFS "succeeds" by nesting our staging
    * INSIDE the winner's artifact (un-nested below). Retire is
    * best-effort (a FALSE surfaces as the commit rename failing);
    * `.old` is deleted only when a fresh retire needs the name — ANY
    * failed-commit escape best-effort restores it to `target` (failed
    * save degrades to the pre-save state, not no-artifact-plus-rebuild);
    * only if that rename fails too does `.old` linger for recovery. */
  private[graft] def commitStaged(fs: FileSystem, target: Path,
      staging: Path): Unit = {
    val retired = new Path(target.getParent, s".${target.getName}.old")
    val nested = new Path(target, staging.getName)
    // restore the retired prior on ANY failed-commit escape (bounded
    // abort or a mid-loop throwing FS op, e.g. HDFS safe mode): without
    // it the next restart rebuilds at hours-scale with a valid prior one
    // rename away. Truly best-effort — a THROWING restore (Throwable —
    // even an Error must not replace the commit failure) rides as
    // suppressed (an interrupt re-asserts the flag first); a restore
    // losing to a late committer (HDFS nests INSIDE) un-nests back
    val nestedOld = new Path(target, retired.getName)
    def restorePrior(cause: Throwable): Unit =
      try {
        if (!fs.exists(target) && fs.rename(retired, target) &&
            fs.exists(nestedOld))
          require(fs.rename(nestedOld, retired),
            s"could not un-nest $nestedOld after a lost restore race")
      } catch { case e: Throwable =>
        // Hadoop IPC translates a mid-RPC interrupt into an
        // InterruptedIOException with the flag CLEARED — re-assert both.
        // SocketTimeoutException EXTENDS it but signals a timeout, not a
        // cancellation: re-asserting there would forge an interrupt
        if (e.isInstanceOf[InterruptedException] ||
            (e.isInstanceOf[java.io.InterruptedIOException] &&
              !e.isInstanceOf[java.net.SocketTimeoutException]))
          Thread.currentThread().interrupt()
        cause.addSuppressed(e) }
    var attempt = 0; var committed = false
    try {
      while (!committed) {
        attempt += 1
        if (fs.exists(target)) {
          fs.delete(retired, true); fs.rename(target, retired)
        }
        // target still occupied (unretirable / concurrently re-created):
        // don't rename onto it — HDFS would nest INTO the LIVE artifact
        committed = !fs.exists(target) && fs.rename(staging, target) &&
          !fs.exists(nested)
        if (!committed) {
          if (fs.exists(nested)) require(fs.rename(nested, staging),
            s"could not recover $nested after a lost commit race")
          require(attempt < 5, s"could not commit $staging -> $target")
        }
      }
    } catch { case e: Throwable => restorePrior(e); throw e }
    fs.delete(retired, true)
  }

  // ---- meta sidecar -------------------------------------------------
  private def writeMeta(dir: String, snap: CorpusSnapshot,
      kv: Map[String, String]): Unit = {
    val p = new java.util.Properties()
    (kv + ("snapshotRows" -> snap.rows.toString)
        + ("snapshotHashSum" -> snap.hashSum.toString))
      .foreach { case (k, v) => p.setProperty(k, v) }
    val path = new Path(s"$dir/meta.properties")
    val out = fsOf(path).create(path, true)
    try p.store(out, null) finally out.close()
  }

  private def readMeta(dir: String): Map[String, String] = {
    val p = new java.util.Properties()
    val path = new Path(s"$dir/meta.properties")
    val in = fsOf(path).open(path)
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  /** The kind + snapshot gate every load passes through: wrong kind and
    * wrong corpus both fail fast, before any data is read. */
  private val KindNames = Map("neardup" -> "a near-dup index",
    "bloom" -> "a bloom artifact", "ivf" -> "an IVF index")
  // The parameter keys each kind's load reads through a BARE m("...")
  // lookup. A sidecar missing one is a DAMAGED artifact, and damage
  // must surface as IllegalArgumentException — the type the memo
  // tier's rebuild fallback catches — not wedge every restart on the
  // NoSuchElementException a bare m("k") would throw. Keys a load only
  // consults via Option (bloom's hasKeys) or never reads (dims,
  // expectedItems — write-side observability) are NOT required: an
  // otherwise-loadable artifact must not be declared damaged, and
  // rebuilt at hours-scale, over a key the load never touches.
  private val KindKeys = Map(
    "neardup" -> Seq("k", "bands", "threshold"),
    "ivf" -> Seq("k"))
  private def checkMeta(dir: String, kind: String,
      expect: CorpusSnapshot): Map[String, String] = {
    val m = readMeta(dir)
    require(m.get("kind").contains(kind),
      s"$dir is not ${KindNames.getOrElse(kind, s"a $kind artifact")}")
    val saved = for (r <- m.get("snapshotRows"); h <- m.get("snapshotHashSum"))
      yield CorpusSnapshot(r.toLong, h.toLong)
    require(saved.isDefined,
      s"$dir carries no corpus fingerprint (pre-fingerprint sidecar) — " +
        "rebuild the artifact for this snapshot")
    require(saved.contains(expect),
      s"$dir was built from a different corpus snapshot: saved=${saved.get}, " +
        s"caller's corpus=$expect — rebuild the artifact for this snapshot")
    for (key <- KindKeys.getOrElse(kind, Nil))
      require(m.contains(key),
        s"$dir sidecar is missing build parameter '$key' — damaged " +
          "artifact; rebuild it for this snapshot")
    m
  }

  /** True when `dir` holds a persisted artifact (the build-if-absent /
    * load-if-present branch of the memo tier). The sidecar is the
    * commit marker: a crashed or in-flight save has no sidecar at `dir`
    * (it stages everything in a sibling), so this never says yes to a
    * partial artifact. */
  def exists(dir: String): Boolean = {
    val p = new Path(s"$dir/meta.properties")
    fsOf(p).isFile(p)
  }

  /** Per-artifact directory under the session's configured root
    * (`spark.graft.artifactDir`), or None when the session opts out of
    * the persisted tier. */
  def configuredDir(s: SparkSession, kind: String,
      sfDir: String): Option[String] =
    s.conf.getOption("spark.graft.artifactDir").map { root =>
      // readable sanitized name + a hash of the RAW path: sanitization
      // alone is lossy ("/data/sf0.1" and "/data_sf0.1" collide), and a
      // collision under one root makes the second corpus permanently
      // fail the other's snapshot gate
      val hash = Integer.toHexString(sfDir.hashCode)
      s"$root/$kind/${sfDir.replaceAll("[^A-Za-z0-9._-]", "_")}_$hash"
    }

  /** Last build-or-load decision per artifact kind (built, loaded or
    * rebuilt), written only by the memo tier's persisted resolution
    * ([[graft.runtime.FrameCache]]); a memo hit records nothing. */
  val lastOrigin = scala.collection.concurrent.TrieMap.empty[String, String]

  // ---- codecs: how a memo entry persists ----------------------------

  /** How a [[graft.runtime.FrameCache]] entry persists as an artifact
    * under `s`'s `spark.graft.artifactDir`. `fingerprint` is the
    * [[CorpusSnapshot]] of the corpus the artifact indexes: it gates
    * every load and stamps every save, and is taken at most once per
    * codec. A codec without `save` reads an artifact another entry
    * writes, named by `artifact` (the memo name otherwise). */
  final class Codec[V](val s: SparkSession, fingerprint: => CorpusSnapshot,
      val load: (String, CorpusSnapshot) => V,
      val save: Option[(V, String, CorpusSnapshot) => Unit],
      val artifact: Option[String] = None) {
    lazy val snapshot: CorpusSnapshot = fingerprint
  }

  /** A near-dup index over `corpus` (doc_id, text). */
  def nearDupCodec(s: SparkSession, corpus: => DataFrame): Codec[Dedup.NearDupIndex] =
    new Codec(s, snapshot(corpus, Seq("doc_id", "text")), loadNearDupIndex(s, _, _),
      Some(saveNearDupIndex(_, _, _)))

  /** Expected-item count of a bloom over the corpus `snap` fingerprints:
    * its exact distinct-key count, floored so a degenerate corpus never
    * gets a zero-width filter (a fixed count saturates once the corpus
    * outgrows it, degrading the prefilter to a pass-everything no-op). */
  def bloomItems(snap: CorpusSnapshot): Long = math.max(snap.rows, 1024L)

  /** The exact-admission artifact over the distinct content keys `keys`
    * (ck): the key frame and its bloom blob. */
  def bloomCodec(s: SparkSession, keys: => DataFrame): Codec[(DataFrame, Array[Byte])] =
    new Codec(s, snapshot(keys, Seq("ck")), loadBloomKeys(s, _, _),
      Some((v, dir, snap) => saveBloom(v._2, dir, snap, bloomItems(snap), Some(v._1))))

  /** The IVF inverted index over the embeddings corpus fingerprinted
    * `snap` (its (vec_id, embedding) [[snapshot]]), assigned against
    * `cents`. A persisted index built against another matrix (trained on
    * another partitioning) is stale: a probe must assign against the
    * matrix its cells were built with. */
  def ivfCodec(s: SparkSession, snap: => CorpusSnapshot,
      cents: => Seq[Array[Double]]): Codec[DataFrame] =
    new Codec(s, snap, { (dir, snap) =>
      val (cells, saved) = loadIvfIndex(s, dir, snap)
      unpersistOnFailure(cells) {
        require(saved.map(_.toSeq) == cents.map(_.toSeq),
          s"$dir was built against another centroid matrix — rebuild it for this one")
        cells
      }
    }, Some(saveIvfIndex(_, cents, _, _)))

  /** The centroid matrix inside the IVF index over the corpus
    * fingerprinted `snap`, which [[ivfCodec]] writes. Both IVF codecs
    * take the caller's one fingerprint of the snapshot: each taking its
    * own scanned the corpus twice per rebuild. */
  def ivfCentroidsCodec(s: SparkSession, snap: => CorpusSnapshot): Codec[Seq[Array[Double]]] =
    new Codec(s, snap, loadIvfCentroids(s, _, _), None, Some("ivf-index"))

  // ---- MinHash-LSH near-dup index (q105's standing corpus index) ----

  /** Persist a built [[Dedup.NearDupIndex]]: both member frames as
    * parquet plus the (k, bands, threshold) build parameters and the
    * fingerprint of the corpus it indexes. */
  def saveNearDupIndex(idx: Dedup.NearDupIndex, dir: String,
      snap: CorpusSnapshot): Unit = commitDir(dir) { st =>
    idx.hashes.write.mode("overwrite").parquet(s"$st/hashes")
    idx.guardedBands.write.mode("overwrite").parquet(s"$st/bands")
    writeMeta(st, snap, Map("kind" -> "neardup", "k" -> idx.k.toString,
      "bands" -> idx.bands.toString, "threshold" -> idx.threshold.toString))
  }

  /** Load a persisted near-dup index into `s` (typically a session that
    * did NOT build it); `expect` is the caller's fingerprint of the
    * corpus it intends to probe against — a mismatch fails fast instead
    * of silently mis-admitting. Member frames are cached on load — the
    * standing-index lifecycle the build path uses. */
  def loadNearDupIndex(s: SparkSession, dir: String,
      expect: CorpusSnapshot): Dedup.NearDupIndex = {
    val m = checkMeta(dir, "neardup", expect)
    val idx = Dedup.nearDupIndexFromParts(
      s.read.parquet(s"$dir/hashes"),
      s.read.parquet(s"$dir/bands"),
      m("k").toInt, m("bands").toInt, m("threshold").toDouble)
    unpersistOnFailure(idx.hashes, idx.guardedBands) {
      forceLoaded(idx.hashes, idx.guardedBands)
      idx
    }
  }

  /** Materialize loaded member frames INSIDE the load call. Parquet is
    * read lazily (only footers at planning), so data-page damage in a
    * present-but-corrupt artifact would otherwise first throw at the
    * initial probe ACTION — outside the memo tier's rebuild catch,
    * wedging every restart on damage the fallback exists to absorb.
    * Costs nothing extra: every loaded member is cached and serves
    * full-scan probes, so this only moves the one scan earlier. */
  private def forceLoaded(frames: DataFrame*): Unit =
    frames.foreach(_.count())

  /** Run the tail of a load; if it throws, unpersist the frames cached
    * so far before rethrowing — the rebuild path caches FRESH twins, so
    * a failed load's frames would otherwise sit orphaned all session. */
  private def unpersistOnFailure[T](cached: DataFrame*)(body: => T): T =
    try body catch {
      case e: Throwable =>
        // cleanup must never REPLACE the load failure: the memo tier
        // classifies e (fatal vs damage), and an unpersist throw
        // on a distressed context would invert that classification
        cached.foreach { f =>
          try f.unpersist(false)
          catch { case scala.util.control.NonFatal(u) => e.addSuppressed(u) }
        }
        throw e
    }

  // ---- Corpus bloom (q101's exact-dedup prefilter) ------------------

  /** Persist a serialized bloom filter (the one-blob artifact a
    * streaming admission job rebuilds today on every restart), plus —
    * when given — the distinct-key frame it was built over (the exact
    * half of the q101 admission gate, so a restarted process loads both
    * sides of the standing artifact). */
  def saveBloom(bloom: Array[Byte], dir: String, snap: CorpusSnapshot,
      expectedItems: Long = -1L, keys: Option[DataFrame] = None): Unit =
    commitDir(dir) { st =>
      writeBlob(s"$st/bloom.bin", bloom)
      keys.foreach(_.write.mode("overwrite").parquet(s"$st/keys"))
      writeMeta(st, snap, Map("kind" -> "bloom",
        "expectedItems" -> expectedItems.toString,
        "hasKeys" -> keys.isDefined.toString))
    }

  private def writeBlob(path: String, bytes: Array[Byte]): Unit = {
    val p = new Path(path)
    val out = fsOf(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  private def readBlob(path: String): Array[Byte] = {
    val p = new Path(path)
    val fs = fsOf(p)
    val lenLong = fs.getFileStatus(p).getLen
    // the whole blob path (read, broadcast, probe) is byte-array-based,
    // so the JVM's 2^31 array ceiling is a hard limit — fail with an
    // actionable message instead of the NegativeArraySizeException the
    // silent toInt overflow produced (a ≥2 GB bloom ≈ 10¹⁰ keys at 1%
    // fpr; shard the corpus into multiple artifacts before that)
    require(lenLong <= Int.MaxValue - 16,
      s"artifact blob $path is $lenLong bytes — beyond the JVM " +
        "byte-array ceiling; shard the artifact (e.g. per-corpus-" +
        "partition blooms) instead of growing one blob")
    val len = lenLong.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    buf
  }

  def loadBloom(dir: String, expect: CorpusSnapshot): Array[Byte] = {
    checkMeta(dir, "bloom", expect)
    readBlob(s"$dir/bloom.bin")
  }

  /** Load both halves of the exact-admission artifact: the distinct-key
    * frame (cached — it serves every micro-batch's anti join) and the
    * bloom blob. The blob is deserialize-VALIDATED here: a truncated
    * blob still "reads fine" ([[readBlob]] just returns the shorter
    * file), and would otherwise first throw inside
    * BloomFilterMightContain at the first probe action — outside the
    * memo tier's rebuild catch. readFrom surfaces damage as
    * IOException, the recoverable type; cost is one ~MB deserialize at
    * load. ([[loadBloom]] stays a raw-bytes accessor — the atomicity
    * specs round-trip arbitrary blobs through it.) */
  def loadBloomKeys(s: SparkSession, dir: String,
      expect: CorpusSnapshot): (DataFrame, Array[Byte]) = {
    val m = checkMeta(dir, "bloom", expect)
    require(m.get("hasKeys").contains("true"),
      s"$dir was saved without its key frame")
    val keys = s.read.parquet(s"$dir/keys").cache()
    unpersistOnFailure(keys) {
      forceLoaded(keys)
      val bytes = readBlob(s"$dir/bloom.bin")
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
      (keys, bytes)
    }
  }

  // ---- IVF inverted index (q50/q111's standing cell index) ----------

  /** Persist the IVF artifacts: the exploded (vec_id, ne, cell) inverted
    * index as parquet and the trained centroid matrix as a (cell_idx,
    * vals) frame — doubles round-trip parquet exactly, so probe-side
    * cell assignment against the loaded centroids is bit-identical. */
  def saveIvfIndex(cells: DataFrame, centroids: Seq[Array[Double]],
      dir: String, snap: CorpusSnapshot): Unit = commitDir(dir) { st =>
    val s = cells.sparkSession
    import s.implicits._
    cells.write.mode("overwrite").parquet(s"$st/cells")
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cell_idx", "vals")
      .coalesce(1).write.mode("overwrite").parquet(s"$st/centroids")
    writeMeta(st, snap, Map("kind" -> "ivf", "k" -> centroids.size.toString,
      "dims" -> centroids.headOption.map(_.length).getOrElse(0).toString))
  }

  /** Load the IVF artifacts; the cell index is cached on load (it is
    * the frame every probe joins against). */
  def loadIvfIndex(s: SparkSession, dir: String, expect: CorpusSnapshot)
      : (DataFrame, Seq[Array[Double]]) = {
    val cents = loadIvfCentroids(s, dir, expect)
    val cells = s.read.parquet(s"$dir/cells").cache()
    unpersistOnFailure(cells) {
      forceLoaded(cells)
      (cells, cents)
    }
  }

  /** Load only the centroid matrix of a persisted IVF index. */
  def loadIvfCentroids(s: SparkSession, dir: String, expect: CorpusSnapshot)
      : Seq[Array[Double]] = {
    val m = checkMeta(dir, "ivf", expect)
    val cents = s.read.parquet(s"$dir/centroids")
      .orderBy(col("cell_idx")).collect()
      .map(r => r.getSeq[Double](r.fieldIndex("vals")).toArray).toSeq
    require(cents.size == m("k").toInt,
      s"centroid count ${cents.size} != saved k ${m("k")}")
    cents
  }
}
