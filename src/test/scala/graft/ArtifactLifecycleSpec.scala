package graft

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.ext.{BloomPrune, Dedup, Similarity}
import graft.queries.SimilarityQueries
import graft.runtime.FrameCache
import graft.sinks.ArtifactStore
import graft.sinks.ArtifactStore.CorpusSnapshot

/** The persisted index-artifact lifecycle (VERDICT r4 #5): each
  * standing structure is BUILT and SAVED in one session, then LOADED
  * and PROBED in a fresh session (`newSession()` — separate session
  * state, so nothing can leak through the in-memory memo caches), and
  * the probe answers must be bit-identical to probing the freshly
  * built artifact. This is the restart story: a 100 TB index is hours
  * to build and a metadata open to load.
  *
  * r6 additions: every sidecar pins a corpus-snapshot fingerprint and
  * every load requires a match (an index loaded against a corpus it
  * wasn't built on must fail fast, not silently mis-admit), and the
  * q101/q105/q111 query paths themselves load persisted artifacts when
  * `spark.graft.artifactDir` is set (the restart seam end-to-end). */
class ArtifactLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  private val sf = "/root/testdata/sf0.001"
  private def docs(s: org.apache.spark.sql.SparkSession) =
    s.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
  private def docsSnapshot(s: org.apache.spark.sql.SparkSession): CorpusSnapshot =
    ArtifactStore.snapshot(docs(s), Seq("doc_id", "text"))

  test("near-dup index: build+save, load+probe in a fresh session — identical pairs") {
    val dir = Files.createTempDirectory("graft_art_nd_").toString
    // delta = shifted-id copies of every 17th doc: guaranteed jacc=1.0
    // hits against the corpus, so the equality below is never vacuous
    val delta = docs(spark).filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val built = Dedup.buildNearDupIndex(docs(spark), "doc_id", "text")
    ArtifactStore.saveNearDupIndex(built, dir, docsSnapshot(spark))
    val want = built.probe(delta, "doc_id", "text", shingleN = 3)
      .orderBy(col("d_id"), col("c_id")).collect().map(_.toSeq).toSeq
    built.unpersist()
    assert(want.nonEmpty, "probe found no pairs — test would be vacuous")

    val fresh = spark.newSession()
    val loaded = ArtifactStore.loadNearDupIndex(fresh, dir, docsSnapshot(fresh))
    val deltaF = docs(fresh).filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val probePlan = loaded.probe(deltaF, "doc_id", "text", shingleN = 3)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("InMemoryTableScan"),
      "loaded index probes re-scan parquet instead of the cached standing frames")
    val got = loaded.probe(deltaF, "doc_id", "text", shingleN = 3)
      .orderBy(col("d_id"), col("c_id")).collect().map(_.toSeq).toSeq
    loaded.unpersist()
    assert(got == want)
  }

  test("loading an artifact as the wrong kind fails fast on the meta sidecar") {
    val dir = Files.createTempDirectory("graft_art_kind_").toString
    val snap = CorpusSnapshot(3, 42)
    ArtifactStore.saveBloom(Array[Byte](1, 2, 3), dir, snap)
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.loadNearDupIndex(spark, dir, snap)
    }
    assert(e.getMessage.contains("not a near-dup index"))
  }

  test("loading against a different corpus snapshot fails fast (r6 #1)") {
    val dir = Files.createTempDirectory("graft_art_snap_").toString
    // built from corpus A (every doc); the caller's corpus B is a strict
    // subset — one dropped row must flip the fingerprint and refuse the
    // load, because probing a stale index silently mis-admits
    val snapA = docsSnapshot(spark)
    val corpusB = docs(spark).filter(col("doc_id") =!= 1L)
    val snapB = ArtifactStore.snapshot(corpusB, Seq("doc_id", "text"))
    assert(snapA != snapB, "fingerprints collide — test would be vacuous")
    val built = Dedup.buildNearDupIndex(docs(spark), "doc_id", "text")
    ArtifactStore.saveNearDupIndex(built, dir, snapA)
    built.unpersist()
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.loadNearDupIndex(spark, dir, snapB)
    }
    assert(e.getMessage.contains("different corpus snapshot"))
    // same-content corpus under a different row order fingerprints
    // identically (the sum is commutative): load must succeed
    val reordered = docs(spark).orderBy(col("text"))
    val snapA2 = ArtifactStore.snapshot(reordered, Seq("doc_id", "text"))
    assert(snapA2 == snapA, "fingerprint is order-dependent")
    ArtifactStore.loadNearDupIndex(spark, dir, snapA2).unpersist()
  }

  test("corpus bloom: saved blob loads byte-identical and splits a batch identically") {
    val dir = Files.createTempDirectory("graft_art_bl_").toString
    val corpusKeys = docs(spark).filter(col("doc_id") % 7 =!= 3)
      .select(md5(col("text").cast("binary")).as("ck")).distinct()
    val snap = ArtifactStore.snapshot(corpusKeys, Seq("ck"))
    val bloom = BloomPrune.buildBloom(corpusKeys, col("ck"), 100000L)
    ArtifactStore.saveBloom(bloom, dir, snap, 100000L)

    val fresh = spark.newSession()
    val freshSnap = ArtifactStore.snapshot(
      docs(fresh).filter(col("doc_id") % 7 =!= 3)
        .select(md5(col("text").cast("binary")).as("ck")).distinct(),
      Seq("ck"))
    val loadedBloom = ArtifactStore.loadBloom(dir, freshSnap)
    assert(java.util.Arrays.equals(bloom, loadedBloom),
      "bloom blob changed across save/load")
    // end-to-end: the map-side split a fresh session computes with the
    // loaded blob equals the builder session's split
    def split(s: org.apache.spark.sql.SparkSession, b: Array[Byte]) = {
      val batch = docs(s).filter(col("doc_id") % 7 === 3)
        .withColumn("ck", md5(col("text").cast("binary")))
      val hit = BloomPrune.mightContain(b, col("ck"))
      (batch.filter(!hit).count(), batch.filter(hit).count())
    }
    assert(split(fresh, loadedBloom) == split(spark, bloom))
  }

  test("IVF index: build+save, load+search in a fresh session — identical top-k") {
    val dir = Files.createTempDirectory("graft_art_ivf_").toString
    val (cells, cents) = SimilarityQueries.ivfArtifacts(spark, sf)
    val snap = ArtifactStore.snapshot(
      spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding")),
      Seq("vec_id", "embedding"))
    ArtifactStore.saveIvfIndex(cells, cents, dir, snap)

    def topk(cand: org.apache.spark.sql.DataFrame) = {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(round(col("cos"), 6).desc, col("vec_id"))
      cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("rk"), col("vec_id"), round(col("cos"), 6).as("cos"))
        .orderBy(col("q_id"), col("rk")).collect().map(_.toSeq).toSeq
    }
    val probeFilter = col("vec_id") % 101 === 7
    val want = topk(Similarity.ivfCandidates(cells, cents,
      SimilarityQueries.preppedEmbeddings(spark, sf).filter(probeFilter),
      SimilarityQueries.IvfProbes))
    assert(want.nonEmpty, "no IVF candidates — test would be vacuous")

    val fresh = spark.newSession()
    val (lCells, lCents) = ArtifactStore.loadIvfIndex(fresh, dir, snap)
    assert(lCents.size == cents.size &&
      lCents.zip(cents).forall { case (a, b) => a.sameElements(b) },
      "centroid matrix changed across save/load")
    val got = topk(Similarity.ivfCandidates(lCells, lCents,
      SimilarityQueries.preppedEmbeddings(fresh, sf).filter(probeFilter),
      SimilarityQueries.IvfProbes))
    lCells.unpersist()
    assert(got == want)
  }

  // ---- r6 #4: the query paths themselves build-or-load --------------

  /** Runs `name` in two sessions sharing one artifact root: the first
    * builds AND persists, the second (a restarted process in miniature
    * — fresh session state, cold FrameCache keys) must LOAD, and the
    * results must match row-for-row. */
  private def restartRoundTrip(name: String, originKey: String): Unit = {
    val root = Files.createTempDirectory("graft_art_root_").toString
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    val r1 = SparkEntry.queries(name)(s1, sf).collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get(originKey).contains("built"),
      s"first run should have built+persisted the $originKey artifact")

    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val r2 = SparkEntry.queries(name)(s2, sf).collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get(originKey).contains("loaded"),
      s"second session should have loaded the persisted $originKey artifact")
    assert(r2 == r1, s"$name answers changed across the restart seam")
    GraftSession.close(s1)
    GraftSession.close(s2)
  }

  test("q101 restart path: second session loads the persisted bloom artifact") {
    restartRoundTrip("q101_stream_bloom_dedup", "q101-bloom")
  }

  test("q101 bloom is sized from the corpus snapshot, not a constant") {
    // Pre-r8 the bloom was built with expectedItems=1_000_000 regardless
    // of corpus size: past 10⁹ keys it saturates and the prefilter
    // silently degrades to a pass-everything no-op. The build must size
    // it from the snapshot's exact distinct-key count (floored at 1024
    // for degenerate corpora), and the persisted sidecar records the
    // figure — assert the end-to-end q101 path wrote the tracked size.
    val root = Files.createTempDirectory("graft_art_sized_").toString
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    SparkEntry.queries("q101_stream_bloom_dedup")(s1, sf).collect()
    val dir = ArtifactStore.configuredDir(s1, "q101-bloom", sf).get
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$dir/meta.properties")
    try p.load(in) finally in.close()
    val corpusCount = docs(s1).filter(col("doc_id") % 7 =!= 3)
      .select(md5(col("text").cast("binary"))).distinct().count()
    assert(p.getProperty("expectedItems").toLong ===
      math.max(corpusCount, 1024L),
      "persisted bloom's expectedItems must track the corpus key count")
    GraftSession.close(s1)
  }

  test("stale artifact in the configured dir is rebuilt and overwritten, not fatal") {
    // the rolled-snapshot case: an artifact for SOME OTHER corpus sits
    // where the query expects its own. The snapshot gate must reject it
    // — and the query-path seam must then rebuild for the current
    // corpus and overwrite, never wedge the pipeline on the stale file.
    val root = Files.createTempDirectory("graft_art_stale_").toString
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    val dir = ArtifactStore.configuredDir(s1, "q101-bloom", sf).get
    val bogus = docs(spark).limit(3)
      .select(md5(col("text").cast("binary")).as("ck")).distinct()
    ArtifactStore.saveBloom(BloomPrune.buildBloom(bogus, col("ck"), 10L),
      dir, CorpusSnapshot(3, 999), 10L, keys = Some(bogus))

    val r1 = SparkEntry.queries("q101_stream_bloom_dedup")(s1, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q101-bloom").contains("rebuilt"),
      "stale artifact should have been rebuilt for the current snapshot")
    // the overwritten artifact is now the current corpus's: loads clean
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val r2 = SparkEntry.queries("q101_stream_bloom_dedup")(s2, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q101-bloom").contains("loaded"))
    assert(r2 == r1)
    GraftSession.close(s1)
    GraftSession.close(s2)
  }

  test("pre-fingerprint sidecar fails with the rebuild hint, not a key error") {
    val dir = Files.createTempDirectory("graft_art_prefp_").toString
    val p = new java.util.Properties()
    p.setProperty("kind", "bloom"); p.setProperty("expectedItems", "-1")
    val out = new java.io.FileOutputStream(s"$dir/meta.properties")
    try p.store(out, null) finally out.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/bloom.bin"), Array[Byte](1))
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.loadBloom(dir, CorpusSnapshot(1, 1))
    }
    assert(e.getMessage.contains("no corpus fingerprint"))
  }

  test("a sidecar missing a build parameter is rebuilt, not a key-error wedge") {
    // ADVICE r9: a damaged sidecar that lost a parameter key used to
    // throw NoSuchElementException from m("k") — outside the standing
    // seam's rebuild catch, so every restart wedged on the damage.
    // checkMeta now validates the per-kind keys, funneling damage into
    // IllegalArgumentException → the warn+rebuild path.
    val root = Files.createTempDirectory("graft_art_badkey_").toString
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    val r1 = SparkEntry.queries("q80_incremental_dedup")(s1, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q80-neardup").contains("built"))
    val dir = ArtifactStore.configuredDir(s1, "q80-neardup", sf).get
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(s"$dir/meta.properties")
    try p.load(in) finally in.close()
    p.remove("k")
    // rewrite through the Hadoop FS (the store's own IO path) so the
    // checksum sidecar stays valid — the damage under test is a
    // well-formed sidecar MISSING a key, not a torn write
    val hp = new org.apache.hadoop.fs.Path(s"$dir/meta.properties")
    val out = hp.getFileSystem(s1.sessionState.newHadoopConf()).create(hp, true)
    try p.store(out, null) finally out.close()
    // direct load: the damage surfaces as the catchable gate type,
    // with the right snapshot (so it's the KEY check that fires)
    val snap = CorpusSnapshot(p.getProperty("snapshotRows").toLong,
      p.getProperty("snapshotHashSum").toLong)
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.loadNearDupIndex(s1, dir, snap)
    }
    assert(e.getMessage.contains("missing build parameter 'k'"))
    // query path: a restarted process rebuilds over the damage
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val r2 = SparkEntry.queries("q80_incremental_dedup")(s2, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q80-neardup").contains("rebuilt"),
      "damaged sidecar should take the warn+rebuild path")
    assert(r2 == r1)
    GraftSession.close(s1)
    GraftSession.close(s2)
  }

  test("a corrupt parquet member is rebuilt, not a restart wedge") {
    // ADVICE r9: the rebuild catch only spanned the sidecar gates
    // (IllegalArgumentException) — damage in an artifact's DATA members
    // threw IO/Spark errors outside it, wedging every restart. The
    // catch now covers those, and loads force the member scan
    // (forceLoaded) so even lazily-read parquet damage surfaces INSIDE
    // the catch.
    val root = Files.createTempDirectory("graft_art_badpq_").toString
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    val r1 = SparkEntry.queries("q80_incremental_dedup")(s1, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q80-neardup").contains("built"))
    val dir = ArtifactStore.configuredDir(s1, "q80-neardup", sf).get
    // truncate every data file of one member (Spark wrote these
    // directly, no Hadoop checksum sidecars): the parquet footer goes
    // with the tail, so the load's read throws a Spark-level error
    val parts = new java.io.File(s"$dir/hashes").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty, "expected parquet part files to damage")
    parts.foreach { f =>
      val p = f.toPath
      val b = java.nio.file.Files.readAllBytes(p)
      java.nio.file.Files.write(p, b.take(8))
    }
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val r2 = SparkEntry.queries("q80_incremental_dedup")(s2, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q80-neardup").contains("rebuilt"),
      "corrupt parquet member should take the warn+rebuild path")
    assert(r2 == r1)
    GraftSession.close(s1)
    GraftSession.close(s2)
  }

  test("a truncated bloom blob is rebuilt at load, not a wedge at first probe") {
    // A cut-short blob is the nastiest damage shape: readBlob reads the
    // shorter file without error, and the failure would otherwise
    // surface inside BloomFilterMightContain at the first probe ACTION
    // — outside the standing seam's catch. loadBloomKeys now
    // deserialize-validates the blob inside the load.
    val root = Files.createTempDirectory("graft_art_badblob_").toString
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.artifactDir", root)
    val r1 = SparkEntry.queries("q101_stream_bloom_dedup")(s1, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q101-bloom").contains("built"))
    val dir = ArtifactStore.configuredDir(s1, "q101-bloom", sf).get
    // halve the blob through the Hadoop FS (the store's own IO path, so
    // its checksum sidecar stays consistent — the damage under test is
    // truncation, not a torn local write)
    val hp = new org.apache.hadoop.fs.Path(s"$dir/bloom.bin")
    val hfs = hp.getFileSystem(s1.sessionState.newHadoopConf())
    val whole = new Array[Byte](hfs.getFileStatus(hp).getLen.toInt)
    val in = hfs.open(hp)
    try in.readFully(0, whole) finally in.close()
    val out = hfs.create(hp, true)
    try out.write(whole, 0, whole.length / 2) finally out.close()
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.artifactDir", root)
    val r2 = SparkEntry.queries("q101_stream_bloom_dedup")(s2, sf)
      .collect().map(_.toSeq).toSeq
    assert(ArtifactStore.lastOrigin.get("q101-bloom").contains("rebuilt"),
      "truncated blob should take the warn+rebuild path")
    assert(r2 == r1)
    GraftSession.close(s1)
    GraftSession.close(s2)
  }

  import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path => HPath}

  private def stagedCommit(tag: String): (FileSystem, HPath, HPath) = {
    val root = Files.createTempDirectory(s"graft_art_$tag").toString
    val fs = FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration()).getRaw
    val (target, staging) = (new HPath(s"$root/a"),
      new HPath(s"$root/.a.staging_$tag"))
    fs.mkdirs(target); fs.mkdirs(staging)
    fs.create(new HPath(target, "member.bin")).close()
    fs.create(new HPath(staging, "member.bin")).close()
    (fs, target, staging)
  }

  test("commit retry: a lost retire race is retried, not aborted") {
    val (fs, target, staging) = stagedCommit("retire")
    // a concurrent committer stealing `target` between our exists()
    // check and our retire rename surfaces as rename=false; pre-fix, a
    // require aborted the save here with its complete staging orphaned
    var failures = 1
    val flaky = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (d.getName == ".a.old" && failures > 0) { failures -= 1; false }
        else super.rename(s, d)
    }
    ArtifactStore.commitStaged(flaky, target, staging) // must not throw
    assert(fs.exists(new HPath(target, "member.bin")) && !fs.exists(staging))
  }

  test("an ABORTED commit leaves the retired recovery copy on disk") {
    val (fs, target, staging) = stagedCommit("abort")
    // the commit rename fails persistently (target was retired on the
    // first attempt): the bounded loop must abort loudly AND leave the
    // prior artifact under `.a.old` — the pre-fix loop re-deleted
    // `.old` at the top of every attempt, destroying the only copy
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (d == target) false else super.rename(s, d)
    }
    intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    val old = new HPath(target.getParent, ".a.old")
    assert(fs.exists(new HPath(old, "member.bin")),
      "abort deleted the .old recovery copy of the prior artifact")
  }

  test("an aborted commit restores the retired prior artifact to target") {
    val (fs, target, staging) = stagedCommit("restore")
    // only the staging->target commit rename fails; the retire and the
    // abort-path restore can succeed — the failed save must degrade to
    // the PRE-SAVE state (prior artifact back at target), not to
    // no-artifact-plus-.old: exists() false on the next restart forced
    // an hours-scale rebuild with a valid prior one rename away
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) false else super.rename(s, d)
    }
    intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    assert(fs.exists(new HPath(target, "member.bin")),
      "abort must restore the retired prior artifact to target")
    assert(!fs.exists(new HPath(target.getParent, ".a.old")),
      "the restore is a rename — .old must not linger as a stale copy")
  }

  test("a THROWING abort-path restore rides as suppressed; the commit failure escapes") {
    val (fs, target, staging) = stagedCommit("supp")
    // HDFS in safe mode THROWS from rename instead of returning false.
    // The restore is best-effort: its exception must not replace the
    // IllegalArgumentException naming the commit failure (pre-fix the
    // bare rename let the IOException escape), and .old must survive
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) false
        else if (s.getName == ".a.old" && d == target)
          throw new java.io.IOException("injected safe-mode rename")
        else super.rename(s, d)
    }
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    assert(e.getMessage.contains("could not commit"))
    assert(e.getSuppressed.exists(_.getMessage == "injected safe-mode rename"))
    assert(fs.exists(new HPath(target.getParent, ".a.old/member.bin")),
      "failed restore must leave .old recoverable")
  }

  test("an ERROR thrown by the abort-path restore also rides as suppressed") {
    val (fs, target, staging) = stagedCommit("err")
    // restorePrior is truly best-effort: an FS client surfacing a
    // LinkageError/OOM-class Error mid-restore must not REPLACE the
    // commit failure (pre-fix the restore caught only Exception, so an
    // Error escaped and the caller saw the restore's crash instead of
    // the commit failure it has to report — this test fails on that
    // code with the LinkageError escaping)
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) false
        else if (s.getName == ".a.old" && d == target)
          throw new LinkageError("injected restore error")
        else super.rename(s, d)
    }
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    assert(e.getMessage.contains("could not commit"),
      "the commit failure must be what escapes, not the restore Error")
    assert(e.getSuppressed.exists(_.getMessage == "injected restore error"))
    assert(fs.exists(new HPath(target.getParent, ".a.old/member.bin")),
      "failed restore must leave .old recoverable")
  }

  test("an InterruptedException mid-restore re-asserts the thread's interrupt status") {
    val (fs, target, staging) = stagedCommit("intr")
    // cancellation arriving DURING the best-effort restore must not be
    // lost: the commit failure still escapes with the interrupt riding
    // suppressed (restore stays best-effort), but the thread's interrupt
    // flag must be re-asserted so the caller's next interruptible op
    // still observes the cancellation instead of silently deferring it
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) false
        else if (s.getName == ".a.old" && d == target)
          throw new InterruptedException("injected cancel mid-restore")
        else super.rename(s, d)
    }
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    // read-AND-CLEAR first so an asserted flag can't leak into the suite
    assert(Thread.interrupted(),
      "a suppressed InterruptedException must re-assert the interrupt flag")
    assert(e.getMessage.contains("could not commit"),
      "the commit failure must be what escapes, not the interrupt")
    assert(e.getSuppressed.exists(_.getMessage == "injected cancel mid-restore"))
  }

  test("a Hadoop InterruptedIOException mid-restore re-asserts the interrupt flag") {
    val (fs, target, staging) = stagedCommit("iio")
    // Hadoop's IPC client translates a thread interrupt during an RPC
    // into java.io.InterruptedIOException with the interrupt flag
    // CLEARED (unlike NIO's ClosedByInterruptException, which preserves
    // it) — on a real HDFS the cancellation must be re-asserted exactly
    // like a raw InterruptedException, or it is silently deferred
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) false
        else if (s.getName == ".a.old" && d == target)
          throw new java.io.InterruptedIOException("injected IPC cancel")
        else super.rename(s, d)
    }
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    // read-AND-CLEAR first so an asserted flag can't leak into the suite
    assert(Thread.interrupted(),
      "a suppressed InterruptedIOException must re-assert the interrupt flag")
    assert(e.getMessage.contains("could not commit"),
      "the commit failure must be what escapes, not the interrupt")
    assert(e.getSuppressed.exists(_.getMessage == "injected IPC cancel"))
  }

  test("a SocketTimeoutException mid-restore does NOT forge an interrupt") {
    val (fs, target, staging) = stagedCommit("sto")
    // SocketTimeoutException EXTENDS InterruptedIOException but means a
    // timeout, not a cancellation — re-asserting the flag there would
    // turn a slow datanode into a phantom interrupt on the caller's
    // next blocking op
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) false
        else if (s.getName == ".a.old" && d == target)
          throw new java.net.SocketTimeoutException("injected timeout")
        else super.rename(s, d)
    }
    val e = intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    assert(!Thread.interrupted(),
      "a timeout must not set the thread's interrupt flag")
    assert(e.getMessage.contains("could not commit"))
    assert(e.getSuppressed.exists(_.getMessage == "injected timeout"))
  }

  test("an abort-path restore that loses a late commit race is un-nested back to .old") {
    val (fs, target, staging) = stagedCommit("nest")
    // between the restore's exists() check and its rename, a concurrent
    // committer re-creates target; HDFS rename 'succeeds' by NESTING the
    // retired prior INSIDE the live winner — it must be un-nested back
    // to .old, not left as debris inside another writer's artifact
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) false
        else if (s.getName == ".a.old" && d == target) {
          fs.mkdirs(target) // the concurrent commit wins the race here
          super.rename(s, new HPath(target, s.getName))
        }
        else super.rename(s, d)
    }
    intercept[IllegalArgumentException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    assert(!fs.exists(new HPath(target, ".a.old")),
      "the nested restore must not pollute the winner's live artifact")
    assert(fs.exists(new HPath(target.getParent, ".a.old/member.bin")),
      "the lost restore must land back at .old, recoverable")
  }

  test("a mid-loop THROWING FS op also restores the retired prior before escaping") {
    val (fs, target, staging) = stagedCommit("midthrow")
    // the restore must cover EVERY failed-commit escape, not only the
    // bounded attempt>=5 abort: attempt 1 retires the prior and loses
    // the commit rename; attempt 2's rename THROWS (HDFS safe mode).
    // Pre-fix the IOException escaped with the prior stranded at .old
    // and target absent — the rebuild-despite-valid-prior state
    var calls = 0
    val broken = new FilterFileSystem(fs) {
      override def rename(s: HPath, d: HPath): Boolean =
        if (s == staging && d == target) {
          calls += 1
          if (calls == 1) false
          else throw new java.io.IOException("injected mid-loop rename throw")
        } else super.rename(s, d)
    }
    val e = intercept[java.io.IOException] {
      ArtifactStore.commitStaged(broken, target, staging)
    }
    assert(e.getMessage === "injected mid-loop rename throw",
      "the original mid-loop failure must be what escapes")
    assert(fs.exists(new HPath(target, "member.bin")),
      "a mid-loop escape must restore the retired prior to target")
    assert(!fs.exists(new HPath(target.getParent, ".a.old")))
  }

  test("a save is all-or-nothing: a failed writer leaves the prior artifact intact") {
    val dir = Files.createTempDirectory("graft_art_atomic_").toString + "/a"
    val snap = CorpusSnapshot(7, 77)
    ArtifactStore.saveBloom(Array[Byte](1, 2, 3), dir, snap)
    // a writer that dies mid-stage (disk full, executor loss, kill -9
    // analogue) must not damage the committed artifact at `dir`
    intercept[RuntimeException] {
      ArtifactStore.commitDir(dir) { st =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(st))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$st/bloom.bin"), Array[Byte](9))
        throw new RuntimeException("writer crashed mid-stage")
      }
    }
    assert(java.util.Arrays.equals(
      ArtifactStore.loadBloom(dir, snap), Array[Byte](1, 2, 3)),
      "crashed save corrupted the committed artifact")
    // ...and the next successful save commits cleanly ALONGSIDE the
    // crash debris. Staging names are unique per writer (two concurrent
    // builds can no longer interleave into one shared staging dir and
    // commit a mixed artifact), which also means later saves must NOT
    // sweep orphans — deleting a dir that might be a live writer's
    // staging mid-write is how torn commits happen. The orphan is
    // hidden-dotted, invisible to exists()/loads, bounded by crash
    // count.
    ArtifactStore.saveBloom(Array[Byte](4, 5), dir, snap)
    assert(java.util.Arrays.equals(
      ArtifactStore.loadBloom(dir, snap), Array[Byte](4, 5)))
    val siblings = new java.io.File(dir).getParentFile.list().toSeq
    assert(siblings.contains("a"))
    // only the crashed writer's hidden staging dir may remain, and the
    // successful saves left no debris of their own
    val debris = siblings.filterNot(_ == "a")
    assert(debris.size == 1 && debris.head.startsWith(".a.staging_"),
      s"unexpected siblings next to the artifact: $siblings")
  }

  test("q105 restart path: second session loads the persisted near-dup index") {
    restartRoundTrip("q105_stream_neardup_admission", "q105-neardup")
  }

  test("q80 restart path: second session loads the persisted corpus index") {
    // q80 shares the standing near-dup index shape with q105 — pin the
    // batch-side round trip like the streaming gate's
    restartRoundTrip("q80_incremental_dedup", "q80-neardup")
  }

  test("q111 restart path: second session loads the persisted IVF index") {
    restartRoundTrip("q111_stream_ann_search", "ivf-index")
  }

  /** A fresh session persisting under `root`: a restarted process in
    * miniature, whose session-scoped memo keys are all cold. */
  private def freshSession(root: String): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir", root)
    s
  }

  test("ArtifactStore.standing: built / saved+loaded / stale-rebuilt, directly") {
    // Unit-level pin of the memo tier's persisted resolution — the
    // consumer specs above exercise it end-to-end, but this pins the
    // origin bookkeeping and build counts independent of any consumer.
    // A same-session re-resolve is a memo hit, so each step that must
    // reach the artifact dir runs in a fresh session.
    val root = Files.createTempDirectory("graft_standing_").toString
    var builds = 0
    def resolve(s: org.apache.spark.sql.SparkSession,
        snap: CorpusSnapshot): Array[Byte] =
      FrameCache.get(s, "unit-standing", sf, new ArtifactStore.Codec[Array[Byte]](s, snap,
          (dir, sn) => ArtifactStore.loadBloom(dir, sn),
          Some((v, dir, sn) => ArtifactStore.saveBloom(v, dir, sn))))(
        { builds += 1; Array[Byte](1, 2, 3) })
    val snapA = CorpusSnapshot(3, 42L)

    // no artifactDir on the session → build, never persist
    // (lastOrigin stays unset: it's persistence-seam observability)
    val s0 = spark.newSession()
    assert(resolve(s0, snapA).toSeq == Seq[Byte](1, 2, 3))
    assert(builds == 1 &&
      !ArtifactStore.lastOrigin.contains("unit-standing"))
    resolve(s0, snapA)
    assert(builds == 1, "a same-session re-resolve is a memo hit")
    val s0b = spark.newSession()
    resolve(s0b, snapA)
    assert(builds == 2, "dir-less resolution must not persist")

    // dir configured: first resolve builds+saves, a fresh session LOADS
    val s1 = freshSession(root)
    resolve(s1, snapA)
    assert(builds == 3 &&
      ArtifactStore.lastOrigin("unit-standing") == "built")
    val s2 = freshSession(root)
    assert(resolve(s2, snapA).toSeq == Seq[Byte](1, 2, 3))
    assert(builds == 3 &&
      ArtifactStore.lastOrigin("unit-standing") == "loaded")

    // rolled corpus snapshot → stale load fails inside → REBUILT and
    // overwritten; the overwritten artifact then loads under the new
    // snapshot
    val snapB = CorpusSnapshot(4, 43L)
    val s3 = freshSession(root)
    resolve(s3, snapB)
    assert(builds == 4 &&
      ArtifactStore.lastOrigin("unit-standing") == "rebuilt")
    val s4 = freshSession(root)
    resolve(s4, snapB)
    assert(builds == 4 &&
      ArtifactStore.lastOrigin("unit-standing") == "loaded")
    Seq(s0, s0b, s1, s2, s3, s4).foreach(GraftSession.close)
  }

  test("standing propagates Spark-wrapped fatals instead of rebuilding") {
    // review r10: an executor OOM or interrupt reaches the driver
    // WRAPPED in SparkException — resource pressure, not artifact
    // damage. Absorbing it into a rebuild would silently discard an
    // intact index (hours at corpus scale) and likely hit the same
    // pressure again; the cause chain decides. Each resolve runs in a
    // fresh session, so it misses memory and reaches the artifact.
    val root = Files.createTempDirectory("graft_standing_fatal_").toString
    var builds = 0
    val sessions = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.SparkSession]
    def resolve(load: String => Int): Int = {
      val s = freshSession(root)
      sessions += s
      FrameCache.get(s, "unit-fatal", sf, new ArtifactStore.Codec[Int](s,
          CorpusSnapshot(1, 1), (dir, _) => load(dir),
          Some((_, dir, snap) => ArtifactStore.saveBloom(Array[Byte](1), dir, snap))))(
        { builds += 1; 7 })
    }
    assert(resolve(_ => 7) == 7 && builds == 1)
    val oom = new org.apache.spark.SparkException("job aborted",
      new OutOfMemoryError("executor heap"))
    val thrown = intercept[org.apache.spark.SparkException] {
      resolve(_ => throw oom)
    }
    assert((thrown eq oom) && builds == 1,
      "a fatal-caused load failure must propagate, not rebuild")
    // the same exception TYPE without a fatal cause is artifact damage
    // and takes the warn+rebuild path
    assert(resolve(_ =>
      throw new org.apache.spark.SparkException("damaged parquet")) == 7)
    assert(builds == 2 &&
      ArtifactStore.lastOrigin("unit-fatal") == "rebuilt")
    sessions.foreach(GraftSession.close)
  }

  test("a centroid-first query loads the persisted IVF matrix instead of re-training") {
    // q79 reads only the IVF centroids, never the cells. With an IVF
    // index persisted, a restarted process must take the index's matrix,
    // not re-run Lloyd training (the trainKmeans jobs counted below). A
    // private copy of the corpus keeps other suites' entries out.
    val d = copyCorpus(sf, "graft_art_cents_")
    val root = Files.createTempDirectory("graft_art_cents_root_").toString
    val q79 = "q79_semdedup"
    val s1 = freshSession(root)
    SparkEntry.queries("q111_stream_ann_search")(s1, d).collect()
    assert(ArtifactStore.lastOrigin.get("ivf-index").contains("built"))
    val want = SparkEntry.queries(q79)(s1, d).collect().map(_.toSeq).toSeq

    def lloydJobs(body: => Unit): Int = jobsCalledFrom("trainKmeans")(body).values.sum
    // a restarted process: no centroid matrix in memory
    FrameCache.evict("ivf-centroids", d)
    ArtifactStore.lastOrigin.remove("ivf-index")
    val s2 = freshSession(root)
    var got = Seq.empty[Seq[Any]]
    assert(lloydJobs {
      got = SparkEntry.queries(q79)(s2, d).collect().map(_.toSeq).toSeq
    } == 0, "q79 re-trained the centroids a persisted IVF index carries")
    assert(ArtifactStore.lastOrigin.get("ivf-index").contains("loaded"))
    assert(got == want, "q79 answers changed across the restart")
    // control: without the index the same query trains
    FrameCache.evict("ivf-centroids", d)
    val s3 = spark.newSession()
    assert(lloydJobs(SparkEntry.queries(q79)(s3, d).collect()) > 0,
      "the listener does not see Lloyd training")
    Seq(s1, s2, s3).foreach(GraftSession.close)
  }

  /** Jobs started by `body` (under a fresh job group on this thread),
    * counted per SQL execution whose call site contains `site`. A
    * query's jobs run on other threads, so the caller's frames are on
    * the SQL execution's call site, not the job's; a last marker job
    * proves every earlier event was delivered. */
  private def jobsCalledFrom(site: String)(body: => Unit): Map[String, Int] = {
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val marked = new java.util.concurrent.Semaphore(0)
    val matching = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if x.details.contains(site) => matching.add(x.executionId.toString)
        case _ =>
      }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "marker") marked.release()
          else Option(e.properties.getProperty("spark.sql.execution.id"))
            .filter(matching.contains).foreach(jobs.merge(_, 1, Integer.sum(_, _)))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, s"jobs called from $site")
      try {
        body
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      assert(marked.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.asScala.map { case (k, v) => k -> v.intValue }.toMap
  }

  // ---- a corpus rewritten under a live session -----------------------
  // A memo entry is tied to the snapshot of the corpus it was built
  // from: a table file rewritten in place is answered from the new rows,
  // by session-scoped and process-scoped entries alike. The expected
  // answer comes from a copy of the rewritten corpus under a new dir: a
  // fresh session on the same dir would share the process-scoped
  // entries and prove nothing.

  private def copyCorpus(from: String, prefix: String): String = {
    val to = Files.createTempDirectory(prefix).toString
    new File(from).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new File(to, f.getName).toPath))
    to
  }

  /** Overwrite `table`'s one file in `d` with the rows that pass `keep`. */
  private def rewrite(d: String, table: String, keep: Column): Unit = {
    val target = new File(d, s"$table.parquet")
    val staged = Files.createTempDirectory("graft_rewrite_").toString + "/t"
    spark.read.parquet(target.getPath).filter(keep).coalesce(1).write.parquet(staged)
    val part = new File(staged).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(part.toPath, target.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  private def run(s: SparkSession, q: String, d: String): Seq[Seq[Any]] =
    SparkEntry.queries(q)(s, d).collect().map(_.toSeq).toSeq

  test("a session-scoped memo (q35 dedup-pairs) is rebuilt after its corpus is rewritten") {
    val d = copyCorpus(sf, "graft_snap_q35_")
    val s = spark.newSession()
    val before = run(s, "q35_minhash_lsh", d)
    rewrite(d, "documents", col("doc_id") % 2 =!= 0)
    val after = run(s, "q35_minhash_lsh", d)
    val want = run(s, "q35_minhash_lsh", copyCorpus(d, "graft_snap_q35_new_"))
    assert(want != before, "the rewrite did not change the answer — test would be vacuous")
    assert(after == want, "q35 answered from the corpus as it was before the rewrite")
    GraftSession.close(s)
  }

  test("a process-scoped memo (q50 ivf-centroids) is rebuilt and its artifact rebuilt, not loaded") {
    val d = copyCorpus(sf, "graft_snap_q50_")
    val s = spark.newSession()
    s.conf.set("spark.graft.artifactDir",
      Files.createTempDirectory("graft_snap_art_").toString)
    val before = run(s, "q50_ann_ivf", d)
    assert(ArtifactStore.lastOrigin.get("ivf-index").contains("built"))
    val cents = graft.runtime.FrameCache.peek[Seq[Array[Double]]]("ivf-centroids", d)
    assert(cents.isDefined)
    rewrite(d, "embeddings", col("vec_id") % 5 =!= 0)
    assert(graft.runtime.FrameCache.peek[Seq[Array[Double]]]("ivf-centroids", d).isEmpty,
      "peek served an entry of the earlier snapshot")
    // both IVF entries miss against the stale artifact: the corpus is
    // fingerprinted once for the two of them, not once per entry
    var after = Seq.empty[Seq[Any]]
    val fingerprints = jobsCalledFrom("ArtifactStore$.snapshot(") {
      after = run(s, "q50_ann_ivf", d)
    }.size
    assert(fingerprints == 1, s"the rewritten corpus was fingerprinted $fingerprints times, not once")
    assert(ArtifactStore.lastOrigin.get("ivf-index").contains("rebuilt"),
      "the memory miss must reach the fingerprint gate and rebuild the stale index")
    val want = run(s, "q50_ann_ivf", copyCorpus(d, "graft_snap_q50_new_"))
    assert(want != before, "the rewrite did not change the answer — test would be vacuous")
    assert(after == want, "q50 answered from the corpus as it was before the rewrite")
    assert(!graft.runtime.FrameCache.peek[Seq[Array[Double]]]("ivf-centroids", d)
      .exists(_.zip(cents.get).forall { case (a, b) => a.sameElements(b) }),
      "the centroid matrix was not retrained on the rewritten corpus")
    GraftSession.close(s)
  }
}
