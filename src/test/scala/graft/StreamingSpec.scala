package graft

import graft.queries.StreamingQueries
import graft.sinks.{KafkaJsonSink, TopicRouter}
import graft.streaming.{FileLifecycle, FilePipeline, FilePipelineConfig}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import java.nio.file.Files

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or concurrently-running suites lose their session
  override def afterAll(): Unit = ()

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val kpiSchema = StructType(Seq(
    StructField("measObjLdn", StringType),
    StructField("kpiId", StringType),
    StructField("kpiValue", StringType)))

  private def writeJsonFile(dir: String, name: String, content: String): Unit = {
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.writeString(java.nio.file.Paths.get(dir, name), content)
  }

  test("drainAvailable: json files → cleanse → sink; checkpoint prevents reprocess") {
    val in = tmpDir("fp_in_")
    val out = tmpDir("fp_out_")
    val chk = tmpDir("fp_chk_")
    writeJsonFile(in, "a.json",
      """[{"measObjLdn":"eNodeB=N1,Cell=1","kpiId":"1","kpiValue":"5.5"},
        | {"measObjLdn":"eNodeB=N2,Cell=2","kpiId":"2","kpiValue":"NIL"}]""".stripMargin)
    val cfg = FilePipelineConfig(inputDir = in, schema = kpiSchema,
      checkpointDir = chk)
    def run(): Unit = FilePipeline.drainAvailable(spark, cfg,
      transform = df => df.withColumn("kpiValue",
        when(col("kpiValue") === "NIL", lit("0")).otherwise(col("kpiValue"))
          .cast("double")),
      sink = (df, _) => KafkaJsonSink.writeFiles(
        KafkaJsonSink.payload(df), s"$out/data"))
    run()
    val vals = spark.read.parquet(s"$out/data").collect().map(_.getString(0))
    assert(vals.length === 2)
    assert(vals.exists(_.contains("\"kpiValue\":5.5")))
    assert(vals.exists(_.contains("\"kpiValue\":0.0")))
    assert(!vals.exists(_.contains("input_file"))) // provenance excluded (P1)

    run() // same checkpoint → no new rows
    assert(spark.read.parquet(s"$out/data").count() === 2)

    writeJsonFile(in, "b.json",
      """[{"measObjLdn":"eNodeB=N3,Cell=3","kpiId":"3","kpiValue":"1.0"}]""")
    run() // only the new file is processed
    assert(spark.read.parquet(s"$out/data").count() === 3)
  }

  test("drain: a failing sink fails the drain, and the next drain re-delivers its batch") {
    val in = tmpDir("fpfail_in_")
    val chk = tmpDir("fpfail_chk_")
    writeJsonFile(in, "a.json",
      """[{"measObjLdn":"eNodeB=N1,Cell=1","kpiId":"1","kpiValue":"5.5"},
        | {"measObjLdn":"eNodeB=N2,Cell=2","kpiId":"2","kpiValue":"7.0"}]""".stripMargin)
    val cfg = FilePipelineConfig(inputDir = in, schema = kpiSchema,
      checkpointDir = chk)
    val boom = new IllegalStateException("sink down")
    val err = intercept[Exception] {
      FilePipeline.drainAvailable(spark, cfg, transform = identity,
        sink = (_, id) => if (id == 0L) throw boom)
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).take(20).toSeq
    assert(causes.contains(boom), s"sink exception not in the cause chain: $causes")
    // at-least-once: batch 0 never committed, so a drain over the same
    // checkpoint replays it under the same id with the same rows
    var seen = Seq.empty[(Long, String)]
    FilePipeline.drainAvailable(spark, cfg, transform = identity,
      sink = (df, id) => seen ++= df.select("kpiId").as[String].collect().map(id -> _))
    assert(seen.sorted === Seq(0L -> "1", 0L -> "2"))
  }

  test("TopicRouter fans one batch out to per-topic sinks + fallback") {
    val out = tmpDir("router_")
    // the NULL-topic row must reach the fallback, not vanish: both the
    // per-topic equality and a bare !isin(...) evaluate to NULL on it
    val df = Seq(("xmlt", 1), ("csv", 2), ("xmlt", 3), ("mystery", 4),
        (null.asInstanceOf[String], 5))
      .toDF("topic", "v")
    TopicRouter.route(df, "topic",
      Map(
        "xmlt" -> ((d: org.apache.spark.sql.DataFrame) =>
          d.write.mode("append").parquet(s"$out/xmlt")),
        "csv" -> ((d: org.apache.spark.sql.DataFrame) =>
          d.write.mode("append").parquet(s"$out/csv"))),
      fallback = Some(d => d.write.mode("append").parquet(s"$out/other")))
    assert(spark.read.parquet(s"$out/xmlt").count() === 2)
    assert(spark.read.parquet(s"$out/csv").count() === 1)
    val other = spark.read.parquet(s"$out/other")
    assert(other.count() === 2)
    assert(other.where(col("topic").isNull).count() === 1)
  }

  test("FileLifecycle: md5-deduped backup, move-to-processed, audit, gunzip") {
    val fl = new FileLifecycle(new Configuration())
    val root = tmpDir("fl_")
    val in = new Path(root, "in"); val bak = new Path(root, "bak")
    val proc = new Path(root, "proc")
    val fs = in.getFileSystem(new Configuration())
    fs.mkdirs(in)
    Files.writeString(java.nio.file.Paths.get(root, "in", "f1.xml"), "<x>1</x>")
    Files.writeString(java.nio.file.Paths.get(root, "in", "f2.xml"), "<x>1</x>")
    Files.writeString(java.nio.file.Paths.get(root, "in", "f3.xml"), "<x>3</x>")

    assert(fl.backupDeduped(new Path(in, "f1.xml"), bak, 1L))
    assert(!fl.backupDeduped(new Path(in, "f2.xml"), bak, 2L)) // same content
    assert(fl.backupDeduped(new Path(in, "f3.xml"), bak, 3L))
    assert(fs.globStatus(new Path(bak, "backup_*")).length === 2)

    fl.moveProcessed(new Path(in, "f1.xml"), proc, 9L)
    assert(fs.exists(new Path(proc, "processed_9_f1.xml")))
    assert(fl.auditRemaining(in, "*.xml").map(_.getPath.getName).sorted
      === Seq("f2.xml", "f3.xml"))

    // gunzip: f.xml.gz → f.xml, archive moved aside
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    val gzOut = new java.io.File(root, "gz/g.xml.gz")
    val zos = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gzOut))
    zos.write("<y>ok</y>".getBytes); zos.close()
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    assert(fl.gunzipAll(gzDir, xmlOut, done, 5L) === 1)
    assert(Files.readString(java.nio.file.Paths.get(root, "xml", "g.xml")) === "<y>ok</y>")
    assert(fs.exists(new Path(done, "processed_5_g.xml.gz")))
  }

  test("backupDeduped: pre-upgrade backup_<millis>_ names still dedup by content") {
    val fl = new FileLifecycle(new Configuration())
    val root = tmpDir("flleg_")
    val in = new Path(root, "in"); val bak = new Path(root, "bak")
    val fs = in.getFileSystem(new Configuration())
    fs.mkdirs(in); fs.mkdirs(bak)
    Files.writeString(java.nio.file.Paths.get(root, "in", "a.xml"), "<x>L</x>")
    Files.writeString(java.nio.file.Paths.get(root, "in", "b.xml"), "<x>M</x>")
    // a PRE-UPGRADE backup of a.xml: old naming, no md5 segment — the
    // md5 glob misses it, the content fallback must still dedup
    Files.writeString(
      java.nio.file.Paths.get(root, "bak", "backup_1000_a.xml"), "<x>L</x>")
    assert(!fl.backupDeduped(new Path(in, "a.xml"), bak, 2L))
    assert(fs.globStatus(new Path(bak, "backup_*_a.xml")).length === 1)
    // DIFFERENT content under a legacy name must not suppress the copy
    Files.writeString(
      java.nio.file.Paths.get(root, "bak", "backup_1001_b.xml"), "<x>other</x>")
    assert(fl.backupDeduped(new Path(in, "b.xml"), bak, 3L))
  }

  test("gunzipAll quarantines a corrupt archive, extracts the rest, never wedges") {
    val fl = new FileLifecycle(new Configuration())
    val root = tmpDir("flbad_")
    val fs = new Path(root).getFileSystem(new Configuration())
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    // one good archive + one truncated (corrupt) one
    val good = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(root, "gz/ok.xml.gz")))
    good.write("<y>ok</y>".getBytes); good.close()
    Files.write(java.nio.file.Paths.get(root, "gz", "bad.xml.gz"),
      Array[Byte](0x1f, 0x8b.toByte, 1, 2, 3)) // gzip magic, garbage body
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    // the good file extracts, the corrupt one is quarantined — NOT
    // re-thrown (the old behavior aborted the whole pass and re-failed
    // on the same file every run, a permanently wedged flow)
    assert(fl.gunzipAll(gzDir, xmlOut, done, 7L) === 1)
    assert(Files.readString(
      java.nio.file.Paths.get(root, "xml", "ok.xml")) === "<y>ok</y>")
    assert(fs.exists(new Path(done, "corrupt_7_bad.xml.gz")))
    // no partial bad.xml (staged extraction) and nothing hidden left over
    assert(!fs.exists(new Path(xmlOut, "bad.xml")))
    assert(fs.globStatus(new Path(xmlOut, ".*__extracting")) == null ||
      fs.globStatus(new Path(xmlOut, ".*__extracting")).isEmpty)
    // idempotent next run: source dir is drained, nothing to re-throw
    assert(fl.gunzipAll(gzDir, xmlOut, done, 8L) === 0)
  }

  test("gunzipAll: within-batch output-name collision preserves the second archive") {
    // x.gz and x.xml.gz both map to output x.xml. Pre-r10 the second
    // extraction silently overwrote the first's payload and BOTH counted
    // as extracted (this test fails on that code: extracted=2 and x.xml
    // holds payload B). Now the first wins and the second is preserved
    // unextracted as conflict_* in doneDir — lossless, recover manually.
    val fl = new FileLifecycle(new Configuration())
    val root = tmpDir("flcol_")
    val fs = new Path(root).getFileSystem(new Configuration())
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("x.gz", "<payload>A</payload>")      // → x.xml
    gz("x.xml.gz", "<payload>B</payload>")  // → x.xml too (collision)
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    assert(fl.gunzipAll(gzDir, xmlOut, done, 11L) === 1)
    // globStatus order is lexicographic: x.gz processed first, its
    // payload must be intact — NOT overwritten by x.xml.gz
    assert(Files.readString(java.nio.file.Paths.get(root, "xml", "x.xml"))
      === "<payload>A</payload>")
    assert(fs.exists(new Path(done, "processed_11_x.gz")))
    // the colliding archive is preserved UNEXTRACTED with payload intact
    val conflict = new Path(done, "conflict_11_x.xml.gz")
    assert(fs.exists(conflict))
    val in = new java.util.zip.GZIPInputStream(fs.open(conflict))
    val preserved = new String(in.readAllBytes()); in.close()
    assert(preserved === "<payload>B</payload>")
    // source dir drained; nothing to re-attempt next run
    assert(fl.gunzipAll(gzDir, xmlOut, done, 12L) === 0)
  }

  test("gunzipAll: collision whose doneDir preservation rename fails is parked, not re-extracted next run") {
    // If the conflict_* rename to doneDir returns false and the archive
    // simply stayed in srcDir, the NEXT run would see no collision (the
    // sibling is already processed_*) and silently overwrite x.xml —
    // this test fails on that code. Now the archive is parked under a
    // non-.gz name in srcDir, which the *.gz glob skips.
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      // fault injection through the FS seam: doneDir conflict renames
      // report failure (Hadoop semantics: FALSE, not an exception)
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def rename(src: Path, dst: Path): Boolean =
            if (dst.getName.startsWith("conflict_") &&
                !dst.getName.endsWith(".hold")) false
            else super.rename(src, dst)
        }
    }
    val root = tmpDir("flpark_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("x.gz", "<payload>A</payload>")
    gz("x.xml.gz", "<payload>B</payload>")
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    assert(fl.gunzipAll(gzDir, xmlOut, done, 21L) === 1)
    assert(Files.readString(java.nio.file.Paths.get(root, "xml", "x.xml"))
      === "<payload>A</payload>")
    // doneDir rename failed → parked in srcDir under a .hold name,
    // payload intact
    assert(!fs.exists(new Path(done, "conflict_21_x.xml.gz")))
    val parked = new Path(gzDir, "conflict_21_x.xml.gz.hold")
    assert(fs.exists(parked))
    val in = new java.util.zip.GZIPInputStream(fs.open(parked))
    val preserved = new String(in.readAllBytes()); in.close()
    assert(preserved === "<payload>B</payload>")
    // next run: the parked file is NOT picked up, the extraction stands
    assert(fl.gunzipAll(gzDir, xmlOut, done, 22L) === 0)
    assert(Files.readString(java.nio.file.Paths.get(root, "xml", "x.xml"))
      === "<payload>A</payload>")
  }

  test("gunzipAll: an output-side IO failure rethrows — the healthy archive is NOT quarantined") {
    // quarantine is for CORRUPT archives; an output-FS failure (create/
    // write/close) on a healthy one must fail the run loudly and leave
    // the .gz in srcDir for the next run's retry — pre-fix it was
    // renamed corrupt_* and permanently dropped from the pipeline
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def create(f: Path,
              permission: org.apache.hadoop.fs.permission.FsPermission,
              overwrite: Boolean, bufferSize: Int, replication: Short,
              blockSize: Long, progress: org.apache.hadoop.util.Progressable)
              : org.apache.hadoop.fs.FSDataOutputStream =
            if (f.getName == ".h.xml.__extracting")
              throw new java.io.IOException("injected output failure")
            else super.create(f, permission, overwrite, bufferSize,
              replication, blockSize, progress)
        }
    }
    val root = tmpDir("flwfail_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("h.xml.gz", "<h>fails</h>")
    gz("k.xml.gz", "<k>ok</k>")
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    val e = intercept[java.io.IOException] {
      fl.gunzipAll(gzDir, xmlOut, done, 31L)
    }
    // the rethrow happens AFTER the loop (one failing file must not
    // block its siblings) and carries the original cause
    assert(e.getMessage.contains("left in srcDir"))
    assert(e.getCause.getMessage === "injected output failure")
    assert(fs.exists(new Path(gzDir, "h.xml.gz")), "archive left for retry")
    assert(!fs.exists(new Path(done, "corrupt_31_h.xml.gz")),
      "healthy archive must not be quarantined")
    // the sibling behind the failing file still extracted and archived
    assert(Files.readString(java.nio.file.Paths.get(root, "xml", "k.xml"))
      === "<k>ok</k>")
    assert(fs.exists(new Path(done, "processed_31_k.xml.gz")))
  }

  test("gunzipAll: a same-run sibling of an IO-failed archive parks as a collision") {
    // x.gz IO-fails but still claims output name x.xml; x.xml.gz maps to
    // the same output — extracting it now would be silently overwritten
    // when x.gz retries next run, so it must be preserved lossless via
    // the collision path instead
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def create(f: Path,
              permission: org.apache.hadoop.fs.permission.FsPermission,
              overwrite: Boolean, bufferSize: Int, replication: Short,
              blockSize: Long, progress: org.apache.hadoop.util.Progressable)
              : org.apache.hadoop.fs.FSDataOutputStream =
            if (f.getName == ".x.xml.__extracting")
              throw new java.io.IOException("injected output failure")
            else super.create(f, permission, overwrite, bufferSize,
              replication, blockSize, progress)
        }
    }
    val root = tmpDir("flsib_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("x.gz", "<a/>")     // globs first, IO-fails, claims x.xml
    gz("x.xml.gz", "<b/>") // same output name -> collision park
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    intercept[java.io.IOException] { fl.gunzipAll(gzDir, xmlOut, done, 41L) }
    assert(fs.exists(new Path(gzDir, "x.gz")), "failed archive retries")
    assert(!fs.exists(new Path(xmlOut, "x.xml")), "nothing extracted to x.xml")
    val conflicted = new Path(done, "conflict_41_x.xml.gz")
    assert(fs.exists(conflicted), "sibling preserved lossless")
    val in = new java.util.zip.GZIPInputStream(fs.open(conflicted))
    val preserved = new String(in.readAllBytes()); in.close()
    assert(preserved === "<b/>")
  }

  test("gunzipAll: a transient source-stream EOF retries — the archive is NOT quarantined") {
    // An HDFS/S3 read aborted mid-stream surfaces as EOFException from
    // the SOURCE read path — indistinguishable at the gzip layer from a
    // truncated archive. Pre-fix the HEALTHY archive was quarantined
    // corrupt_* and permanently dropped (this test fails on that code);
    // now the raw-stream tap records where the EOF originated and the
    // archive takes the left-in-srcDir retry path instead.
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def open(f: Path, bufferSize: Int)
              : org.apache.hadoop.fs.FSDataInputStream = {
            val real = super.open(f, bufferSize)
            if (f.getName != "t.xml.gz") real
            else new org.apache.hadoop.fs.FSDataInputStream(
              // DataInputStream.read(b,off,len) is final, so the fault
              // lives in the stream FSDataInputStream delegates to:
              // gzip header bytes flow through single-byte read(); the
              // first bulk body read dies like a dropped connection —
              // AFTER GZIPInputStream construction, so the EOF escapes
              // from inside gzip decompression
              new java.io.InputStream with org.apache.hadoop.fs.Seekable
                  with org.apache.hadoop.fs.PositionedReadable {
                override def read(): Int = real.read()
                override def read(b: Array[Byte], off: Int, len: Int): Int =
                  throw new java.io.EOFException("injected source-FS EOF")
                override def close(): Unit = real.close()
                override def seek(pos: Long): Unit = real.seek(pos)
                override def getPos(): Long = real.getPos()
                override def seekToNewSource(p: Long): Boolean =
                  real.seekToNewSource(p)
                override def read(pos: Long, b: Array[Byte], off: Int,
                    len: Int): Int = real.read(pos, b, off, len)
                override def readFully(pos: Long, b: Array[Byte], off: Int,
                    len: Int): Unit = real.readFully(pos, b, off, len)
                override def readFully(pos: Long, b: Array[Byte]): Unit =
                  real.readFully(pos, b)
              })
          }
        }
    }
    val root = tmpDir("fleof_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("t.xml.gz", "<t>healthy</t>")
    gz("u.xml.gz", "<u>ok</u>")
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    val e = intercept[java.io.IOException] {
      fl.gunzipAll(gzDir, xmlOut, done, 51L)
    }
    // retry semantics, not corruption: rethrown after the loop with the
    // source EOF as cause, archive still in srcDir, nothing quarantined
    assert(e.getMessage.contains("left in srcDir"))
    assert(e.getCause.isInstanceOf[java.io.EOFException])
    assert(fs.exists(new Path(gzDir, "t.xml.gz")), "archive left for retry")
    assert(fs.globStatus(new Path(done, "corrupt_*")) == null ||
      fs.globStatus(new Path(done, "corrupt_*")).isEmpty,
      "transient source EOF must not quarantine a healthy archive")
    // the sibling behind the failing file still extracted and archived
    assert(Files.readString(java.nio.file.Paths.get(root, "xml", "u.xml"))
      === "<u>ok</u>")
    assert(fs.exists(new Path(done, "processed_51_u.xml.gz")))
  }

  test("gunzipAll: an output-side EOF retries — corruption needs gzip-READ evidence") {
    // HDFS write pipelines surface failures as EOFException from the
    // OUTPUT stream ('Premature EOF: no length prefix available').
    // Quarantine is judged by positive gzip-layer READ evidence, so an
    // output EOF on a healthy archive must take the retry path — a
    // type-only EOF match quarantined it (this test fails on that code).
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def create(f: Path,
              permission: org.apache.hadoop.fs.permission.FsPermission,
              overwrite: Boolean, bufferSize: Int, replication: Short,
              blockSize: Long, progress: org.apache.hadoop.util.Progressable)
              : org.apache.hadoop.fs.FSDataOutputStream = {
            val real = super.create(f, permission, overwrite, bufferSize,
              replication, blockSize, progress)
            if (f.getName != ".w.xml.__extracting") real
            else new org.apache.hadoop.fs.FSDataOutputStream(
              new java.io.OutputStream {
                override def write(b: Int): Unit =
                  throw new java.io.EOFException("injected output EOF")
                override def write(b: Array[Byte], off: Int, len: Int): Unit =
                  throw new java.io.EOFException("injected output EOF")
                override def close(): Unit = real.close()
              }, null)
          }
        }
    }
    val root = tmpDir("floeof_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("w.xml.gz", "<w>healthy</w>")
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    val e = intercept[java.io.IOException] {
      fl.gunzipAll(gzDir, xmlOut, done, 55L)
    }
    assert(e.getMessage.contains("left in srcDir"))
    assert(e.getCause.isInstanceOf[java.io.EOFException])
    assert(fs.exists(new Path(gzDir, "w.xml.gz")), "archive left for retry")
    assert(fs.globStatus(new Path(done, "corrupt_*")) == null ||
      fs.globStatus(new Path(done, "corrupt_*")).isEmpty,
      "an output-side EOF must not quarantine a healthy archive")
  }

  test("gunzipAll: positive gzip evidence quarantines even when a cleanup exception wins the finally race") {
    // A truncated archive marks corrupt=true on the gzip-layer read,
    // but the staged output's close() (in the finally) can THROW a
    // RuntimeException that REPLACES the gzip error. Quarantine is
    // keyed on the corrupt flag, not the escaping exception's type —
    // pre-fix the IOException-only match let the RuntimeException
    // abort the whole run mid-loop and the corrupt archive was
    // retried forever, the wedged-flow class this path exists to
    // prevent (this test fails on that code with the injected
    // RuntimeException escaping).
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def create(f: Path,
              permission: org.apache.hadoop.fs.permission.FsPermission,
              overwrite: Boolean, bufferSize: Int, replication: Short,
              blockSize: Long, progress: org.apache.hadoop.util.Progressable)
              : org.apache.hadoop.fs.FSDataOutputStream = {
            val real = super.create(f, permission, overwrite, bufferSize,
              replication, blockSize, progress)
            if (f.getName != ".c.xml.__extracting") real
            else new org.apache.hadoop.fs.FSDataOutputStream(
              new java.io.OutputStream {
                override def write(b: Int): Unit = real.write(b)
                override def write(b: Array[Byte], off: Int, len: Int): Unit =
                  real.write(b, off, len)
                override def close(): Unit =
                  throw new RuntimeException("injected close failure")
              }, null)
          }
          // the staged-cleanup delete inside the quarantine handler can
          // ALSO throw a wrapped-client RuntimeException — it must be
          // swallowed (logged), not replace the quarantine flow
          override def delete(f: Path, recursive: Boolean): Boolean =
            if (f.getName == ".c.xml.__extracting")
              throw new RuntimeException("injected delete failure")
            else super.delete(f, recursive)
        }
    }
    val root = tmpDir("flrace_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    // c.xml.gz: valid gzip truncated mid-body (trailer + tail cut), so
    // the EOF escapes a gzip READ with a healthy source = corrupt
    val full = {
      val bos = new java.io.ByteArrayOutputStream()
      val zos = new java.util.zip.GZIPOutputStream(bos)
      zos.write("<c>corrupt payload long enough to truncate</c>".getBytes)
      zos.close(); bos.toByteArray
    }
    Files.write(java.nio.file.Paths.get(root, "gz", "c.xml.gz"),
      full.take(full.length - 10))
    val good = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(root, "gz/d.xml.gz")))
    good.write("<d>ok</d>".getBytes); good.close()
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    // no throw: c quarantined, d extracted — the flow never wedges
    assert(fl.gunzipAll(gzDir, xmlOut, done, 77L) === 1)
    assert(fs.exists(new Path(done, "corrupt_77_c.xml.gz")))
    assert(!fs.exists(new Path(gzDir, "c.xml.gz")))
    assert(Files.readString(
      java.nio.file.Paths.get(root, "xml", "d.xml")) === "<d>ok</d>")
  }

  test("gunzipAll: a wrapped-client RuntimeException on one archive retries; siblings extract") {
    // Hadoop FSes wrapping object-store SDKs surface failures as
    // RuntimeException, not IOException. The per-file catch must
    // record-and-continue exactly like an IO failure — pre-fix it
    // matched only IOException, so one such failure aborted gunzipAll
    // mid-loop and every sibling behind it was skipped on every run
    // (this test fails on that code with the RuntimeException
    // escaping). The staged-cleanup delete throws the same way and
    // must ride suppressed on the recorded cause.
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def open(f: Path, bufferSize: Int)
              : org.apache.hadoop.fs.FSDataInputStream =
            if (f.getName == "r.xml.gz")
              throw new RuntimeException("injected sdk failure")
            else super.open(f, bufferSize)
          override def delete(f: Path, recursive: Boolean): Boolean =
            if (f.getName == ".r.xml.__extracting")
              throw new RuntimeException("injected delete failure")
            else super.delete(f, recursive)
        }
    }
    val root = tmpDir("flsdk_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("r.xml.gz", "<r>healthy</r>")
    gz("s.xml.gz", "<s>ok</s>") // globs AFTER the failing archive
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    val e = intercept[java.io.IOException] {
      fl.gunzipAll(gzDir, xmlOut, done, 83L)
    }
    assert(e.getMessage.contains("left in srcDir"))
    assert(e.getCause.isInstanceOf[RuntimeException])
    assert(e.getCause.getSuppressed.exists(
      _.getMessage == "injected delete failure"),
      "the throwing staged cleanup must ride suppressed, not escape")
    assert(fs.exists(new Path(gzDir, "r.xml.gz")), "archive left for retry")
    assert(fs.globStatus(new Path(done, "corrupt_*")) == null ||
      fs.globStatus(new Path(done, "corrupt_*")).isEmpty,
      "a client failure must not quarantine a healthy archive")
    assert(Files.readString(java.nio.file.Paths.get(root, "xml", "s.xml"))
      === "<s>ok</s>", "the sibling behind the failure must extract")
    assert(fs.exists(new Path(done, "processed_83_s.xml.gz")))
  }

  test("gunzipAll: an interrupt is NOT a retriable per-file failure — it aborts the run") {
    // gunzipAll runs driver-side inside foreachBatch; on query stop
    // Spark interrupts the thread. An InterruptedException surfacing
    // from a wrapped FS client must propagate immediately — recording
    // it as 'left in srcDir for retry, continuing' would keep reading
    // every remaining archive in the batch with the cancellation
    // signal swallowed (this test fails on a bare Exception match:
    // the post-loop IOException is thrown instead).
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def open(f: Path, bufferSize: Int)
              : org.apache.hadoop.fs.FSDataInputStream =
            if (f.getName == "i.xml.gz")
              throw new InterruptedException("query stop")
            else super.open(f, bufferSize)
        }
    }
    val root = tmpDir("flint_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("i.xml.gz", "<i/>")
    gz("j.xml.gz", "<j/>") // behind the interrupt: must NOT be read
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    intercept[InterruptedException] {
      fl.gunzipAll(gzDir, xmlOut, done, 89L)
    }
    assert(!fs.exists(new Path(xmlOut, "j.xml")), "abort must be mid-loop")
    assert(fs.exists(new Path(gzDir, "i.xml.gz")))
    assert(fs.exists(new Path(gzDir, "j.xml.gz")))
  }

  test("RawTap records a source failure on ANY throwable, and taps skip()") {
    // Wrapped FS clients throw RuntimeException from read; a future
    // JDK may route gzip header skips through skip(). Both must mark
    // the tap failed or a transient source failure surfacing at the
    // gzip layer quarantines a HEALTHY archive (pre-fix: IOException-
    // only tap on read/read(b,off,len) — this test fails on that code).
    val fl = new FileLifecycle(new Configuration())
    val t1 = new fl.RawTap(new java.io.InputStream {
      override def read(): Int = throw new RuntimeException("rt read")
    })
    intercept[RuntimeException](t1.read())
    assert(t1.failed, "a RuntimeException source read must mark failed")
    val t2 = new fl.RawTap(new java.io.InputStream {
      override def read(): Int = -1
      override def skip(n: Long): Long =
        throw new java.io.IOException("io skip")
    })
    intercept[java.io.IOException](t2.skip(4L))
    assert(t2.failed, "skip() must be tapped like read()")
  }

  test("gunzipAll: a rename-into-place failure on a HEALTHY extraction aborts mid-loop") {
    // Post-extraction commit failures are directory-level — a
    // misconfigured outDir/doneDir affects every file, so unlike
    // per-file extraction failures the run aborts immediately (the
    // scoping contract documented at the rename-into-place site).
    // A continue-past version would extract the second archive too —
    // this test fails on that code.
    val config = new Configuration()
    val fl = new FileLifecycle(config) {
      override protected def fs(p: Path): org.apache.hadoop.fs.FileSystem =
        new org.apache.hadoop.fs.FilterFileSystem(p.getFileSystem(config)) {
          override def rename(src: Path, dst: Path): Boolean =
            if (src.getName.endsWith(".__extracting")) false
            else super.rename(src, dst)
        }
    }
    val root = tmpDir("flabort_")
    val fs = new Path(root).getFileSystem(config)
    val gzDir = new Path(root, "gz"); fs.mkdirs(gzDir)
    def gz(name: String, payload: String): Unit = {
      val zos = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, s"gz/$name")))
      zos.write(payload.getBytes); zos.close()
    }
    gz("a.xml.gz", "<a/>") // globs first: extracts fine, commit rename fails
    gz("b.xml.gz", "<b/>") // must never be attempted
    val xmlOut = new Path(root, "xml"); val done = new Path(root, "done")
    val e = intercept[java.io.IOException] {
      fl.gunzipAll(gzDir, xmlOut, done, 61L)
    }
    assert(e.getMessage.contains("failed after extraction"))
    // mid-loop abort: both archives still in srcDir, the second one
    // untouched; nothing quarantined or processed
    assert(fs.exists(new Path(gzDir, "a.xml.gz")))
    assert(fs.exists(new Path(gzDir, "b.xml.gz")))
    assert(!fs.exists(new Path(xmlOut, "a.xml")))
    assert(!fs.exists(new Path(xmlOut, "b.xml")), "abort must be mid-loop")
    assert(fs.globStatus(new Path(done, "*")) == null ||
      fs.globStatus(new Path(done, "*")).isEmpty)
  }

  test("dropDuplicatesWithinWatermark bounds state: entry evicted after the delay") {
    val in = tmpDir("ddw_in_")
    val chk = tmpDir("ddw_chk_")
    val out = tmpDir("ddw_out_")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts", TimestampType)))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).json(in)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("id")
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$out/data")
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: id=1 at 10:00; id=2 at 12:30 pushes the watermark to 11:30
    writeJsonFile(in, "b1.json",
      """{"id":1,"ts":"2025-01-01T10:00:00.000Z"}
        |{"id":2,"ts":"2025-01-01T12:30:00.000Z"}""".stripMargin)
    drain()
    // batch 2: id=1 recurs at 11:45 — above the watermark, but its state
    // entry expired at 10:00+1h < 11:30, so it is EMITTED AGAIN (this is
    // the bounded-state contract: dedup holds one delay window, not
    // every id ever seen). id=2 recurs inside its window → deduped.
    writeJsonFile(in, "b2.json",
      """{"id":1,"ts":"2025-01-01T11:45:00.000Z"}
        |{"id":2,"ts":"2025-01-01T12:31:00.000Z"}""".stripMargin)
    drain()
    val counts = spark.read.parquet(s"$out/data")
      .groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts === Map(1L -> 2L, 2L -> 1L))
  }

  test("watermark drops late rows across micro-batches (append mode)") {
    val in = tmpDir("wm_in_")
    val chk = tmpDir("wm_chk_")
    val out = tmpDir("wm_out_")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("v", DoubleType)))
    def drain(): Unit = {
      val q = spark.readStream.schema(schema).json(in)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour")).agg(sum(col("v")).as("s"))
        .select(col("window.start").as("start"), col("s"))
        .writeStream.outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(s"$out/data")
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // drain 1: advances the in-memory watermark to 11:50 (a watermark
    // becomes durable only in the NEXT batch's offsets entry)
    writeJsonFile(in, "b1.json",
      """{"ts":"2025-01-01T10:05:00.000Z","v":1.0}
        |{"ts":"2025-01-01T12:00:00.000Z","v":2.0}""".stripMargin)
    drain()
    // drain 2: a middle batch commits wm=11:50 into the checkpoint and
    // finalizes the 10:00 window at 1.0
    writeJsonFile(in, "b2.json",
      """{"ts":"2025-01-01T12:30:00.000Z","v":0.5}""")
    drain()
    // drain 3 (restart): the 10:10 row is behind the restored watermark
    // → dropped; it never reaches the already-emitted 10:00 window
    writeJsonFile(in, "b3.json",
      """{"ts":"2025-01-01T10:10:00.000Z","v":100.0}
        |{"ts":"2025-01-01T13:00:00.000Z","v":3.0}""".stripMargin)
    drain()
    val sums = spark.read.parquet(s"$out/data").collect()
      .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
    // the 10:00 window closed at v=1.0 — the late 100.0 was dropped
    assert(sums.get("2025-01-01 10:00:00.0").contains(1.0))
    assert(sums.values.forall(_ < 10.0))
  }

  test("state-store metrics: join/dedup state is sized, fed, and watermark-bounded") {
    import graft.queries.StreamingQueries
    val d = "/root/testdata/sf0.001"
    val streamed = Tables.events(spark, d)
      .filter(col("event_type").isin("click", "purchase")).count()

    // q55 inner interval join: every arriving row states exactly once,
    // on the 8 partitions streamSession sizes for the stream's volume
    StreamingQueries.queries("q55_stream_stream_join")(spark, d).collect()
    val Seq(j55) = StreamingQueries.lastStateMetrics("q55_stream_stream_join")
    assert(j55.rowsUpdatedTotal === streamed)
    assert(j55.rowsDroppedByWatermark === 0L)
    assert(j55.shufflePartitions === 8L)
    assert(j55.memoryUsedBytes > 0L)

    // q58 LEFT OUTER: the sentinel batches (2 files × 1 click + 1
    // purchase) also enter state, then the advanced watermark EVICTS the
    // drained data rows — final state must not accumulate the stream
    StreamingQueries.queries("q58_stream_left_outer")(spark, d).collect()
    val Seq(j58) = StreamingQueries.lastStateMetrics("q58_stream_left_outer")
    assert(j58.rowsUpdatedTotal === streamed + 4)
    assert(j58.rowsTotal < j58.rowsUpdatedTotal / 10,
      s"outer-join state not evicted: ${j58.rowsTotal} rows remain")

    // q48 dedup-within-watermark: the corpus lands twice but each key
    // states once — state size is distinct keys, not arrivals
    StreamingQueries.queries("q48_stream_dedup")(spark, d).collect()
    val Seq(d48) = StreamingQueries.lastStateMetrics("q48_stream_dedup")
    val distinctIds = Tables.events(spark, d).select("event_id").distinct().count()
    assert(d48.rowsUpdatedTotal === distinctIds)
    assert(d48.shufflePartitions === 8L)
  }

  // The heaviest stateful operator (watermarked stream-stream LEFT
  // OUTER interval join, q58's shape) must produce IDENTICAL results on
  // the local heap state store and the cluster backend
  // (GraftSession.clusterBuilder: RocksDB + changelog checkpointing) —
  // the posture split changes where state lives, never what it holds.
  test("stream-stream left outer join: heap and RocksDB state stores agree") {
    val in = tmpDir("ssj_in_")
    // main batch, then a far-future batch that advances both watermarks
    // past every left row so unmatched purchases drain their null row
    writeJsonFile(in, "000_main.json",
      """{"ts":"2025-01-01T10:00:00.000Z","user":1,"kind":"click","v":0.0}
        |{"ts":"2025-01-01T10:20:00.000Z","user":1,"kind":"purchase","v":5.0}
        |{"ts":"2025-01-01T10:30:00.000Z","user":2,"kind":"purchase","v":7.0}
        |{"ts":"2025-01-01T09:00:00.000Z","user":3,"kind":"click","v":0.0}
        |{"ts":"2025-01-01T12:00:00.000Z","user":3,"kind":"purchase","v":9.0}"""
        .stripMargin)
    writeJsonFile(in, "001_sentinel.json",
      """{"ts":"2025-01-02T00:00:00.000Z","user":-1,"kind":"click","v":0.0}
        |{"ts":"2025-01-02T00:00:00.000Z","user":-1,"kind":"purchase","v":0.0}"""
        .stripMargin)
    new java.io.File(in, "001_sentinel.json")
      .setLastModified(new java.io.File(in, "000_main.json").lastModified + 60000)
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("user", LongType),
      StructField("kind", StringType), StructField("v", DoubleType)))
    def drain(rocks: Boolean): Set[(Long, Double, Boolean)] = {
      val out = tmpDir("ssj_out_")
      val ss = spark.newSession()
      if (rocks)
        GraftSession.RocksDbStateStoreConfigs
          .foreach { case (k, v) => ss.conf.set(k, v) }
      def src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val clicks = src.filter(col("kind") === "click")
        .select(col("user").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val purchases = src.filter(col("kind") === "purchase")
        .select(col("user").as("p_user"), col("ts").as("p_ts"),
          col("v").as("p_v"))
        .withWatermark("p_ts", "1 hour")
      val joined = purchases.join(clicks,
        col("p_user") === col("c_user")
          && col("c_ts") <= col("p_ts")
          && col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        "leftOuter")
      FilePipeline.drain(joined, tmpDir("ssj_chk_")) { (df, _) =>
        df.write.mode("append").parquet(s"$out/data")
      }
      ss.read.parquet(s"$out/data").filter(col("p_user") >= 0).collect()
        .map(r => (r.getAs[Long]("p_user"), r.getAs[Double]("p_v"),
          r.isNullAt(r.fieldIndex("c_user")))).toSet
    }
    val heap = drain(rocks = false)
    val rocks = drain(rocks = true)
    // expected: user 1 matched (click 20 min before), users 2 and 3
    // unmatched (no click / click outside the 1 h interval) → null row
    assert(heap === Set((1L, 5.0, false), (2L, 7.0, true), (3L, 9.0, true)))
    assert(rocks === heap)
  }

  test("q101 bloom prefilter splits arrivals: misses skip the join, admitted set is exact") {
    val d = "/root/testdata/sf0.001"
    val res = StreamingQueries.queries("q101_stream_bloom_dedup")(spark, d)
      .collect()
    // the split the drain's micro-batches make, recomputed over the whole
    // delta with the standing bloom the drain memoized
    val (_, bloom) = graft.runtime.FrameCache
      .peek[(org.apache.spark.sql.DataFrame, Array[Byte])](
        spark, "q101-bloom", d)
      .getOrElse(fail("q101 left no standing bloom entry"))
    val hit = graft.ext.BloomPrune.mightContain(bloom,
      md5(col("text").cast("binary")))
    val Seq(nDefinite, nMaybe) = Seq(!hit, hit).map(p =>
      Tables.documents(spark, d).filter(col("doc_id") % 7 === 3).filter(p).count())
    val deltaTotal = Tables.documents(spark, d)
      .filter(col("doc_id") % 7 === 3).count()
    // every arriving row lands on exactly one side of the split
    assert(nDefinite + nMaybe === deltaTotal)
    // the split does real work: most arrivals are new docs that the bloom
    // clears map-side, so only a minority pays the exact anti join
    assert(nDefinite > nMaybe,
      s"bloom cleared only $nDefinite of $deltaTotal rows ($nMaybe joined)")
    // admitted counts are exact (≤ delta per source, and globally the
    // bloom's false positives were all removed by the anti join)
    val admitted = res.map(_.getLong(2)).sum
    val exactNew = deltaTotal - {
      val corpus = Tables.documents(spark, d)
        .filter(col("doc_id") % 7 =!= 3)
        .select(md5(col("text").cast("binary")).as("ck")).distinct()
      Tables.documents(spark, d).filter(col("doc_id") % 7 === 3)
        .withColumn("ck", md5(col("text").cast("binary")))
        .join(corpus, Seq("ck"), "left_semi").count()
    }
    assert(admitted === exactNew)
  }

  test("q105 near-dup admission conserves the delta: admitted + rejected = arrivals") {
    val d = "/root/testdata/sf0.001"
    val res = StreamingQueries
      .queries("q105_stream_neardup_admission")(spark, d).collect()
    val nDelta = res.map(_.getLong(1)).sum
    val nAdmitted = res.map(_.getLong(2)).sum
    // the drain's rejections, recomputed by probing the whole delta
    // against the standing index the drain memoized (a probe is per doc,
    // so the micro-batch split does not change the rejected set)
    val idx = graft.runtime.FrameCache
      .peek[graft.ext.Dedup.NearDupIndex](spark, "q105-neardup", d)
      .getOrElse(fail("q105 left no standing index entry"))
    val nRejected = idx.probe(
        Tables.documents(spark, d).filter(col("doc_id") % 9 === 4),
        "doc_id", "text", shingleN = 3)
      .select(col("d_id")).distinct().count()
    // every arriving doc is either admitted once or rejected once,
    // across both micro-batches — no drops, no double-counting
    assert(nAdmitted + nRejected === nDelta)
    assert(nDelta === Tables.documents(spark, d)
      .filter(col("doc_id") % 9 === 4).count())
  }
}
