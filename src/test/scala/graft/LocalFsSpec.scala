package graft

import graft.flows.Flows
import graft.model.Schemas
import graft.runtime.{NioLocalFileSystem, NioRawLocalFileSystem}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.PrivilegedExceptionAction
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** `file://` I/O through [[NioLocalFileSystem]]: drains spawn no `chmod`
  * process, and files and dirs read back the modes and `.crc` sidecars
  * the stock `LocalFileSystem` gives them. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)

  private def tmpRoot(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getCanonicalPath

  /** Command lines of the `chmod` processes the JVM started while `body`
    * ran whose target lies under `root` (suites sharing the JVM have
    * their own roots). */
  private def chmodsUnder(root: String)(body: => Unit): Seq[String] =
    forksUnder(root)(body).filter(_.startsWith("chmod"))

  /** Command lines of every process the JVM started while `body` ran
    * that names a path under `root`. */
  private def forksUnder(root: String)(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
        .filter(_.contains(root))
    } finally { rec.close(); Files.delete(dump) }
  }

  private val xml =
    """<measCollecFile><fileHeader><measCollec beginTime="t0"/></fileHeader>
      |<measData><managedElement localDn="SubNetwork=TN,ManagedElement=ME1"/>
      |<measInfo measInfoId="M"><job jobId="j"/>
      |<granPeriod duration="PT900S" endTime="t1"/>
      |<measType p="1">K1</measType>
      |<measValue measObjLdn="eNodeB=N7,Cell=1"><r p="1">4.5</r></measValue>
      |</measInfo></measData></measCollecFile>""".stripMargin

  private def fileSink(dir: String): DataFrame => Unit =
    df => df.write.mode("append").parquet(dir)

  private def stockFs(): LocalFileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def nioFs(): NioLocalFileSystem = {
    val fs = new NioLocalFileSystem()
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  test("fork guard: an XML drain and a CSV drain on GraftSession.local spawn no chmod") {
    val root = tmpRoot("graft_forkguard_")
    Seq("in", "proc", "bak", "csv_in").foreach(d => Files.createDirectories(Paths.get(root, d)))
    Files.writeString(Paths.get(root, "in", "a.xml"), xml)
    val names = Schemas.cellKpi69.fieldNames
    val header = names.map(n => "\"" + n + "\"").mkString(",")
    val row = ("2024-01-01 00:00:00" +: Seq.fill(names.length - 1)("1")).mkString(",")
    Files.writeString(Paths.get(root, "csv_in", "cells.csv"),
      (header +: Seq.fill(3)(row)).mkString("", "\n", "\n"))
    val chmods = chmodsUnder(root) {
      val r = Flows.xmlFast(spark, Flows.FlowDirs(s"$root/in", s"$root/proc", s"$root/bak"),
        fileSink(s"$root/out_xml"), nowMillis = 3L)
      assert(r.files === 1 && r.rows === 1L && r.ok)
      Flows.csvCells(spark, s"$root/csv_in", s"$root/chk", s"$root/csv_archive",
        fileSink(s"$root/out_csv"))
    }
    assert(spark.read.parquet(s"$root/out_csv").count() === 3L)
    assert(new File(s"$root/bak").list().exists(_.startsWith("backup_")))
    assert(chmods.isEmpty, chmods.take(5).mkString("\n"))
    // the guard sees a stock create under the same root
    val control = chmodsUnder(root) {
      stockFs().create(new HPath(s"$root/control/f")).close()
    }
    assert(control.nonEmpty)
  }

  test("fork guard: a memoized query, cold then warm, lists its corpus without a fork") {
    // every memo lookup lists the corpus dir; Hadoop's local file status
    // forks `ls` once anything reads its permission or owner
    val root = tmpRoot("graft_forkmemo_")
    val s = spark.newSession()
    import s.implicits._
    Seq.tabulate(40)(i => (i.toLong, s"the quick brown fox ${i % 10} jumps over the lazy dog"))
      .toDF("doc_id", "text").write.parquet(s"$root/documents.parquet")
    var runs = Seq.empty[Long]
    val forks = forksUnder(root) {
      runs = Seq.fill(2)(SparkEntry.queries("q35_minhash_lsh")(s, root).count())
    }
    assert(runs.distinct.size == 1)
    assert(graft.runtime.FrameCache.peek[Any](s, "dedup-pairs", root).isDefined)
    assert(forks.isEmpty, forks.take(5).mkString("\n"))
    GraftSession.close(s)
    // the guard sees a permission read on a listed status
    val control = forksUnder(root) {
      stockFs().listStatus(new HPath(root)).head.getPermission
    }
    assert(control.nonEmpty)
  }

  test("a stock LocalFileSystem cached before the session is bypassed") {
    // FileSystem's cache is keyed by scheme and user, not class: the
    // instance a plain Configuration resolves, cached first, would keep
    // answering for the session's conf.
    // A private user gives this case its own cache key.
    UserGroupInformation.createRemoteUser("graft-stale-fs").doAs(
      new PrivilegedExceptionAction[Unit] {
        def run(): Unit = {
          val stale = FileSystem.get(URI.create("file:///"), new Configuration())
          assert(!stale.isInstanceOf[NioLocalFileSystem])
          val conf = new Configuration()
          NioLocalFileSystem.install(conf)
          val fs = FileSystem.get(URI.create("file:///"), conf)
          assert(fs.isInstanceOf[NioLocalFileSystem])
          val root = tmpRoot("graft_stalefs_")
          assert(chmodsUnder(root) {
            fs.create(new HPath(s"$root/d/f")).close()
          }.isEmpty)
          // the stale instance is left to its holders, not closed
          assert(FileSystem.get(URI.create("file:///"), new Configuration()) eq stale)
        }
      })
    // and the live session resolves file:// to the fork-free FS
    assert(FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[NioLocalFileSystem])
  }

  test("permission equivalence: default create, create 0640, mkdirs 0750 match stock") {
    val perm = (octal: String) => new FsPermission(Integer.parseInt(octal, 8).toShort)
    def layout(fs: FileSystem, root: String): Unit = {
      fs.create(new HPath(s"$root/p/default.bin")).close()
      fs.create(new HPath(s"$root/p/explicit.bin"), perm("640"), true, 4096,
        1.toShort, 1L << 25, null).close()
      fs.mkdirs(new HPath(s"$root/m/a/b"), perm("750"))
    }
    val (stock, nio) = (tmpRoot("graft_perm_stock_"), tmpRoot("graft_perm_nio_"))
    layout(stockFs(), stock)
    assert(chmodsUnder(nio)(layout(nioFs(), nio)).isEmpty)
    val expected = Map("p" -> "755", "p/default.bin" -> "644", "p/.default.bin.crc" -> "644",
      "p/explicit.bin" -> "640", "p/.explicit.bin.crc" -> "640",
      "m" -> "755", "m/a" -> "755", "m/a/b" -> "750")
    expected.foreach { case (rel, octal) =>
      assert(mode(s"$nio/$rel") === mode(s"$stock/$rel"), rel)
      assert(mode(s"$nio/$rel") === Integer.parseInt(octal, 8), rel)
    }
  }

  test("rename onto an existing file fails, as the file:// it replaces does") {
    val root = tmpRoot("graft_rename_")
    val fs = nioFs()
    Seq("a", "b").foreach(n => Files.writeString(Paths.get(root, n), n))
    val stockResolved = FileSystem.newInstance(URI.create("file:///"), new Configuration())
    try assert(!stockResolved.rename(new HPath(s"$root/a"), new HPath(s"$root/b")))
    finally stockResolved.close()
    assert(!fs.rename(new HPath(s"$root/a"), new HPath(s"$root/b")))
    assert(Files.readString(Paths.get(root, "b")) === "b")
    assert(fs.rename(new HPath(s"$root/a"), new HPath(s"$root/c")))
    assert(Files.readString(Paths.get(root, "c")) === "a")
  }

  test("crc sidecars are still written; a sticky-bit request takes the stock path") {
    val root = tmpRoot("graft_crc_")
    val fs = nioFs()
    assert(fs.getRawFileSystem.isInstanceOf[NioRawLocalFileSystem])
    val out = fs.create(new HPath(s"$root/data.bin"))
    out.write(Array.fill[Byte](1000)(7)); out.close()
    assert(Files.size(Paths.get(root, ".data.bin.crc")) > 0)
    assert(fs.open(new HPath(s"$root/data.bin")).readAllBytes().length === 1000)
    // java.nio cannot express the sticky bit: Hadoop's own chmod sets it
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    fs.mkdirs(new HPath(s"$root/shared"))
    val chmods = chmodsUnder(root) { fs.setPermission(new HPath(s"$root/shared"), sticky) }
    assert(chmods.size === 1)
    assert(mode(s"$root/shared") === Integer.parseInt("1777", 8))
  }
}
