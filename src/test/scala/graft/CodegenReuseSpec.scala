package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.flows.Flows
import graft.model.Schemas

/** Each generated class compiles once per process: a new session, a new
  * streaming drain or a new corpus snapshot reuses the classes an earlier
  * run compiled, however many other classes were compiled in between
  * ([[GraftSession.ArtifactIsolation]], [[GraftSession.CodegenCacheEntries]]).
  * A step "reuses" when it compiles at most a tenth of what its first run
  * compiled; compiles are counted by Spark's codegen metric, which every
  * Janino compile (a codegen cache miss) updates, driver and executor alike
  * in local mode. */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)

  // session is shared across suites in one forked JVM (getOrCreate) —
  // do NOT stop it here or later suites lose their session
  private val sf = "/root/testdata/sf0.001"

  private def compiles(f: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def run(s: SparkSession, q: String, d: String): Unit =
    SparkEntry.queries(q)(s, d).collect()

  private def reuses(first: Long, again: Long): Boolean = again * 10 <= first

  test("a query re-run in a newSession() compiles nothing new") {
    val q = "q64_ivf_int8_recall"
    val s1 = spark.newSession()
    val s2 = s1.newSession()
    val first = compiles(run(s1, q, sf))
    val again = compiles(run(s2, q, sf))
    GraftSession.close(s1)
    GraftSession.close(s2)
    assert(reuses(first, again), s"$q: first run $first compiles, newSession re-run $again")
  }

  test("a second csvCells drain on the same checkpoint compiles nothing new") {
    val root = Files.createTempDirectory("graft_codegen_csv_").toString
    Files.createDirectories(Paths.get(root, "in"))
    val names = Schemas.cellKpi69.fieldNames
    val header = names.map(n => "\"" + n + "\"").mkString(",")
    def drain(i: Int): Long = {
      val rows = Seq.tabulate(5)(r =>
        (s"2024-01-0${i + 1} 00:0$r:00" +: Seq.fill(names.length - 1)(s"${i + r}")).mkString(","))
      Files.writeString(Paths.get(root, "in", s"cells_$i.csv"),
        (header +: rows).mkString("", "\n", "\n"))
      compiles(Flows.csvCells(spark, s"$root/in", s"$root/chk", s"$root/archive",
        df => df.write.mode("append").parquet(s"$root/out")))
    }
    val first = drain(0)
    val again = drain(1)
    assert(spark.read.parquet(s"$root/out").count() === 10L)
    assert(reuses(first, again), s"csvCells: first drain $first compiles, second $again")
  }

  /** `n` compiles of classes no earlier run generated: each plan carries
    * a literal unique to this process, which codegen inlines. */
  private def novelCompiles(n: Int): Long = {
    val salt = System.nanoTime()
    var done = 0L
    var i = 0L
    while (done < n) {
      done += compiles(spark.range(3).select((col("id") * lit(salt + i)).as("x")).collect())
      i += 1
    }
    done
  }

  private def copyCorpus(prefix: String): String = {
    val to = Files.createTempDirectory(prefix).toString
    new File(sf).listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => Files.copy(f.toPath, new File(to, f.getName).toPath))
    to
  }

  test("a query on a second snapshot, after more than 100 other compiles, compiles nothing new") {
    // Spark's default cache (100 entries) has evicted the first run's
    // classes by then; the engine's cache size must reach CodeGenerator
    val q = "q35_minhash_lsh"
    val s = spark.newSession()
    val (d1, d2) = (copyCorpus("graft_codegen_snap1_"), copyCorpus("graft_codegen_snap2_"))
    val first = compiles(run(s, q, d1))
    val other = novelCompiles(120)
    val again = compiles(run(s, q, d2))
    GraftSession.close(s)
    assert(other >= 120)
    assert(reuses(first, again),
      s"$q: first snapshot $first compiles, second $again after $other others")
  }
}
