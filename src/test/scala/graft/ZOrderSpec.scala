package graft

import java.nio.file.Files

import graft.sinks.ZOrderLayout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Measures what the z-order layout buys: per-file min/max envelopes
  * (what parquet footer pruning sees) must overlap a partkey slice for
  * FEWER files than a 1-D orderkey layout, where every file spans the
  * full partkey range. */
class ZOrderSpec extends AnyFunSuite {
  private lazy val spark = GraftSession.local(4)
  private val sf = "/root/testdata/sf0.01"
  private val NFiles = 16

  /** (file, min, max) envelope of `c` per written file. */
  private def envelopes(path: String, c: String): Array[(Long, Long)] =
    spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg(min(col(c)).as("lo"), max(col(c)).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))

  test("z-order layout prunes a partkey slice that a 1-D layout cannot") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey", "l_quantity")
    val zDir = Files.createTempDirectory("graft_zorder_").toString
    val linDir = Files.createTempDirectory("graft_linear_").toString
    ZOrderLayout.writeZOrdered(li, "l_orderkey", "l_partkey", 16, NFiles, zDir)
    li.repartitionByRange(NFiles, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(linDir)

    // same rows in both layouts
    assert(spark.read.parquet(zDir).count() == li.count())

    // a ~1/8 partkey slice: which files COULD contain it, by footer stats
    val pkMax = li.agg(max(col("l_partkey"))).head.getLong(0)
    val (lo, hi) = (pkMax / 2, pkMax / 2 + pkMax / 8)
    def touched(path: String): Int =
      envelopes(path, "l_partkey").count { case (mn, mx) => mx >= lo && mn <= hi }

    val zTouched = touched(zDir)
    val linTouched = touched(linDir)
    assert(linTouched == NFiles,
      s"1-D orderkey layout should leave every file spanning partkey ($linTouched)")
    // ideal quadrant alignment touches 4/16; sampled range bounds blur
    // cell edges, so allow up to 5/8 — still a 6+-file prune where the
    // 1-D layout prunes zero
    assert(zTouched * 8 <= NFiles * 5,
      s"z-order should prune ≥3/8 of files for a 1/8 slice, touched $zTouched/$NFiles")

    // and the z layout must not have destroyed orderkey locality entirely:
    // an orderkey slice still prunes some files
    val okMax = li.agg(max(col("l_orderkey"))).head.getLong(0)
    val okTouched = envelopes(zDir, "l_orderkey")
      .count { case (mn, mx) => mx >= okMax / 2 && mn <= okMax / 2 + okMax / 8 }
    assert(okTouched < NFiles,
      s"z-order lost all orderkey locality ($okTouched/$NFiles)")
  }

  test("writeZOrdered accepts INT keys without wrap or ClassCastException") {
    import spark.implicits._
    // keys near Int.MaxValue: an un-cast INT * 2^12 multiply would wrap
    val n = 1000
    val df = (0 until n)
      .map(i => (Int.MaxValue - i, Int.MaxValue - (i * 7 % n)))
      .toDF("x", "y") // int32 columns
    val dir = Files.createTempDirectory("graft_zorder_int_").toString
    ZOrderLayout.writeZOrdered(df, "x", "y", 12, 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == n)
    // wrap corruption would scramble the layout: every x must round-trip
    assert(back.agg(min(col("x")), max(col("x"))).head ==
      df.agg(min(col("x")), max(col("x"))).head)
  }

  test("zvalue/writeZOrdered reject out-of-range bits loudly") {
    import spark.implicits._
    // bits=0 crashed the interleave reduce on an empty list; bits=32
    // shifted past the Long sign bit, range-partitioning high-y rows
    // FIRST — overlapping every file envelope with no symptom
    assertThrows[IllegalArgumentException](
      ZOrderLayout.zvalue(col("x"), col("y"), 0))
    assertThrows[IllegalArgumentException](
      ZOrderLayout.zvalue(col("x"), col("y"), 32))
    val df = Seq((1L, 2L)).toDF("x", "y")
    val out = Files.createTempDirectory("graft_zbits_").toString
    assertThrows[IllegalArgumentException](
      ZOrderLayout.writeZOrdered(df, "x", "y", 0, 2, out))
    assertThrows[IllegalArgumentException](
      ZOrderLayout.writeZOrdered(df, "x", "y", 32, 2, out))
  }

  test("writeZOrdered rejects negative and overflow-range keys loudly") {
    import spark.implicits._
    // a negative key would sign-corrupt the interleave SILENTLY (files
    // written, pruning lost) — the guard must throw instead
    val neg = Seq((-1L, 2L), (3L, 4L)).toDF("x", "y")
    val dir = Files.createTempDirectory("graft_zorder_guard_").toString
    val e1 = intercept[IllegalArgumentException] {
      ZOrderLayout.writeZOrdered(neg, "x", "y", 12, 2, dir)
    }
    assert(e1.getMessage.contains("non-negative"))
    // a 60-bit hash key at bits=16 wraps the scale-up multiply
    val big = Seq(((1L << 60) - 1, 2L), (3L, 4L)).toDF("x", "y")
    val e2 = intercept[IllegalArgumentException] {
      ZOrderLayout.writeZOrdered(big, "x", "y", 16, 2, dir)
    }
    assert(e2.getMessage.contains("overflow"))
  }

  test("writeZOrdered on an empty frame writes empty output, not an NPE") {
    import spark.implicits._
    // max() over zero rows is NULL — the maintenance pass must no-op
    // (an empty partition/table is a normal compaction input)
    val empty = Seq.empty[(Long, Long)].toDF("x", "y")
    val dir = Files.createTempDirectory("graft_zorder_empty_").toString
    ZOrderLayout.writeZOrdered(empty, "x", "y", 12, 4, dir)
    assert(spark.read.parquet(dir).count() === 0)
  }
}
