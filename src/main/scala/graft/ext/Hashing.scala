package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic hashing.
  *
  * Every dedup / fingerprint / LSH operator in the engine needs hash values
  * that an external oracle can recompute bit-for-bit. Spark's `hash`/
  * `xxhash64` are Spark-specific, so we standardize on md5 (available in
  * Spark, DuckDB, and virtually every engine) truncated to 60 bits:
  * `first 15 hex chars of md5(utf8 bytes)` parsed base-16.
  *
  * All of it is native Catalyst expressions (md5 / substring / conv) —
  * whole-stage-codegen friendly, no UDFs — and embarrassingly parallel:
  * per-row work only, no shuffle.
  */
object Hashing {

  /** 60-bit positive hash of a string column (15 hex nibbles < 2^60).
    * Backed by the codegen'd [[graft.functions.Md5Long60]] expression —
    * same value as `conv(substring(md5(x),1,15),16,10)` without the
    * hex-string round trip (the hot primitive of dedup/fingerprints). */
  def md5Long(c: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.Md5Long60(
        org.apache.spark.sql.GraftColumnBridge.expression(c.cast("binary"))))

  /** Seeded variant: an independent hash family member per seed, used for
    * MinHash permutations and LSH hyperplanes. */
  def md5Long(seed: Int, c: Column): Column =
    md5Long(concat(lit(seed.toString), lit("|"), c))
}
