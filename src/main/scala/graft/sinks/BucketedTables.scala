package graft.sinks

import graft.Tables
import graft.runtime.FrameCache
import org.apache.spark.sql.SparkSession


/** Bucketed-table layout (SURVEY scale posture: "repartition/bucketing
  * for co-located joins"): orders and lineitem written ONCE, bucketed
  * and sorted by their join key into the same bucket count, so every
  * subsequent orderkey join (and orderkey aggregation) reads
  * co-located, pre-sorted buckets — NO exchange, NO sort at query time.
  * This is the fact-to-fact answer where broadcast is impossible: the
  * shuffle is paid once at write time and amortized over every join
  * after it. Tables register in the session catalog as external parquet
  * (data in a temp dir, metadata in-memory); memoized per source dir. */
object BucketedTables {

  val Buckets = 8

  // A process-scoped FrameCache entry: a racing double build would
  // DROP + saveAsTable the same names twice, one overwrite racing the
  // other. Values are catalog names, so staleness is handled by the
  // catalog validation below, not eviction.
  private val Memo = "bucketed-tables"

  /** Ensure bucketed copies of (orders, lineitem) for `d`; returns the
    * catalog table names. Memoized names are VALIDATED against the
    * caller's catalog before reuse — a recreated SparkSession in the
    * same JVM has a fresh SharedState, so a remembered name may no
    * longer exist there. */
  def ensure(s: SparkSession, d: String): (String, String) = {
    FrameCache.peek[(String, String)](Memo, d).foreach { case (o, l) =>
      if (!s.catalog.tableExists(o) || !s.catalog.tableExists(l))
        FrameCache.evict(Memo, d)
    }
    FrameCache.get(Memo, d) {
      // table tag = sanitized dir + hash of the raw path, matching the
      // artifact dirs' collision posture: hashCode alone
      // lets two dirs with colliding hashes silently share table names
      // (ensure(d2) would recreate them over d2's data while d1's cache
      // entry still validates and reads the wrong rows)
      val tag = d.replaceAll("[^A-Za-z0-9_]", "_") +
        "_" + Integer.toHexString(d.hashCode)
      val oT = s"graft_orders_b$tag"
      val lT = s"graft_lineitem_b$tag"
      // ONE deterministic dir per tag, reused across rebuilds: these
      // are EXTERNAL tables (option("path")), so DROP TABLE removes
      // only metadata — a fresh createTempDirectory per rebuild leaked
      // a full bucketed orders+lineitem copy every cache
      // eviction/session cycle. mode("overwrite") replaces the files
      // in place on rebuild. SINGLE-WRITER assumption: JVMs bucketing
      // one source dir share this path — concurrent multi-driver use
      // needs a process-scoped dir component (e.g. applicationId).
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), s"graft_bucketed_$tag")
          .getAbsolutePath
      s.sql(s"DROP TABLE IF EXISTS $oT")
      s.sql(s"DROP TABLE IF EXISTS $lT")
      // repartition by the bucket key into the bucket count BEFORE the
      // write: repartition and bucketBy share the hash, so each task
      // holds exactly one bucket → ONE FILE PER BUCKET. That is the
      // condition under which the reader trusts the sortBy metadata —
      // multi-file buckets silently lose the no-sort-at-read property.
      import org.apache.spark.sql.functions.col
      Tables.orders(s, d).repartition(Buckets, col("o_orderkey"))
        .write.mode("overwrite")
        .option("path", s"$base/orders")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .format("parquet").saveAsTable(oT)
      Tables.lineitem(s, d).repartition(Buckets, col("l_orderkey"))
        .write.mode("overwrite")
        .option("path", s"$base/lineitem")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .format("parquet").saveAsTable(lT)
      (oT, lT)
    }
  }
}
