package graft
import org.apache.spark.sql.SparkSession
object Bench {
  // Host-contention calibration (VERDICT r9 #4): a FIXED, deterministic,
  // single-threaded CPU probe — MD5 over a constant 4 KiB buffer,
  // 100k rounds (~0.4 GB hashed, ~0.5 s unloaded). The work is
  // identical every round, so its wall time moves ONLY with host load;
  // the judge normalizes round totals (total / calib) instead of
  // re-running the band protocol when identical code drifts (r9's
  // 69.7→81.4 s was 100% host band, diagnosed by hand).
  private def calibrate(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    var sink = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 100000) { sink += md.digest(buf)(0); i += 1 }
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink == Long.MinValue) println(sink) // defeat dead-code elim
    sec
  }

  // Locale-pinned decimal formatting: the f interpolator uses the JVM
  // default locale, and a comma-decimal locale would corrupt the one
  // JSON line this main exists to emit (the r3/r4 null-parse class).
  private def f3(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // bracket the suite with the calibration probe: contention during
    // the ~80 s run shows up as the start/end pair disagreeing. One
    // UNTIMED pass first: the very first calibrate() in a fresh JVM
    // runs partly pre-C2 (measured 0.82 vs 0.72 s warm — a 1.14×
    // asymmetry with zero load that would eat most of the 1.3×
    // mid-run-contention threshold).
    calibrate()
    val calibStart = calibrate()
    val spark = GraftSession.local(cpus)
    // Untimed warmup: absorbs one-time JVM/codegen/session costs so the
    // per-query numbers measure the queries, not first-run warmup.
    try SparkEntry.queries("q01_agg_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    // Best-of-2 for non-trivial queries: the host shows bursty external
    // CPU contention (2-5× per-query swings) — the min of two runs is a
    // far more representative steady-state number than one sample. Sub-
    // second queries keep a single run to bound total bench time.
    // A query that THROWS records a misleading near-zero time (r6: the
    // testdata regen broke three queries, bench's catch hid them and the
    // total silently dropped ~7 s of real work) — track failures and
    // surface them in the result JSON so a drift is visible in BENCH_r{N}.
    // A failed query contributes ZERO to the per-query map and total
    // (its partial time-until-throw is neither the query's cost nor
    // comparable across rounds); the wasted wall-clock is reported
    // separately as failed_sec so nothing is silently dropped.
    val failed = scala.collection.mutable.SortedSet[String]()
    var failedSec = 0.0
    // None = this run threw (name recorded in `failed`, its partial
    // wall-clock in failedSec); Some(sec) = a valid measurement.
    def timed(name: String,
              fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      System.gc() // untimed: isolate queries from each other's garbage
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => failed += name; false }
      val sec = (System.nanoTime() - t0) / 1e9
      if (ok) Some(sec) else { failedSec += sec; None }
    }
    // Optional isolation filter (local fresh-JVM re-measurement of a
    // suspicious query per the verify protocol; the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    // Each query keeps (best, first): `best` is the best-of-2 value the
    // round totals have always been built from; `first` is run 1's
    // wall-clock, which INCLUDES any per-snapshot artifact build (memo
    // caches, CC label tables) that best-of-2 discards (VERDICT r21 #2:
    // the cold cost must stay visible, additions-only).
    val results = SparkEntry.queries
      .filter { case (name, _) => only.forall(name.contains) }
      .map { case (name, fn) =>
        name -> (timed(name, fn) match {
          case Some(t) if t > 1.0 => timed(name, fn) match {
            case Some(u) => (math.min(t, u), t)
            case None =>
              // The retry threw but run 1 measured fine: keep the valid
              // number and clear the failure flag (the query works; the
              // retry's wasted wall-clock stays visible in failed_sec).
              failed -= name; (t, t)
          }
          case Some(t) => (t, t)
          case None => (0.0, 0.0)
        })
      }
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // A query gets a first_secs entry only where first != best; an
    // absent key means first == best, so a reader falls back to
    // queries[q]. Omitting those entries loses nothing and keeps the
    // big line well inside the driver's stdout-tail capture window (the
    // r20 truncation cut a ~4.5 KB line; a full 109-entry duplicate map
    // would double it).
    val firsts = results.collect { case (k, (v, w)) if w != v =>
      s"\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // Stop Spark BEFORE printing so its shutdown log noise lands ahead of
    // the result lines in the merged stream. The driver keeps only a
    // fixed-size TAIL of stdout, so the FRONT of the stream is what gets
    // truncated: the compact total-only line must be printed LAST (after
    // the big per-query line) or it scrolls out of the tail — which is
    // exactly what nulled the r3/r4 bench parses.
    GraftSession.close(spark) // release registry-cached standing frames
    spark.stop()
    // calibEnd AFTER spark.stop: both probes run in a Spark-free JVM —
    // residual executor/GC activity from a live session inflated the end
    // probe, biasing the >1.3× contention signal toward false positives.
    val calibEnd = calibrate()
    val calibField = s""","calib_start_sec":${f3(calibStart)}""" +
      s""","calib_end_sec":${f3(calibEnd)}"""
    // A filtered run reports metric "subset" (plus the filter value), so a
    // stray SPARK_GRAFT_ONLY in the driver environment can never pass a
    // partial-suite total off as the official full-bench number.
    val metric = if (only.isDefined) "subset" else "total"
    // JSON-escape the filter (env-supplied): a quote/backslash/control
    // char would otherwise corrupt the one line this run exists to emit
    def esc(v: String): String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val filterField = only.map(f => s""","filter":"${esc(f)}"""").getOrElse("")
    // Failed queries ride on BOTH lines (the compact one survives the
    // driver's stdout-tail truncation): a non-empty list means the total
    // is missing that work and the round needs a correctness look first.
    val failedField = {
      val list =
        if (failed.isEmpty) ""
        else failed.map(n => "\"" + esc(n) + "\"")
          .mkString(""","failed":[""", ",", "]")
      // failed_sec can be non-zero with an empty failed list (a retry
      // threw after a valid first run) — report it whenever time burned
      val sec =
        if (failedSec > 0) s""","failed_sec":${f3(failedSec)}""" else ""
      list + sec
    }
    // `first_secs` rides only on the big line (the compact survivor line
    // stays byte-identical to prior rounds so driver-to-driver total
    // comparison is unaffected); a query absent from it has first ==
    // best, read queries[q].
    println(s"""{"metric":"$metric","value":$total,"unit":"sec","queries":$qs,"first_secs":$firsts,"sf":"$sfDir"$filterField$failedField$calibField}""")
    println(s"""{"metric":"$metric","value":$total,"unit":"sec","sf":"$sfDir"$filterField$failedField$calibField}""")
  }
}
