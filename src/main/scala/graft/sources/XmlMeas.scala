package graft.sources

import graft.transforms.Cleanse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** 3GPP TS 32.435 measurement-XML flatten (SURVEY.md §1.1/§2.1 S3).
  *
  * The reference walks `fileHeader/measCollec@beginTime` →
  * `measData/measInfo` (×N) → `measValue` (×M) → `r` (×K) with a
  * positional `measType@p → KPI name` dictionary per measInfo
  * (reference dags/Dag2.py:84-132) in driver-side Python. Here the whole
  * flatten is declarative Spark: `from_xml` + an explode chain, with the
  * positional dictionary resolved per-row via `map_from_entries` +
  * `element_at` — NO join, NO shuffle; the entire flatten is map-side
  * and scales linearly with input bytes.
  *
  * Cleansing baked in per the reference's intent (SURVEY §2.11):
  * NIL/NULL/empty/absent r-values → 0 then cast double
  * (dags/Dag2.py:118, mypy/xmlonly.py:120), `UNKNOWN_{p}` name fallback
  * (dags/Dag2.py:129), `nodeid` extraction (dags/Dag2.py:111).
  */
object XmlMeas {

  /** Attributed text element: `<tag attr="...">text</tag>`. */
  private def attrText(attrs: (String, DataType)*): StructType =
    StructType(attrs.map { case (n, t) => StructField(s"_$n", t) } :+
      StructField("_VALUE", StringType))

  /** Schema of the measCollecFile payload (children of the root tag —
    * `from_xml` parses the root element of the string as the row). */
  val Schema: StructType = {
    val granPeriod = StructType(Seq(
      StructField("_duration", StringType),
      StructField("_endTime", StringType)))
    val measValue = StructType(Seq(
      StructField("_measObjLdn", StringType),
      StructField("r", ArrayType(attrText("p" -> StringType)))))
    val measInfo = StructType(Seq(
      StructField("_measInfoId", StringType),
      StructField("job", StructType(Seq(StructField("_jobId", StringType)))),
      StructField("granPeriod", granPeriod),
      StructField("measType", ArrayType(attrText("p" -> StringType))),
      StructField("measValue", ArrayType(measValue))))
    val measData = StructType(Seq(
      StructField("managedElement",
        StructType(Seq(StructField("_localDn", StringType)))),
      StructField("measInfo", ArrayType(measInfo))))
    val fileHeader = StructType(Seq(
      StructField("measCollec",
        StructType(Seq(StructField("_beginTime", StringType))))))
    StructType(Seq(
      StructField("fileHeader", fileHeader),
      StructField("measData", measData)))
  }

  /** NIL/NULL-string/empty/null → "0" (reference dags/Dag2.py:118 +
    * FIXTURES.md §1 cases), then double. try_cast, not cast: under
    * ANSI (Spark 4 default) a bare cast THROWS on any other junk
    * r-value ("N/A", "1,5") and the drain wedges on that file forever
    * — malformed values must cleanse to null, not kill the drain. */
  private def cleanValue(v: Column): Column =
    when(v.isNull || trim(v).isin("NIL", "NULL", ""), lit("0"))
      .otherwise(v).try_cast("double")

  /** measType array → (p → name) map, null-key-safe and last-wins on
    * duplicate p (see call site). */
  private def mtMap(measType: Column): Column = {
    // map_from_entries keys on the FIRST struct field positionally;
    // field names stay (_p, _VALUE) — aliases inside a lambda-built
    // struct are dropped by the analyzer
    val entries = transform(measType,
      t => struct(t.getField("_p"), t.getField("_VALUE")))
    map_from_entries(filter(entries, (e, i) =>
      e.getField("_p").isNotNull &&
        !exists(
          slice(entries, i + lit(2),
            greatest(lit(0), size(entries) - i - lit(1))),
          // null-SAFE equality: with ===, a null-@p entry later in the
          // slice makes exists() return NULL (no TRUE, one NULL) under
          // three-valued logic, !NULL stays NULL, and filter() drops
          // the GOOD entry — one malformed measType would erase every
          // dictionary entry before it and UNKNOWN_-name their KPIs
          e2 => e2.getField("_p") <=> e.getField("_p"))))
  }

  /** Flatten a DataFrame carrying one measCollecFile XML document per row
    * into EAV KPI rows (superset of the three reference flows' schemas —
    * callers project the variant they need, SURVEY §1.1).
    *
    * Output: `fileId, beginTime, localDn, measInfoId, jobId, granPeriod,
    * endTime, measObjLdn, nodeid, kpiId, kpiName, kpiValue`.
    */
  def flatten(df: DataFrame, xmlCol: String, fileIdCol: String): DataFrame = {
    val parsed = df.select(
      col(fileIdCol).as("fileId"),
      from_xml(col(xmlCol), Schema).as("x"))
    val mi = parsed.select(
      col("fileId"),
      col("x.fileHeader.measCollec._beginTime").as("beginTime"),
      col("x.measData.managedElement._localDn").as("localDn"),
      explode(col("x.measData.measInfo")).as("mi"))
    val mv = mi.select(
      col("fileId"), col("beginTime"), col("localDn"),
      col("mi._measInfoId").as("measInfoId"),
      col("mi.job._jobId").as("jobId"),
      col("mi.granPeriod._duration").as("granPeriod"),
      col("mi.granPeriod._endTime").as("endTime"),
      // positional dictionary measType@p → name, resolved per-row (no
      // join). Malformed files must CLEANSE, not kill the drain:
      // map_from_entries throws on a duplicate key (default
      // mapKeyDedupPolicy=EXCEPTION) and on a null key, so entries are
      // pre-filtered — null @p dropped, duplicate @p resolved LAST-wins
      // to mirror the reference's Python dict build (mypy/xmlonly.py —
      // later assignments overwrite). O(n²) over measTypes per group;
      // n is the per-measInfo counter count, tens at most.
      mtMap(col("mi.measType")).as("mt"),
      explode(col("mi.measValue")).as("mv"))
    val r = mv.select(
      col("fileId"), col("beginTime"), col("localDn"), col("measInfoId"),
      col("jobId"), col("granPeriod"), col("endTime"), col("mt"),
      col("mv._measObjLdn").as("measObjLdn"),
      explode(col("mv.r")).as("r"))
    r.select(
      col("fileId"), col("beginTime"), col("localDn"), col("measInfoId"),
      col("jobId"), col("granPeriod"), col("endTime"), col("measObjLdn"),
      Cleanse.nodeid(col("measObjLdn")).as("nodeid"),
      col("r._p").as("kpiId"),
      Cleanse.unknownFallback(element_at(col("mt"), col("r._p")),
        col("r._p")).as("kpiName"),
      cleanValue(col("r._VALUE")).as("kpiValue"))
  }

  /** Read measCollecFile XML files from a directory (Spark 4 native XML
    * source; `.gz` files decompress transparently via Hadoop codecs —
    * covers the reference's gzip flow S4) and flatten. */
  def readAndFlatten(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = readAndFlatten(spark, Seq(path))

  /** Read an EXPLICIT list of files/dirs — callers that list first and
    * move after (the drain lifecycle) pass the listing here so the set
    * read is exactly the set later archived. */
  def readAndFlatten(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): DataFrame = {
    val raw = spark.read
      .option("wholetext", "true")
      .text(paths.map(escapeGlob): _*)
      .withColumn("fileId", input_file_name())
    flatten(raw, "value", "fileId")
  }

  /** Escape Hadoop glob metacharacters in a LITERAL path. spark.read
    * glob-interprets every input path, so an uploaded `x[1].xml` would
    * silently read `x1.xml`'s content instead (double-publishing it
    * and archiving `x[1].xml` unread — silent data loss), or throw
    * PATH_NOT_FOUND when no glob match exists. The lifecycle utilities
    * already treat glob metachars in source filenames as in-scope
    * (FileLifecycle's listStatus-not-glob dedup check). */
  private def escapeGlob(p: String): String =
    p.replaceAll("([\\[\\]{}*?\\\\])", "\\\\$1")
}
