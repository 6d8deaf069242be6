package graft.transforms

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cleansing / normalization combinators — the reference's operator
  * library (SURVEY.md §2.3/§2.4, F1–F13 and P4–P6) as composable
  * `DataFrame => DataFrame` stages. All of them are stock Catalyst
  * column expressions: codegen-friendly, pushdown-transparent, no UDFs.
  */
object Cleanse {

  type Stage = DataFrame => DataFrame

  /** F1/F2 + P5: sentinel string → 0, else cast (reference
    * mypy/xmlonly.py:120 casts double; mypy/streaming.py:128 casts int —
    * our spec is double everywhere with a per-pipeline override,
    * SURVEY §2.11).
    */
  def sentinelToZeroCast(c: String, sentinel: String = "NIL",
      castTo: String = "double"): Stage =
    // replacement stays a string so ANSI type coercion (Spark 4 default)
    // can't force the non-sentinel branch into an integer cast;
    // try_cast so non-sentinel junk cleanses to null instead of
    // throwing CAST_INVALID_INPUT and wedging the stream on one row
    df => df.withColumn(c,
      when(col(c) === sentinel, lit("0")).otherwise(col(c))
        .try_cast(castTo))

  /** P6 + F6 intent: case/whitespace-insensitive "nil" → 0 (reference
    * mypy/preprocessproduce.py:60-62 — broken there for missing imports;
    * we implement the intent). */
  def nilNormalizedToZero(c: String): Stage =
    df => df.withColumn(c,
      when(trim(lower(col(c))) === "nil", lit("0")).otherwise(col(c)))

  /** F11: NIL/NULL-string/actual-null → 0 (reference dags/Dag2.py:118). */
  def nilNullToZero(c: String): Stage =
    df => df.withColumn(c,
      when(col(c).isNull || col(c).isin("NIL", "NULL"), lit("0"))
        .otherwise(col(c)))

  /** F3: string → timestamp (reference mypy/preprocessproduce.py:50).
    * try_to_timestamp: under ANSI a malformed Time cell (a FIXTURES.md
    * §3 flow-1 input case) would otherwise throw CANNOT_PARSE_TIMESTAMP
    * inside the streaming foreachBatch and wedge checkpoint replay on
    * that batch forever — malformed parses to null, downstream fills /
    * dead-letter routing handle it. */
  def parseTime(c: String, fmt: String = "MM-dd-yyyy HH:mm"): Stage =
    df => df.withColumn(c, try_to_timestamp(col(c), lit(fmt)))

  /** F4: typed null fills (reference mypy/preprocessproduce.py:51-52,57). */
  def fillNumeric(value: Double, cols: Seq[String]): Stage =
    df => if (cols.isEmpty) df.na.fill(value) else df.na.fill(value, cols)
  def fillString(value: String, cols: Seq[String]): Stage =
    df => if (cols.isEmpty) df.na.fill(value) else df.na.fill(value, cols)

  /** F5/P4: null → sentinel for geo columns (reference
    * mypy/preprocessproduce.py:53-55; comment says 123456, code says 999 —
    * code wins, SURVEY §2.11). */
  def nullToSentinel(c: String, sentinel: Double = 999): Stage =
    df => df.withColumn(c,
      when(col(c).isNull, lit(sentinel)).otherwise(col(c)))

  /** F6: rename (dotted source names need backtick care; reference
    * mypy/preprocessproduce.py:59). `withColumnRenamed` handles dots. */
  def rename(from: String, to: String): Stage =
    df => df.withColumnRenamed(from, to)

  /** P2: drop columns (reference mypy/preprocessproduce.py:64). */
  def drop(cols: String*): Stage = df => df.drop(cols: _*)

  /** F10: nodeid of a measObjLdn — `split('=')[1].split(',')[0]`
    * (reference dags/Dag2.py:111). regexp_extract returns "" on no-match,
    * matching the Python behavior only when '=' exists; rows without '='
    * raised IndexError in the reference — our spec: empty string. */
  def nodeid(ldn: Column): Column =
    // anchored: the run after the FIRST '=' up to ',' or a second '='
    // ("Cell=ABC=1,..." → ABC, not ABC=1)
    regexp_extract(ldn, "^[^=]*=([^,=]*)", 1)

  /** F12: dictionary lookup with UNKNOWN_{id} fallback after the measType
    * join (reference dags/Dag2.py:129). */
  def unknownFallback(name: Column, id: Column): Column =
    // concat_ws: null-propagating concat would null the fallback too
    // when the id itself is null — the marker must survive
    coalesce(name, concat_ws("", lit("UNKNOWN_"), id))

  /** F7 + P1: serialize all columns except `exclude` to a JSON `value`
    * column (reference mypy/xmlonly.py:121). */
  def jsonValue(df: DataFrame, exclude: Set[String] = Set.empty,
      keyExpr: Option[Column] = None): DataFrame = {
    val cols = df.columns.filterNot(exclude).map(col).toSeq
    val value = to_json(struct(cols: _*)).as("value")
    keyExpr match {
      case Some(k) => df.select(k.cast("string").as("key"), value)
      case None    => df.select(value)
    }
  }

  /** F13 (data-level analogue): content hash for dedup. */
  def withContentHash(c: String, out: String = "content_md5"): Stage =
    df => df.withColumn(out, md5(col(c).cast("binary")))

  /** Compose stages left-to-right (zero stages = identity, so a
    * dynamically assembled empty chain is a no-op, not a reduceLeft
    * crash). */
  def chain(stages: Stage*): Stage =
    stages.foldLeft[Stage](df => df)(_ andThen _)

  /** The reference's full wide-CSV cleanse chain, in its order
    * (mypy/preprocessproduce.py:48-65): parse Time → fill names "N/A" →
    * geo null→999 → blanket fill 0 → rename dotted → "nil"→0 → drop
    * Integrity. The reference's first step after the parse, a 0-fill of
    * the numeric ids (Downlink EARFCN, LocalCell Id, Downlink
    * bandwidth), is left to the blanket fill: no stage before it reads
    * them.
    */
  val cellKpiChain: Stage = chain(
    parseTime("Time"),
    fillString("N/A", Seq("eNodeB Name", "Cell Name")),
    nullToSentinel("Longitude"),
    nullToSentinel("Latitude"),
    fillNumeric(0, Seq.empty),
    rename("FT_UL.Interference", "FT_UL_Interference"),
    nilNormalizedToZero("FT_UL_Interference"),
    drop("Integrity"))
}
