package graft.model

import org.apache.spark.sql.types._

/** Record families and declared schemas of the reference engine
  * (SURVEY.md §1). Two shapes: narrow KPI EAV records (one row per
  * KPI measurement) and wide cell-KPI records (the "69-col" CSV, which
  * actually declares 67 fields — see [[Schemas.cellKpi69]]).
  */

object Schemas {

  private def s(n: String) = StructField(n, StringType, nullable = true)

  /** Read schema of the xml-fast flow (mypy/xmlonly.py:84-95). */
  val kpiXmlFast: StructType = StructType(Seq(
    s("measInfoId"), s("jobId"), s("granPeriod"), s("beginTime"),
    s("endTime"), s("measObjLdn"), s("nodeid"), s("kpiId"),
    s("kpiName"), s("kpiValue")))

  /** Read schema of the gzip flow — schema-on-read projection drops
    * nodeid/sourceFile (mypy/streaming.py:93-103; SURVEY §1.3 P3). */
  val kpiGzip: StructType = StructType(Seq(
    s("measInfoId"), s("jobId"), s("granPeriod"), s("beginTime"),
    s("endTime"), s("measObjLdn"), s("kpiId"),
    s("kpiName"), s("kpiValue")))

  /** Read schema of the hardware flow (mypy/xmlhard.py:70-81): adds
    * localDn, keeps raw measObjLdn (no nodeid extraction). */
  val kpiHardware: StructType = StructType(Seq(
    s("measInfoId"), s("jobId"), s("granPeriod"), s("beginTime"),
    s("endTime"), s("measObjLdn"), s("localDn"), s("kpiId"),
    s("kpiName"), s("kpiValue")))

  /** Wide cell-KPI CSV schema with spaces / % / parens / slashes /
    * dots in names, declared verbatim from the reference
    * (mypy/preprocessproduce.py:109-177). NOTE the count: the schema
    * is colloquially "69-col" throughout the reference and this repo,
    * but the reference's StructType declares exactly **67** fields —
    * mirrored here field-for-field (verified by counting both). The
    * name keeps the colloquial label; do NOT pad to 69, and do not
    * validate external exports against the label instead of
    * `cellKpi69.length`. The engine's canonicalization layer
    * (SURVEY §7.4 risk 2) must round-trip these names. */
  val cellKpi69: StructType = {
    def i(n: String) = StructField(n, IntegerType, nullable = true)
    def d(n: String) = StructField(n, DoubleType, nullable = true)
    StructType(Seq(
      s("Time"), s("eNodeB Name"), s("Frequency band"),
      s("Cell FDD TDD Indication"), s("Cell Name"),
      i("Downlink EARFCN"), i("Downlink bandwidth"),
      s("LTECell Tx and Rx Mode"), i("LocalCell Id"),
      s("eNodeB Function Name"), d("Latitude"), d("Longitude"),
      s("Integrity"),
      d("FT_AVE 4G/LTE DL USER THRPUT without Last TTI(ALL) (KBPS)(kbit/s)"),
      i("FT_AVERAGE NB OF USERS (UEs RRC CONNECTED)"),
      d("FT_PHYSICAL RESOURCE BLOCKS LOAD DL(%)"),
      d("FT_PHYSICAL RESOURCE BLOCKS LOAD UL"),
      d("FT_4G/LTE DL TRAFFIC VOLUME (GBYTES)"),
      d("FT_4G/LTE DL&UL TRAFFIC VOLUME (GBYTES)"),
      d("FT_4G/LTE UL TRAFFIC VOLUME (GBYTES)"),
      d("FT_4G/LTE CONGESTED CELLS RATE"),
      d("FT_4G/LTE CALL SETUP SUCCESS RATE"),
      d("FT_4G/LTE AVERAGE REPORTED CQI"),
      d("FT_4G/LTE PAGING DISCARD RATE"),
      d("FT_4G/LTE RADIO DOWNLINK DELAY(ms)"),
      d("FT_4G/LTE VOLTE TRAFFIC VOLUME (GBYTES)"),
      d("FT_AVE 4G/LTE DL USER THRPUT (ALL) (KBPS)(kB/s)"),
      d("FT_AVE 4G/LTE DL THRPUT (ALL) (KBITS/SEC)"),
      i("FT_AVERAGE NB OF CA UEs RRC CONNECTED(number)"),
      i("FT_AVERAGE NUMBER OF UE QUEUED DL"),
      i("FT_AVERAGE NUMBER OF UE QUEUED UL"),
      d("FT_S1 SUCCESS RATE"),
      s("FT_UL.Interference"),
      d("Average Nb of e-RAB per UE"),
      d("Average Nb of PRB used per Ue"),
      d("Average Nb of Used PRB for SRB"),
      i("FT_AVERAGE NUMBER OF UE SCHEDULED PER ACTIVE TTI DL (FDD)(number)"),
      i("FT_AVERAGE NUMBER OF UE SCHEDULED PER ACTIVE TTI UL (TDD)"),
      d("FT_CS FALLBACK SUCCESS RATE (4G SIDE ONLY)"),
      d("FT_CS FALLBACK TO WCDMA RATIO"),
      d("FT_ERAB SETUP SUCCESS RATE"),
      d("FT_ERAB SETUP SUCCESS RATE (ALL)(%)"),
      d("FT_ERAB SETUP SUCCESS RATE (init)"),
      d("FT_RRC SUCCESS RATE"),
      i("Nb e-RAB Setup Fail"),
      i("Nb HO fail to GERAN"),
      i("Nb HO fail to UTRA FDD"),
      i("Nb initial e-RAB Setup Fail"),
      i("Nb initial e-RAB Setup Succ"),
      d("Nb initial e-RAB Sucess rate(%)"),
      i("Nb of HO over S1 for e-RAB Fail"),
      i("Nb of HO over S1 for e-RAB Req"),
      i("Nb of HO over S1 for e-RAB Succ"),
      i("Nb of HO over X2 for e-RAB Fail"),
      i("Nb of HO over X2 for e-RAB Succ"),
      i("Nb of RRC connection release"),
      i("Nb S1 Add e-RAB Setup fail"),
      d("RRC Emergency SR"),
      d("RRC High Priority SR(%)"),
      d("RRC MOC SR(%)"),
      d("RRC MTC SR(%)"),
      d("RRC Succ rate(%)"),
      d("CSFB failure rate(%)"),
      d("E-RAB Resource Congestion Rate(%)"),
      d("RRC Resource Congestion Rate(%)"),
      d("Average TA"),
      d("AVE 4G/LTE UL USER THRPUT without Last TTI (Kbps)")))
  }

  /** Note vs the reference: it declares `FT_UL_Interference` (underscore,
    * Double) in the READ schema yet renames `FT_UL.Interference` → the
    * underscore form afterwards (a no-op as written,
    * mypy/preprocessproduce.py:59 + :142). We keep the dotted STRING
    * column in the schema so the rename + "nil"→0 cleanse (the documented
    * intent, SURVEY §2.11) is actually exercised.
    */
}
