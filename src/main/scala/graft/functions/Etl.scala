package graft.functions

import java.time.LocalTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure column functions re-expressing the reference's scalar semantics
  * (SURVEY.md §2.8, F1-F15) as codegen-friendly Spark built-ins — no UDFs.
  *
  * Citations are to /root/reference (ideafast/ideafast-etl @ v0).
  */
object Etl {

  /** F1 — dedup identity hash: sha256(device_type_name || manufacturer_ref),
    * hex lowercase. Ref: ideafast_etl/hooks/db.py:49-55.
    * Bit-compatible with DuckDB's sha256() for the oracle harness.
    */
  def recordHash(deviceType: Column, manufacturerRef: Column): Column =
    sha2(concat(deviceType, manufacturerRef), 256)

  /** F4 — zero out time-of-day. Ref: ideafast_etl/hooks/ucam.py:190-193. */
  def normaliseDay(c: Column): Column = date_trunc("DAY", c)

  /** F5 — `yyyyMMdd` day-string → epoch millis.
    * Ref: ideafast_etl/hooks/dmp.py:179-182. */
  def weartimeMs(c: Column): Column = unix_millis(to_timestamp(c, "yyyyMMdd"))

  /** Cut-off validation, mirroring strptime("%H:%M:%S") strictness: the
    * reference rejects "9:09", "9:09:", "9h 2m 5s", "25:00:00", "01:01:61"
    * (tests/operators/test_ucam_operator.py:143-167).
    */
  def validateCutOff(cutOff: String): LocalTime = {
    require(
      cutOff.matches("""\d{2}:\d{2}:\d{2}"""),
      s"invalid cut_off_time '$cutOff': must be HH:mm:ss")
    LocalTime.parse(cutOff, DateTimeFormatter.ofPattern("HH:mm:ss"))
  }

  /** A1/F6/F12 — day-bucket window start (as DateType).
    *
    * Semantics (ideafast_etl/operators/ucam.py:103-124):
    *   - cut-off "00:00:00" (midnight special): window = [day, day]
    *   - otherwise: start.time() < cut_off  → [day-1, day]
    *                start.time() >= cut_off → [day, day+1]
    * i.e. a 1-day tumbling window anchored at the cut-off time.
    */
  def bucketStart(start: Column, cutOff: String): Column = {
    val t = validateCutOff(cutOff)
    val day = to_date(start)
    if (t == LocalTime.MIDNIGHT) day
    else when(date_format(start, "HH:mm:ss") < lit(cutOff), date_sub(day, 1))
      .otherwise(day)
  }

  def bucketEnd(start: Column, cutOff: String): Column = {
    val t = validateCutOff(cutOff)
    val day = to_date(start)
    if (t == LocalTime.MIDNIGHT) day
    else when(date_format(start, "HH:mm:ss") < lit(cutOff), day)
      .otherwise(date_add(day, 1))
  }

  /** F7-F9 — composite upload-group key
    * `DEVICEID-PATIENTID-YYYYMMDD-YYYYMMDD` with dashes stripped from the id
    * components. Ref: ideafast_etl/operators/ucam.py:121-124.
    */
  def dmpId(deviceId: Column, patientId: Column,
            bucketStart: Column, bucketEnd: Column): Column =
    concat_ws("-",
      regexp_replace(deviceId, "-", ""),
      regexp_replace(patientId, "-", ""),
      date_format(bucketStart, "yyyyMMdd"),
      date_format(bucketEnd, "yyyyMMdd"))

  /** F10 — parse an upload bundle file stem back into its 4 components.
    * NOTE the reference parses `patient-device-start-end` (dmp.py:68) while
    * the group key is built `device-patient-…` (operators/ucam.py:121-124);
    * we follow the parse-side order here because the DMP payload consumes it.
    */
  def parseDmpFilename(stem: Column): Column = {
    val parts = split(stem, "-")
    struct(
      element_at(parts, 1).as("patient_id"),
      element_at(parts, 2).as("device_id"),
      element_at(parts, 3).as("start_day"),
      element_at(parts, 4).as("end_day"))
  }

  /** F11 — dot-path JSON navigation (`a.b.[1].c`, list indexing), the
    * reference's JWT token extractor (ideafast_etl/hooks/jwt.py:59-85),
    * mapped onto Spark's JsonPath dialect (`$.a.b[1].c`).
    */
  def jsonDotPath(c: Column, dotPath: String): Column = {
    val jsonPath = "$." + dotPath
      .split("\\.")
      .map(seg => if (seg.matches("""\[\d+\]""")) seg else seg)
      .reduce((a, b) => if (b.startsWith("[")) a + b else a + "." + b)
    get_json_object(c, jsonPath)
  }
}
