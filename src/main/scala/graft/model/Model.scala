package graft.model

import java.sql.Timestamp

/** Core data model, re-expressed from the reference's dataclasses.
  *
  * `LedgerRecord` mirrors ideafast_etl/hooks/db.py:30-47 (13 fields, the
  * `_id` Mongo surrogate dropped — `hash` is the deterministic identity).
  * `Patient` mirrors ideafast_etl/hooks/ucam.py:30-41.
  */
case class LedgerRecord(
    hash: String,
    manufacturer_ref: String,
    device_type: String,
    start: Timestamp,
    end: Timestamp,
    meta: Map[String, String],
    device_serial: Option[String] = None,
    device_id: Option[String] = None,
    patient_id: Option[String] = None,
    dmp_dataset: Option[String] = None,
    dmp_id: Option[String] = None,
    is_uploaded: Boolean = false)

case class Patient(
    patient_id: String,
    disease: String,
    start_wear: Timestamp,
    end_wear: Option[Timestamp],
    deviations: Option[String] = None,
    vttsma_id: Option[String] = None,
    dmp_dataset: Option[String] = None)

/** Device→patient wear-period assignment (the exploded flat form of the
  * UCAM `Device.patients` nested payload, ucam.py:64-77).
  */
case class DeviceAssignment(
    device_id: String,
    patient_id: String,
    start_wear: Timestamp,
    end_wear: Option[Timestamp])

/** Closed device-type enum, persisted by name (db.py:14-27,62). */
object DeviceType {
  val All: Seq[String] =
    Seq("AX6", "BTF", "DRM", "TFA", "BVN", "MMM", "SMP", "SMA", "BED", "VTP", "YSM")
}

/** Int-coded disease enum (ucam.py:18-27): 1..7. */
object DiseaseType {
  val ByCode: Map[Int, String] = Map(
    1 -> "Healthy", 2 -> "HD", 3 -> "IBD", 4 -> "PD", 5 -> "PSS",
    6 -> "RA", 7 -> "SLE")
}
