package graft.sources

import java.sql.Timestamp

/** The six output tables of the reference pipeline (SURVEY.md §1.4;
  * header constants at src/roborock_collector.py:579-635 and
  * pipeline.py:307), as case classes.
  *
  * Deviations, both intentional:
  *  - timestamps are TimestampType, not ISO strings (the reference
  *    string-compares ISO timestamps at pipeline.py:725 — order
  *    equivalent);
  *  - Daily_Summary canonicalizes to the pipeline.py:307 column order
  *    (the two header variants disagree, SURVEY.md §1.4).
  */
object Schemas {

  // -- Cleaning_History (roborock_collector.py:579-591)
  case class CleaningHistory(
      timestamp: Timestamp, deviceName: String, cleanTimeMin: Option[Double],
      cleanAreaM2: Option[Double], batteryStart: Option[Int], batteryEnd: Option[Int],
      fanPower: Option[String], waterLevel: Option[String], mopMode: Option[String],
      state: Option[String], errorCode: Option[Int])

  // -- Device_Status (roborock_collector.py:593-605)
  case class DeviceStatus(
      timestamp: Timestamp, deviceName: String, state: Option[String],
      battery: Option[Int], fanPower: Option[String], waterBoxStatus: Option[String],
      waterBoxMode: Option[String], mopMode: Option[String], errorCode: Option[Int],
      cleanTimeMin: Option[Double], cleanAreaM2: Option[Double])

  // -- Clean_Summary (roborock_collector.py:607-613)
  case class CleanSummary(
      timestamp: Timestamp, deviceName: String, totalCleanTimeMin: Option[Double],
      totalCleanAreaM2: Option[Double], totalCleanCount: Option[Long])

  // -- Consumables (roborock_collector.py:615-623)
  case class Consumables(
      timestamp: Timestamp, deviceName: String, mainBrushHours: Option[Double],
      sideBrushHours: Option[Double], filterHours: Option[Double],
      sensorDirtyHours: Option[Double], mopPadHours: Option[Double])

  // -- Daily_Summary (pipeline.py:307 order)
  case class DailySummary(
      date: java.sql.Date, totalCleanings: Long, totalAreaM2: Double,
      totalTimeMin: Double, avgAreaM2: Double, avgTimeMin: Double)

  // -- Cleaning_Records (roborock_collector.py:625-635)
  case class CleaningRecord(
      timestamp: Timestamp, deviceName: String, startTime: Timestamp,
      durationMin: Option[Double], areaM2: Option[Double], cleanMode: Option[String],
      cleanWay: Option[String], errorCode: Option[Int], taskStatus: Option[String])

  /** Raw per-poll status sample — streaming input of the sessionizer
    * (the reference's get_device_status() normalized output,
    * roborock_collector.py:295-352). */
  case class StatusSample(
      deviceName: String, ts: Timestamp, state: String, battery: Option[Int],
      fanPower: Option[String], waterLevel: Option[String], mopMode: Option[String],
      errorCode: Option[Int])
}
