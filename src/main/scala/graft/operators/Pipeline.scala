package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's batch analytics as set-oriented transforms
  * (SURVEY.md §3): the Daily_Summary aggregate the reference declares
  * but never computes (pipeline.py:307, README.md:250-257), its
  * period rollup, and the record-log consistency check. The smart-sync
  * entry point (pipeline.py:472-572) is [[SmartSync]].
  */
object Pipeline {

  /** A1 — Daily_Summary over Cleaning_Records-shaped data:
    * per-day cleanings/area/time totals + averages
    * (canonical pipeline.py:307 column order). */
  def dailySummary(
      records: DataFrame,
      startTimeCol: String = "startTime",
      areaCol: String = "areaM2",
      durationCol: String = "durationMin"): DataFrame =
    records
      .groupBy(to_date(col(startTimeCol)).as("date"))
      .agg(
        count(lit(1)).as("totalCleanings"),
        sum(coalesce(col(areaCol), lit(0.0))).as("totalAreaM2"),
        sum(coalesce(col(durationCol), lit(0.0))).as("totalTimeMin"),
        avg(coalesce(col(areaCol), lit(0.0))).as("avgAreaM2"),
        avg(coalesce(col(durationCol), lit(0.0))).as("avgTimeMin"))

  /** Day→week→month rollup (README.md:254's manual-chart idea as a
    * single pass). */
  def periodRollup(
      records: DataFrame,
      startTimeCol: String = "startTime",
      areaCol: String = "areaM2"): DataFrame =
    records
      .rollup(
        year(col(startTimeCol)).as("y"),
        month(col(startTimeCol)).as("m"),
        dayofmonth(col(startTimeCol)).as("d"))
      .agg(count(lit(1)).as("cleanings"),
        sum(coalesce(col(areaCol), lit(0.0))).as("areaM2"))

  /** A2 — recompute lifetime totals from the record log and compare
    * with the device-reported snapshot: the consistency check the
    * reference cannot do (SURVEY.md §2.4). Returns rows where they
    * disagree. */
  def summaryConsistency(
      records: DataFrame,
      summary: DataFrame,
      keyCol: String = "deviceName"): DataFrame = {
    val recomputed = records.groupBy(col(keyCol)).agg(
      count(lit(1)).as("recount"))
    summary.join(recomputed, Seq(keyCol), "left")
      .filter(coalesce(col("recount"), lit(0L)) =!= coalesce(col("totalCleanCount"), lit(0L)))
  }
}
