package graft.operators

import graft.sources.ManifestTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** T4 — the `--mode smart` incremental sync (pipeline.py:472-572) as
  * one idempotent batch job over the whole device fleet:
  *
  *   summaries ⟕ state → counter filter (F4) → three appends + state
  *   snapshot in ONE [[ManifestTable.commitMulti]] manifest
  *
  * versus the reference's per-device network loop. The data and the
  * state land together or not at all: a crash at any point leaves the
  * previous sync intact, and re-running the same `syncId` after a
  * successful commit is a recorded no-op — exactly-once comes from the
  * transaction id, not from re-reading written keys (the reference
  * instead advances state "regardless of sheets success",
  * pipeline.py:562-568, and loses those rows forever).
  *
  * Scale: `summaries`/`status`/`consumables` are one-row-per-device
  * snapshots; state is one row per device and always broadcast in the
  * join. Work is proportional to devices-with-new-work, not fleet
  * size, after the F4 filter.
  */
object SmartSync {

  val StateTable = "sync_state"

  case class Result(devicesWithNewWork: Long, statusRows: Long,
      summaryRows: Long, consumablesRows: Long)

  /** One sync pass. Inputs are normalized snapshots
    * (Ingest.normalize*); the tables live in the manifest log under
    * `baseDir`. `syncId` identifies the sync attempt (e.g. the
    * scheduler's run id); retries of a failed attempt MUST reuse it. */
  def run(
      spark: SparkSession,
      summaries: DataFrame,
      status: DataFrame,
      consumables: DataFrame,
      baseDir: String,
      syncId: String): Result = {
    if (ManifestTable.committedTxns(spark, baseDir).contains(syncId))
      return Result(0L, 0L, 0L, 0L)

    val stateSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("deviceName",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lastCleanCount",
        org.apache.spark.sql.types.LongType)))
    val state = ManifestTable.read(spark, baseDir, StateTable, Some(stateSchema))

    // Devices whose counter advanced, with their clamped delta
    // (state_manager.py:66-74 + pipeline.py:505-513).
    val newWork = Incremental.stateDelta(summaries, state, "deviceName",
      "totalCleanCount", "lastCleanCount").filter(col("new_n") > 0).cache()
    val devices = newWork.select(col("deviceName"))
    def forNewDevices(df: DataFrame): DataFrame =
      df.join(broadcast(devices), Seq("deviceName"), "left_semi")

    val nNew = newWork.count()
    val result =
      if (nNew == 0) {
        // Seal the id even when there is nothing to write: a zero-work
        // sync commits a txn-only manifest, so a later retry of the
        // same syncId against a FRESHER snapshot is still a recorded
        // no-op — "this sync attempt completed" is durable either way.
        ManifestTable.commitMulti(spark, baseDir, syncId)
        Result(0L, 0L, 0L, 0L)
      } else {
        // The new per-device watermark: one row per device.
        val cur = summaries.select(col("deviceName"),
          col("totalCleanCount").as("lastCleanCount"))
        val carried = state.join(cur, Seq("deviceName"), "left_anti")
        val counts = ManifestTable.commitMulti(spark, baseDir, syncId,
          appends = Map(
            "device_status" -> forNewDevices(status),
            "clean_summary" -> forNewDevices(summaries
              .select(col("timestamp"), col("deviceName"),
                col("totalCleanTimeMin"), col("totalCleanAreaM2"),
                col("totalCleanCount"))),
            "consumables" -> forNewDevices(consumables)),
          snapshots = Map(StateTable -> cur.unionByName(carried)))
        Result(nNew,
          counts.getOrElse("device_status", 0L),
          counts.getOrElse("clean_summary", 0L),
          counts.getOrElse("consumables", 0L))
      }
    newWork.unpersist()
    result
  }
}
