package graft.streaming

import graft.sources.Schemas.CleaningRecord
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** T5 — incremental record ingest (pipeline.py:673-752): fetch recent
  * records, keep those newer than the per-device watermark, append
  * oldest-first, advance the watermark.
  *
  * In Spark the watermark + dedup + exactly-once bookkeeping collapse
  * into `withWatermark` + `dropDuplicatesWithinWatermark` + the
  * checkpoint — the reference's state file (state_manager.py:76-87)
  * and its advance-on-failure data-loss bug disappear.
  */
object RecordSync {

  /** Streaming dedup: one row per (device, startTime) within the
    * watermark horizon; late duplicates beyond `lateness` are dropped
    * by the watermark itself. */
  def dedupedStream(
      records: Dataset[CleaningRecord],
      lateness: String = "1 hour"): Dataset[CleaningRecord] =
    records
      .withWatermark("startTime", lateness)
      .dropDuplicatesWithinWatermark("deviceName", "startTime")

  /** T5 cold-start rule (pipeline.py:721-723): with no watermark yet,
    * ingest only the newest record per device. Batch-mode helper for
    * the first sync. */
  def coldStart(records: DataFrame, spark: SparkSession): DataFrame =
    graft.operators.Incremental.newestPerKey(records, "deviceName", "startTime",
      "startTime")
}
