package graft.streaming

import graft.sources.ManifestTable
import graft.sources.Schemas.StatusSample
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** T1 + T6 — the reference's continuous monitor loop
  * (`--mode monitor`, pipeline.py:108-130: poll every 60 s, feed the
  * sessionizer, append sessions) as a runnable Structured Streaming
  * job. The poll loop becomes a source + ProcessingTime trigger; the
  * bare-except retry loop (pipeline.py:594) becomes Spark's query
  * restart from the checkpoint.
  *
  * In production the source is the telemetry landing zone (files/
  * Kafka); [[demoSamples]] wires the same pipeline to a rate source with
  * synthetic state transitions so the whole job runs anywhere.
  */
object Monitor {

  /** The manifest table the sessions land in. */
  val Table = "Cleaning_History"

  /** Wire any StatusSample stream through the sessionizer into the
    * [[Table]] table of the manifest log under `baseDir`, through
    * [[ManifestSink]]: each micro-batch that emits sessions commits
    * them under txn id `<streamId>-<batchId>`, so a batch replayed
    * after a restart lands nothing twice. */
  def start(
      samples: org.apache.spark.sql.Dataset[StatusSample],
      baseDir: String,
      streamId: String,
      checkpointDir: String,
      pollInterval: String = "60 seconds")(
      implicit spark: SparkSession): StreamingQuery =
    ManifestSink(Sessionizer.sessions(samples).toDF(), baseDir, streamId,
        checkpointDir) {
      (batch, _, commit) => commit(appends = Map(Table -> batch))
    }.trigger(Trigger.ProcessingTime(pollInterval)).start()

  /** Demo source: rate stream → deterministic per-device state cycle
    * (charging → cleaning ×3 → charging …) so session edges occur
    * every 5 ticks per device. */
  def demoSamples(spark: SparkSession, devices: Int = 4): DataFrame = {
    import spark.implicits._
    spark.readStream.format("rate").option("rowsPerSecond", "10").load()
      .select(
        concat(lit("dev_"), col("value") % devices).as("deviceName"),
        col("timestamp").as("ts"),
        element_at(
          typedlit(Seq("charging", "cleaning", "cleaning", "cleaning", "idle")),
          ((col("value") / devices) % 5 + 1).cast("int")).as("state"),
        (lit(100) - (col("value") % 60)).cast("int").as("battery"),
        lit("balanced").as("fanPower"),
        lit(null).cast("string").as("waterLevel"),
        lit("standard").as("mopMode"),
        lit(null).cast("int").as("errorCode"))
  }

  /** Runnable demo: `sbt "runMain graft.streaming.Monitor"` — runs the
    * monitor for ~20 s against the rate source and prints emitted
    * sessions. */
  def main(args: Array[String]): Unit = {
    implicit val spark: SparkSession = graft.Graft.session("graft-monitor")
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("monitor")
    val tables = base.resolve("tables").toString
    val q = start(demoSamples(spark).as[StatusSample], tables, "monitor",
      base.resolve("ckpt").toString, pollInterval = "2 seconds")
    q.awaitTermination(20000)
    q.stop()
    val sessions = ManifestTable.read(spark, tables, Table)
    sessions.show(20, truncate = false)
    println(s"SESSIONS=${sessions.count()}")
    spark.stop()
  }
}
