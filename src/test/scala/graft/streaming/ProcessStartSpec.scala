package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.sources.ManifestTable
import graft.sources.Schemas.StatusSample
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

object ProcessStartSpec {

  /** The OS processes the JVM started while `body` ran, one line each
    * (the command, then the innermost frames above the JDK and Hadoop's
    * `Shell`), from a JFR recording of the `jdk.ProcessStart` event
    * alone. */
  def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft-procs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala.toSeq.map { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
          .filterNot(m => m.startsWith("java.") || m.startsWith("org.apache.hadoop.util.Shell"))
          .take(3)
        s"${e.getString("command")}  <- ${frames.mkString(" < ")}"
      }
    } finally { rec.close(); Files.deleteIfExists(out) }
  }
}

/** No OS process per micro-batch: the pipeline's local file I/O (the
  * stream's checkpoint logs, the sessionizer's state store, the
  * manifest commit, the rollup, a keyed upsert and a vacuum) runs
  * entirely inside the JVM. */
class ProcessStartSpec extends SparkSpec {

  test("a sessionizer stream committing manifest tables starts no OS process") {
    implicit val s = spark
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-procs")
    val landing = Files.createDirectories(dir.resolve("landing"))
    val tables = dir.resolve("tables").toString
    val rollup = dir.resolve("rollup").toString
    def land(name: String, lines: String*): Unit = {
      val tmp = dir.resolve(name)
      Files.write(tmp, lines.asJava)
      Files.move(tmp, landing.resolve(name))
    }
    def sample(dev: String, t: String, state: String, battery: Int): String =
      s"""{"deviceName":"$dev","ts":"$t","state":"$state","battery":$battery,""" +
        """"fanPower":"balanced","waterLevel":"medium","mopMode":"standard"}"""
    land("part-0.json",
      sample("d1", "2024-01-01T10:00:00Z", "cleaning", 98),
      sample("d2", "2024-01-01T10:00:00Z", "cleaning", 60))
    val samples = spark.readStream.schema(Encoders.product[StatusSample].schema)
      .json(landing.toString).as[StatusSample]
    def process(batch: DataFrame, id: Long): Unit = {
      ManifestTable.commitMulti(spark, tables, s"batch-$id", appends = Map(
        "Cleaning_History" -> batch.withColumn("date", to_date(col("timestamp"))),
        "Device_Sessions" -> batch.groupBy("deviceName").count()))
      Rollup.syncFromChanges(spark, tables, "Cleaning_History", Seq("date"),
        Seq("cleanTimeMin"), rollup, "Daily_Summary")
    }

    // Spark's executor-metrics poller runs `getconf PAGESIZE` once per
    // JVM, whenever its first poll lands; run it now so the recording
    // holds only what the work itself starts.
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val started = ProcessStartSpec.processStarts {
      val q = Sessionizer.sessions(samples).toDF().writeStream
        .option("checkpointLocation", dir.resolve("checkpoint").toString)
        .foreachBatch((b: DataFrame, id: Long) => process(b, id))
        .start()
      try {
        q.processAllAvailable()
        land("part-1.json",
          sample("d1", "2024-01-01T10:05:00Z", "charging", 88),
          sample("d2", "2024-01-01T10:05:00Z", "idle", 50))
        q.processAllAvailable()
      } finally q.stop()
      ManifestTable.upsertKeyed(spark, tables, "Device_Sessions",
        Seq(("d1", 7L)).toDF("deviceName", "count"), "deviceName", "upsert-1")
      ManifestTable.vacuum(spark, tables, "Device_Sessions")
    }

    // The work really ran: two micro-batches, two sessions, the upsert.
    assert(Set("batch-0", "batch-1", "upsert-1")
      .subsetOf(ManifestTable.committedTxns(spark, tables)))
    assert(ManifestTable.read(spark, tables, "Cleaning_History").count() == 2)
    assert(ManifestTable.read(spark, tables, "Device_Sessions")
      .filter(col("deviceName") === "d1").as[(String, Long)].collect().toSeq ==
      Seq(("d1", 7L)))
    assert(ManifestTable.read(spark, rollup, "Daily_Summary").count() == 1)
    if (started.nonEmpty)
      fail(s"${started.size} OS processes started:\n${started.take(20).mkString("\n")}")
  }
}
