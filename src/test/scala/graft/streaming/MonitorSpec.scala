package graft.streaming

import graft.SparkSpec
import graft.sources.ManifestTable
import graft.sources.Schemas.{CleaningHistory, StatusSample}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[Monitor.start]] lands the sessionizer's output through
  * [[ManifestSink]]: the landed table equals a [[Sessionizer.step]]
  * fold over the same micro-batches, each batch that emits sessions
  * commits once under `<streamId>-<batchId>`, and a batch Spark
  * re-delivers after a restart lands nothing twice. */
class MonitorSpec extends SparkSpec {

  private def sample(dev: String, t: String, state: String, battery: Int) =
    StatusSample(dev, Timestamp.valueOf(s"2024-01-01 $t"), state, Some(battery),
      Some("balanced"), None, Some("standard"), None)

  // Two devices over three micro-batches: batch 0 only starts sessions,
  // batch 1 ends one of d1's and starts another, batch 2 ends both.
  private val batches: Seq[Seq[StatusSample]] = Seq(
    Seq(sample("d1", "10:00:00", "charging", 100),
      sample("d1", "10:01:00", "cleaning", 99),
      sample("d2", "10:00:30", "cleaning", 80)),
    Seq(sample("d1", "10:06:00", "idle", 90),
      sample("d1", "10:08:00", "cleaning", 90),
      sample("d2", "10:05:00", "cleaning", 75)),
    Seq(sample("d1", "10:12:00", "charging", 84),
      sample("d2", "10:09:30", "paused", 70)))

  /** Sessions per batch: the step fold per device, in batch order. */
  private def expected: Seq[Seq[CleaningHistory]] = {
    val state = scala.collection.mutable.Map.empty[String, Sessionizer.SessionState]
    batches.map(_.groupBy(_.deviceName).toSeq.sortBy(_._1).flatMap {
      case (dev, samples) =>
        val (out, next) = Sessionizer.step(
          state.getOrElse(dev, Sessionizer.SessionState.empty), samples)
        state(dev) = next
        out
    })
  }

  test("sessions land as Cleaning_History under one txn per emitting batch, " +
      "and a re-delivered batch is a sealed no-op") {
    implicit val s = spark
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("monitor-base").toString
    val ckpt = java.nio.file.Files.createTempDirectory("monitor-ck").toString
    val input = MemoryStream[StatusSample](spark)
    def run(feed: Seq[Seq[StatusSample]]): Unit = {
      val q = Monitor.start(input.toDS(), base, "mon", ckpt, pollInterval = "0 seconds")
      try {
        feed.foreach { b => input.addData(b); q.processAllAvailable() }
        q.processAllAvailable()
      } finally q.stop()
    }
    def landed = byValue(ManifestTable.read(spark, base, Monitor.Table))

    run(batches)
    val want = expected
    assert(want(0).isEmpty && want(1).nonEmpty && want(2).size == 2)
    assert(landed == byValue(want.flatten.toDF()))
    assert(ManifestTable.committedTxns(spark, base) ==
      want.indices.filter(want(_).nonEmpty).map(i => s"mon-$i").toSet)

    // Re-deliver the last batch: drop its commit marker and checksum.
    val rows0 = landed
    val version0 = ManifestTable.latestVersion(spark, base)
    val txns0 = ManifestTable.committedTxns(spark, base)
    val commits = new java.io.File(ckpt, "commits")
    val n = commits.list().filter(_.matches("\\d+")).map(_.toLong).max
    assert(n == batches.size - 1)
    assert(new java.io.File(commits, s"$n").delete())
    new java.io.File(commits, s".$n.crc").delete()
    run(Nil)
    assert(new java.io.File(commits, s"$n").exists(), s"batch $n was not re-delivered")
    assert(landed == rows0)
    assert(ManifestTable.latestVersion(spark, base) == version0)
    assert(ManifestTable.committedTxns(spark, base) == txns0)
  }
}
