package graft.operators

import graft.SparkSpec
import graft.sources.ManifestTable
import java.sql.Timestamp

class SmartSyncSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def summaries(t: String, counts: (String, Long)*) =
    counts.map { case (d, c) => (ts(t), d, 100.0, 50.0, c) }
      .toDF("timestamp", "deviceName", "totalCleanTimeMin",
        "totalCleanAreaM2", "totalCleanCount")

  private def status(t: String, devs: String*) =
    devs.map(d => (ts(t), d, "charging", 90)).toDF("timestamp", "deviceName", "state", "battery")

  private def consumables(t: String, devs: String*) =
    devs.map(d => (ts(t), d, 1000L)).toDF("timestamp", "deviceName", "mainBrush")

  test("transactional sync: counter filter + atomic commit + sealed sync ids") {
    val dir = java.nio.file.Files.createTempDirectory("smartsync-tx").toString
    val r1 = SmartSync.run(spark,
      summaries("2024-01-01 10:00:00", "d1" -> 5L, "d2" -> 3L),
      status("2024-01-01 10:00:00", "d1", "d2"),
      consumables("2024-01-01 10:00:00", "d1", "d2"), dir, "sync-001")
    assert(r1.devicesWithNewWork == 2 && r1.statusRows == 2
      && r1.summaryRows == 2 && r1.consumablesRows == 2)

    // Re-running a committed sync id is a sealed no-op — even with a
    // different (e.g. re-polled) snapshot attached to the retry.
    val r1b = SmartSync.run(spark,
      summaries("2024-01-01 11:00:00", "d1" -> 9L),
      status("2024-01-01 11:00:00", "d1"),
      consumables("2024-01-01 11:00:00", "d1"), dir, "sync-001")
    assert(r1b == SmartSync.Result(0L, 0L, 0L, 0L))
    assert(ManifestTable.read(spark, dir, "device_status").count() == 2)

    // Same counters under a NEW sync id (e.g. the next cron tick):
    // nothing has new work, so nothing is written.
    val r1c = SmartSync.run(spark,
      summaries("2024-01-01 22:00:00", "d1" -> 5L, "d2" -> 3L),
      status("2024-01-01 22:00:00", "d1", "d2"),
      consumables("2024-01-01 22:00:00", "d1", "d2"), dir, "sync-001b")
    assert(r1c == SmartSync.Result(0L, 0L, 0L, 0L))

    // Counter filter: only the advanced device syncs; state snapshot
    // replaces atomically and carries the unchanged device forward.
    val r2 = SmartSync.run(spark,
      summaries("2024-01-02 10:00:00", "d1" -> 6L, "d2" -> 3L),
      status("2024-01-02 10:00:00", "d1", "d2"),
      consumables("2024-01-02 10:00:00", "d1", "d2"), dir, "sync-002")
    assert(r2.devicesWithNewWork == 1 && r2.statusRows == 1)
    assert(ManifestTable.read(spark, dir, "device_status").count() == 3)
    val st = ManifestTable.read(spark, dir, SmartSync.StateTable)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st == Map("d1" -> 6L, "d2" -> 3L))
  }

  test("zero-work transactional sync still seals its sync id") {
    val dir = java.nio.file.Files.createTempDirectory("smartsync-tx0").toString
    SmartSync.run(spark,
      summaries("2024-01-01 10:00:00", "d1" -> 5L),
      status("2024-01-01 10:00:00", "d1"),
      consumables("2024-01-01 10:00:00", "d1"), dir, "sync-001")
    // Same counters → nothing to write, but the attempt must be sealed.
    val r0 = SmartSync.run(spark,
      summaries("2024-01-01 22:00:00", "d1" -> 5L),
      status("2024-01-01 22:00:00", "d1"),
      consumables("2024-01-01 22:00:00", "d1"), dir, "sync-002")
    assert(r0 == SmartSync.Result(0L, 0L, 0L, 0L))
    assert(ManifestTable.committedTxns(spark, dir).contains("sync-002"))
    // A retry of the sealed id against a FRESHER snapshot (d1 cleaned
    // again) must not process data under the already-completed id.
    val rRetry = SmartSync.run(spark,
      summaries("2024-01-02 10:00:00", "d1" -> 6L),
      status("2024-01-02 10:00:00", "d1"),
      consumables("2024-01-02 10:00:00", "d1"), dir, "sync-002")
    assert(rRetry == SmartSync.Result(0L, 0L, 0L, 0L))
    assert(ManifestTable.read(spark, dir, "device_status").count() == 1)
    // A NEW id picks the fresh work up as usual.
    val r3 = SmartSync.run(spark,
      summaries("2024-01-02 10:00:00", "d1" -> 6L),
      status("2024-01-02 10:00:00", "d1"),
      consumables("2024-01-02 10:00:00", "d1"), dir, "sync-003")
    assert(r3.devicesWithNewWork == 1 && r3.statusRows == 1)
  }

  test("state carries forward devices absent from the current snapshot") {
    val dir = java.nio.file.Files.createTempDirectory("smartsync3").toString
    SmartSync.run(spark, summaries("2024-01-01 10:00:00", "d1" -> 5L, "d2" -> 3L),
      status("2024-01-01 10:00:00", "d1", "d2"),
      consumables("2024-01-01 10:00:00", "d1", "d2"), dir, "sync-001")
    // d2 offline in the next snapshot
    SmartSync.run(spark, summaries("2024-01-02 10:00:00", "d1" -> 7L),
      status("2024-01-02 10:00:00", "d1"),
      consumables("2024-01-02 10:00:00", "d1"), dir, "sync-002")
    val st = ManifestTable.read(spark, dir, SmartSync.StateTable)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(st == Map("d1" -> 7L, "d2" -> 3L))
  }
}
