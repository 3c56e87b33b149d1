package graft.streaming

import graft.SparkSpec
import graft.sources.Schemas.StatusSample
import graft.streaming.Sessionizer.SessionState
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class SessionizerSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def sample(dev: String, t: String, state: String, battery: Int) =
    StatusSample(dev, ts(t), state, Some(battery), Some("balanced"),
      Some("medium"), Some("standard"), None)

  test("step: start edge captures battery, end edge emits session (pipeline.py:132-163)") {
    val samples = Seq(
      sample("d1", "2024-01-01 10:00:00", "charging", 100),
      sample("d1", "2024-01-01 10:01:00", "cleaning", 98),
      sample("d1", "2024-01-01 10:02:00", "cleaning", 90),
      sample("d1", "2024-01-01 10:03:00", "charging", 85))
    val (out, st) = Sessionizer.step(SessionState.empty, samples)
    assert(out.size == 1)
    val s = out.head
    assert(s.batteryStart.contains(98) && s.batteryEnd.contains(85))
    assert(s.cleanTimeMin.contains(2.0))
    assert(st.prevState.contains("charging") && st.startBattery.isEmpty)
  }

  test("step: no edge ⇒ no emit; restart mid-cleaning keeps start state") {
    val (out1, st1) = Sessionizer.step(SessionState.empty, Seq(
      sample("d1", "2024-01-01 10:00:00", "cleaning", 97)))
    assert(out1.isEmpty && st1.startBattery.contains(97))
    // continuation arrives in a later batch — same state carried over
    val (out2, st2) = Sessionizer.step(st1, Seq(
      sample("d1", "2024-01-01 10:05:00", "idle", 80)))
    assert(out2.size == 1)
    assert(out2.head.batteryStart.contains(97) && out2.head.batteryEnd.contains(80))
    assert(st2.startBattery.isEmpty)
  }

  test("step: pause (idle) mid-session ends it; second cleaning starts fresh") {
    val samples = Seq(
      sample("d1", "2024-01-01 10:00:00", "cleaning", 99),
      sample("d1", "2024-01-01 10:01:00", "paused", 95),
      sample("d1", "2024-01-01 10:02:00", "cleaning", 94),
      sample("d1", "2024-01-01 10:03:00", "charger", 90))
    val (out, _) = Sessionizer.step(SessionState.empty, samples)
    assert(out.size == 2)
    assert(out.map(_.batteryStart) == Seq(Some(99), Some(94)))
    assert(out.map(_.batteryEnd) == Seq(Some(95), Some(90)))
  }

  test("streaming golden: MemoryStream batches emit sessions per device with state across batches") {
    implicit val s = spark
    import spark.implicits._
    val input = MemoryStream[StatusSample](spark)
    val sessions = Sessionizer.sessions(input.toDS())
    val q = sessions.writeStream
      .format("memory").queryName("sessions_golden")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      input.addData(
        sample("d1", "2024-01-01 10:00:00", "cleaning", 98),
        sample("d2", "2024-01-01 10:00:00", "idle", 50))
      q.processAllAvailable()
      assert(spark.table("sessions_golden").count() == 0)
      input.addData(
        sample("d1", "2024-01-01 10:05:00", "charging", 88),   // d1 completes
        sample("d2", "2024-01-01 10:05:00", "cleaning", 49))   // d2 starts
      q.processAllAvailable()
      val afterB2 = spark.table("sessions_golden")
        .select("deviceName", "batteryStart", "batteryEnd").collect()
      assert(afterB2.map(_.getString(0)).toSeq == Seq("d1"))
      assert(afterB2.head.getInt(1) == 98 && afterB2.head.getInt(2) == 88)
      input.addData(
        sample("d2", "2024-01-01 10:10:00", "charger", 40))    // d2 completes
      q.processAllAvailable()
      val devices = spark.table("sessions_golden")
        .select("deviceName").collect().map(_.getString(0)).sorted.toSeq
      assert(devices == Seq("d1", "d2"))
    } finally q.stop()
  }

  test("streaming restart: checkpoint carries session state across query restarts") {
    implicit val s = spark
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sess-restart")
    val ckpt = base.resolve("ckpt").toString
    val outDir = base.resolve("out").toString

    def startQuery(input: MemoryStream[StatusSample]) =
      Sessionizer.sessions(input.toDS()).writeStream
        .format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()

    val input1 = MemoryStream[StatusSample](spark)
    val q1 = startQuery(input1)
    input1.addData(sample("d1", "2024-01-01 10:00:00", "cleaning", 97))
    q1.processAllAvailable()
    q1.stop()

    // New query, same checkpoint: the in-flight session must survive.
    val input2 = MemoryStream[StatusSample](spark)
    input2.addData(sample("d1", "2024-01-01 10:00:00", "cleaning", 97))
    val q2 = startQuery(input2)
    input2.addData(sample("d1", "2024-01-01 10:07:00", "idle", 81))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir)
      .select("batteryStart", "batteryEnd").collect()
    assert(out.length == 1)
    assert(out.head.getInt(0) == 97 && out.head.getInt(1) == 81)
  }
}
