package graft.operators

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val records = Seq(
    (ts("2024-01-01 10:00:00"), "d1", Some(20.0), Some(25.5)),
    (ts("2024-01-01 15:00:00"), "d1", Some(30.0), Some(30.5)),
    (ts("2024-01-02 10:00:00"), "d2", Some(10.0), None))
    .toDF("startTime", "deviceName", "durationMin", "areaM2")

  test("dailySummary computes the declared-but-never-filled table (pipeline.py:307)") {
    val out = Pipeline.dailySummary(records)
      .orderBy("date")
    val got = rows(out).map(r => (r.getDate(0).toString, r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got == Seq(
      ("2024-01-01", 2L, 56.0, 50.0, 28.0),
      ("2024-01-02", 1L, 0.0, 10.0, 0.0)))
  }

  test("summaryConsistency flags devices whose snapshot disagrees with the log") {
    val summary = Seq(("d1", 2L), ("d2", 99L)).toDF("deviceName", "totalCleanCount")
    val out = Pipeline.summaryConsistency(records, summary)
    assert(rows(out).map(_.getString(0)) == Seq("d2"))
  }

  test("periodRollup produces day/month/year subtotal levels") {
    val out = Pipeline.periodRollup(records)
    // rollup(y,m,d): 3 day rows? (two days for Jan) + month + year + grand total
    val grand = out.filter(col("y").isNull && col("m").isNull && col("d").isNull)
    assert(rows(grand).head.getAs[Long]("cleanings") == 3L)
  }
}
