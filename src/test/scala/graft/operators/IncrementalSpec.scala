package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("stateDelta: missing state ⇒ last=0; delta clamped (state_manager.py:66-74)") {
    val cur = Seq(("d1", 10L), ("d2", 4L), ("d3", 7L)).toDF("dev", "cur_n")
    val st = Seq(("d1", 6L), ("d2", 9L)).toDF("dev", "last_count")
    val out = Incremental.stateDelta(cur, st, "dev", "cur_n", "last_count")
      .select(col("dev"), col("last_n"), col("new_n"))
    assert(sortedRows(out) == Seq(
      Seq("d1", 6L, 4L), Seq("d2", 9L, 0L), Seq("d3", 0L, 7L)))
  }

  test("newestPerKey keeps exactly the latest row per key (pipeline.py:721-723 cold start)") {
    val df = Seq(
      ("d1", ts("2024-01-01 10:00:00"), 1L),
      ("d1", ts("2024-01-02 10:00:00"), 2L),
      ("d2", ts("2024-01-01 00:00:00"), 3L))
      .toDF("dev", "ts", "id")
    val out = Incremental.newestPerKey(df, "dev", "ts", "id")
    assert(sortedRows(out.select(col("dev"), col("id"))) ==
      Seq(Seq("d1", 2L), Seq("d2", 3L)))
  }

  test("afterWatermark keeps strictly-newer rows (pipeline.py:725)") {
    val df = Seq(
      ("d1", ts("2024-01-01 10:00:00")),
      ("d1", ts("2024-01-01 11:00:00")))
      .toDF("dev", "ts")
    val out = Incremental.afterWatermark(df, "ts", lit(ts("2024-01-01 10:00:00")))
    assert(out.count() == 1)
  }

  test("asOfJoin attaches the latest right ts at-or-before each left row, per key") {
    val left = Seq(
      ("d1", ts("2024-01-01 10:00:00"), 1L),
      ("d1", ts("2024-01-01 12:00:00"), 2L),
      ("d2", ts("2024-01-01 12:00:00"), 3L))
      .toDF("dev", "ts", "id")
    val right = Seq(
      ("d1", ts("2024-01-01 09:00:00"), 10L),
      ("d1", ts("2024-01-01 11:00:00"), 11L),
      ("d1", ts("2024-01-01 13:00:00"), 12L))
      .toDF("dev", "ts", "id")
    val out = Incremental.asOfJoin(left, right, "dev", "ts", "id", "asof")
      .select(col("id"), col("asof"))
    val got = rows(out).map(r => (r.getLong(0), Option(r.getTimestamp(1)))).sortBy(_._1)
    assert(got == Seq(
      (1L, Some(ts("2024-01-01 09:00:00"))),
      (2L, Some(ts("2024-01-01 11:00:00"))),
      (3L, None)))
    // tieBreak == tsCol (no separate tie column) once selected `ts`
    // twice and failed on the duplicate column.
    val byTs = Incremental.asOfJoin(left, right, "dev", "ts", "ts", "asof")
    assert(byTs.columns.toSeq == Seq("dev", "ts", "asof"))
    assert(sortedRows(byTs) == Seq(
      Seq("d1", ts("2024-01-01 10:00:00"), ts("2024-01-01 09:00:00")),
      Seq("d1", ts("2024-01-01 12:00:00"), ts("2024-01-01 11:00:00")),
      Seq("d2", ts("2024-01-01 12:00:00"), null)))
  }

  test("asOfJoin includes right rows at exactly the left timestamp (<= bound)") {
    val left = Seq(("d1", ts("2024-01-01 10:00:00"), 1L)).toDF("dev", "ts", "id")
    val right = Seq(("d1", ts("2024-01-01 10:00:00"), 9L)).toDF("dev", "ts", "id")
    val out = Incremental.asOfJoin(left, right, "dev", "ts", "id", "asof")
    assert(rows(out).head.getAs[java.sql.Timestamp]("asof") == ts("2024-01-01 10:00:00"))
  }
}
