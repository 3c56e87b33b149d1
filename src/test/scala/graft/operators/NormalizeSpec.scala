package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  test("cm2ToM2 rounds HALF_UP to 2 dp (roborock_collector.py:332 semantics)") {
    val df = Seq(12345.0, 10050.0, 125.0, 0.0).toDF("cm2")
      .select(Normalize.cm2ToM2(col("cm2")).as("m2"))
    assert(rows(df).map(_.getDouble(0)) == Seq(1.23, 1.01, 0.01, 0.0))
  }

  test("secToMin rounds to 1 dp (roborock_collector.py:480)") {
    val df = Seq(90.0, 59.0, 3661.0).toDF("s")
      .select(Normalize.secToMin(col("s")).as("m"))
    assert(rows(df).map(_.getDouble(0)) == Seq(1.5, 1.0, 61.0))
  }

  test("isCleaning/isIdle are case-insensitive membership (settings.py:37-38)") {
    val df = Seq("Cleaning", "ZONE_CLEANING", "charging", "Paused", "unknown")
      .toDF("state")
      .select(col("state"),
        Normalize.isCleaning(col("state")).as("c"),
        Normalize.isIdle(col("state")).as("i"))
    val got = rows(df).map(r => (r.getString(0), r.getBoolean(1), r.getBoolean(2)))
    assert(got == Seq(
      ("Cleaning", true, false), ("ZONE_CLEANING", true, false),
      ("charging", false, true), ("Paused", false, true),
      ("unknown", false, false)))
  }

  test("normalizeEnum maps known codes, defaults unknown, passes null through") {
    val df = Seq(Some("CLICK"), Some("weird"), None).toDF("raw")
      .select(Normalize.normalizeEnum(col("raw"),
        Map("click" -> "cleaning"), "unknown").as("state"))
    assert(rows(df).map(r => Option(r.getString(0))) ==
      Seq(Some("cleaning"), Some("unknown"), None))
  }
}
