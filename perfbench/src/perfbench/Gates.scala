package perfbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}

/** A slice of the `SparkEntry` gates, run on the read-only sf0.1 tables
  * shipped with the benchmark. Each gate is timed as `collect()`: the
  * whole result reaches the driver, as a caller would consume it. */
object Gates {

  /** The slice, by group. The group decides which layer a gate leans on. */
  val groups: Seq[(String, Seq[String])] = Seq(
    "job_heavy" -> Seq("q375_mmr_rerank"),
    "fold" -> Seq("q119_pagerank", "q167_kcore", "q54_dedup_clusters"),
    "ranking" -> Seq("q435_spectral_entropy"),
    "reference" -> Seq("q01_daily_summary", "q03_unit_conversions",
      "q28_sessions_batch", "q140_change_feed"))

  val slice: Seq[String] = groups.flatMap(_._2)

  /** The program's own warm-up, run in every set-up: three cheap gates
    * that touch the scan, shuffle-aggregate and driver-fold paths. */
  val warmUp: Seq[String] = Seq("q01_daily_summary", "q167_kcore", "q03_unit_conversions")

  /** Gates with a known oracle mismatch on these tables. Each run still
    * executes and checks them once, after the timed window, and reports
    * the outcome as a finding; they are not timed operations, because a
    * workload's operations must all pass. */
  val knownFindings: Seq[String] = Seq("q127_percentile_filter")

  /** Write a collected result as parquet for the oracle comparison. */
  def save(rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      out: Path)(implicit spark: SparkSession): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(out.toString)

  def run(spark: SparkSession, dataDir: String, g: String)
      : (Array[Row], org.apache.spark.sql.types.StructType) = {
    val df = SparkEntry.queries(g)(spark, dataDir)
    (df.collect(), df.schema)
  }

  /** The gates' DuckDB oracle SQL, for the comparison made by run.py. */
  def writeOracle(work: Path, gates: Seq[String]): Unit =
    Files.write(work.resolve("oracle_sql.json"),
      Json.obj(gates.map(g => g -> Json.str(SparkEntry.oracleSql(g)))).getBytes("UTF-8"))
}
