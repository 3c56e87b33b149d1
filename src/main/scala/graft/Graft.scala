package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session + table-loading helpers shared by Verify/Bench/tests.
  *
  * Scale stance: local[N] is only a test harness — every knob here is
  * chosen so the same code runs unchanged on a multi-executor cluster
  * (AQE on, shuffle partitions sized to the harness, UTC timezone for
  * oracle parity).
  */
object Graft {

  /** Build the standard session. `cpus` drives both parallelism and
    * shuffle partitions (never the 200 default on local mode). */
  def session(appName: String = "graft", cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Local `file:` I/O through java.nio, not a chmod/readlink process
      // per file (graft.sources.LocalFiles); other schemes are untouched.
      .config("spark.hadoop.fs.file.impl",
        classOf[graft.sources.LocalFiles.LocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[graft.sources.LocalFiles.LocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def defaultCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** Driver-generated synthetic tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The events table stores TIMESTAMP(NANOS) parquet, which Spark only
    // reads as long (nanosAsLong). The data carries no sub-microsecond
    // precision (verified), so the micros conversion is lossless and
    // order-exact vs the DuckDB oracle.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Regenerated fixtures store naive timestamp[us], which Spark 4
    // infers as TIMESTAMP_NTZ by default. Read it as TimestampType
    // instead: the session is pinned UTC, so the instant is identical,
    // every time function (unix_micros, window, watermark) accepts it,
    // and the type matches what the NANOS→micros conversion produced.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Watermark filters on the converted column must still prune at the
    // parquet scan — the rewrite rule turns them back into raw-long
    // comparisons. extraOptimizations is idempotent to re-assign and
    // works on sessions we did not build (the harness driver's).
    if (!spark.experimental.extraOptimizations.contains(
        graft.plans.PushTimestampConversion)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushTimestampConversion
    }
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case None => df
    }
  }
}
