package graft.streaming

import graft.SparkSpec
import graft.sources.ManifestTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The one streaming manifest landing ([[ManifestSink]]): parameters
  * are refused when the sink is wired, and a micro-batch that Spark
  * itself re-delivers after a restart commits nothing twice. */
class ManifestSinkSpec extends SparkSpec {

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** Delete the checkpoint's newest `commits/<n>` marker (and its
    * checksum): the offsets of batch n stay logged, so a restart
    * re-runs batch n through the sink. Returns n. */
  private def dropLastCommitMarker(ckpt: String): Long = {
    val dir = new java.io.File(ckpt, "commits")
    val n = dir.list().filter(_.matches("\\d+")).map(_.toLong).max
    for (f <- Seq(s"$n", s".$n.crc")) new java.io.File(dir, f).delete()
    n
  }

  /** Run `start` twice over one checkpoint: first to land two batches,
    * then, with the last batch's commit marker removed, to re-deliver
    * that batch. Every table, the log version and the txn set must be
    * as the first run left them. */
  private def assertReplayIsNoOp(
      ckpt: String,
      base: String,
      tables: Seq[String],
      start: () => org.apache.spark.sql.streaming.StreamingQuery,
      batches: Seq[() => Unit]): Unit = {
    val q1 = start()
    try batches.foreach { add => add(); q1.processAllAvailable() }
    finally q1.stop()
    def landed(t: String) = byValue(ManifestTable.read(spark, base, t))
    val rows0 = tables.map(landed)
    val version0 = ManifestTable.latestVersion(spark, base)
    val txns0 = ManifestTable.committedTxns(spark, base)
    val n = dropLastCommitMarker(ckpt)
    val marker = new java.io.File(ckpt, s"commits/$n")
    assert(!marker.exists())
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // Spark ran batch n through the sink again: its marker is back.
    assert(marker.exists(), s"batch $n was not re-delivered")
    assert(tables.map(landed) == rows0)
    assert(ManifestTable.latestVersion(spark, base) == version0)
    assert(ManifestTable.committedTxns(spark, base) == txns0)
  }

  test("a batch Spark re-delivers after restart is a sealed no-op, " +
      "and a bad streamId is refused at wiring") {
    import graft.operators.Similarity
    import spark.implicits._

    // A snapshot sink.
    val sumBase = tmp("ms-sum")
    val sumCkpt = tmp("ms-sum-ck")
    val nums = MemoryStream[(String, Long)](spark)
    def sumSink(streamId: String) = Rollup.sumCountSink(
      nums.toDF().toDF("day", "v"), Seq("day"), Seq("v"),
      sumBase, "daily", streamId, sumCkpt)
    for (bad <- Seq("", "a\nb"))
      intercept[IllegalArgumentException](sumSink(bad))
    assertReplayIsNoOp(sumCkpt, sumBase, Seq("daily"),
      () => sumSink("r1").start(),
      Seq(() => nums.addData(("mon", 10L), ("tue", 7L)),
        () => nums.addData(("mon", 5L), ("wed", 1L))))
    assert(ManifestTable.read(spark, sumBase, "daily")
      .as[(String, Long, Long)].collect().sorted.toSeq ==
      Seq(("mon", 2L, 15L), ("tue", 1L, 7L), ("wed", 1L, 1L)))

    // A two-table append sink.
    val ivfBase = tmp("ms-ivf")
    val ivfCkpt = tmp("ms-ivf-ck")
    val day0 = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.7f, 0.7f))).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(day0, "vec_id", "embedding", 2)
    val vecs = MemoryStream[(Long, Array[Float])](spark)
    def ivfSink(streamId: String) = CorpusStream.ivfIngestSink(
      vecs.toDF().toDF("vec_id", "embedding"), cents, "vec_id",
      "embedding", ivfBase, "vecs", "ivf", streamId, ivfCkpt)
    for (bad <- Seq("", "a\nb"))
      intercept[IllegalArgumentException](ivfSink(bad))
    assertReplayIsNoOp(ivfCkpt, ivfBase, Seq("vecs", "ivf"),
      () => ivfSink("ann").start(),
      Seq(() => vecs.addData((10L, Array(0.9f, 0.1f))),
        () => vecs.addData((11L, Array(0.1f, 0.9f)),
          (12L, Array(0.6f, 0.8f)))))
    def ids(t: String): Seq[Long] =
      ManifestTable.read(spark, ivfBase, t).select("vec_id")
        .as[Long].collect().sorted.toSeq
    assert(ids("vecs") == Seq(10L, 11L, 12L))
    assert(ids("ivf") == Seq(10L, 11L, 12L))
    assert(ManifestTable.committedTxns(spark, ivfBase) == Set("ann-0", "ann-1"))
  }

  test("a stateful input's re-delivered batch is a sealed no-op too") {
    // The streaming dedup's state stores must all commit on the replay,
    // although its manifest commit writes nothing. Without watermark-only
    // batches the last batch is the second data batch.
    import spark.implicits._
    val base = tmp("ms-dedup")
    val ckpt = tmp("ms-dedup-ck")
    val docs = MemoryStream[(Long, java.sql.Timestamp, String)](spark)
    def at(t: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $t")
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    try assertReplayIsNoOp(ckpt, base, Seq("corpus"),
      () => CorpusStream.manifestSink(
        CorpusStream.dedupByContent(
          docs.toDF().toDF("doc_id", "ts", "text"), "ts", "text"),
        base, "corpus", "dd", ckpt).start(),
      Seq(() => docs.addData((1L, at("10:00:00"), "alpha beta"),
          (2L, at("10:01:00"), "gamma delta")),
        () => docs.addData((3L, at("10:02:00"), "beta alpha"),
          (4L, at("10:03:00"), "epsilon zeta"))))
    finally prev.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
    assert(ManifestTable.read(spark, base, "corpus").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
    assert(ManifestTable.committedTxns(spark, base) == Set("dd-0", "dd-1"))
  }

  test("kmvDistinctSink refuses k outside the sketch's bound before any " +
      "query starts") {
    import spark.implicits._
    val input = MemoryStream[(String, Long)](spark)
    def wire(k: Int): Unit = Rollup.kmvDistinctSink(
      input.toDF().toDF("day", "user_id"), Seq("day"), "user_id", k,
      tmp("ms-kmv"), "users", "k1", tmp("ms-kmv-ck"))
    val active = spark.streams.active.length
    for (k <- Seq(1, 65537))
      intercept[IllegalArgumentException](wire(k))
    assert(spark.streams.active.length == active)
    // The bound's ends are accepted (wiring only; nothing starts).
    wire(2)
    wire(65536)
    // The batch sketch enforces the same bound.
    val df: DataFrame = Seq(("mon", 1L)).toDF("day", "user_id")
    intercept[IllegalArgumentException](graft.operators.Sketches
      .kmvSketch(df, org.apache.spark.sql.functions.col("user_id"),
        Seq("day"), 1))
  }
}
