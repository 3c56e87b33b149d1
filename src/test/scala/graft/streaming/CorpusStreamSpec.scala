package graft.streaming

import graft.SparkSpec
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming corpus ingest: content dedup + quality gate must behave
  * identically however the stream is micro-batched, and the dedup key
  * is the CONTENT fingerprint (word-order invariant), not the doc id. */
class CorpusStreamSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("dedupByContent: one row per fingerprint across batches, word order ignored") {
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = CorpusStream.dedupByContent(
        input.toDF().toDF("doc_id", "ts", "text"), "ts", "text")
      .writeStream.format("memory").queryName("cstream")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "the quick brown fox"),
        (2L, ts("2024-01-01 10:01:00"), "the quick brown fox"),  // in-batch dup
        (3L, ts("2024-01-01 10:02:00"), "something else here"))
      q.processAllAvailable()
      input.addData(
        // Cross-batch dup AND word-order variant of doc 1.
        (4L, ts("2024-01-01 10:03:00"), "brown fox the quick"),
        (5L, ts("2024-01-01 10:04:00"), "genuinely new text"))
      q.processAllAvailable()
      val kept = spark.table("cstream").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 3L, 5L))
      // The working fingerprint column is internal and must not leak
      // into (and bloat) the landed corpus.
      assert(spark.table("cstream").columns.toSeq ==
        Seq("doc_id", "ts", "text"))
    } finally q.stop()
  }

  test("cleanStream: rule-failing docs never reach the dedup state or the sink") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and runs home"
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    val q = CorpusStream.cleanStream(
        input.toDF().toDF("doc_id", "ts", "text"),
        "doc_id", "ts", "text")
      .writeStream.format("memory").queryName("cclean")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), good),
        (2L, ts("2024-01-01 10:01:00"), "tiny"),          // too_short
        (3L, ts("2024-01-01 10:02:00"), "the " * 20),     // repetitive
        (4L, ts("2024-01-01 10:03:00"), good))            // dup of 1
      q.processAllAvailable()
      val kept = spark.table("cclean").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L))
    } finally q.stop()
  }

  test("manifestSink: per-batch txn commits are exactly-once across restart and replay") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cs-manifest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs-mckpt").toString
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    def start() = CorpusStream.manifestSink(
      CorpusStream.dedupByContent(
        input.toDF().toDF("doc_id", "ts", "text"), "ts", "text"),
      base, "corpus", streamId = "s1", checkpointDir = ckpt).start()
    val q1 = start()
    try {
      input.addData((1L, ts("2024-01-01 10:00:00"), "alpha beta gamma"))
      q1.processAllAvailable()
    } finally q1.stop()
    val afterB0 = ManifestTable.read(spark, base, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(afterB0 == Seq(1L))
    // A crash-replay of batch 0 re-runs the same txn id — sealed no-op.
    val b0 = Seq((1L, ts("2024-01-01 10:00:00"), "alpha beta gamma"))
      .toDF("doc_id", "ts", "text")
    assert(ManifestTable.commit(b0, base, "corpus", "s1-0") == 0L)
    // Restart from the checkpoint: new batch lands once, fingerprint
    // state recovers (doc 2 is a word-order dup of doc 1).
    val q2 = start()
    try {
      input.addData(
        (2L, ts("2024-01-01 10:05:00"), "gamma beta alpha"),
        (3L, ts("2024-01-01 10:06:00"), "delta epsilon zeta"))
      q2.processAllAvailable()
    } finally q2.stop()
    val landed = ManifestTable.read(spark, base, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(landed == Seq(1L, 3L))
    // The manifest carries the stream's txns — auditable exactly-once.
    assert(ManifestTable.committedTxns(spark, base).exists(_.startsWith("s1-")))
  }

  test("ingestDedup: each batch near-dup-checks against all landed history") {
    import graft.sources.ManifestTable
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cs-ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs-ickpt").toString
    val novel1 = "the quick brown fox jumps over the lazy dog"
    val novel2 = "entirely new content about catalyst physical planning"
    val input = MemoryStream[(Long, Timestamp, String)](spark)
    def start() = CorpusStream.ingestDedup(
      input.toDF().toDF("doc_id", "ts", "text"),
      "doc_id", "text", base, "corpus", streamId = "in1",
      checkpointDir = ckpt, threshold = 0.99)
      .start()
    val q1 = start()
    try {
      // Batch 0: an internal dup collapses at landing.
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), novel1),
        (2L, ts("2024-01-01 10:01:00"), novel1))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(ManifestTable.read(spark, base, "corpus").select("doc_id")
      .as[Long].collect().sorted.toSeq == Seq(1L))
    // Restart; batch 1 re-sends history as NEW doc ids — the manifest
    // corpus (not stream state) must reject it across the restart.
    val q2 = start()
    try {
      input.addData(
        (10L, ts("2024-01-01 11:00:00"), novel1),   // dups landed doc 1
        (11L, ts("2024-01-01 11:01:00"), novel2))
      q2.processAllAvailable()
    } finally q2.stop()
    val landed = ManifestTable.read(spark, base, "corpus").select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(landed == Seq(1L, 11L))
    // Replaying batch 1's txn is a sealed no-op.
    val replay = Seq((10L, ts("2024-01-01 11:00:00"), novel1))
      .toDF("doc_id", "ts", "text")
    assert(ManifestTable.commit(replay, base, "corpus", "in1-1") == 0L)
  }

  test("lmGatedSink: frozen-model gate lands fluent docs, drops junk, seals replays") {
    import graft.operators.Corpus
    import graft.sources.ManifestTable
    import spark.implicits._
    val trusted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown dog runs past the lazy fox"))
      .toDF("doc_id", "text")
    val model = Corpus.lmModel(trusted, "text")
    val fluent = "the quick brown fox runs"
    val junk = "zxq qzx xqz wvu uvw"
    // Pick the threshold from the model itself: midway between the
    // two candidates' batch scores, so the test can't drift.
    val scores = Corpus.lmScore(
        Seq((0L, fluent), (1L, junk)).toDF("doc_id", "text"),
        model, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(scores(0L) < scores(1L))
    val maxNll = (scores(0L) + scores(1L)) / 2
    val base = java.nio.file.Files.createTempDirectory("cs-lm").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs-lmckpt").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = CorpusStream.lmGatedSink(
      input.toDF().toDF("doc_id", "text"), model, "doc_id", "text",
      maxNll, base, "corpus", streamId = "lm1", checkpointDir = ckpt)
      .start()
    try {
      input.addData((10L, fluent), (11L, junk))
      q.processAllAvailable()
    } finally q.stop()
    val landed = ManifestTable.read(spark, base, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(landed == Seq(10L))
    // Crash-replay of batch 0 under its txn id is a sealed no-op.
    val replay = Seq((10L, fluent)).toDF("doc_id", "text")
    assert(ManifestTable.commit(replay, base, "corpus", "lm1-0") == 0L)
  }

  test("lmAdaptiveGatedSink: the bar tracks the stream's own distribution") {
    import graft.operators.{Corpus, Sketches}
    import graft.sources.ManifestTable
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val trusted = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown dog runs past the lazy fox"))
      .toDF("doc_id", "text")
    val model = Corpus.lmModel(trusted, "text")
    val fluent = "the quick brown fox runs"
    val junk = "zxq qzx xqz wvu uvw"
    // Premise: the two candidate scores land in DIFFERENT sketch
    // buckets (else the gate cannot separate them by construction).
    val micro = Corpus.lmScore(
        Seq((0L, fluent), (1L, junk)).toDF("doc_id", "text"),
        model, "doc_id", "text")
      .select(col("doc_id"),
        Sketches.lhBucketIdx(round(col("nll") * 1e6).cast("long")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(micro(0L) < micro(1L), "fluent and junk must bucket apart")

    val base = java.nio.file.Files.createTempDirectory("cs-adapt").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs-adaptck").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = CorpusStream.lmAdaptiveGatedSink(
      input.toDF().toDF("doc_id", "text"), model, "doc_id", "text",
      keepFrac = 0.5, base, "corpus", "nll_sketch",
      streamId = "a1", checkpointDir = ckpt).start()
    def landed(): Seq[Long] = ManifestTable.read(spark, base, "corpus")
      .select("doc_id").as[Long].collect().sorted.toSeq
    try {
      // Half fluent, half junk: the self-calibrated p50 bar admits
      // exactly the fluent half.
      input.addData((10L, fluent), (11L, fluent), (12L, junk), (13L, junk))
      q.processAllAvailable()
      assert(landed() == Seq(10L, 11L))
      // Traffic degrades to all-junk: the maintained distribution is
      // now junk-majority, the p50 bar drifts up into the junk bucket,
      // and the "best half of current traffic" lands — the adaptive
      // behavior a frozen maxNll cannot have.
      input.addData((20L, junk), (21L, junk), (22L, junk), (23L, junk))
      q.processAllAvailable()
      assert(landed() == Seq(10L, 11L, 20L, 21L, 22L, 23L))
    } finally q.stop()
    // The maintained sketch state is bit-equal to one-pass bucketing
    // of every score ever seen — state and data advanced atomically.
    val allScores = Corpus.lmScore(
      (Seq((10L, fluent), (11L, fluent), (12L, junk), (13L, junk)) ++
        (20L to 23L).map(i => (i, junk))).toDF("doc_id", "text"),
      model, "doc_id", "text")
      .select(round(col("nll") * 1e6).cast("long").as("m"))
    val batchState = Sketches.lhBuckets(allScores, col("m"), Nil)
      .as[(Int, Long)].collect().sorted.toSeq
    val mvState = ManifestTable.read(spark, base, "nll_sketch")
      .as[(Int, Long)].collect().sorted.toSeq
    assert(mvState == batchState)
    // Replays of both batch txns are sealed.
    assert(ManifestTable.committedTxns(spark, base) == Set("a1-0", "a1-1"))
    assert(ManifestTable.commit(Seq((99L, junk)).toDF("doc_id", "text"),
      base, "corpus", "a1-1") == 0L)
  }

  test("lmAdaptiveGatedSink: a no-bigram batch seals, it does not poison") {
    import graft.operators.Corpus
    import graft.sources.ManifestTable
    import spark.implicits._
    val model = Corpus.lmModel(
      Seq((1L, "aa bb cc dd")).toDF("doc_id", "text"), "text")
    val base = java.nio.file.Files.createTempDirectory("cs-poison").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs-poisonck").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = CorpusStream.lmAdaptiveGatedSink(
      input.toDF().toDF("doc_id", "text"), model, "doc_id", "text",
      keepFrac = 0.5, base, "corpus", "nll_sketch",
      streamId = "z1", checkpointDir = ckpt).start()
    try {
      // One-word docs carry no bigram: lmScore drops them all and the
      // sketch is empty at cold start — the batch must seal its txn
      // and move on, not crash in the bar selection and replay forever.
      input.addData((1L, "solo"), (2L, "word"))
      q.processAllAvailable()
      assert(ManifestTable.committedTxns(spark, base).contains("z1-0"))
      // The stream stays healthy: a later real batch lands normally.
      input.addData((3L, "aa bb cc"), (4L, "aa bb cc"))
      q.processAllAvailable()
      assert(ManifestTable.read(spark, base, "corpus").count() == 2L)
    } finally q.stop()
  }

  test("lmAdaptiveGatedSink: identical-score traffic is never starved") {
    import graft.operators.Corpus
    import graft.sources.ManifestTable
    import spark.implicits._
    val trusted = Seq((1L, "aa bb cc dd ee ff gg hh")).toDF("doc_id", "text")
    val model = Corpus.lmModel(trusted, "text")
    val base = java.nio.file.Files.createTempDirectory("cs-same").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs-sameck").toString
    val input = MemoryStream[(Long, String)](spark)
    val q = CorpusStream.lmAdaptiveGatedSink(
      input.toDF().toDF("doc_id", "text"), model, "doc_id", "text",
      keepFrac = 0.5, base, "corpus", "nll_sketch",
      streamId = "s1", checkpointDir = ckpt).start()
    try {
      // Three docs, one shared score: a lower-bound bar would reject
      // all of them (nothing is < its own bucket's lower bound); the
      // inclusive bucket-hi bar lands the whole indistinguishable set.
      input.addData((1L, "aa bb cc"), (2L, "aa bb cc"), (3L, "aa bb cc"))
      q.processAllAvailable()
      assert(ManifestTable.read(spark, base, "corpus").count() == 3L)
    } finally q.stop()
  }

  test("ivfIngestSink: streamed corpus + incremental index == batch " +
      "rebuild, exactly-once across restart and replay") {
    import graft.sources.ManifestTable
    import graft.operators.Similarity
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cs-ivf").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cs-ivfck").toString
    // Day-0 corpus: centroids frozen here; landed as a batch commit of
    // corpus + index together (the cold start the stream extends).
    val day0 = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.1f, 0.9f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroids(day0, "vec_id", "embedding", 3)
    ManifestTable.commitMulti(spark, base, txnId = "day0",
      appends = Map(
        "vecs" -> day0,
        "ivf" -> Similarity.ivfIndex(day0, "vec_id", "embedding", 3,
          Some(cents))))
    val input = MemoryStream[(Long, Array[Float])](spark)
    def start() = CorpusStream.ivfIngestSink(
      input.toDF().toDF("vec_id", "embedding"), cents,
      "vec_id", "embedding", base, "vecs", "ivf",
      streamId = "ann", checkpointDir = ckpt).start()
    val q1 = start()
    try {
      input.addData((10L, Array(0.95f, 0.05f, 0.0f)))
      q1.processAllAvailable()
    } finally q1.stop()
    // Crash-replay seam: batch 0's txn id is sealed for BOTH tables.
    assert(ManifestTable.commitMulti(spark, base, txnId = "ann-0",
      appends = Map("vecs" ->
        Seq((10L, Array(0.95f, 0.05f, 0.0f))).toDF("vec_id", "embedding")))
      .isEmpty)
    // Restart from the checkpoint: the next batch lands once.
    val q2 = start()
    try {
      input.addData(
        (11L, Array(0.0f, 0.2f, 0.9f)), (12L, Array(0.05f, 0.95f, 0.0f)))
      q2.processAllAvailable()
    } finally q2.stop()
    val corpus = ManifestTable.read(spark, base, "vecs")
    assert(corpus.select("vec_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L))
    // The incrementally-maintained index answers EXACTLY like a batch
    // rebuild over the landed corpus (same frozen centroids).
    val persisted = ManifestTable.read(spark, base, "ivf")
    val rebuilt = Similarity.ivfIndex(corpus, "vec_id", "embedding", 3,
      Some(cents))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("cell")).as[(Long, Long)].collect().toSet
    assert(cells(persisted) == cells(rebuilt))
    val queries = day0.filter(col("vec_id") === 0L)
    def topk(idx: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(idx, cents, queries, "vec_id", "embedding",
          k = 3, nProbe = 2)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
        .as[(Long, Int, Long)].collect().toSet
    val fromDisk = topk(persisted)
    assert(fromDisk == topk(rebuilt))
    // The stream-landed near-twin of vector 0 is actually served.
    assert(fromDisk.exists(_._3 == 10L))
  }
}
