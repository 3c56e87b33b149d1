package graft.streaming

import graft.SparkSpec
import graft.sources.ManifestTable
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Incrementally-maintained rollups: merge per micro-batch, atomic
  * snapshot per merge, sealed txns so replays can't double-count. */
class RollupSpec extends SparkSpec {

  test("sumCountSink merges batches into a keyed snapshot, exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("rollup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rollup-ck").toString
    val input = MemoryStream[(String, Long)](spark)
    def start() = Rollup.sumCountSink(
      input.toDF().toDF("day", "v"),
      keyCols = Seq("day"), sumCols = Seq("v"),
      base, "daily", streamId = "r1", checkpointDir = ckpt).start()

    def snapshot(): Map[String, (Long, Long)] =
      ManifestTable.read(spark, base, "daily")
        .as[(String, Long, Long)].collect()
        .map { case (d, n, s) => d -> (n, s) }.toMap

    val q1 = start()
    try {
      input.addData(("mon", 10L), ("mon", 5L), ("tue", 7L))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(snapshot() == Map("mon" -> ((2L, 15L)), "tue" -> ((1L, 7L))))

    // Restart from the checkpoint; the next batch MERGES (mon grows,
    // wed appears, tue untouched).
    val q2 = start()
    try {
      input.addData(("mon", 1L), ("wed", 100L))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(snapshot() == Map(
      "mon" -> ((3L, 16L)), "tue" -> ((1L, 7L)), "wed" -> ((1L, 100L))))

    // A crash-replay of batch 0's txn is sealed — counters cannot
    // double-merge.
    val replay = Seq(("mon", 99L, 999L)).toDF("day", "n_rows", "sum_v")
    assert(ManifestTable.commitMulti(spark, base, "r1-0",
      snapshots = Map("daily" -> replay)).isEmpty)
    assert(snapshot() == Map(
      "mon" -> ((3L, 16L)), "tue" -> ((1L, 7L)), "wed" -> ((1L, 100L))))

    // Time travel replays the rollup's evolution: version 1 = batch 0.
    val v1 = ManifestTable.read(spark, base, "daily", asOfVersion = Some(1L))
      .as[(String, Long, Long)].collect()
      .map { case (d, n, s) => d -> (n, s) }.toMap
    assert(v1 == Map("mon" -> ((2L, 15L)), "tue" -> ((1L, 7L))))
  }

  test("sumCountSinkPartitioned rewrites ONLY the partitions a batch touched") {
    import graft.functions.TextFunctions
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("prollup").toString
    val ckpt = java.nio.file.Files.createTempDirectory("prollup-ck").toString
    val nParts = 4
    val input = MemoryStream[(String, Long)](spark)
    val q = Rollup.sumCountSinkPartitioned(
      input.toDF().toDF("k", "v"), keyCols = Seq("k"), sumCols = Seq("v"),
      base, "roll", streamId = "p1", checkpointDir = ckpt, nParts = nParts)
      .start()
    def partFiles(): Map[Int, Set[String]] = (0 until nParts).flatMap { p =>
      ManifestTable.schemaOf(spark, base, s"roll.p$p").map(s =>
        p -> ManifestTable.read(spark, base, s"roll.p$p", schema = Some(s))
          .inputFiles.toSet)
    }.toMap
    try {
      input.addData((0 until 16).map(i => (s"k$i", i.toLong)): _*)
      q.processAllAvailable()
      val before = partFiles()
      assert(before.size >= 2, "16 hashed keys must span several partitions")
      // Touch exactly one key — only its partition may move.
      input.addData(("k0", 100L))
      q.processAllAvailable()
      val after = partFiles()
      val p0 = spark.range(1).select(pmod(TextFunctions.hash60(
          lit("k0")), lit(nParts.toLong)).cast("int")).head().getInt(0)
      assert(after(p0) != before(p0), "the touched partition must rewrite")
      for ((p, fs) <- before if p != p0)
        assert(after(p) == fs,
          s"partition $p held no touched key — its files must not move")
      // The merged rollup is still exact — readPartitioned DISCOVERS
      // the subtables, no partition count to get wrong.
      val all = Rollup.readPartitioned(spark, base, "roll")
        .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
        .toMap
      assert(all("k0") == ((2L, 100L)))
      assert(all("k7") == ((1L, 7L)) && all.size == 16)
      // Both batches sealed their txns atomically across partitions.
      assert(ManifestTable.committedTxns(spark, base)
        .intersect(Set("p1-0", "p1-1")) == Set("p1-0", "p1-1"))
      // The layout marker is constant — batch 0 wrote it; batch 1
      // must NOT have re-committed a fresh marker file (needless data
      // file + manifest entry per batch otherwise). Counted ON DISK:
      // each commit writes a fresh txn-stamped data dir, and a
      // read-back would see only the LATEST snapshot's single live
      // file even if every batch re-committed the marker.
      assert(ManifestTable.schemaOf(spark, base, "roll.nparts").isDefined,
        "marker subtable must exist")
      val markerDataDirs = new java.io.File(s"$base/roll.nparts/data")
        .listFiles().filter(_.isDirectory)
      assert(markerDataDirs.length == 1,
        s"marker must be written exactly once, found " +
          s"${markerDataDirs.length} commit dirs")
    } finally q.stop()

    // Restarting against the same table with a DIFFERENT nParts would
    // re-hash keys into other subtables and split their sums — the
    // recorded layout marker must refuse it.
    val ckpt2 = java.nio.file.Files.createTempDirectory("prollup-ck2")
      .toString
    val input2 = MemoryStream[(String, Long)](spark)
    val q2 = Rollup.sumCountSinkPartitioned(
      input2.toDF().toDF("k", "v"), keyCols = Seq("k"), sumCols = Seq("v"),
      base, "roll", streamId = "p2", checkpointDir = ckpt2, nParts = 8)
      .start()
    try {
      input2.addData(("k0", 1L))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("re-hash") ||
        Option(e.getCause).exists(_.getMessage.contains("re-hash")))
    } finally q2.stop()
  }

  test("readPartitionedTopK: exact trending top-k from the maintained snapshot") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("topk").toString
    val ckpt = java.nio.file.Files.createTempDirectory("topk-ck").toString
    val input = MemoryStream[(String, String, Long)](spark)
    val q = Rollup.sumCountSinkPartitioned(
      input.toDF().toDF("src", "term", "v"), keyCols = Seq("src", "term"),
      sumCols = Seq("v"), base, "tr", streamId = "tk1",
      checkpointDir = ckpt, nParts = 4).start()
    try {
      input.addData(("a", "x", 1L), ("a", "x", 1L), ("a", "y", 1L),
        ("b", "p", 1L))
      q.processAllAvailable()
      // Second batch flips a's leader to y and introduces z.
      input.addData(("a", "y", 1L), ("a", "y", 1L), ("a", "z", 1L),
        ("b", "q", 1L))
      q.processAllAvailable()
    } finally q.stop()
    val topDf = Rollup.readPartitionedTopK(spark, base, "tr",
      Seq("src"), Seq("term"), "n_rows", 2)
    val top = topDf
      .select(col("src"), col("rank"), col("term"), col("n_rows"))
      .as[(String, Int, String, Long)].collect().toSet
    // a: y=3, x=2 (z=1 drops); b: p=1, q=1 — term ASC breaks the tie.
    assert(top == Set(("a", 1, "y", 3L), ("a", 2, "x", 2L),
      ("b", 1, "p", 1L), ("b", 2, "q", 1L)))
    // The maintained sums ride along as payload columns.
    val sums = topDf.select(col("src"), col("term"), col("sum_v"))
      .as[(String, String, Long)].collect().toSet
    assert(sums == Set(("a", "y", 3L), ("a", "x", 2L),
      ("b", "p", 1L), ("b", "q", 1L)))
  }

  test("quantileSink: streamed bucket merge == batch sketch, bit-exact") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("qmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("qmv-ck").toString
    val input = MemoryStream[(String, Long)](spark)
    val q = Rollup.quantileSink(
      input.toDF().toDF("source", "n_tokens"),
      keyCols = Seq("source"), valueCol = "n_tokens",
      base, "lens", streamId = "q1", checkpointDir = ckpt).start()
    val b1 = (1L to 500L).map(v => ("web", v)) ++
      (1L to 80L).map(v => ("books", v * 100L))
    val b2 = (400L to 900L).map(v => ("web", v))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val snapshot = ManifestTable.read(spark, base, "lens")
    val streamedState = snapshot.as[(String, Int, Long)].collect().sorted.toSeq
    val batchState = Sketches.lhBuckets(
        (b1 ++ b2).toDF("source", "n_tokens"), col("n_tokens"), Seq("source"))
      .as[(String, Int, Long)].collect().sorted.toSeq
    assert(streamedState == batchState) // bucket sum-merge ≡ one-pass state
    // Estimates off the maintained state are sane: web true p50 over
    // 1..500 ∪ 400..900 (1001 values) is ~450; sketch is ≤12.5% under.
    val est = Sketches.lhQuantiles(snapshot, Seq("source"), Seq(0.5))
      .as[(String, Double, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4)).toMap
    assert(est("web")._1 == 1001L)
    assert(est("web")._2 > 350L && est("web")._2 <= 450L)
    assert(est("books")._1 == 80L)
  }

  test("cmSink: streamed counter merge == batch sketch; estimates serve live") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("cmmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("cmmv-ck").toString
    val input = MemoryStream[(String, String)](spark)
    val q = Rollup.cmSink(
      input.toDF().toDF("day", "url"),
      keyCols = Seq("day"), countedCol = "url",
      base, "hits", streamId = "c1", checkpointDir = ckpt).start()
    val b1 = (1 to 60).map(i => ("mon", s"u${i % 12}"))
    val b2 = (1 to 40).map(i => ("mon", s"u${i % 8}"))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = ManifestTable.read(spark, base, "hits")
      .as[(String, Int, Int, Long)].collect().sorted.toSeq
    val batch = Sketches.cmRegisters(
        (b1 ++ b2).toDF("day", "url"), col("url"), Seq("day"))
      .as[(String, Int, Int, Long)].collect().sorted.toSeq
    assert(streamed == batch) // counter sum-merge ≡ one-pass sketch
    // Point estimates off the MV: u0 appeared 5 + 5 = 10 times.
    val est = Sketches.cmEstimate(
        ManifestTable.read(spark, base, "hits"),
        Seq(("mon", "u0")).toDF("day", "url"), "url", Seq("day"))
      .collect().head.getLong(2)
    assert(est >= 10L && est <= 12L)
  }

  test("mgSink: streamed MG merge == sequential fold; true heavies " +
      "guaranteed present") {
    import graft.operators.Sketches
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("mgmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mgmv-ck").toString
    val input = MemoryStream[(String, String)](spark)
    val k = 4
    val q = Rollup.mgSink(
      input.toDF().toDF("day", "tok"),
      keyCols = Seq("day"), itemCol = "tok", k = k,
      base, "heavy", streamId = "m1", checkpointDir = ckpt).start()
    // "H" is heavy (50 of 110 > N/(k+1) = 22); the u* tail churns.
    val b1 = Seq.fill(30)(("mon", "H")) ++
      (1 to 30).map(i => ("mon", s"u${i % 10}"))
    val b2 = Seq.fill(20)(("mon", "H")) ++
      (1 to 30).map(i => ("mon", s"u${i % 6}"))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = ManifestTable.read(spark, base, "heavy")
      .as[(String, String, Long)].collect().sorted.toSeq
    // MG weights are order-dependent (q156's gate makes the same
    // point), so the spec pins the DETERMINISTIC contract of the
    // maintained view, not the incidental weights:
    // 1. state is ≤ k rows per key, all weights positive lower bounds;
    assert(streamed.size <= k)
    assert(streamed.forall(_._3 > 0L))
    val exact = (b1 ++ b2).groupBy(_._2).view.mapValues(_.size.toLong)
    assert(streamed.forall { case (_, item, wt) => wt <= exact(item) })
    // 2. every item with true count > N/(k+1) is present, with its
    //    lower bound within N/(k+1) of the exact count.
    val n = (b1 ++ b2).size.toLong
    val h = streamed.find(_._2 == "H")
    assert(h.isDefined, "true heavy hitter must be in the summary")
    assert(h.get._3 >= 50L - n / (k + 1))
  }

  test("bloomSink: streamed OR-merge == batch filter; negatives stay exact") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("bloommv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("bloommv-ck").toString
    val input = MemoryStream[(String, String)](spark)
    val q = Rollup.bloomSink(
      input.toDF().toDF("day", "url"),
      keyCols = Seq("day"), memberCol = "url",
      base, "seen", streamId = "b1", checkpointDir = ckpt).start()
    val b1 = (1 to 500).map(i => ("mon", s"u$i"))
    val b2 = (400 to 900).map(i => ("mon", s"u$i"))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = ManifestTable.read(spark, base, "seen")
      .as[(String, Int, Long)].collect().sorted.toSeq
    val batch = Sketches.bloomBits(
        (b1 ++ b2).toDF("day", "url"), col("url"), Seq("day"))
      .as[(String, Int, Long)].collect().sorted.toSeq
    assert(streamed == batch) // word OR-merge ≡ one-pass filter
    val probe = Seq(("mon", "u1"), ("mon", "u900"), ("mon", "nope"))
      .toDF("day", "url")
    val got = Sketches.bloomMightContain(
        ManifestTable.read(spark, base, "seen"), probe, "url", Seq("day"))
      .collect().map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(got == Map("u1" -> true, "u900" -> true, "nope" -> false))
  }

  test("hllDistinctSink: streamed register merge == batch sketch, bit-exact") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("hllmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hllmv-ck").toString
    val input = MemoryStream[(String, Long)](spark)
    val q = Rollup.hllDistinctSink(
      input.toDF().toDF("day", "user_id"),
      keyCols = Seq("day"), distinctCol = "user_id",
      base, "users", streamId = "h1", checkpointDir = ckpt).start()
    val b1 = (1L to 400L).map(u => ("mon", u)) ++ (1L to 50L).map(u => ("tue", u))
    val b2 = (200L to 600L).map(u => ("mon", u)) // overlaps 200-400
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Sketches.hllEstimate(
        ManifestTable.read(spark, base, "users"), Seq("day"))
      .select(col("day"), col("estimate"))
      .as[(String, Double)].collect().toMap
    val batch = Sketches.hllDistinct(
        (b1 ++ b2).toDF("day", "user_id"), col("user_id").cast("string"),
        Seq("day"))
      .select(col("day"), col("estimate"))
      .as[(String, Double)].collect().toMap
    assert(streamed == batch) // register max-merge ≡ one-pass sketch
    // And the estimates are in a sane band around the true 600 / 50.
    assert(streamed("mon") > 350 && streamed("mon") < 900)
    assert(streamed("tue") > 25 && streamed("tue") < 90)
  }

  test("kmvDistinctSink: streamed union+retruncate == one-pass sketch, bit-exact") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("kmvmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("kmvmv-ck").toString
    val input = MemoryStream[(String, Long)](spark)
    val q = Rollup.kmvDistinctSink(
      input.toDF().toDF("day", "user_id"),
      keyCols = Seq("day"), distinctCol = "user_id", k = 32,
      base, "users", streamId = "k1", checkpointDir = ckpt).start()
    val b1 = (1L to 400L).map(u => ("mon", u)) ++
      (1L to 20L).map(u => ("tue", u))
    val b2 = (200L to 600L).map(u => ("mon", u)) // overlaps 200-400
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = Sketches.kmvEstimate(
        ManifestTable.read(spark, base, "users"), Seq("day"), 32)
      .select(col("day"), col("n_kept"), col("estimate"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val batch = Sketches.kmvEstimate(
        Sketches.kmvSketch((b1 ++ b2).toDF("day", "user_id"),
          col("user_id").cast("string"), Seq("day"), 32),
        Seq("day"), 32)
      .select(col("day"), col("n_kept"), col("estimate"))
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(streamed == batch) // union + re-truncate ≡ one-pass sketch
    // tue never filled (20 < 32): the estimate is EXACT.
    assert(streamed("tue") == ((20L, 20.0)))
    assert(streamed("mon")._1 == 32L)
    assert(streamed("mon")._2 > 300 && streamed("mon")._2 < 1200)
  }

  test("quadkeySink: streamed tile heatmap == batch leaf census") {
    import graft.operators.Spatial
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("qkmv").toString
    val ckpt = java.nio.file.Files.createTempDirectory("qkmv-ck").toString
    val input = MemoryStream[(Long, Long)](spark)
    val q = Rollup.quadkeySink(input.toDF().toDF("x", "y"),
      "x", "y", extent = 100L, levels = 3,
      base, "tiles", streamId = "qk1", checkpointDir = ckpt).start()
    val b1 = Seq((0L, 0L), (0L, 0L), (99L, 99L))
    val b2 = Seq((0L, 0L), (50L, 0L), (99L, 99L))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = ManifestTable.read(spark, base, "tiles")
      .select(col("quadkey"), col("n_rows"))
      .as[(String, Long)].collect().toMap
    val batch = Spatial.quadkeyCensus((b1 ++ b2).toDF("x", "y"),
        "x", "y", extent = 100L, levels = 3)
      .filter(col("zoom") === 3)
      .select(col("quadkey"), col("n_points"))
      .as[(String, Long)].collect().toMap
    assert(streamed == batch)
    assert(streamed("000") == 3L && streamed("333") == 2L &&
      streamed("100") == 1L)
  }

  test("syncFromChanges follows the upstream change feed exactly once, deletes included") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val up = java.nio.file.Files.createTempDirectory("graft-cdf-up").toString
    val dn = java.nio.file.Files.createTempDirectory("graft-cdf-dn").toString
    def rollup(): Map[String, (Long, Long)] =
      ManifestTable.read(spark, dn, "by_src",
          schema = Some(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("src",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("n_rows",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("sum_v",
              org.apache.spark.sql.types.LongType)))))
        .select("src", "n_rows", "sum_v")
        .as[(String, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
    // The floating-point sum, compared bit for bit across a rewrite.
    def sumW(): Map[String, Long] =
      ManifestTable.read(spark, dn, "by_src").select("src", "sum_w")
        .as[(String, Double)].collect()
        .map(r => r._1 -> java.lang.Double.doubleToRawLongBits(r._2)).toMap
    def sync(): Option[(Long, Long)] = Rollup.syncFromChanges(
      spark, up, "docs", Seq("src"), Seq("v", "w"), dn, "by_src")

    // Nothing upstream yet: no-op.
    assert(sync().isEmpty)
    // v1: two sources land.
    ManifestTable.commit(Seq((1L, "a", 10L, 0.1), (2L, "a", 20L, 0.2), (3L, "b", 5L, 0.3))
      .toDF("id", "src", "v", "w").repartition(1), up, "docs", "t1")
    assert(sync().contains((0L, 1L)))
    assert(rollup() == Map("a" -> ((2L, 30L)), "b" -> ((1L, 5L))))
    // Caught up: replay is a no-op (watermark advanced with the data).
    assert(sync().isEmpty)
    // v2 append + v3 takedown of doc 1: one poll absorbs both; the
    // delete propagates and source b's key leaves the rollup.
    ManifestTable.commit(Seq((4L, "a", 7L, 0.7)).toDF("id", "src", "v", "w")
      .repartition(1), up, "docs", "t2")
    assert(ManifestTable.deleteWhere(spark, up, "docs",
      col("src") === "b", "del-b").map(_.deletedRows).contains(1L))
    assert(sync().contains((1L, 3L)))
    assert(rollup() == Map("a" -> ((3L, 37L))))
    assert(sync().isEmpty)
    // A commit to a SIBLING upstream table advances the watermark
    // with a state-only commit — the rollup snapshot files must not
    // rewrite for an empty window.
    val filesBefore = ManifestTable.read(spark, dn, "by_src")
      .inputFiles.toSet
    ManifestTable.commit(Seq((9L, "x", 1L)).toDF("id", "src", "v"),
      up, "unrelated", "t-other")
    assert(sync().contains((3L, 4L)))
    assert(ManifestTable.read(spark, dn, "by_src")
      .inputFiles.toSet == filesBefore)
    assert(rollup() == Map("a" -> ((3L, 37L))))
    assert(sync().isEmpty)
    // An upstream optimize rewrites files (delete + re-insert of the
    // same rows): the window nets to zero, so it commits state-only —
    // the snapshot files and the Double sum stay bit for bit.
    ManifestTable.commit(Seq((5L, "a", 1L, 0.01)).toDF("id", "src", "v", "w")
      .repartition(1), up, "docs", "t5")
    assert(sync().contains((4L, 5L)))
    assert(rollup() == Map("a" -> ((4L, 38L))))
    assert(math.abs(java.lang.Double.longBitsToDouble(sumW()("a")) - 1.01) < 1e-9)
    val filesAtV5 = ManifestTable.read(spark, dn, "by_src").inputFiles.toSet
    val wAtV5 = sumW()
    assert(ManifestTable.optimize(spark, up, "docs", "opt-1")
      .exists(_.filesCompacted >= 2))
    assert(sync().contains((5L, 6L)))
    assert(rollup() == Map("a" -> ((4L, 38L))))
    assert(sumW() == wAtV5)
    assert(ManifestTable.read(spark, dn, "by_src").inputFiles.toSet == filesAtV5)
    // An append of a zero-row frame is classified from its `rows:`
    // line: state-only commit, snapshot files untouched, watermark on.
    val filesAtV6 = ManifestTable.read(spark, dn, "by_src").inputFiles.toSet
    ManifestTable.commit(Seq.empty[(Long, String, Long, Double)].toDF("id", "src", "v", "w"),
      up, "docs", "t-empty")
    assert(sync().contains((6L, 7L)))
    assert(ManifestTable.read(spark, dn, "by_src").inputFiles.toSet == filesAtV6)
    assert(ManifestTable.lastState(spark, dn).contains("7"))
    assert(rollup() == Map("a" -> ((4L, 38L))))
    assert(sync().isEmpty)
    // The one-aggregate merge keeps the rollup's column types.
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
    assert(ManifestTable.schemaOf(spark, dn, "by_src").map(_.map(f => f.name -> f.dataType))
      .contains(Seq("src" -> StringType, "n_rows" -> LongType, "sum_v" -> LongType,
        "sum_w" -> DoubleType)))
  }
}
