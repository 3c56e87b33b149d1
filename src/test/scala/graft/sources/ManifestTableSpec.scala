package graft.sources

import graft.SparkSpec

/** The T7 exactly-once close: crash-injection around the manifest
  * commit point. Data files land before the manifest rename; a crash
  * in that window must leave the table (and its state payload) exactly
  * as before, and the re-run must apply the batch exactly once. */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpBase(): String =
    java.nio.file.Files.createTempDirectory("graft-manifest").toString

  test("commit appends atomically and re-running the same txn is a no-op") {
    val base = tmpBase()
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(ManifestTable.commit(b1, base, "t", "txn-1") == 2L)
    // Same txn again — even with different (retried) data, no-op.
    assert(ManifestTable.commit(b1, base, "t", "txn-1") == 0L)
    val b2 = Seq((3L, "c")).toDF("id", "v")
    assert(ManifestTable.commit(b2, base, "t", "txn-2") == 1L)
    val out = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(ManifestTable.committedTxns(spark, base) == Set("txn-1", "txn-2"))
  }

  test("crash between data write and manifest commit: invisible, rerun applies once") {
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t", "txn-1")
    val batch = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    // Kill the job after the data files are durable but before the
    // commit rename — the exact window appendDedup-style sinks double
    // -apply in.
    intercept[RuntimeException] {
      ManifestTable.commit(batch, base, "t", "txn-2",
        beforeCommit = () => throw new RuntimeException("kill -9"))
    }
    // Orphan files exist on disk but no reader sees them.
    val afterCrash = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet
    assert(afterCrash == Set((1L, "a")))
    // Re-run the sync: applied exactly once, no dupes.
    assert(ManifestTable.commit(batch, base, "t", "txn-2") == 2L)
    assert(ManifestTable.commit(batch, base, "t", "txn-2") == 0L)
    val afterRerun = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSeq
    assert(afterRerun.sorted == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // Vacuum reclaims the crashed attempt's orphan directory only.
    assert(ManifestTable.vacuum(spark, base, "t") == 1)
    val afterVacuum = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSeq
    assert(afterVacuum.sorted == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("state payload advances atomically with its data") {
    val base = tmpBase()
    assert(ManifestTable.lastState(spark, base).isEmpty)
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t",
      "sync-1", state = Some("watermark=10"))
    assert(ManifestTable.lastState(spark, base).contains("watermark=10"))
    // Crash before commit: NEITHER the data nor the watermark moved —
    // the pair cannot diverge.
    intercept[RuntimeException] {
      ManifestTable.commit(Seq((2L, "b")).toDF("id", "v"), base, "t",
        "sync-2", state = Some("watermark=20"),
        beforeCommit = () => throw new RuntimeException("crash"))
    }
    assert(ManifestTable.lastState(spark, base).contains("watermark=10"))
    assert(ManifestTable.read(spark, base, "t").count() == 1L)
    // Rerun: both advance together.
    ManifestTable.commit(Seq((2L, "b")).toDF("id", "v"), base, "t",
      "sync-2", state = Some("watermark=20"))
    assert(ManifestTable.lastState(spark, base).contains("watermark=20"))
    assert(ManifestTable.read(spark, base, "t").count() == 2L)
  }

  test("multi-table commit: appends + state snapshot are one atomic unit") {
    val base = tmpBase()
    val st0 = Seq(("d1", 1L)).toDF("dev", "n")
    val n1 = ManifestTable.commitMulti(spark, base, "sync-1",
      appends = Map(
        "status" -> Seq(("d1", 10L)).toDF("dev", "v"),
        "summary" -> Seq(("d1", 100L)).toDF("dev", "tot")),
      snapshots = Map("state" -> st0))
    assert(n1 == Map("status" -> 1L, "summary" -> 1L, "state" -> 1L))
    // Crash mid-sync: NO table advanced, snapshot unchanged.
    intercept[RuntimeException] {
      ManifestTable.commitMulti(spark, base, "sync-2",
        appends = Map(
          "status" -> Seq(("d1", 11L), ("d2", 20L)).toDF("dev", "v"),
          "summary" -> Seq(("d2", 200L)).toDF("dev", "tot")),
        snapshots = Map("state" ->
          Seq(("d1", 2L), ("d2", 1L)).toDF("dev", "n")),
        beforeCommit = () => throw new RuntimeException("kill -9"))
    }
    assert(ManifestTable.read(spark, base, "status").count() == 1L)
    assert(ManifestTable.read(spark, base, "summary").count() == 1L)
    assert(ManifestTable.read(spark, base, "state")
      .as[(String, Long)].collect().toSet == Set(("d1", 1L)))
    // Rerun: everything advances together; snapshot REPLACES.
    ManifestTable.commitMulti(spark, base, "sync-2",
      appends = Map(
        "status" -> Seq(("d1", 11L), ("d2", 20L)).toDF("dev", "v"),
        "summary" -> Seq(("d2", 200L)).toDF("dev", "tot")),
      snapshots = Map("state" ->
        Seq(("d1", 2L), ("d2", 1L)).toDF("dev", "n")))
    assert(ManifestTable.read(spark, base, "status").count() == 3L)
    assert(ManifestTable.read(spark, base, "state")
      .as[(String, Long)].collect().toSet == Set(("d1", 2L), ("d2", 1L)))
    // And the txn is sealed — a third run is a recorded no-op.
    assert(ManifestTable.commitMulti(spark, base, "sync-2",
      appends = Map("status" -> Seq(("dX", 0L)).toDF("dev", "v"))).isEmpty)
    assert(ManifestTable.read(spark, base, "status").count() == 3L)
  }

  test("read with schema on an empty table; version numbering is contiguous") {
    val base = tmpBase()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    assert(ManifestTable.read(spark, base, "empty", Some(schema)).count() == 0L)
    intercept[java.io.FileNotFoundException] {
      ManifestTable.read(spark, base, "empty")
    }
  }

  test("asOfVersion time-travels appends and snapshots; truncation fails loudly") {
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t", "x1") // v1
    ManifestTable.commit(Seq((2L, "b")).toDF("id", "v"), base, "t", "x2") // v2
    ManifestTable.commitMulti(spark, base, "x3",                          // v3
      snapshots = Map("t" -> Seq((9L, "z")).toDF("id", "v")))
    def at(v: Long) = ManifestTable.read(spark, base, "t", asOfVersion = Some(v))
      .as[(Long, String)].collect().toSet
    assert(at(1L) == Set((1L, "a")))
    assert(at(2L) == Set((1L, "a"), (2L, "b")))
    assert(at(3L) == Set((9L, "z"))) // snapshot replaced
    assert(ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet == Set((9L, "z")))
    // After compact + truncate, pre-checkpoint history is gone — the
    // request must fail loudly, not silently return partial data.
    ManifestTable.compact(spark, base)
    assert(ManifestTable.truncateLog(spark, base) == 3)
    intercept[IllegalArgumentException] { at(2L) }
  }

  test("restore rolls back zero-copy: old files re-referenced, history intact") {
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t", "r1") // v1
    ManifestTable.commit(Seq((2L, "b")).toDF("id", "v"), base, "t", "r2") // v2
    ManifestTable.commitMulti(spark, base, "r3",                          // v3
      snapshots = Map("t" -> Seq((9L, "bad")).toDF("id", "v")))
    def now() = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet
    assert(now() == Set((9L, "bad")))
    val v2Files = ManifestTable.read(spark, base, "t",
      asOfVersion = Some(2L)).inputFiles.toSet
    // Roll back to v2 — a metadata commit, no data rewrite.
    val v = ManifestTable.restore(spark, base, "t", 2L, "restore-1")
    assert(v == 4L)
    assert(now() == Set((1L, "a"), (2L, "b")))
    assert(ManifestTable.read(spark, base, "t").inputFiles.toSet == v2Files,
      "restore must re-reference the v2 files, not rewrite them")
    // Replay is a sealed-txn no-op; the bad version stays readable.
    assert(ManifestTable.restore(spark, base, "t", 2L, "restore-1") == -1L)
    assert(ManifestTable.read(spark, base, "t", asOfVersion = Some(3L))
      .as[(Long, String)].collect().toSet == Set((9L, "bad")))
    // Stats ride along: a skip-read on the restored table still prunes.
    val skipped = ManifestTable.read(spark, base, "t",
      skipFilter = Some(org.apache.spark.sql.functions.col("id") >= 2L))
    assert(skipped.as[(Long, String)].collect().toSet == Set((2L, "b")))
    // vacuum (orphan cleanup) must keep every re-referenced file.
    ManifestTable.vacuum(spark, base, "t")
    assert(now() == Set((1L, "a"), (2L, "b")))
    // Restoring to before the table existed refuses loudly.
    intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, base, "missing", 1L, "restore-2")
    }
  }

  test("restore: racing first-schema commit aborts a schema-less restore") {
    val base = tmpBase()
    // Legacy history: two commits, then the schema lines stripped (a
    // pre-tracking table, as in the legacy-append spec below).
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t", "r1")
    ManifestTable.commit(Seq((2L, "b")).toDF("id", "v"), base, "t", "r2")
    val logDir = new java.io.File(s"$base/_log")
    logDir.listFiles.foreach { f =>
      val kept = scala.io.Source.fromFile(f).getLines()
        .filterNot(_.startsWith("schema:")).mkString("", "\n", "\n")
      java.nio.file.Files.writeString(f.toPath, kept)
    }
    // The entry guard passes (no commit anywhere stamps a schema), but
    // a racing snapshot stamps the table's FIRST schema between the
    // entry check and the slot claim. The per-attempt re-guard must
    // abort — if the schema-less restore manifest landed after the
    // racer, reads would resolve the racer's schema and misapply it to
    // the legacy v1 files (exactly what the guard exists to prevent).
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.restore(spark, base, "t", 1L, "restore-race",
        beforeCommit = () => { ManifestTable.commitMulti(spark, base,
          "racer", snapshots = Map("t" -> Seq((3L, "c")).toDF("id", "v")))
          () })
    }
    assert(ex.getMessage.contains("stamped one"))
    // The aborted restore left no trace: txn unsealed, the racer's
    // snapshot (and its schema) is the table's state.
    assert(!ManifestTable.committedTxns(spark, base).contains("restore-race"))
    assert(ManifestTable.schemaOf(spark, base, "t").isDefined)
    assert(ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet == Set((3L, "c")))
  }

  test("empty frames commit a schema-bearing file, never a file-less snapshot") {
    val base = tmpBase()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val noPartitions = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // Spark's parquet writer emits a schema-only file even for a
    // zero-partition frame, so the commit lands with 0 rows and the
    // table stays readable WITHOUT a supplied schema. (If a format
    // ever wrote no files at all, commitMulti's files.nonEmpty guard
    // refuses rather than durably truncating the table.)
    assert(ManifestTable.commitMulti(spark, base, "txn-1",
      snapshots = Map("t" -> noPartitions)) == Map("t" -> 0L))
    assert(ManifestTable.read(spark, base, "t").count() == 0L)
    assert(ManifestTable.committedTxns(spark, base) == Set("txn-1"))
  }

  test("checkpoint compaction bounds the log; truncate keeps reads intact") {
    val base = tmpBase()
    spark.conf.set("graft.manifest.compactEvery", "4")
    try {
      // 9 commits: appends to t, periodic state snapshots + payloads.
      // Auto-compaction fires at v4 and v8.
      (1 to 9).foreach { i =>
        if (i % 3 == 0)
          ManifestTable.commitMulti(spark, base, s"txn-$i",
            appends = Map("t" -> Seq((i.toLong, s"v$i")).toDF("id", "v")),
            snapshots = Map("state" -> Seq((s"w$i", i.toLong)).toDF("k", "n")),
            state = Some(s"watermark=$i"))
        else
          ManifestTable.commit(Seq((i.toLong, s"v$i")).toDF("id", "v"),
            base, "t", s"txn-$i")
      }
      val logDir = new java.io.File(s"$base/_log")
      def logFiles(p: String) = logDir.listFiles.map(_.getName)
        .filter(_.matches(p)).sorted.toSeq
      assert(logFiles("ckpt_v\\d{20}").size == 2)

      def checkAll(): Unit = {
        assert(ManifestTable.read(spark, base, "t")
          .as[(Long, String)].collect().toSet ==
          (1 to 9).map(i => (i.toLong, s"v$i")).toSet)
        assert(ManifestTable.read(spark, base, "state")
          .as[(String, Long)].collect().toSet == Set(("w9", 9L)))
        assert(ManifestTable.lastState(spark, base).contains("watermark=9"))
        assert(ManifestTable.committedTxns(spark, base) ==
          (1 to 9).map(i => s"txn-$i").toSet)
      }
      checkAll()

      // Drop the manifests the v8 checkpoint covers; v9 survives.
      assert(ManifestTable.truncateLog(spark, base) == 8)
      assert(logFiles("v\\d{20}") == Seq(f"v${9}%020d"))
      checkAll()

      // Vacuum after truncation only reclaims pre-checkpoint history
      // (superseded state snapshots), never live files: the checkpoint
      // is now their only reference and must count.
      ManifestTable.vacuum(spark, base, "state")
      ManifestTable.vacuum(spark, base, "t")
      checkAll()

      // Commits continue past the checkpoint with contiguous versions,
      // and sealed ids stay sealed (sourced from the checkpoint).
      assert(ManifestTable.commit(Seq((5L, "dup")).toDF("id", "v"),
        base, "t", "txn-5") == 0L)
      ManifestTable.commit(Seq((10L, "v10")).toDF("id", "v"), base, "t", "txn-10")
      assert(logFiles("v\\d{20}").contains(f"v${10}%020d"))
      assert(ManifestTable.read(spark, base, "t").count() == 10L)
    } finally spark.conf.unset("graft.manifest.compactEvery")
  }

  test("skipFilter prunes files by committed min/max stats, never rows") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // Three commits with disjoint ts ranges → three one-file batches.
    Seq(0L until 100L, 100L until 200L, 200L until 300L)
      .zipWithIndex.foreach { case (r, i) =>
        ManifestTable.commit(
          r.map(t => (t, s"e$t")).toDF("ts", "v").repartition(1),
          base, "ev", s"txn-$i")
      }
    val all = ManifestTable.read(spark, base, "ev")
    assert(all.inputFiles.length == 3)

    // Watermark read: only the last file is opened, rows are exact.
    val wm = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("ts") >= lit(250L)))
    assert(wm.inputFiles.length == 1)
    assert(wm.select("ts").as[Long].collect().toSet == (250L until 300L).toSet)

    // Literal-first spelling flips the operator, same pruning.
    val flip = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(lit(99L) >= col("ts")))
    assert(flip.inputFiles.length == 1 && flip.count() == 100L)

    // Conjunction: each conjunct prunes independently.
    val mid = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("ts") >= lit(100L) && col("ts") < lit(150L)))
    assert(mid.inputFiles.length == 1 && mid.count() == 50L)

    // A predicate no file can satisfy: zero rows, schema intact,
    // and at most one footer opened for the schema.
    val none = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("ts") > lit(10000L)))
    assert(none.count() == 0L && none.columns.toSeq == Seq("ts", "v"))
    assert(none.inputFiles.length <= 1)

    // String stats prune too (unsigned byte order): 'e7' sorts inside
    // [e0,e99] only — files 2 and 3 ([e100,e199], [e200,e299]) skip.
    val str = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("v") === lit("e7")))
    assert(str.inputFiles.length == 1 && str.count() == 1L)
    // Unprunable shapes (computed expr) degrade to a plain filter over
    // every file — same rows as filter-after-read.
    val exprPred = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("ts") % 100 === lit(0L)))
    assert(exprPred.inputFiles.length == 3 && exprPred.count() == 3L)
  }

  test("string-column skipping: source reads prune like hive partitions") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // Three commits, one source each — the cluster-by-source layout.
    Seq("arxiv", "github", "web").foreach { s =>
      ManifestTable.commit(
        (0 until 50).map(j => (s, j.toLong)).toDF("source", "n")
          .repartition(1), base, "docs", s"txn-$s")
    }
    val one = ManifestTable.read(spark, base, "docs",
      skipFilter = Some(col("source") === lit("github")))
    assert(one.inputFiles.length == 1 && one.count() == 50L)
    assert(one.select("source").distinct().as[String].collect().toSeq ==
      Seq("github"))
    // Range predicates prune on byte order; literal-first flips.
    val le = ManifestTable.read(spark, base, "docs",
      skipFilter = Some(col("source") < lit("b")))
    assert(le.inputFiles.length == 1 && le.count() == 50L)
    val flip = ManifestTable.read(spark, base, "docs",
      skipFilter = Some(lit("web") <= col("source")))
    assert(flip.inputFiles.length == 1 && flip.count() == 50L)
    // No file can match: zero rows, schema intact.
    val none = ManifestTable.read(spark, base, "docs",
      skipFilter = Some(col("source") === lit("zzz")))
    assert(none.count() == 0L && none.inputFiles.length <= 1)
    // Non-ASCII round-trips through the hex encoding; unsigned byte
    // order keeps multi-byte UTF-8 above ASCII.
    ManifestTable.commit(Seq(("中文語料", 1L)).toDF("source", "n")
      .repartition(1), base, "docs", "txn-zh")
    val zh = ManifestTable.read(spark, base, "docs",
      skipFilter = Some(col("source") === lit("中文語料")))
    assert(zh.inputFiles.length == 1 && zh.count() == 1L)
    val ascii = ManifestTable.read(spark, base, "docs",
      skipFilter = Some(col("source") === lit("web")))
    assert(ascii.inputFiles.length == 1 && ascii.count() == 50L)
  }

  test("schema evolution: add-column appends null-fill old files; drops and retypes refuse") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t", "txn-1")
    // Add a column: old files read back with NULL in the new slot.
    ManifestTable.commit(Seq((2L, "b", 0.5)).toDF("id", "v", "score"),
      base, "t", "txn-2")
    val out = ManifestTable.read(spark, base, "t")
    assert(out.columns.toSeq == Seq("id", "v", "score"))
    assert(out.as[(Long, String, Option[Double])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(0.5))))
    assert(ManifestTable.schemaOf(spark, base, "t").exists(
      _.fieldNames.toSeq == Seq("id", "v", "score")))
    // Time travel sees the schema AS OF that version.
    assert(ManifestTable.read(spark, base, "t", asOfVersion = Some(1L))
      .columns.toSeq == Seq("id", "v"))
    // Dropping an existing column is not an append.
    val drop = intercept[IllegalArgumentException] {
      ManifestTable.commit(Seq(3L).toDF("id"), base, "t", "txn-3")
    }
    assert(drop.getMessage.contains("add-column only"))
    // Neither is changing a column's type.
    val retype = intercept[IllegalArgumentException] {
      ManifestTable.commit(Seq((3, "c", 0.1)).toDF("id", "v", "score"),
        base, "t", "txn-3")
    }
    assert(retype.getMessage.contains("add-column only"))
    // A snapshot replaces contents wholesale and may reshape freely.
    ManifestTable.commitMulti(spark, base, "txn-4",
      snapshots = Map("t" -> Seq(("x", true)).toDF("name", "flag")))
    assert(ManifestTable.read(spark, base, "t").columns.toSeq ==
      Seq("name", "flag"))
    // New-column stats still prune once every live file carries them.
    val bySc = ManifestTable.commitMulti(spark, base, "txn-5",
      snapshots = Map("t" ->
        Seq((1L, 10L), (2L, 20L)).toDF("id", "ts").repartition(1)))
    assert(bySc("t") == 2L)
    ManifestTable.commit(Seq((3L, 30L), (4L, 40L)).toDF("id", "ts")
      .repartition(1), base, "t", "txn-6")
    val pruned = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("ts") >= lit(30L)))
    assert(pruned.inputFiles.length == 1 && pruned.count() == 2L)
  }

  test("appends to a legacy (pre-tracking) table do not stamp a schema line") {
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a", 9L)).toDF("id", "v", "extra"),
      base, "t", "txn-1")
    // Simulate a pre-tracking history: strip the schema line the
    // modern commit wrote.
    val logDir = new java.io.File(s"$base/_log")
    logDir.listFiles.foreach { f =>
      val kept = scala.io.Source.fromFile(f).getLines()
        .filterNot(_.startsWith("schema:")).mkString("", "\n", "\n")
      java.nio.file.Files.writeString(f.toPath, kept)
    }
    assert(ManifestTable.schemaOf(spark, base, "t").isEmpty)
    // An append with FEWER columns passes (no tracked schema to gate
    // against) but must NOT become the table's read schema — that
    // would hide the legacy 'extra' column from every later read.
    ManifestTable.commit(Seq((2L, "b")).toDF("id", "v"), base, "t", "txn-2")
    assert(ManifestTable.schemaOf(spark, base, "t").isEmpty)
    // A snapshot re-activates tracking (it replaces the contents).
    ManifestTable.commitMulti(spark, base, "txn-3",
      snapshots = Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    assert(ManifestTable.schemaOf(spark, base, "t").exists(
      _.fieldNames.toSeq == Seq("id", "v")))
  }

  test("float columns are excluded from skipping stats (promotion-unsafe)") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    (0 to 1).foreach { i =>
      ManifestTable.commit(
        Seq((i * 10L, 0.1f * i)).toDF("ts", "score").repartition(1),
        base, "t", s"txn-$i")
    }
    // The long column prunes; the float column must not (its shortest
    // decimal repr does not order consistently against Spark's
    // float→double promoted comparison).
    val byTs = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("ts") >= lit(10L)))
    assert(byTs.inputFiles.length == 1)
    val byScore = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("score") > lit(0.05)))
    assert(byScore.inputFiles.length == 2 && byScore.count() == 1L)
  }

  test("evolved schema survives checkpoint compaction and truncation") {
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t", "txn-1")
    ManifestTable.commit(Seq((2L, "b", 7L)).toDF("id", "v", "n"),
      base, "t", "txn-2")
    ManifestTable.compact(spark, base)
    ManifestTable.truncateLog(spark, base)
    val out = ManifestTable.read(spark, base, "t")
    assert(out.columns.toSeq == Seq("id", "v", "n"))
    assert(out.as[(Long, String, Option[Long])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some(7L))))
    // And the gate keeps holding for commits sourced from the checkpoint.
    val drop = intercept[IllegalArgumentException] {
      ManifestTable.commit(Seq((3L, "c")).toDF("id", "v"), base, "t", "txn-3")
    }
    assert(drop.getMessage.contains("add-column only"))
  }

  test("commitClustered makes per-file ranges disjoint so point reads open one file") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // Shuffled input: an unclustered write would put rows of every ts
    // range in every file and a predicate would prune nothing.
    val shuffled = new scala.util.Random(7).shuffle((0L until 320L).toList)
    ManifestTable.commitClustered(
      shuffled.map(t => (t, s"e$t")).toDF("ts", "v").repartition(8),
      base, "ev", "txn-0", clusterCol = "ts", numFiles = Some(8))
    val all = ManifestTable.read(spark, base, "ev")
    assert(all.inputFiles.length > 1 && all.count() == 320L)
    val point = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("ts") === lit(17L)))
    assert(point.inputFiles.length == 1 && point.count() == 1L)
    val range = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("ts") >= lit(300L)))
    assert(range.inputFiles.length < all.inputFiles.length)
    assert(range.count() == 20L)
  }

  test("commitZordered: predicates on EITHER column prune files") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // A 64×64 grid shuffled flat. Linear clustering on x would leave y
    // scattered across every file (a y-predicate prunes nothing);
    // z-order keeps both coordinates file-local.
    val grid = for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)
    val shuffled = new scala.util.Random(11).shuffle(grid.toList)
    ManifestTable.commitZordered(
      shuffled.toDF("x", "y").repartition(8),
      base, "g", "txn-0",
      cols = Seq(("x", 0L, 63L), ("y", 0L, 63L)), bits = 6,
      numFiles = Some(16))
    val all = ManifestTable.read(spark, base, "g")
    assert(all.inputFiles.length == 16 && all.count() == 4096L)
    // Pruning on x alone and on y alone both skip most files.
    val px = ManifestTable.read(spark, base, "g",
      skipFilter = Some(col("x") < lit(8L)))
    val py = ManifestTable.read(spark, base, "g",
      skipFilter = Some(col("y") < lit(8L)))
    assert(px.count() == 8 * 64L && py.count() == 8 * 64L)
    assert(px.inputFiles.length <= 8, s"x-prune kept ${px.inputFiles.length}")
    assert(py.inputFiles.length <= 8, s"y-prune kept ${py.inputFiles.length}")
    // A small box touches O(1) files, not O(all).
    val box = ManifestTable.read(spark, base, "g",
      skipFilter = Some(col("x") < lit(8L) && col("y") < lit(8L)))
    assert(box.count() == 64L && box.inputFiles.length <= 2,
      s"box kept ${box.inputFiles.length}")
    // The z column itself never leaks into the table.
    assert(all.columns.toSeq == Seq("x", "y"))
  }

  test("zorderKey interleaves bits and clamps out-of-range values") {
    import org.apache.spark.sql.functions._
    val df = Seq((0L, 0L), (63L, 63L), (1L, 0L), (0L, 1L), (-5L, 999L))
      .toDF("x", "y")
    val z = df.select(ManifestTable.zorderKey(
        Seq((col("x"), 0L, 63L), (col("y"), 0L, 63L)), 6).as("z"))
      .collect().map(_.getLong(0))
    assert(z(0) == 0L)                  // (0,0) → 0
    assert(z(1) == 4095L)               // (63,63) → all 12 bits set
    assert(z(2) == 1L && z(3) == 2L)    // x is bit 0, y is bit 1
    // (-5, 999) clamps to (0, 63): y bits land at odd positions
    // 1,3,5,7,9,11 → 2+8+32+128+512+2048.
    assert(z(4) == 2730L)
  }

  test("deleteWhere rewrites only stat-matching files; time travel and replay safe") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // Two key-disjoint files from two commits: the delete below can
    // prove from min/max stats alone that the first file has no
    // matching row.
    ManifestTable.commit((1L to 100L).map(i => (i, s"d$i")).toDF("id", "v")
      .repartition(1), base, "docs", "load-1")
    ManifestTable.commit((200L to 300L).map(i => (i, s"d$i")).toDF("id", "v")
      .repartition(1), base, "docs", "load-2")
    val filesBefore = ManifestTable.read(spark, base, "docs").inputFiles.toSet
    assert(filesBefore.size == 2)

    val res = ManifestTable.deleteWhere(spark, base, "docs",
      col("id") >= 250L, "takedown-1")
    assert(res.contains(ManifestTable.DeleteResult(51L, 1, 1)))
    val after = ManifestTable.read(spark, base, "docs")
    val filesAfter = after.inputFiles.toSet
    // The untouched file keeps its exact object-store path; the
    // candidate was rewritten to a new one.
    val keptFiles = filesBefore.intersect(filesAfter)
    assert(keptFiles.size == 1 && filesAfter.size == 2)
    assert(after.select("id").as[Long].collect().toSet ==
      ((1L to 100L) ++ (200L to 249L)).toSet)

    // Time travel reads the pre-delete table — the removed file is
    // still on disk and still referenced by the older manifest.
    val v2 = ManifestTable.read(spark, base, "docs", asOfVersion = Some(2L))
    assert(v2.count() == 201L)
    assert(ManifestTable.vacuum(spark, base, "docs") == 0)

    // Crash-replay of the same txn is a recorded no-op (even with a
    // different predicate).
    assert(ManifestTable.deleteWhere(spark, base, "docs",
      col("id") >= 0L, "takedown-1").isEmpty)
    assert(ManifestTable.read(spark, base, "docs").count() == 150L)

    // A delete that empties its candidate file commits pure removes —
    // no zero-row rewrite lands.
    val res2 = ManifestTable.deleteWhere(spark, base, "docs",
      col("id") >= 200L, "takedown-2")
    assert(res2.contains(ManifestTable.DeleteResult(50L, 1, 1)))
    val now = ManifestTable.read(spark, base, "docs")
    assert(now.inputFiles.toSet == keptFiles && now.count() == 100L)

    // A delete whose stats prove NO file matches seals its txn without
    // touching data.
    val res3 = ManifestTable.deleteWhere(spark, base, "docs",
      col("id") >= 5000L, "takedown-3")
    assert(res3.contains(ManifestTable.DeleteResult(0L, 0, 1)))
    assert(ManifestTable.deleteWhere(spark, base, "docs",
      col("id") >= 5000L, "takedown-3").isEmpty)

    // Checkpoint + truncate: the compacted view carries the deletes;
    // vacuum can then reclaim the dropped files' directories.
    ManifestTable.compact(spark, base)
    ManifestTable.truncateLog(spark, base)
    assert(ManifestTable.read(spark, base, "docs").count() == 100L)
    assert(ManifestTable.vacuum(spark, base, "docs") >= 1)
    assert(ManifestTable.read(spark, base, "docs").count() == 100L)
  }

  test("optimize bin-packs small files, preserves content, keeps big files put") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // One big file (200k rows, comfortably over the target) + four
    // tiny per-batch files — the streaming-sink debris shape.
    ManifestTable.commit((1L to 200000L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(1), base, "t", "big")
    (0 until 4).foreach { i =>
      ManifestTable.commit(
        Seq((10000L + i, s"s$i")).toDF("id", "v").repartition(1),
        base, "t", s"tiny-$i")
    }
    val before = ManifestTable.read(spark, base, "t")
    val filesBefore = before.inputFiles.toSet
    val contentBefore = before.as[(Long, String)].collect().sorted.toSeq
    assert(filesBefore.size == 5)
    // Only the big file's [1, 200000] range reaches 100000 — the tiny
    // files (ids 10000..10003) prune away.
    val bigFile = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("id") >= 100000L)).inputFiles.toSet
    assert(bigFile.size == 1)

    // Target above the tiny files but below the big one.
    val res = ManifestTable.optimize(spark, base, "t", "opt-1",
      targetBytes = 100L * 1024)
    assert(res.exists(r => r.filesCompacted == 4 && r.filesOut == 1))
    val after = ManifestTable.read(spark, base, "t")
    assert(after.inputFiles.toSet.size == 2) // big + one folded file
    assert(after.inputFiles.toSet.intersect(bigFile) == bigFile,
      "an at-size file must keep its path")
    assert(after.as[(Long, String)].collect().sorted.toSeq == contentBefore,
      "compaction must be row-identical")
    // Replay sealed; re-optimizing an already-tight table is a no-op.
    assert(ManifestTable.optimize(spark, base, "t", "opt-1").isEmpty)
    assert(ManifestTable.optimize(spark, base, "t", "opt-2",
      targetBytes = 100L * 1024)
      .contains(ManifestTable.OptimizeResult(0, 0, 0L)))
    // Time travel still reads the pre-compaction 5-file layout.
    val v5 = ManifestTable.read(spark, base, "t", asOfVersion = Some(5L))
    assert(v5.inputFiles.toSet == filesBefore)
  }

  test("upsertKeyed replaces matching keys and appends the delta atomically") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    ManifestTable.commit((1L to 100L).map(i => (i, "old")).toDF("id", "v")
      .repartition(1), base, "t", "load-1")
    ManifestTable.commit((200L to 300L).map(i => (i, "old")).toDF("id", "v")
      .repartition(1), base, "t", "load-2")
    val lowFile = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("id") <= 100L)).inputFiles.toSet
    // Delta hits only the 200..300 file: 2 replacements + 1 brand-new.
    val delta = Seq((250L, "new"), (260L, "new"), (999L, "new"))
      .toDF("id", "v")
    val res = ManifestTable.upsertKeyed(spark, base, "t", delta, "id", "up-1")
    assert(res.contains(ManifestTable.UpsertResult(2L, 3L, 1)))
    val after = ManifestTable.read(spark, base, "t")
    // The low file's key range cannot intersect [250, 999] — untouched.
    assert(after.inputFiles.toSet.intersect(lowFile) == lowFile)
    val rows = after.as[(Long, String)].collect().toMap
    assert(rows.size == 202) // 100 + 101 + 1 new
    assert(rows(250L) == "new" && rows(260L) == "new" && rows(999L) == "new")
    assert(rows(251L) == "old" && rows(1L) == "old")
    // Replay sealed; time travel reads the pre-upsert rows.
    assert(ManifestTable.upsertKeyed(spark, base, "t", delta, "id", "up-1")
      .isEmpty)
    val v2 = ManifestTable.read(spark, base, "t", asOfVersion = Some(2L))
      .as[(Long, String)].collect().toMap
    assert(v2(250L) == "old" && !v2.contains(999L) && v2.size == 201)
    // A schema-breaking delta refuses before anything lands.
    intercept[IllegalArgumentException] {
      ManifestTable.upsertKeyed(spark, base, "t",
        Seq((1L, 2.0)).toDF("id", "v"), "id", "up-2")
    }
    // An ADD-COLUMN delta evolves the read schema exactly like an
    // append would: the new column surfaces, old rows null-fill.
    val res3 = ManifestTable.upsertKeyed(spark, base, "t",
      Seq((50L, "new2", 7L)).toDF("id", "v", "extra"), "id", "up-3")
    assert(res3.contains(ManifestTable.UpsertResult(1L, 1L, 1)))
    val evolved = ManifestTable.read(spark, base, "t")
    assert(evolved.columns.toSeq == Seq("id", "v", "extra"))
    val byId = evolved.as[(Long, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(byId(50L) == (("new2", Some(7L))))
    assert(byId(1L) == (("old", None)) && byId.size == 202)
  }

  test("replaceWhere atomically swaps the matching slice for new data") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // Two day-disjoint files.
    ManifestTable.commit((1L to 100L).map(i => (1L, i, "v1")).toDF("day", "id", "v")
      .repartition(1), base, "t", "day-1")
    ManifestTable.commit((1L to 80L).map(i => (2L, i, "bad")).toDF("day", "id", "v")
      .repartition(1), base, "t", "day-2")
    val day1File = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("day") <= 1L)).inputFiles.toSet
    assert(day1File.size == 1)
    // Rebuild day 2 from corrected inputs: 90 rows replace the 80.
    val corrected = (1L to 90L).map(i => (2L, i, "good")).toDF("day", "id", "v")
    val res = ManifestTable.replaceWhere(spark, base, "t",
      col("day") === 2L, corrected, "rebuild-2")
    assert(res.contains(ManifestTable.ReplaceResult(80L, 90L, 1)))
    val after = ManifestTable.read(spark, base, "t")
    // Day 1's file was provably untouched; day 2 is exactly the new slice.
    assert(after.inputFiles.toSet.intersect(day1File) == day1File)
    val byDay = after.groupBy("day").count().as[(Long, Long)].collect().toMap
    assert(byDay == Map(1L -> 100L, 2L -> 90L))
    assert(after.filter(col("v") === "bad").count() == 0L)
    // Replay sealed; time travel reads the bad slice.
    assert(ManifestTable.replaceWhere(spark, base, "t",
      col("day") === 2L, corrected, "rebuild-2").isEmpty)
    assert(ManifestTable.read(spark, base, "t", asOfVersion = Some(2L))
      .filter(col("v") === "bad").count() == 80L)
  }

  test("optimize with clusterCol restores skip-read pruning on the rewrite") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // Four tiny interleaved-range files: before compaction a point
    // read must open all of them (every file's [min,max] covers it).
    (0 until 4).foreach { i =>
      ManifestTable.commit(
        (0L until 100L).map(j => (j * 4 + i, s"v$i-$j")).toDF("id", "v")
          .repartition(1), base, "t", s"tiny-$i")
    }
    val preFiles = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("id") === 17L)).inputFiles.length
    assert(preFiles == 4, "interleaved ranges defeat skipping")
    val res = ManifestTable.optimize(spark, base, "t", "opt-c",
      targetBytes = 100L * 1024, clusterCol = Some("id"))
    assert(res.exists(_.filesCompacted == 4))
    val all = ManifestTable.read(spark, base, "t")
    assert(all.count() == 400L)
    // Range-clustered rewrite: a point read now prunes to one file
    // (when the rewrite produced several) or at worst the single
    // folded file — never MORE files than before.
    val post = ManifestTable.read(spark, base, "t",
      skipFilter = Some(col("id") === 17L))
    assert(post.count() == 1L)
    assert(post.inputFiles.length <= res.get.filesOut)
  }

  test("upsertKeyed/replaceWhere edge paths: empty delta, no matching files") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    ManifestTable.commit((1L to 50L).map(i => (i, "old")).toDF("id", "v")
      .repartition(1), base, "t", "load")
    // Empty delta: nothing replaced, nothing inserted, txn sealed.
    val empty = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[org.apache.spark.sql.Row], 1),
      ManifestTable.read(spark, base, "t").schema)
    val r1 = ManifestTable.upsertKeyed(spark, base, "t", empty, "id", "up-e")
    assert(r1.contains(ManifestTable.UpsertResult(0L, 0L, 0)))
    assert(ManifestTable.upsertKeyed(spark, base, "t", empty, "id", "up-e")
      .isEmpty)
    assert(ManifestTable.read(spark, base, "t").count() == 50L)
    // Insert-only replace: predicate matches no file's range — pure
    // append of the new slice, no rewrite.
    val res = ManifestTable.replaceWhere(spark, base, "t",
      col("id") >= 1000L, Seq((1000L, "new")).toDF("id", "v"), "rw-new")
    assert(res.contains(ManifestTable.ReplaceResult(0L, 1L, 0)))
    assert(ManifestTable.read(spark, base, "t").count() == 51L)
  }

  test("deleteWhere: NULL-evaluating predicate rows survive") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    ManifestTable.commit(
      Seq((1L, Some("spam")), (2L, None), (3L, Some("ok")))
        .toDF("id", "tag").repartition(1), base, "t", "load")
    val res = ManifestTable.deleteWhere(spark, base, "t",
      col("tag") === "spam", "del-1")
    assert(res.map(_.deletedRows).contains(1L))
    // DELETE WHERE tag = 'spam' must keep the NULL-tag row: the
    // predicate evaluates NULL there, not TRUE.
    assert(ManifestTable.read(spark, base, "t")
      .select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("stats survive checkpoint compaction and log truncation") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    (0 to 2).foreach { i =>
      ManifestTable.commit(
        (i * 100L until i * 100L + 100L).map(t => (t, s"e$t")).toDF("ts", "v")
          .repartition(1), base, "ev", s"txn-$i")
    }
    ManifestTable.compact(spark, base)
    ManifestTable.truncateLog(spark, base)
    // The checkpoint is now the only manifest — skipping still works.
    val wm = ManifestTable.read(spark, base, "ev",
      skipFilter = Some(col("ts") >= lit(250L)))
    assert(wm.inputFiles.length == 1 && wm.count() == 50L)
  }

  test("tableChanges: appends read as inserts, rewrites as delete+insert, net diff exact") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // v1: initial rows. v2: append. v3: deleteWhere rewrite.
    ManifestTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1), base, "t", "txn-1")
    ManifestTable.commit(Seq((3L, "c")).toDF("id", "v")
      .repartition(1), base, "t", "txn-2")
    assert(ManifestTable.deleteWhere(spark, base, "t", col("id") === 1L,
      "del-1").map(_.deletedRows).contains(1L))
    // Window (0, 1]: everything live at v1 is an insert.
    val w01 = ManifestTable.tableChanges(spark, base, "t", 0L, 1L)
      .as[(Long, String, String)].collect().toSet
    assert(w01 == Set((1L, "a", "insert"), (2L, "b", "insert")))
    // Window (1, 2]: only the appended file.
    val w12 = ManifestTable.tableChanges(spark, base, "t", 1L, 2L)
      .as[(Long, String, String)].collect().toSet
    assert(w12 == Set((3L, "c", "insert")))
    // Window (2, 3]: file-granular feed shows the whole rewritten
    // file out and its survivors back in...
    val w23 = ManifestTable.tableChanges(spark, base, "t", 2L, 3L)
      .as[(Long, String, String)].collect().toSet
    assert(w23 == Set((1L, "a", "delete"), (2L, "b", "delete"),
      (2L, "b", "insert")))
    // ...and the net feed cancels the carried-over survivor.
    val net23 = ManifestTable.tableChanges(spark, base, "t", 2L, 3L,
      netOnly = true).as[(Long, String, String)].collect().toSet
    assert(net23 == Set((1L, "a", "delete")))
    // Whole-history window nets to the current table as inserts.
    val net03 = ManifestTable.tableChanges(spark, base, "t", 0L, 3L,
      netOnly = true).as[(Long, String, String)].collect().toSet
    assert(net03 == Set((2L, "b", "insert"), (3L, "c", "insert")))
  }

  test("tableChanges: optimize nets to zero; empty windows shape by schema") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    (1 to 2).foreach(i => ManifestTable.commit(
      Seq((i.toLong, s"v$i")).toDF("id", "v").repartition(1),
      base, "t", s"txn-$i"))
    assert(ManifestTable.optimize(spark, base, "t", "opt-1").isDefined)
    // v3 = optimize: file-granular feed is noisy (all files swap)...
    assert(ManifestTable.tableChanges(spark, base, "t", 2L, 3L)
      .count() == 4L)
    // ...but a compaction changes NO rows, and the net feed proves it.
    assert(ManifestTable.tableChanges(spark, base, "t", 2L, 3L,
      netOnly = true).count() == 0L)
    // A window where nothing touched this table: empty, schema-shaped.
    ManifestTable.commit(Seq((9L, "x")).toDF("id", "v"), base, "other",
      "txn-other")
    val quiet = ManifestTable.tableChanges(spark, base, "t", 3L, 4L)
    assert(quiet.columns.toSeq == Seq("id", "v", "_change_type"))
    assert(quiet.count() == 0L)
  }

  test("tableChanges and time travel survive compact+truncateLog via the checkpoint") {
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a")).toDF("id", "v").repartition(1),
      base, "t", "t1")                              // v1
    ManifestTable.commit(Seq((2L, "b")).toDF("id", "v").repartition(1),
      base, "t", "t2")                              // v2
    assert(ManifestTable.compact(spark, base).contains(2L))
    assert(ManifestTable.truncateLog(spark, base) == 2) // raw v1, v2 gone
    ManifestTable.commit(Seq((3L, "c")).toDF("id", "v").repartition(1),
      base, "t", "t3")                              // v3
    // A caught-up consumer's window (2, 3] reconstructs its base
    // state from the checkpoint — routine retention maintenance must
    // not strand it.
    val w23 = ManifestTable.tableChanges(spark, base, "t", 2L, 3L)
      .as[(Long, String, String)].collect().toSet
    assert(w23 == Set((3L, "c", "insert")))
    // Time travel to the checkpointed version itself still reads.
    assert(ManifestTable.read(spark, base, "t", asOfVersion = Some(2L))
      .count() == 2L)
    // States BEFORE the checkpoint are genuinely gone: loud failure,
    // never a silently-empty base (which would re-emit the table).
    val gone = intercept[IllegalArgumentException] {
      ManifestTable.tableChanges(spark, base, "t", 1L, 3L)
    }
    // ...and the error blames TRUNCATION, not "does not exist yet" —
    // the checkpoint above v proves v was once committed.
    assert(gone.getMessage.contains("remain"))
  }

  // ── Optimistic concurrency: the per-table conflict matrix ──

  test("concurrent append to the SAME table aborts an in-flight upsert") {
    val base = tmpBase()
    ManifestTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
      base, "t", "seed")
    val delta = Seq((2L, "B"), (3L, "c")).toDF("id", "v")
    // The racing writer lands an append to t AFTER the upsert planned
    // its rewrite (the beforeCommit seam) but BEFORE it claims a slot.
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.upsertKeyed(spark, base, "t", delta, "id", "up-1",
        beforeCommit = () => { ManifestTable.commit(
          Seq((9L, "z")).toDF("id", "v"), base, "t", "racer"); () })
    }
    // The aborted upsert left no trace: racer's row is there, the
    // delta is not, and the txn is NOT sealed.
    val rows = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b"), (9L, "z")))
    assert(!ManifestTable.committedTxns(spark, base).contains("up-1"))
    // Re-run against the current log: lands, and sees racer's row.
    assert(ManifestTable.upsertKeyed(spark, base, "t", delta, "id", "up-1")
      .isDefined)
    val after = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet
    assert(after == Set((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    // Replay of the LANDED txn is still a sealed no-op.
    assert(ManifestTable.upsertKeyed(spark, base, "t", delta, "id", "up-1")
      .isEmpty)
  }

  test("concurrent upsert aborts an in-flight deleteWhere (other order)") {
    val base = tmpBase()
    ManifestTable.commit((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"),
      base, "t", "seed")
    intercept[java.util.ConcurrentModificationException] {
      ManifestTable.deleteWhere(spark, base, "t",
        org.apache.spark.sql.functions.col("id") <= 5L, "del-1",
        beforeCommit = () => { ManifestTable.upsertKeyed(spark, base, "t",
          Seq((5L, "V5")).toDF("id", "v"), "id", "race-up"); () })
    }
    // The racer's upsert is intact; nothing was deleted.
    val rows = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toMap
    assert(rows.size == 10 && rows(5L) == "V5")
    assert(!ManifestTable.committedTxns(spark, base).contains("del-1"))
    // Re-run sees the new state and deletes through it.
    val res = ManifestTable.deleteWhere(spark, base, "t",
      org.apache.spark.sql.functions.col("id") <= 5L, "del-1")
    assert(res.exists(_.deletedRows == 5L))
    assert(ManifestTable.read(spark, base, "t").count() == 5L)
  }

  test("writes to a DIFFERENT table do not conflict with a rewrite") {
    val base = tmpBase()
    ManifestTable.commit((1L to 6L).map(i => (i, s"v$i")).toDF("id", "v"),
      base, "t", "seed-t")
    ManifestTable.commit(Seq((1L, "x")).toDF("id", "v"), base, "u", "seed-u")
    // An append to u lands mid-delete on t: both commits survive.
    val res = ManifestTable.deleteWhere(spark, base, "t",
      org.apache.spark.sql.functions.col("id") > 4L, "del-t",
      beforeCommit = () => { ManifestTable.commit(
        Seq((2L, "y")).toDF("id", "v"), base, "u", "racer-u"); () })
    assert(res.exists(_.deletedRows == 2L))
    assert(ManifestTable.read(spark, base, "t").count() == 4L)
    assert(ManifestTable.read(spark, base, "u").count() == 2L)
    assert(ManifestTable.committedTxns(spark, base) ==
      Set("seed-t", "seed-u", "del-t", "racer-u"))
  }

  test("append-append on one table: both land (no false conflict)") {
    val base = tmpBase()
    // Writer A appends; mid-commit (after its files are durable),
    // writer B appends to the same table. Appends add disjoint files —
    // the matrix says no conflict, and both survive.
    val n = ManifestTable.commit(Seq((1L, "a")).toDF("id", "v"), base, "t",
      "w-a", beforeCommit = () => { ManifestTable.commit(
        Seq((2L, "b")).toDF("id", "v"), base, "t", "w-b"); () })
    assert(n == 1L)
    val rows = ManifestTable.read(spark, base, "t")
      .as[(Long, String)].collect().toSet
    assert(rows == Set((1L, "a"), (2L, "b")))
  }

  test("statsAgg answers count/min/max from manifest lines, zero data reads") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    ManifestTable.commit(
      (0L until 150L).map(i => (i, i * 3 - 7)).toDF("k", "v").repartition(3),
      base, "t", "txn-0")
    ManifestTable.commit(
      (150L until 200L).map(i => (i, -i)).toDF("k", "v").repartition(2),
      base, "t", "txn-1")
    val expect = ManifestTable.read(spark, base, "t")
      .agg(count(lit(1)).cast("long"), min("k"), max("k"), min("v"), max("v"))
      .head
    val got = ManifestTable.statsAgg(spark, base, "t", Seq("k", "v")).get
    assert(got.columns.toSeq ==
      Seq("cnt", "min_k", "max_k", "min_v", "max_v"))
    assert(got.head.toSeq == expect.toSeq)

    // Time travel: as of version 1 only the first append exists.
    val v1 = ManifestTable.statsAgg(spark, base, "t", Seq("k"),
      asOfVersion = Some(1L)).get.head
    assert(v1.toSeq == Seq(150L, 0L, 149L))

    // String min/max is refused by design (parquet writers may
    // truncate binary stats — a bound, not the exact value)…
    ManifestTable.commit(
      Seq((1L, "alpha"), (2L, "omega")).toDF("k", "s"), base, "u", "txn-u")
    assert(ManifestTable.statsAgg(spark, base, "u", Seq("s")).isEmpty)
    // …but count alone is still metadata-answerable.
    assert(ManifestTable.statsAgg(spark, base, "u").get.head.getLong(0) == 2L)

    // THE zero-read proof: physically delete every data file — the
    // scan path dies, statsAgg keeps answering from the manifest.
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(base, "t"))
      .iterator().asScala.toSeq
      .filter(_.toString.endsWith(".parquet"))
      .foreach(java.nio.file.Files.delete)
    intercept[Exception] {
      ManifestTable.read(spark, base, "t").agg(min("k")).head
    }
    assert(ManifestTable.statsAgg(spark, base, "t", Seq("k", "v"))
      .get.head.toSeq == expect.toSeq)
  }

  test("statsAgg survives checkpoint compaction + log truncation") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    (0 until 3).foreach(i => ManifestTable.commit(
      (i * 10L until i * 10L + 10L).map(k => Tuple1(k)).toDF("k")
        .repartition(1), base, "t", s"txn-$i"))
    ManifestTable.compact(spark, base)
    ManifestTable.truncateLog(spark, base)
    val got = ManifestTable.statsAgg(spark, base, "t", Seq("k")).get.head
    assert(got.toSeq == Seq(30L, 0L, 29L))
  }

  test("manifest Bloom prunes point lookups on an unclustered key") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    spark.conf.set("graft.manifest.bloomCols", "k,s")
    try {
      // Two single-file appends with fully INTERLEAVED key ranges —
      // min/max stats cannot tell them apart, only membership can.
      ManifestTable.commit(
        (0L until 400L by 2).map(i => (i, s"s$i")).toDF("k", "s")
          .repartition(1), base, "t", "txn-even")
      ManifestTable.commit(
        (1L until 400L by 2).map(i => (i, s"s$i")).toDF("k", "s")
          .repartition(1), base, "t", "txn-odd")
      val all = ManifestTable.read(spark, base, "t")
      assert(all.inputFiles.length == 2)
      // Range stats alone keep both files for an in-range needle; the
      // Bloom proves the odd file cannot contain an even key.
      val needle = ManifestTable.read(spark, base, "t",
        skipFilter = Some(col("k") === lit(17L)))
      assert(needle.inputFiles.length == 1)
      assert(needle.as[(Long, String)].collect().toSeq == Seq((17L, "s17")))
      // String-column membership prunes the same way.
      val sNeedle = ManifestTable.read(spark, base, "t",
        skipFilter = Some(col("s") === lit("s42")))
      assert(sNeedle.inputFiles.length == 1 && sNeedle.count() == 1L)
      // In-range but ABSENT key: no file admits it (pure-Bloom win —
      // exact "no" beats min/max straddling).
      val absent = ManifestTable.read(spark, base, "t",
        skipFilter = Some(col("s") === lit("not-there")))
      assert(absent.inputFiles.length <= 1 && absent.count() == 0L)
      // Conjunct composes with range skipping; results never change.
      val both = ManifestTable.read(spark, base, "t",
        skipFilter = Some(col("k") === lit(17L) && col("k") < lit(100L)))
      assert(both.inputFiles.length == 1 && both.count() == 1L)
      // Blooms survive compaction + truncation like every stats line.
      ManifestTable.compact(spark, base)
      ManifestTable.truncateLog(spark, base)
      val after = ManifestTable.read(spark, base, "t",
        skipFilter = Some(col("k") === lit(18L)))
      assert(after.inputFiles.length == 1 && after.count() == 1L)
    } finally spark.conf.unset("graft.manifest.bloomCols")
  }

  test("bloom build folds payloads executor-side for many-file " +
      "commits; the files-per-commit cap guards bulk loads") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    spark.conf.set("graft.manifest.bloomCols", "k")
    try {
      // One commit landing 16 files: the driver only ever collects
      // the finished bloom lines (one ~2 KiB string per file), and
      // the needle still prunes — 777 lives in exactly one file, the
      // others answer "no" modulo the documented fp rate.
      ManifestTable.commit(
        (0L until 1600L).map(k => Tuple1(k)).toDF("k").repartition(16),
        base, "t", "txn-bulk")
      assert(ManifestTable.read(spark, base, "t").inputFiles.length == 16)
      val needle = ManifestTable.read(spark, base, "t",
        skipFilter = Some(col("k") === lit(777L)))
      assert(needle.inputFiles.length <= 2)
      assert(needle.as[Long].collect().toSeq == Seq(777L))
      // A deliberate low cap turns a bulk bloom build into a hard,
      // actionable error instead of an unbounded manifest/driver.
      spark.conf.set("graft.manifest.bloomMaxFilesPerCommit", "4")
      val e = intercept[IllegalArgumentException] {
        ManifestTable.commit(
          (0L until 80L).map(k => Tuple1(k)).toDF("k").repartition(8),
          base, "t2", "txn-too-many")
      }
      assert(e.getMessage.contains("bloomMaxFilesPerCommit"))
    } finally {
      spark.conf.unset("graft.manifest.bloomCols")
      spark.conf.unset("graft.manifest.bloomMaxFilesPerCommit")
    }
  }

  /** Every file and dir name directly under `dir` (empty if absent). */
  private def listing(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    if (d.isDirectory) d.list().toSet else Set.empty
  }

  /** The parsed lines of one committed manifest version. */
  private def manifestLines(base: String, v: Long): Seq[String] =
    java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(base, "_log", f"v$v%020d")).toArray.toSeq
      .map(_.toString)

  test("manifest-native write: add set = txn dir's parquet files; rows and " +
      "stats are what the task commits read from the footers") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    // Empty middle partitions (ids 39..87 filtered out of 8 range
    // partitions), and a record cap that makes the full partitions
    // write several files each.
    val df = spark.range(0L, 100L, 1L, 8)
      .filter(col("id") < 39L || col("id") >= 88L)
      .select(col("id"), (col("id") * 3L).as("v"),
        concat(lit("s"), col("id").cast("string")).as("s"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try assert(ManifestTable.commit(df, base, "t", "txn-1") == df.count())
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    val lines = manifestLines(base, 1L)
    val adds = lines.collect { case l if l.startsWith("add:") => l.drop(4) }
    val dirs = adds.map(_.split('/').dropRight(1).mkString("/")).distinct
    assert(dirs.size == 1)
    val onDisk = listing(s"$base/${dirs.head}")
    // No staging dir, no job-commit marker: only the reported files
    // (and their local-FS checksums).
    assert(onDisk.forall(n => n.endsWith(".parquet") || n.endsWith(".crc")))
    assert(adds.map(_.split('/').last).toSet ==
      onDisk.filter(_.endsWith(".parquet")))
    assert(adds.size > 8, "the record cap must split partitions into several files")
    val rows = lines.collect { case l if l.startsWith("rows:") =>
      val Array(f, n) = l.drop(5).split('\t'); f -> n.toLong }.toMap
    assert(rows.keySet == adds.toSet)
    assert(rows.values.sum == ManifestTable.read(spark, base, "t").count())
    assert(rows.values.sum == 51L)
    val stats = lines.collect { case l if l.startsWith("stats:") =>
      val i = l.indexOf('\t'); l.slice(6, i) -> l.drop(i + 1) }.toMap
    val conf = spark.sessionState.newHadoopConf()
    adds.foreach { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$base/$f"), conf))
      val footer = try r.getFooter finally r.close()
      assert(stats.get(f) == ManifestWrite.footerStatsJson(footer), f)
    }
    // The files are the ones `df.write.parquet` makes: same parquet
    // schema and Spark row metadata.
    val ref = tmpBase() + "/ref"
    df.write.parquet(ref)
    def footerOf(p: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf))
      try r.getFooter.getFileMetaData finally r.close()
    }
    val mine = footerOf(s"$base/${adds.head}")
    val theirs = footerOf(listing(ref).filter(_.endsWith(".parquet"))
      .map(n => s"$ref/$n").head)
    assert(mine.getSchema == theirs.getSchema)
    val rowMeta = "org.apache.spark.sql.parquet.row.metadata"
    assert(mine.getKeyValueMetaData.get(rowMeta) ==
      theirs.getKeyValueMetaData.get(rowMeta))
    // The writer keeps df.write's checks: a duplicate column refuses
    // before anything is written.
    intercept[org.apache.spark.sql.AnalysisException] {
      ManifestTable.commit(spark.range(3).select(col("id"), col("id")),
        base, "dup", "txn-dup")
    }
    assert(!new java.io.File(s"$base/dup").exists())
  }

  test("a failed multi-table commit cancels its sibling writes and leaves " +
      "no orphan dirs; the same txn then commits cleanly") {
    import org.apache.spark.sql.functions._
    val base = tmpBase()
    val tables = (1 to 5).map(i => s"t$i")
    ManifestTable.commit(spark.range(5).toDF("id"), base, "t1", "seed")
    // Each sibling is one task of 2..5 rows; every row after the first
    // is 300 ms of busy work that swallows the cancel's interrupt (as
    // code that catches InterruptedException does), and the record cap
    // below gives every row its own file. Whenever the bad frame fails
    // — at once, or when the shortest sibling frees a core — the other
    // siblings are inside a slow row: cancelled, they finish it and
    // open a new file for it before their next kill check, as a late
    // task does.
    val slow = udf { (x: Long) =>
      val t0 = System.nanoTime()
      if (x > 0L) while (System.nanoTime() - t0 < 300000000L) {}
      Thread.interrupted()
      x
    }
    val good = tables.init.zipWithIndex.map { case (t, i) =>
      t -> spark.range(0L, i + 2L, 1L, 1).select(slow(col("id")).as("id")) }
    val bad = "t5" -> spark.range(0L, 10L, 1L, 1).select(
      when(col("id") === 7L, raise_error(lit("boom"))).otherwise(col("id")).as("id"))
    def dataDirs() = tables.map(t => t -> listing(s"$base/$t/data")).toMap
    val dirsBefore = dataDirs()
    val logBefore = listing(s"$base/_log")
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    val e = try intercept[Exception] {
      ManifestTable.commitMulti(spark, base, "multi", appends = (good :+ bad).toMap)
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => String.valueOf(x.getMessage).contains("boom")))
    assert(dataDirs() == dirsBefore)
    assert(listing(s"$base/_log") == logBefore)
    // The call returned only after every task it launched had ended:
    // nothing re-creates a dir later.
    Thread.sleep(1000)
    assert(dataDirs() == dirsBefore)
    val ok = ManifestTable.commitMulti(spark, base, "multi",
      appends = tables.map(t => t -> spark.range(0L, 10L, 1L, 2).toDF("id")).toMap)
    assert(ok == tables.map(_ -> 10L).toMap)
    assert(ManifestTable.read(spark, base, "t1").count() == 15L)
    assert(ManifestTable.committedTxns(spark, base) == Set("seed", "multi"))
  }

  test("vacuum removes a stray parquet file inside a referenced txn dir") {
    val base = tmpBase()
    ManifestTable.commit(spark.range(0L, 20L, 1L, 2).toDF("id"), base, "t", "txn-1")
    ManifestTable.commit(spark.range(20L, 30L, 1L, 1).toDF("id"), base, "t", "txn-2")
    val live = ManifestTable.read(spark, base, "t").inputFiles.toSet
    val expect = ManifestTable.read(spark, base, "t").as[Long].collect().sorted.toSeq
    // What a lost task attempt leaves behind: a complete parquet file
    // the manifest never referenced, next to the referenced ones.
    val src = new java.io.File(new java.net.URI(live.head))
    val stray = new java.io.File(src.getParentFile, "part-99999-stray.parquet")
    java.nio.file.Files.copy(src.toPath, stray.toPath)
    assert(ManifestTable.read(spark, base, "t").as[Long].collect().sorted.toSeq == expect)
    assert(ManifestTable.vacuum(spark, base, "t") == 1)
    assert(!stray.exists())
    assert(live.forall(f => new java.io.File(new java.net.URI(f)).exists()))
    assert(ManifestTable.read(spark, base, "t").as[Long].collect().sorted.toSeq == expect)
    assert(ManifestTable.vacuum(spark, base, "t") == 0)
  }
}
