package graft.streaming

import graft.sources.ManifestTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Incrementally-maintained aggregate tables — materialized views
  * over an unbounded stream, kept exactly-once without reprocessing
  * history.
  *
  * The reference's Daily_Summary is the batch shape of this (recompute
  * the day's aggregate from the day's rows, SURVEY §2.4 A1); at 100 TB
  * a "recompute the aggregate" pass stops being an option, so the
  * maintained table must absorb each micro-batch as a MERGE of
  * mergeable states: sums and counts combine associatively, every
  * merge reads only (current snapshot ∪ batch partial), and the
  * history is never touched again. Averages and rates derive from the
  * stored (sum, count) pairs at query time — storing them directly
  * would make the states non-mergeable.
  */
object Rollup {

  /** Streaming quadkey HEATMAP view: the live tile census a map
    * dashboard reads — each point keys to its
    * [[graft.operators.Spatial.quadkeyCol]] tile map-side and lands
    * in the [[sumCountSink]] (n_rows per tile, exactly-once under
    * the manifest txn seal). Streamed census ≡ the batch
    * [[graft.operators.Spatial.quadkeyCensus]] leaf rows by
    * construction — counting is order-free — and coarser zooms roll
    * up from THIS view by key prefix, never from the stream. */
  def quadkeySink(
      points: DataFrame,
      xCol: String,
      yCol: String,
      extent: Long,
      levels: Int,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] =
    sumCountSink(points.select(
        graft.operators.Spatial.quadkeyCol(xCol, yCol, extent, levels)
          .as("quadkey")),
      Seq("quadkey"), Nil, baseDir, table, streamId, checkpointDir)

  /** Land a stream into a per-key (sum, count) rollup snapshot in a
    * [[graft.sources.ManifestTable]]. Each micro-batch: partial-
    * aggregate the batch (map-side combine does the heavy lifting),
    * merge with the current snapshot by key, and commit the result as
    * an atomic SNAPSHOT under the `<streamId>-<batchId>` txn id —
    * crash-replays are sealed no-ops, so a batch can never
    * double-merge (the failure mode that silently inflates counters;
    * the reference's mirror-image bug advances state on failed
    * writes, pipeline.py:562-568).
    *
    * Scale: the merge touches rollup-cardinality rows (keys), not
    * history; the snapshot write is one keyed hash-agg over
    * (snapshot ∪ batch-partial). Readers see every version
    * atomically, and time travel ([[graft.sources.ManifestTable
    * .read]] asOfVersion) replays the rollup's evolution for free.
    *
    * CARDINALITY CONTRACT: the whole snapshot is rewritten every
    * micro-batch, so this shape is for MV-sized rollups (day × source
    * dashboards — thousands to low millions of keys). At a 10⁸-key
    * rollup the per-batch write amplification is O(keys) however few
    * keys the batch touched — use [[sumCountSinkPartitioned]] there,
    * which commits only the key partitions a batch changed. */
  def sumCountSink(
      rows: DataFrame,
      keyCols: Seq[String],
      sumCols: Seq[String],
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] =
    mergeSink(rows, keyCols, baseDir, table, streamId, checkpointDir)(
      sumCountDelta(_, keyCols, sumCols), sumCountMerge(_, keyCols, sumCols))

  /** The mergeable-state sink every single-snapshot rollup here shares:
    * each micro-batch's `delta` state is unioned with the current
    * snapshot (read under the delta's schema, so the first batch merges
    * against an empty table), `merge`d, and committed as the table's
    * next snapshot under the batch's [[ManifestSink]] txn id. */
  private def mergeSink(
      rows: DataFrame,
      keyCols: Seq[String],
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String)(
      delta: DataFrame => DataFrame,
      merge: DataFrame => DataFrame): DataStreamWriter[Row] = {
    require(keyCols.nonEmpty, "need at least one key column")
    ManifestSink(rows, baseDir, streamId, checkpointDir) {
      (batch, _, commit) =>
        val d = delta(batch)
        val current = ManifestTable.read(
          batch.sparkSession, baseDir, table, schema = Some(d.schema))
        commit(snapshots = Map(table -> merge(current.unionByName(d))))
    }
  }

  /** A batch's per-key (n_rows, sum_<c>…) partial — the (sum, count)
    * delta state. */
  private def sumCountDelta(
      rows: DataFrame, keyCols: Seq[String], sumCols: Seq[String])
      : DataFrame =
    rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)

  /** Sum-merge (n_rows, sum_<c>…) states by key. */
  private def sumCountMerge(
      states: DataFrame, keyCols: Seq[String], sumCols: Seq[String])
      : DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(sum(col("n_rows")).as("n_rows"),
        sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)

  /** Incrementally maintain a (sum, count) rollup from an upstream
    * MANIFEST TABLE's change feed — the batch-poll twin of
    * [[sumCountSink]] for upstreams that are tables rather than
    * streams (the medallion bronze→silver hop). Each call:
    *
    *  1. reads the rollup base's recorded watermark (the last
    *     upstream version processed — 0 on first call),
    *  2. classifies the window (watermark, upstream latest] from
    *     manifest metadata alone, with no Spark job
    *     ([[graft.sources.ManifestTable.changeWindow]]: the files
    *     added and removed for the table, and the exact inserted row
    *     count from the `rows:` lines). A window that touched no file
    *     of the table (only SIBLING tables of the upstream base), or
    *     inserted zero rows and deleted nothing, advances the
    *     watermark with a state-only commit — rewriting the whole
    *     rollup snapshot for it would be O(rollup) write amplification
    *     for nothing;
    *  3. otherwise runs ONE aggregate over (current snapshot ∪ the
    *     window's change rows, inserts signed +1 and deletes −1): a
    *     key whose count reaches zero leaves the rollup, so deletes
    *     downstream of a takedown propagate for free. An insert-only
    *     window (the common append path) feeds its files' rows
    *     straight in, with no pin and no probe. A window with deletes
    *     comes from upstream rewrites ([[graft.sources.ManifestTable.deleteWhere]],
    *     upsert, replace, optimize), which surface whole files as
    *     delete + re-insert: its rows are net-diffed first, so the
    *     sums only ever see true row changes (a floating-point sum
    *     would otherwise drift by rounding on every rewrite), and a
    *     window that nets to zero — an optimize, a no-op rewrite —
    *     takes the state-only commit of step 2;
    *  4. commits the snapshot AND the advanced watermark in ONE txn
    *     sealed by the version window.
    *
    * Crash anywhere ⇒ the next call re-reads the old watermark and
    * replays the same window; the sealed txn id makes the re-commit a
    * no-op — exactly-once, never re-reading the upstream table
    * itself. Returns the (from, to] window processed, or None when
    * already caught up.
    *
    * One consumer per `rollupBase` (the watermark is the base dir's
    * state line, [[graft.sources.ManifestTable.lastState]]). Upstream
    * compact+truncate maintenance is safe: the window reconstructs
    * either side from the latest checkpoint at or below it, and fails
    * loudly (never silently skips) only when the watermark predates
    * the oldest checkpoint — i.e. the consumer stalled across an
    * entire retention cycle. */
  def syncFromChanges(
      spark: org.apache.spark.sql.SparkSession,
      upstreamBase: String,
      upstreamTable: String,
      keyCols: Seq[String],
      sumCols: Seq[String],
      rollupBase: String,
      rollupTable: String): Option[(Long, Long)] = {
    import graft.sources.ManifestTable
    require(keyCols.nonEmpty, "need at least one key column")
    val toV = ManifestTable.latestVersion(spark, upstreamBase)
    val fromV = ManifestTable.lastState(spark, rollupBase)
      .map(_.toLong).getOrElse(0L)
    if (toV <= fromV) return None
    val txnId = s"cdf-$upstreamTable-$fromV-$toV"
    val w = ManifestTable.changeWindow(spark, upstreamBase, upstreamTable, fromV, toV)
    def stateOnly(): Option[(Long, Long)] = {
      ManifestTable.commitMulti(spark, rollupBase, txnId, state = Some(toV.toString))
      Some((fromV, toV))
    }
    if (w.deleted.isEmpty && (w.inserted.isEmpty || w.insertedRows.contains(0L)))
      return stateOnly()
    val changes =
      if (w.deleted.isEmpty) ManifestTable.changeRows(spark, upstreamBase, w)
      else {
        // Pinned once: the emptiness probe and the aggregate would
        // otherwise each run the window's scans and both exceptAll
        // shuffles.
        val net = graft.operators.Dedup.truncate(
          ManifestTable.changeRows(spark, upstreamBase, w, netOnly = true))
        if (net.isEmpty) return stateOnly()
        net
      }
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    // The snapshot's schema: the per-window delta aggregate's (resolved
    // only, never run), so the signed rows and the merge below keep
    // exactly the column types the rollup has always had.
    val deltaSchema = changes.groupBy(keyCols.map(col): _*)
      .agg(sum(sign).as("n_rows"),
        sumCols.map(c => sum(col(c) * sign).as(s"sum_$c")): _*).schema
    val signed = changes.select(keyCols.map(col) ++
      (sign +: sumCols.map(c => col(c) * sign)).zip(deltaSchema.drop(keyCols.size))
        .map { case (c, f) => c.cast(f.dataType).as(f.name) }: _*)
    val current = ManifestTable.read(
      spark, rollupBase, rollupTable, schema = Some(deltaSchema))
    val merged = sumCountMerge(current.unionByName(signed), keyCols, sumCols)
      .filter(col("n_rows") > 0L)
    ManifestTable.commitMulti(spark, rollupBase, txnId,
      snapshots = Map(rollupTable -> merged),
      state = Some(toV.toString))
    Some((fromV, toV))
  }

  /** Stable key-space partition in [0, nParts): content-hashed from
    * the key columns, so a key's partition never moves across batches,
    * restarts, or engines. */
  private def partOf(keyCols: Seq[String], nParts: Int)
      : org.apache.spark.sql.Column =
    pmod(graft.functions.TextFunctions.hash60(
      concat_ws("", keyCols.map(c => col(c).cast("string")): _*)),
      lit(nParts.toLong)).cast("int")

  /** [[sumCountSink]] with the snapshot split across `nParts`
    * hash-partition subtables (`<table>.p<i>`): a micro-batch
    * re-aggregates and commits ONLY the partitions holding keys the
    * batch touched — one atomic multi-table snapshot commit — while
    * every other partition's files stay exactly where they are
    * (spec-asserted on file paths). Per-batch write amplification
    * drops from O(total keys) to O(keys in touched partitions): at a
    * 10⁸-key rollup with skewed daily traffic, batches stop rewriting
    * the cold long tail. Exactly-once exactly as [[sumCountSink]]:
    * the multi-table commit seals `<streamId>-<batchId>` atomically
    * across all touched partitions — there is no window where some
    * partitions show the batch and others do not. Read the whole
    * rollup back with [[readPartitioned]]. */
  def sumCountSinkPartitioned(
      rows: DataFrame,
      keyCols: Seq[String],
      sumCols: Seq[String],
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String,
      nParts: Int = 16): DataStreamWriter[Row] = {
    require(keyCols.nonEmpty, "need at least one key column")
    require(nParts > 0, "nParts must be positive")
    ManifestSink(rows, baseDir, streamId, checkpointDir) {
      (batch, _, commit) =>
        val spark = batch.sparkSession
        // The key→partition map is part of the TABLE, not the job: a
        // restart with a different nParts would re-hash keys into
        // different subtables and silently split their sums. A 1-row
        // marker subtable records the layout; mismatch fails the stream
        // instead of corrupting it.
        val markerT = s"$table.nparts"
        val markerSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_parts",
            org.apache.spark.sql.types.IntegerType)))
        val recorded = ManifestTable.read(
            spark, baseDir, markerT, schema = Some(markerSchema))
          .collect().headOption
        recorded.foreach { r =>
          require(r.getInt(0) == nParts,
            s"$table was partitioned with nParts=${r.getInt(0)}; " +
              s"restarting with $nParts would re-hash keys — " +
              "use the recorded value")
        }
        val delta = sumCountDelta(batch, keyCols, sumCols)
          .withColumn("__part", partOf(keyCols, nParts))
          .persist()
        try {
          val touched = delta.select(col("__part")).distinct()
            .collect().map(_.getInt(0)).sorted
          val snaps = touched.map { p =>
            val part = delta.filter(col("__part") === p).drop("__part")
            val current = ManifestTable.read(
              spark, baseDir, s"$table.p$p", schema = Some(part.schema))
            s"$table.p$p" ->
              sumCountMerge(current.unionByName(part), keyCols, sumCols)
          }.toMap
          // The marker never changes once written: re-committing it
          // every batch would add a data file + manifest entry per
          // micro-batch for a constant. Write it only while the
          // read-back finds none (first batch, or a replay of a failed
          // first commit — sealed-txn dedup makes the true-replay case
          // a no-op anyway).
          val marker = spark.range(0, 1, 1, numPartitions = 1)
            .select(lit(nParts).cast("int").as("n_parts"))
          commit(snapshots =
            if (recorded.isDefined) snaps else snaps + (markerT -> marker))
        } finally delta.unpersist()
    }
  }

  /** The whole rollup maintained by [[sumCountSinkPartitioned]]: the
    * union of every `<table>.p<i>` subtable DISCOVERED in the log —
    * no partition-count argument to get wrong (a caller-supplied
    * nParts smaller than the sink's would silently read half the
    * rollup; discovery cannot miss). One log parse serves discovery,
    * schemas, and file listings ([[graft.sources.ManifestTable
    * .readFamily]]) — a dashboard refresh pays O(1) metadata reads,
    * not O(nParts). */
  def readPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      baseDir: String,
      table: String): DataFrame = {
    val pat = java.util.regex.Pattern.quote(table) + "\\.p\\d+"
    val parts = graft.sources.ManifestTable.readFamily(spark, baseDir, pat)
      .map(_._2)
    require(parts.nonEmpty,
      s"no partition of $table has committed yet under $baseDir")
    parts.reduce(_.unionByName(_))
  }

  /** The trending-terms read over a [[sumCountSinkPartitioned]]
    * rollup: top `k` rows per `groupCols` by `orderCol` DESC (ties:
    * `tieCols` ASC — make them the remaining key columns so the pick
    * is total), through the bounded [[graft.operators.Ranking
    * .groupTopK]] aggregate — a dashboard refresh reads the
    * metadata-listed snapshot and never concentrates a group's whole
    * key space on one window task. The maintained counts are exact
    * (sum-merged per batch), so this is the EXACT trending answer,
    * incrementally maintained. Output: groupCols + rank + tieCols +
    * every remaining snapshot column (the maintained sums ride along
    * as payload fields after the tiebreaker) + `orderCol` restored
    * un-negated as the last column. */
  def readPartitionedTopK(
      spark: org.apache.spark.sql.SparkSession,
      baseDir: String,
      table: String,
      groupCols: Seq[String],
      tieCols: Seq[String],
      orderCol: String,
      k: Int): DataFrame = {
    require(tieCols.nonEmpty, "tieCols must make the pick total")
    val snap = readPartitioned(spark, baseDir, table)
      .withColumn("__neg", -col(orderCol))
    // groupTopK carries exactly its sort fields — append the leftover
    // snapshot columns as payload fields (after the tiebreaker, so
    // they cannot influence the pick) or they'd vanish from the view.
    val payload = snap.columns.toSeq
      .filterNot((groupCols ++ tieCols :+ orderCol :+ "__neg").contains)
    graft.operators.Ranking.groupTopK(snap, groupCols,
        (col("__neg") +: tieCols.map(col)) ++ payload.map(col), k)
      .withColumn(orderCol, -col("__neg"))
      .drop("__neg")
  }

  /** Streaming quantile materialized view: maintain per-key log-linear
    * histogram buckets ([[graft.operators.Sketches.lhBuckets]] — the
    * mergeable state, ≤ ~488 small rows per key regardless of stream
    * size) and sum-merge each micro-batch's buckets into the snapshot.
    * Bucket-count sum-merge is associative, so the maintained table is
    * BIT-IDENTICAL to bucketing all history in one pass (spec-
    * verified) — the incrementally-maintainable stand-in for [[graft
    * .operators.Ranking.groupQuantiles]], whose exact ranks would need
    * the whole history re-sorted every batch. Read estimates with
    * [[graft.operators.Sketches.lhQuantiles]] over the snapshot (a
    * live P50/P95 dashboard over a corpus-quality signal is one
    * `lhQuantiles(read(...))` away). Exactly-once as in
    * [[sumCountSink]]: per-batch txn ids seal replays.
    *
    * CONTRACT: `valueCol` must be a NON-NEGATIVE long ([[graft
    * .operators.Sketches.lhBucketIdx]] raises on negatives rather
    * than silently corrupting the distribution). Inside a stream that
    * raise is a poison batch — the checkpoint never advances and every
    * restart replays the same failure — so if the signal can go
    * negative, clamp or filter it UPSTREAM of this sink
    * (`greatest(lit(0L), col)` / `filter(col >= 0)`), choosing the
    * distribution you actually mean. */
  def quantileSink(
      rows: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] =
    mergeSink(rows, keyCols, baseDir, table, streamId, checkpointDir)(
      graft.operators.Sketches.lhBuckets(_, col(valueCol), keyCols),
      _.groupBy((keyCols :+ "idx").map(col): _*)
        .agg(sum(col("cnt")).as("cnt")))

  /** Streaming frequency materialized view: maintain per-key
    * count-min counters ([[graft.operators.Sketches.cmRegisters]] —
    * depth × width small rows per key) and sum-merge each
    * micro-batch's counters into the snapshot. Counter sum-merge is
    * associative, so the maintained state is BIT-IDENTICAL to one
    * pass over all history (spec-verified); estimate any key's
    * occurrence count with [[graft.operators.Sketches.cmEstimate]]
    * without ever re-reading the stream ("how often has this URL /
    * token / fingerprint appeared, ever" at O(1) state). Exactly-once
    * as in [[sumCountSink]]. */
  def cmSink(
      rows: DataFrame,
      keyCols: Seq[String],
      countedCol: String,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] =
    mergeSink(rows, keyCols, baseDir, table, streamId, checkpointDir)(
      graft.operators.Sketches.cmRegisters(
        _, col(countedCol).cast("string"), keyCols),
      _.groupBy((keyCols ++ Seq("j", "b")).map(col): _*)
        .agg(sum(col("cnt")).as("cnt")))

  /** Streaming heavy-hitters materialized view: maintain a per-key
    * Misra–Gries summary (≤ k (item, wt) rows per key) and merge each
    * micro-batch's summary with the mergeable-summaries rule
    * ([[graft.operators.Sketches.mgMergeSummaries]]): sum counters,
    * subtract the (k+1)-th largest, keep positives. The maintained
    * undercount stays ≤ N/(k+1) over the WHOLE stream (Agarwal et
    * al.), so every item with true count above N/(k+1) is guaranteed
    * present — "what are the top tokens/URLs, ever" at O(k) state per
    * key with no reprocessing. Exactly-once via per-batch txn ids as
    * in [[sumCountSink]]. MG weights are ORDER-dependent (partition
    * layout changes them; q156's gate makes the same point), so what
    * the spec pins is the deterministic contract: ≤ k rows per key,
    * every weight a positive lower bound on the true count, and every
    * true heavy present within the N/(k+1) undercount. */
  def mgSink(
      rows: DataFrame,
      keyCols: Seq[String],
      itemCol: String,
      k: Int,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    require(k > 0, "k must be positive")
    mergeSink(rows, keyCols, baseDir, table, streamId, checkpointDir)(
      batchMgSummary(_, keyCols, itemCol, k),
      graft.operators.Sketches.mgMergeSummaries(_, keyCols, k))
  }

  /** One micro-batch's per-key MG summary (the sink's delta step,
    * exposed for reuse and testing). */
  def batchMgSummary(
      batch: DataFrame, keyCols: Seq[String], itemCol: String, k: Int)
      : DataFrame =
    batch.groupBy(keyCols.map(col): _*)
      .agg(graft.functions.MisraGriesAggregate
        .misraGries(col(itemCol).cast("string"), k).as("__mg"))
      .select(keyCols.map(col) :+ explode(col("__mg")).as("__e"): _*)
      .select(keyCols.map(col) ++ Seq(col("__e.item").as("item"),
        col("__e.wt").as("wt")): _*)

  /** Streaming membership materialized view: maintain per-key Bloom
    * words ([[graft.operators.Sketches.bloomBits]]) and OR-merge each
    * micro-batch — "has this url/fingerprint EVER been seen" at O(64
    * KiB) state per key, served by [[graft.operators.Sketches
    * .bloomMightContain]] with exact negatives. OR-merge is
    * associative and idempotent, so the maintained words are
    * bit-identical to one pass over history (spec-verified).
    * Exactly-once as in [[sumCountSink]]. */
  def bloomSink(
      rows: DataFrame,
      keyCols: Seq[String],
      memberCol: String,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] =
    mergeSink(rows, keyCols, baseDir, table, streamId, checkpointDir)(
      graft.operators.Sketches.bloomBits(
        _, col(memberCol).cast("string"), keyCols),
      _.groupBy((keyCols :+ "w").map(col): _*)
        .agg(expr("bit_or(bits)").as("bits")))

  /** Streaming distinct-count materialized view: maintain per-key
    * HyperLogLog REGISTERS ([[graft.operators.Sketches.hllRegisters]]
    * — the mergeable state, `m` small rows per key) and max-merge each
    * micro-batch's registers into the snapshot. Because register
    * max-merge is associative and idempotent, the maintained table is
    * BIT-IDENTICAL to recomputing the sketch over all history (spec-
    * verified), while each merge touches keys×m rows — never the raw
    * stream again. Read the estimates with
    * [[graft.operators.Sketches.hllEstimate]] over the snapshot.
    * Exactly-once as in [[sumCountSink]]: per-batch txn ids seal
    * replays. */
  def hllDistinctSink(
      rows: DataFrame,
      keyCols: Seq[String],
      distinctCol: String,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] =
    mergeSink(rows, keyCols, baseDir, table, streamId, checkpointDir)(
      graft.operators.Sketches.hllRegisters(
        _, col(distinctCol).cast("string"), keyCols),
      _.groupBy((keyCols :+ "j").map(col): _*)
        .agg(max(col("mj")).as("mj")))

  /** Streaming KMV materialized view: maintain each key's k SMALLEST
    * distinct hashes ([[graft.operators.Sketches.kmvSketch]] — the
    * mergeable state, ≤ k rows per key) by union + re-truncate per
    * micro-batch. "k smallest of (k smallest ∪ delta)" is
    * associative and idempotent, so the maintained table is
    * BIT-IDENTICAL to sketching all history in one pass
    * (spec-verified), while each merge touches keys×k rows — never
    * the raw stream again. Unlike [[hllDistinctSink]]'s registers,
    * this state also answers SET OVERLAP between keys
    * ([[graft.operators.Sketches.kmvIntersectPairs]] reads the same
    * shape). Read estimates with [[graft.operators.Sketches
    * .kmvEstimate]]. Exactly-once as in [[sumCountSink]]: per-batch
    * txn ids seal replays. */
  def kmvDistinctSink(
      rows: DataFrame,
      keyCols: Seq[String],
      distinctCol: String,
      k: Int,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    graft.operators.Sketches.requireKmvK(k)
    mergeSink(rows, keyCols, baseDir, table, streamId, checkpointDir)(
      graft.operators.Sketches.kmvSketch(
        _, col(distinctCol).cast("string"), keyCols, k).drop("rank"),
      u => graft.operators.Ranking.groupTopK(
        u.dropDuplicates(keyCols :+ "h"),
        keyCols, Seq(col("h").as("h")), k).drop("rank"))
  }
}
