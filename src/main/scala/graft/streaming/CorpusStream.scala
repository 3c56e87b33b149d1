package graft.streaming

import graft.functions.TextFunctions
import graft.sources.ManifestTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming corpus ingestion — the continuous twin of the batch
  * dedup/quality family ([[graft.operators.Dedup]],
  * [[graft.operators.Training]]): documents arrive as a stream and are
  * content-deduped and quality-gated BEFORE they land, so the stored
  * corpus never needs a later full-scan cleanup pass.
  *
  * All state is bounded by the event-time watermark:
  * `dropDuplicatesWithinWatermark` keeps one fingerprint per horizon
  * (Spark expires the state as the watermark advances) — the
  * streaming analogue of the reference's per-key watermark dedup
  * (pipeline.py:717-726) applied to content hashes instead of device
  * keys. Exact duplicates arriving within the horizon drop no matter
  * how the stream is micro-batched; re-crawls older than the horizon
  * are the batch dedup's job (a stream must not hold unbounded
  * fingerprint state).
  */
object CorpusStream {

  /** Content-dedup a document stream: one row per canonical text
    * fingerprint (sorted distinct token set — word-order invariant,
    * the same canonicalization as the batch q27 fingerprint) within
    * the `lateness` event-time horizon. Rows later than the watermark
    * are dropped by Spark itself; state size is O(distinct docs per
    * horizon), not O(stream). The working fingerprint column is
    * internal: it is dropped before returning (a 32-char md5 per row
    * is dead weight in a landed 100 TB corpus) and named so it cannot
    * clobber a caller's own columns. */
  def dedupByContent(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      lateness: String = "1 hour"): DataFrame = {
    val fp = "__graft_content_fp"
    require(!docs.columns.contains(fp), s"input already has a $fp column")
    docs
      .withColumn(fp, TextFunctions.sortedTokenFingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(fp)
      .drop(fp)
  }

  /** Quality-gate + content-dedup in one pass: the batch
    * [[graft.operators.Training.ruleFilter]] rules (map-only, so they
    * apply to a stream unchanged) drop failing docs BEFORE the dedup,
    * so junk never occupies fingerprint state. */
  def cleanStream(
      docs: DataFrame,
      idCol: String,
      tsCol: String,
      textCol: String,
      lateness: String = "1 hour"): DataFrame = {
    val gated = graft.operators.Training
      .ruleFilter(docs, idCol, textCol, carry = Seq(tsCol, textCol))
      .filter(col("keep"))
      .select(col(idCol), col(tsCol), col(textCol))
    dedupByContent(gated, tsCol, textCol, lateness)
  }

  /** Land a stream in a [[graft.sources.ManifestTable]] with REAL
    * exactly-once ([[ManifestSink]]: each micro-batch appends under the
    * txn id `<streamId>-<batchId>`, so a crash replay is a sealed
    * no-op instead of a duplicate append; `streamId` must be unique
    * per stream writing to `baseDir`). Streaming ingest gets the same
    * table features as batch commits: file stats for skip-reads,
    * schema tracking, time travel, vacuum. */
  def manifestSink(
      cleaned: DataFrame,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] =
    ManifestSink(cleaned, baseDir, streamId, checkpointDir) {
      (batch, _, commit) => commit(appends = Map(table -> batch))
    }

  /** A SELF-DEDUPLICATING corpus: each micro-batch is near-dup-checked
    * against everything already landed ([[graft.operators.Dedup
    * .dedupIncrement]] — the corpus is touched through its band-join
    * index, never rescanned into memory) and only the survivors commit,
    * under the same per-batch txn ids as [[manifestSink]] (replays are
    * sealed no-ops). The batch-vs-corpus check composes with the
    * in-flight [[dedupByContent]]: that one catches exact dups inside
    * the watermark horizon cheaply; this one catches NEAR dups against
    * all of history at landing time. State lives in the table itself —
    * a restart resumes from the checkpoint offsets and the manifest,
    * with nothing else to recover. */
  def ingestDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String,
      threshold: Double = 0.6): DataStreamWriter[Row] =
    ManifestSink(docs, baseDir, streamId, checkpointDir) {
      (batch, _, commit) =>
        // The already-landed corpus; on the very first batch the table
        // does not exist yet — an empty frame with the batch's schema
        // dedups against nothing.
        val corpus = ManifestTable.read(
          batch.sparkSession, baseDir, table, schema = Some(batch.schema))
        val keep = graft.operators.Dedup
          .dedupIncrement(batch, corpus, idCol, textCol,
            threshold = threshold)
          .filter(col("keep"))
          .select(idCol)
        commitSurvivors(batch.join(keep, Seq(idCol), "left_semi"), table, commit)
    }

  /** Append a gate's survivors, if any. Pinned, so the emptiness check
    * and the write evaluate the gate plan once. */
  private def commitSurvivors(
      survivors: DataFrame, table: String, commit: ManifestSink.Commit): Unit = {
    survivors.persist()
    try if (!survivors.isEmpty) commit(appends = Map(table -> survivors))
    finally survivors.unpersist()
  }

  /** [[lmGatedSink]] with the bar set by the DATA instead of a frozen
    * constant: the stream maintains a mergeable log-linear histogram
    * ([[graft.operators.Sketches.lhBuckets]]) of every micro-nat NLL
    * it has ever scored, and each micro-batch keeps the docs at or
    * below the maintained `keepFrac` quantile — CCNet's
    * head/middle/tail split, online. A fixed `maxNll` goes stale as
    * crawl quality drifts; a quantile bar tracks the distribution by
    * construction (always keeping ~the best `keepFrac` of traffic).
    *
    * Exactly-once with NO separate state story: the survivors' append
    * and the updated sketch snapshot ride ONE [[graft.sources
    * .ManifestTable.commitMulti]] manifest under `<streamId>-
    * <batchId>` — a crash replay re-reads the already-merged state
    * but its commit is a sealed no-op, so the sketch can no more
    * double-count than the corpus can double-append. The batch's own
    * scores merge into the sketch BEFORE the bar is read (cold start:
    * batch 1 is gated against itself), and the bar is the quantile
    * BUCKET's inclusive upper bound ([[graft.operators.Sketches
    * .lhBucketHi]]): docs the sketch cannot tell apart from the
    * quantile doc pass together, so the gate errs ≤12.5% lax rather
    * than rejecting the very doc that defined the quantile (an
    * all-identical-score stream must land its docs, not starve). */
  def lmAdaptiveGatedSink(
      docs: DataFrame,
      model0: graft.operators.Corpus.LmModel,
      idCol: String,
      textCol: String,
      keepFrac: Double,
      baseDir: String,
      table: String,
      sketchTable: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    require(keepFrac > 0.0 && keepFrac <= 1.0, "keepFrac must be in (0, 1]")
    require(table != sketchTable, "data and sketch tables must differ")
    import graft.operators.{Corpus, Dedup, Sketches}
    val model = Corpus.LmModel(Dedup.truncate(model0.uni),
      Dedup.truncate(model0.bigrams), Dedup.truncate(model0.vocab))
    ManifestSink(docs, baseDir, streamId, checkpointDir) {
      (batch, _, commit) =>
        val spark = batch.sparkSession
        val scored = Corpus.lmScore(batch, model, idCol, textCol)
          .select(col(idCol),
            round(col("nll") * 1e6).cast("long").as("__nll_micro"))
          .persist()
        try {
          val delta = Sketches.lhBuckets(scored, col("__nll_micro"), Nil)
          val current = ManifestTable.read(
            spark, baseDir, sketchTable, schema = Some(delta.schema))
          val merged = current.unionByName(delta)
            .groupBy(col("idx")).agg(sum(col("cnt")).as("cnt"))
            .persist()
          try {
            // The state is ≤ ~488 rows by construction — the driver
            // holds the SKETCH (the model-at-driver stance of
            // Corpus.bpeTrain), never the data.
            val st = merged.collect()
              .map(r => (r.getAs[Int]("idx"), r.getAs[Long]("cnt")))
              .sortBy(_._1)
            if (st.isEmpty) {
              // No doc in this batch (or any before it) carried a
              // bigram: there is no distribution to gate against and
              // nothing to land (no-evidence docs drop, as in
              // lmGatedSink). Still SEAL the txn — otherwise a
              // crash-replay of this batch would re-run forever (a
              // poison batch the stream can never pass).
              commit()
            } else {
              val target = math.ceil(
                keepFrac * st.iterator.map(_._2).sum).toLong
              var cum = 0L
              val barIdx = st.find { case (_, c) =>
                cum += c; cum >= target }.get._1
              val bar = spark.range(1)
                .select(Sketches.lhBucketHi(lit(barIdx))).head()
                .getLong(0)
              val keep = scored.filter(col("__nll_micro") <= bar)
                .select(idCol)
              val survivors = batch.join(keep, Seq(idCol), "left_semi")
              // One manifest: corpus append + sketch snapshot. An
              // all-dropped batch still commits the sketch update —
              // rejected traffic must keep moving the bar.
              commit(
                appends =
                  if (survivors.isEmpty) Map.empty
                  else Map(table -> survivors),
                snapshots = Map(sketchTable -> merged))
            }
          } finally merged.unpersist()
        } finally scored.unpersist()
    }
  }

  /** Land a stream gated by a FROZEN bigram LM — the CCNet deployment
    * shape: the model is trained once on a trusted corpus
    * ([[graft.operators.Corpus.lmModel]]) and incoming crawl is scored
    * against it, so the quality bar cannot drift with traffic (scoring
    * a stream against itself would). Each micro-batch is scored with
    * [[graft.operators.Corpus.lmScore]] (stream side explodes, model
    * side is static; OOV text smooths to maximally-surprising, so junk
    * scores HIGH and drops); docs with `nll` ≤ `maxNll` commit under
    * the [[manifestSink]] per-batch txn ids (crash replays are sealed
    * no-ops). Docs with no bigram carry no LM evidence and drop —
    * compose [[cleanStream]] upstream to length-gate those instead. */
  def lmGatedSink(
      docs: DataFrame,
      model0: graft.operators.Corpus.LmModel,
      idCol: String,
      textCol: String,
      maxNll: Double,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    // Freeze the model ONCE at wiring time: the three frames are plans,
    // and each micro-batch would otherwise re-run the training
    // aggregates (and against whatever the training input has become —
    // a silently drifting gate).
    import graft.operators.{Corpus, Dedup}
    val model = Corpus.LmModel(Dedup.truncate(model0.uni),
      Dedup.truncate(model0.bigrams), Dedup.truncate(model0.vocab))
    ManifestSink(docs, baseDir, streamId, checkpointDir) {
      (batch, _, commit) =>
        val keep = Corpus.lmScore(batch, model, idCol, textCol)
          .filter(col("nll") <= maxNll)
          .select(idCol)
        commitSurvivors(batch.join(keep, Seq(idCol), "left_semi"), table, commit)
    }
  }

  /** Stream-land an embedding corpus WITH its incrementally-maintained
    * IVF index: each micro-batch assigns against the FROZEN
    * `centroids` (SimilaritySpec proves frozen-centroid append ≡ full
    * rebuild) and the raw vectors + their inverted-list rows ride ONE
    * [[graft.sources.ManifestTable.commitMulti]] txn under
    * `<streamId>-<batchId>` — a crash replay is a sealed no-op for
    * corpus AND index TOGETHER, so they can never diverge. A restart
    * resumes from checkpoint offsets + the manifest, and
    * [[graft.operators.Similarity.ivfTopK]] over the read-back index
    * answers identically to a batch rebuild over the landed corpus
    * (CorpusStreamSpec, with a restart seam). Periodic centroid
    * refresh (Lloyd rounds + full re-assignment) is a batch
    * maintenance job on the landed table, not a per-batch stream
    * step — frozen routing is what keeps the append O(batch). */
  def ivfIngestSink(
      vecs: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      baseDir: String,
      table: String,
      indexTable: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    require(table != indexTable, "corpus and index tables must differ")
    // Pin the centroids ONCE at wiring time (they are a plan; each
    // micro-batch would otherwise re-derive them — and against drifting
    // inputs, silently re-routing cells).
    val frozen = graft.operators.Dedup.truncate(centroids)
    ManifestSink(vecs, baseDir, streamId, checkpointDir) {
      (batch, _, commit) =>
        // nCentroids is unused when centroids are supplied.
        val assigned = graft.operators.Similarity.ivfIndex(
          batch, idCol, vecCol, nCentroids = 0, Some(frozen))
        commit(appends = Map(table -> batch, indexTable -> assigned))
    }
  }
}
