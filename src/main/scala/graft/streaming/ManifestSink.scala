package graft.streaming

import graft.sources.ManifestTable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** The one streaming landing into a [[graft.sources.ManifestTable]]:
  * every manifest sink in `graft.streaming` is this wiring plus a
  * per-batch body.
  *
  * Exactly-once rests on one rule: micro-batch `batchId` commits under
  * the txn id `<streamId>-<batchId>`. Checkpoint offsets are written
  * AFTER the sink runs, so a crash replays the batch with the same id
  * and its commit is a sealed no-op instead of a duplicate. `streamId`
  * must be unique per logical stream writing to `baseDir` (two streams
  * sharing an id would seal each other's batches). Empty micro-batches
  * run no body and commit nothing (replaying emptiness is harmless). */
private[graft] object ManifestSink {

  /** The batch's commit, bound to its txn id: one
    * [[graft.sources.ManifestTable.commitMulti]] manifest. With no
    * tables it only seals the txn, so a replay of the batch is a
    * no-op.
    *
    * A replay whose txn is already sealed writes nothing, so nothing
    * runs the batch. A stateful input (the sessionizer, a streaming
    * dedup) commits its state stores only from partitions that run,
    * and Spark fails the batch unless all of them did; so a sealed
    * commit of tables counts the batch through instead. */
  final class Commit private[ManifestSink] (
      batch: DataFrame,
      baseDir: String,
      txnId: String) {
    def apply(
        appends: Map[String, DataFrame] = Map.empty,
        snapshots: Map[String, DataFrame] = Map.empty): Unit = {
      val counts = ManifestTable.commitMulti(batch.sparkSession, baseDir, txnId,
        appends = appends, snapshots = snapshots)
      if (counts.isEmpty && (appends.nonEmpty || snapshots.nonEmpty)) batch.count()
    }
  }

  /** Wire `input` to land in `baseDir`: `body` gets each non-empty
    * micro-batch, its id and its [[Commit]]. The body calls the commit
    * itself, so frames it persisted are still cached while the commit
    * writes them. */
  def apply(
      input: DataFrame,
      baseDir: String,
      streamId: String,
      checkpointDir: String)(
      body: (DataFrame, Long, Commit) => Unit): DataStreamWriter[Row] = {
    require(streamId.nonEmpty && !streamId.contains("\n"),
      s"bad streamId: $streamId")
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          body(batch, batchId, new Commit(batch, baseDir, s"$streamId-$batchId"))
        ()
      }
  }
}
