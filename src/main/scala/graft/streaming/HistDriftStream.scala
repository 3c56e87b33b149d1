package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming histogram-distance drift pager — [[PsiStream]]'s shape
  * with the TV / Bhattacharyya / Hellinger trio instead of PSI:
  * each micro-batch's bin mix is scored against a FROZEN baseline
  * histogram with exactly the batch operator's math — literally the
  * same code, [[graft.operators.Profile.histDistancesFromCells]],
  * so stream and batch verdicts cannot diverge — and one verdict
  * row per (group, batch) lands in a
  * [[graft.sources.ManifestTable]] under `<streamId>-<batchId>`
  * txns (crash replays are sealed no-ops). PSI explodes on bins one
  * side has never seen (hence its smoothing); Hellinger and TV are
  * BOUNDED metrics — a brand-new bin contributes calmly — which is
  * why a page on Hellinger is the robust default for long-tailed
  * drift.
  *
  * The baseline is pre-binned COUNTS (group, bin, n) from a
  * known-good period — the only scalable form: the stream never
  * rescans baseline rows; per batch it is one hash-agg plus a
  * bin-domain-sized full-outer join. Groups with baseline but no
  * batch rows emit NULL distances ("no data" ≠ "no drift"). */
object HistDriftStream {

  def histSink(
      input: DataFrame,
      baseline: DataFrame,
      groupCol: String,
      binCol: String,
      alarmHellingerMicro: Long,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    require(alarmHellingerMicro > 0, "alarmHellingerMicro must be positive")
    PsiStream.baselineDriftSink(input, baseline, groupCol, binCol, baseDir,
      table, streamId, checkpointDir)(
      graft.operators.Profile.histDistancesFromCells,
      Seq("tv_micro", "bc_micro", "hellinger_micro"), "hellinger_micro",
      alarmHellingerMicro)
  }
}
