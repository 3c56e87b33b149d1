package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming PSI drift pager — the distribution-level sibling of
  * [[CusumStream]] (which watches per-key LEVELS): each micro-batch's
  * bin mix is scored against a FROZEN baseline histogram with exactly
  * [[graft.operators.Profile.psi]]'s smoothed math — literally the
  * same code, `Profile.psiFromCells`, so stream and batch verdicts
  * cannot diverge — and one verdict row per (group, batch) lands in a
  * [[graft.sources.ManifestTable]] under `<streamId>-<batchId>` txns
  * (crash replays are sealed no-ops; the alert log is exactly-once,
  * auditable, and time-travelable like any other table).
  *
  * The baseline is pre-binned COUNTS (group, bin, n) from a
  * known-good period — model-ops practice, and the only scalable
  * form: the stream never rescans baseline rows, and the per-batch
  * work is one hash-agg over the batch plus a (bin-domain-sized)
  * full-outer join. Groups with baseline but no batch rows emit NULL
  * psi ("no data" ≠ "no drift", stated); bins never seen on either
  * side do not exist, matching the batch operator's observed-bin
  * smoothing. */
object PsiStream {

  def psiSink(
      input: DataFrame,
      baseline: DataFrame,
      groupCol: String,
      binCol: String,
      alarmMicro: Long,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String): DataStreamWriter[Row] = {
    require(alarmMicro > 0, "alarmMicro must be positive")
    baselineDriftSink(input, baseline, groupCol, binCol, baseDir, table,
      streamId, checkpointDir)(
      graft.operators.Profile.psiFromCells, Seq("psi_micro"), "psi_micro",
      alarmMicro)
  }

  /** The frozen-baseline drift pager shared with [[HistDriftStream]]:
    * the baseline (group, bin, n) counts are pinned once at wiring
    * time; each micro-batch's non-null bins are counted per (group,
    * bin) and full-outer joined to the baseline into `(__g, __b, __ca,
    * __cb)` cells, which `score` turns into per-group `n_b` and
    * `metrics`. One verdict row per (group, batch) — (groupCol,
    * batch_id, n_rows, metrics…, alarm), alarm when `alarmCol` is at
    * or above `alarmMicro` — appends under the batch's [[ManifestSink]]
    * txn id. */
  private[streaming] def baselineDriftSink(
      input: DataFrame,
      baseline: DataFrame,
      groupCol: String,
      binCol: String,
      baseDir: String,
      table: String,
      streamId: String,
      checkpointDir: String)(
      score: DataFrame => DataFrame,
      metrics: Seq[String],
      alarmCol: String,
      alarmMicro: Long): DataStreamWriter[Row] = {
    val base = graft.operators.Dedup.truncate(
      baseline.select(col(groupCol).as("__g"), col(binCol).as("__b"),
        col("n").cast("long").as("__ca")))
    val alarmOn = col(alarmCol)
    ManifestSink(input, baseDir, streamId, checkpointDir) {
      (batch, batchId, commit) =>
        val cur = batch
          .filter(col(binCol).isNotNull)
          .select(col(groupCol).as("__g"), col(binCol).as("__b"))
          .groupBy(col("__g"), col("__b"))
          .agg(count(lit(1)).as("__cb"))
        val cells = base.join(cur, Seq("__g", "__b"), "full_outer")
          .select(col("__g"), col("__b"),
            coalesce(col("__ca"), lit(0L)).as("__ca"),
            coalesce(col("__cb"), lit(0L)).as("__cb"))
        val verdicts = score(cells)
          .select((Seq(col("__g").as(groupCol), lit(batchId).as("batch_id"),
              col("n_b").as("n_rows")) ++ metrics.map(col) :+
            (alarmOn.isNotNull && alarmOn >= alarmMicro).as("alarm")): _*)
        commit(appends = Map(table -> verdicts))
    }
  }
}
