package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental-sync operators — the reference's counter- and
  * timestamp-watermark dedup (`pipeline.py:472-572,673-752`,
  * `src/state_manager.py:41-87`) as set-oriented Spark transforms.
  *
  * Scale: the state table is one row per key — always broadcast in the
  * J1 join.
  */
object Incremental {

  /** J1 + F4 — join current per-key snapshots against the persisted
    * state table (broadcast; it is one row per device) and compute the
    * clamped new-work delta `max(0, cur - last)`
    * (state_manager.py:66-74). Missing state ⇒ last = 0.
    */
  def stateDelta(
      current: DataFrame,
      state: DataFrame,
      keyCol: String,
      curCountCol: String,
      lastCountCol: String): DataFrame = {
    current
      .join(broadcast(state), Seq(keyCol), "left")
      .withColumn("last_n", coalesce(col(lastCountCol), lit(0L)))
      .withColumn("new_n", greatest(lit(0L), col(curCountCol) - col("last_n")))
  }

  /** F5 — timestamp-watermark filter: keep rows strictly newer than the
    * watermark (`pipeline.py:725` compares ISO strings; our timestamps
    * are real, order-equivalent). */
  def afterWatermark(df: DataFrame, tsCol: String, watermark: Column): DataFrame =
    df.filter(col(tsCol) > watermark)

  /** T5 cold-start rule — no watermark yet ⇒ ingest only the newest
    * record per key (`pipeline.py:721-723`). */
  def newestPerKey(df: DataFrame, keyCol: String, tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieBreak).desc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Keyed upsert (MERGE INTO semantics without a table format):
    * rows present in `updates` replace the current row for that key,
    * absent keys keep the current row, brand-new keys insert. Both
    * sides must share a schema (names AND types — a silent type
    * coercion here would mutate the state table's schema downstream).
    * Like MERGE INTO's multiple-match restriction, `updates` must be
    * unique per key: duplicate update keys fan out the join (callers
    * aggregate or dropDuplicates first). One full-outer shuffle join
    * on the keys — at 100 TB both sides pre-bucketed by the key make
    * this exchange-free. */
  def upsert(current: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val payload = current.columns.filterNot(keys.contains).toSeq
    def shape(df: DataFrame) =
      df.schema.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    require(shape(updates) == shape(current),
      "upsert requires identical schemas (column names and types)")
    val cur = current.select(keys.map(col) ++
      payload.map(c => col(c).as(s"_cur_$c")): _*)
    val upd = updates.select(keys.map(col) ++
      payload.map(c => col(c).as(s"_upd_$c")): _*)
    // A NULL payload value in an update row must still win, so the
    // pick is driven by key presence (marker), not value coalescing.
    val marked = upd.withColumn("_has_upd", lit(true))
    cur.join(marked, keys, "full_outer")
      .select(keys.map(col) ++ payload.map(c =>
        when(col("_has_upd"), col(s"_upd_$c"))
          .otherwise(col(s"_cur_$c")).as(c)): _*)
  }

  /** J2 — as-of join: for each left row, attach the greatest right
    * `rightTsCol` that is <= the left row's `tsCol`, per key. Built as
    * union + running last-non-null — ONE shuffle on the key, no
    * correlated per-row lookup, scales linearly.
    *
    * Rows from `right` sort before `left` rows at equal timestamps so
    * the inclusive (<=) bound holds; `tieBreak` totalizes the order.
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      tieBreak: String,
      outCol: String): DataFrame = {
    // tieBreak may equal tsCol (callers with no separate tie column) —
    // the select list must not name a column twice.
    val cols = Seq(keyCol, tsCol, tieBreak).distinct.map(col)
    val l = left.select(cols: _*)
      .withColumn("_asof_ts", lit(null).cast("timestamp"))
      .withColumn("_kind", lit(1))
    val r = right.select(cols: _*)
      .withColumn("_asof_ts", col(tsCol))
      .withColumn("_kind", lit(0))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("_kind"), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, 0)
    l.unionByName(r)
      .withColumn(outCol, last(col("_asof_ts"), ignoreNulls = true).over(w))
      .filter(col("_kind") === 1)
      .drop("_asof_ts", "_kind")
  }
}
