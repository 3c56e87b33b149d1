package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Ingest-time normalization — the reference's scalar surface
  * (SURVEY.md §2.2–2.3), re-expressed as pure `Column` combinators so
  * Catalyst folds them into the scan projection (no UDFs, fully
  * codegen'd, 100 TB-safe).
  *
  * Reference behavior studied at:
  *  - enum → string normalization: `src/roborock_collector.py:308-325,491-503`
  *  - unit conversions:            `src/roborock_collector.py:332,480-481`
  *  - state predicates:            `src/roborock_collector.py:534-547`,
  *    `config/settings.py:37-38`
  */
object Normalize {

  /** Cleaning-state membership lists (config/settings.py:37-38 plus the
    * extra aliases in roborock_collector.py:538-539,546). Stored
    * lower-cased; membership tests are case-insensitive (C5). */
  val cleaningStates: Seq[String] =
    Seq("cleaning", "segment_cleaning", "zone_cleaning", "spot_cleaning",
      "segmentcleaning")
  val idleStates: Seq[String] =
    Seq("charger", "idle", "charging", "paused")

  /** F1 — `is_cleaning` predicate (case-insensitive membership). */
  def isCleaning(state: Column): Column =
    lower(state).isin(cleaningStates: _*)

  /** F2 — `is_idle` predicate. */
  def isIdle(state: Column): Column =
    lower(state).isin(idleStates: _*)

  /** P2 — enum normalization: map raw codes to canonical names with a
    * literal CASE chain (no lookup UDF; constant-foldable). Unmapped
    * non-null values fall through to `default`. */
  def normalizeEnum(raw: Column, mapping: Map[String, String], default: String): Column = {
    val mapped = mapping.foldLeft(lit(null).cast("string")) {
      case (acc, (from, to)) => when(lower(raw) === from.toLowerCase, to).otherwise(acc)
    }
    when(raw.isNull, lit(null).cast("string"))
      .otherwise(coalesce(mapped, lit(default)))
  }

  /** C1 — cm² → m²: `round(x / 10000, 2)`. HALF_UP `round` matches the
    * DuckDB oracle's `round` (verified: both round the shortest decimal
    * repr of the double half-away-from-zero). */
  def cm2ToM2(c: Column): Column = round(c / 10000, 2)

  /** C2 — seconds → minutes: `round(x / 60, 1)`. */
  def secToMin(c: Column): Column = round(c / 60, 1)
}
