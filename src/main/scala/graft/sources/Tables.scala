package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Catalog-table helpers. The K1–K3/K5 sinks that replace the
  * reference's Google-Sheets tabs (sheets_client.py:54-169) live in
  * [[ManifestTable]]. */
object Tables {

  /** Bucketed catalog table: pre-shuffles data into `nBuckets` by
    * `bucketCols` at write time so repeated joins/aggregations on that
    * key run WITHOUT an exchange (co-located). At 100 TB this is the
    * difference between shuffling the fact table per query and
    * shuffling it once at ingest. Requires a catalog table
    * (`saveAsTable`) — plain parquet paths don't retain bucket specs. */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      nBuckets: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write
      .mode(mode)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
}
