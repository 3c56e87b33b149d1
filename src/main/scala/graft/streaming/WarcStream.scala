package graft.streaming

import graft.operators.Warc
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming crawl ingest — WARC shards arrive as rows (one fetched
  * crawl file per row, the shape a fetcher fleet lands) and flow
  * shard → records → HTTP-200 documents → quality gate + content
  * dedup → exactly-once table commit, all inside one Structured
  * Streaming query.
  *
  * The record walk ([[Warc.parseShard]]) is per-row imperative work
  * with NO cross-row state, so it applies to a micro-batched stream
  * unchanged — the only streaming-specific concerns are carrying the
  * event-time column through the parse boundary (for downstream
  * watermarking) and landing exactly-once, and both reuse the
  * existing seams: [[CorpusStream.cleanStream]] for gate + dedup
  * state, [[CorpusStream.manifestSink]] for the sink. At 100 TB the
  * fetcher's shard rows are the natural unit of parallelism — each
  * task walks its own shards, nothing shuffles until the dedup state
  * lookup. */
object WarcStream {

  /** Shard rows → one row per WARC record, event time carried.
    * Output: (idCol, tsCol, rec_idx, warc_type, target_uri,
    * content_length, http_status, body). NULL shards quarantine as
    * a single `malformed` row — same strict contract as the batch
    * [[Warc.parseWarc]] boundary. */
  def recordsOf(
      shards: DataFrame,
      idCol: String,
      tsCol: String,
      warcCol: String): DataFrame = {
    val spark = shards.sparkSession
    import spark.implicits._
    shards.select(col(idCol).cast("string"),
        col(tsCol).cast("timestamp"), col(warcCol))
      .as[(String, Timestamp, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, ts, shard) =>
          val recs =
            if (shard == null)
              Seq(Warc.Rec(0L, "malformed", None, None, -1L, None, ""))
            else Warc.parseShard(shard)
          recs.map(r => (id, ts, r.recIdx, r.warcType, r.targetUri,
            r.contentLength, r.httpStatus, r.body))
        }
      }
      .toDF(idCol, tsCol, "rec_idx", "warc_type", "target_uri",
        "content_length", "http_status", "body")
  }

  /** Successful fetches only: HTTP-200 response records become
    * (doc_id, tsCol, url, text) document rows; everything else
    * (warcinfo, requests, revisits, error statuses, malformed
    * quarantines) stays behind for the census sinks. doc_id is
    * `<shard>/<rec_idx>` — stable across replays, so downstream
    * exactly-once holds. */
  def httpDocs(
      records: DataFrame,
      idCol: String,
      tsCol: String): DataFrame =
    records
      .filter(col("warc_type") === "response" &&
        col("http_status") === 200L)
      .select(
        concat(col(idCol), lit("/"), col("rec_idx").cast("string"))
          .as("doc_id"),
        col(tsCol), col("target_uri").as("url"),
        col("body").as("text"))

  /** The full ingest transform: parse → 200-docs → rule filter +
    * content dedup within the lateness horizon. Wire the result to
    * [[CorpusStream.manifestSink]] (per-batch txn ids) to land it.
    * Output: (doc_id, tsCol, text). */
  def warcIngest(
      shards: DataFrame,
      idCol: String,
      tsCol: String,
      warcCol: String,
      lateness: String = "1 hour"): DataFrame =
    CorpusStream.cleanStream(
      httpDocs(recordsOf(shards, idCol, tsCol, warcCol), idCol, tsCol),
      "doc_id", tsCol, "text", lateness)
}
