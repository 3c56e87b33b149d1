package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.{Ingest, ManifestTable}
import graft.sources.Schemas.StatusSample
import graft.streaming.{Rollup, Sessionizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** A landed file: its lines, when it was due and when it landed (run
  * clock). */
final case class Landed(name: String, lines: Array[Line], dueNs: Long, landedNs: Long)

/** The reference's job as one Structured Streaming query: landed JSON
  * telemetry → [[Ingest]] projections and [[Sessionizer.sessions]] →
  * one [[ManifestTable.commitMulti]] appending five tables →
  * [[Rollup.syncFromChanges]] maintaining Daily_Summary from the
  * Cleaning_History change feed. All state lives under `dir`. */
final class Pipeline(dir: Path, trace: Trace)(implicit spark: SparkSession) {
  import spark.implicits._

  private val landing = Files.createDirectories(dir.resolve("landing"))
  private val tmp = Files.createDirectories(dir.resolve("tmp"))
  val tables: String = dir.resolve("tables").toString
  val rollup: String = dir.resolve("rollup").toString
  private val checkpoint = dir.resolve("checkpoint")

  val landed = new ConcurrentLinkedQueue[Landed]()
  /** Micro-batch id → (start, end) of its foreachBatch body, run clock. */
  val batchTimes = new ConcurrentHashMap[Long, (Long, Long)]()
  val commitNs = new ConcurrentLinkedQueue[Long]()
  val rollupNs = new ConcurrentLinkedQueue[Long]()
  private var seq = 0

  def land(lines: Array[Line], dueNs: Long): Unit = {
    val name = f"part-$seq%06d.json"
    seq += 1
    Telemetry.land(tmp, landing, name, lines)
    landed.add(Landed(name, lines, dueNs, trace.now))
  }

  private def process(batch: DataFrame, batchId: Long): Unit = {
    val start = trace.now
    trace.span("batch") {
      batch.persist()
      val hist = batch.filter(col("h").isNotNull).select("h.*")
        .withColumn("date", to_date(col("timestamp")))
      val raw = batch.filter(col("r").isNotNull).select("r.*")
      val status = raw.filter(col("kind") === "status")
      val records = raw.filter(col("kind") === "record")
      val c0 = System.nanoTime()
      trace.span("commit") {
        ManifestTable.commitMulti(spark, tables, s"batch-$batchId", appends = Map(
          "Device_Status" -> Ingest.normalizeStatus(status),
          "Clean_Summary" -> Ingest.normalizeSummary(status),
          "Consumables" -> Ingest.normalizeConsumables(status),
          "Cleaning_Records" -> Ingest.normalizeRecords(records),
          "Cleaning_History" -> hist))
      }
      val c1 = System.nanoTime()
      trace.span("rollup") {
        Rollup.syncFromChanges(spark, tables, "Cleaning_History", Seq("date"),
          Seq("cleanTimeMin"), rollup, "Daily_Summary")
      }
      commitNs.add(c1 - c0)
      rollupNs.add(System.nanoTime() - c1)
      batch.unpersist()
    }
    batchTimes.put(batchId, (start, trace.now))
  }

  /** Start the query. The landing source is read once; its rows feed
    * both the stateful sessionizer branch and the raw branch, tagged
    * into one union so a single micro-batch commits all tables. The
    * next micro-batch starts as soon as the last one ends, so a file
    * waits at most one batch before its own. */
  def start(): StreamingQuery = {
    val raw = spark.readStream.schema(Telemetry.rawSchema).json(landing.toString)
    val samples = Ingest.normalizeStatus(raw.filter(col("kind") === "status"))
      .select(col("deviceName"), col("timestamp").as("ts"), col("state"),
        col("battery"), col("fanPower"), col("waterBoxMode").as("waterLevel"),
        col("mopMode"), col("errorCode"))
      .as[StatusSample]
    val sessions = Sessionizer.sessions(samples).toDF()
    val tagged = sessions
      .select(struct(sessions.columns.map(col).toIndexedSeq: _*).as("h"),
        lit(null).cast(raw.schema).as("r"))
      .union(raw.select(lit(null).cast(sessions.schema).as("h"),
        struct(raw.columns.map(col).toIndexedSeq: _*).as("r")))
    tagged.writeStream
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch((b: DataFrame, id: Long) => process(b, id))
      .start()
  }

  /** Landed files grouped by the micro-batch that consumed them, in
    * batch order (read back from the source's metadata log). */
  def batches(): Seq[(Long, Seq[Landed])] = {
    val of = Telemetry.batchOfFile(checkpoint)
    landed.asScala.toSeq.filter(l => of.contains(l.name)).groupBy(l => of(l.name))
      .toSeq.sortBy(_._1).map { case (b, ls) => b -> ls.sortBy(_.name) }
  }

  /** Compare all six tables with the generator's oracle. Returns the
    * failed checks (empty = correct). */
  def verify(): Seq[String] = {
    val bs = batches()
    val consumed = bs.flatMap(_._2)
    val problems = mutable.ArrayBuffer.empty[String]
    if (consumed.size != landed.size)
      problems += s"${landed.size - consumed.size} landed files never consumed"
    val lines = consumed.flatMap(_.lines)
    val polls = lines.collect { case p: Poll => p }
    val records = lines.collect { case r: Record => r }

    def render(v: Any): String = v match {
      case null | None => "null"
      case Some(x) => render(x)
      case x => x.toString
    }
    def check(name: String, got: Seq[String], want: Seq[String]): Unit =
      if (got.sorted != want.sorted) {
        val extra = got.diff(want).take(2)
        val missing = want.diff(got).take(2)
        problems += s"$name: ${got.size} rows vs ${want.size} expected; " +
          s"unexpected ${extra.mkString(" ; ")} missing ${missing.mkString(" ; ")}"
      }
    def read(t: String): DataFrame = ManifestTable.read(spark, tables, t)

    // Cleaning_History — exact rows, from the step fold.
    val sessions = Telemetry.expectedSessions(bs.map(_._2.map(_.lines)))
    check("Cleaning_History",
      read("Cleaning_History").drop("date").collect().toSeq
        .map(_.toSeq.map(render).mkString("|")),
      sessions.map(_.productIterator.map(render).mkString("|")))

    // Daily_Summary — per-day count and summed duration.
    val day = (ms: Long) => java.time.Instant.ofEpochMilli(ms).toString.take(10)
    val wantDaily = sessions.groupBy(s => day(s.timestamp.getTime)).toSeq.map {
      case (d, ss) =>
        val t = ss.flatMap(_.cleanTimeMin)
        s"$d|${ss.size}|${if (t.isEmpty) "null" else f"${t.sum}%.4f"}"
    }
    val gotDaily = if (sessions.isEmpty) Nil else
      ManifestTable.read(spark, rollup, "Daily_Summary").collect().toSeq.map { r =>
        s"${r.get(0)}|${r.getLong(1)}|" +
          (if (r.isNullAt(2)) "null" else f"${r.getDouble(2)}%.4f")
      }
    check("Daily_Summary", gotDaily, wantDaily)

    // Device_Status, Clean_Summary, Consumables, Cleaning_Records —
    // per-device batch aggregates.
    def agg(t: String, cols: Column*): Seq[String] =
      read(t).groupBy("deviceName").agg(count(lit(1)), cols: _*).collect().toSeq
        .map(_.toSeq.map(render).mkString("|"))
    def want[T](rows: Seq[T])(dev: T => String)(fs: (Seq[T] => Any)*): Seq[String] =
      rows.groupBy(dev).toSeq.map { case (d, rs) =>
        (Seq[Any](d, rs.size.toLong) ++ fs.map(_(rs))).map(render).mkString("|")
      }
    check("Device_Status",
      agg("Device_Status", sum("battery"), max("timestamp"),
        sum(when(col("state").isin(cleaningStates: _*), 1L).otherwise(0L))),
      want(polls)(_.device)(ps => ps.map(_.battery.toLong).sum,
        ps => new java.sql.Timestamp(ps.map(_.tsMs).max),
        ps => ps.count(p => cleaningStates.contains(p.state.toLowerCase)).toLong))
    check("Clean_Summary", agg("Clean_Summary", sum("totalCleanCount")),
      want(polls)(_.device)(ps => ps.map(_.cleanCount).sum))
    check("Consumables", agg("Consumables", sum("mopPad"), sum("mainBrush")),
      want(polls)(_.device)(ps => ps.map(p => p.brush.getOrElse(p.mopWork)).sum,
        ps => ps.map(_.mainBrush).sum))
    check("Cleaning_Records",
      agg("Cleaning_Records", sum(unix_millis(col("startTime")))),
      want(records)(_.device)(rs => rs.map(_.startMs).sum))
    problems.toSeq
  }

  private type Column = org.apache.spark.sql.Column
  private val cleaningStates = graft.operators.Normalize.cleaningStates
}

object Pipeline {

  /** A pipeline under `dir`, its query started on one landed file, and
    * returned once that first micro-batch (planning, state store, the
    * six tables created) has committed: the program's own warm-up. */
  def warmStart(dir: Path, trace: Trace, gen: Telemetry)(
      implicit spark: SparkSession): (Pipeline, StreamingQuery) = {
    val p = new Pipeline(dir, trace)
    p.land(gen.nextFile(), trace.now)
    val q = p.start()
    while (p.batchTimes.isEmpty && q.isActive) Thread.sleep(5)
    q.exception.foreach(e => throw e)
    (p, q)
  }
}
