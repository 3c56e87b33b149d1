package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.Schemas.{CleaningHistory, StatusSample}
import graft.streaming.Sessionizer
import org.apache.spark.sql.types._

/** Traffic knobs of the telemetry generator, one per dimension the
  * pipeline's cost depends on. */
final case class GenConfig(
    devices: Int = 96,          // fleet size (= Sessionizer state keys)
    zipfS: Double = 1.1,        // device skew: poll share of device i ∝ 1/(i+1)^s
    cadenceS: Int = 600,        // simulated seconds between one device's polls
    sessionLen: Int = 6,        // mean cleaning polls per session
    linesPerFile: Int = 40,     // status polls per landed file
    oooInFile: Double = 0.10,   // share of adjacent lines swapped inside a file
    oooAcrossFiles: Double = 0.02) // share of polls held back to the next file

/** One raw telemetry line as landed: a status poll, or the detailed
  * record a device uploads when a cleaning run ends. */
sealed trait Line { def device: String; def json: String }

final case class Poll(device: String, tsMs: Long, state: String, battery: Int,
    fan: Option[String], waterMode: String, mopMode: String, errorCode: Option[Int],
    cleanTimeS: Long, cleanAreaCm2: Long, cleanCount: Long, mainBrush: Long,
    sideBrush: Long, filter: Long, sensor: Long, brush: Option[Long], mopWork: Long)
    extends Line {
  def json: String = {
    val b = new StringBuilder(400)
    b ++= """{"kind":"status","timestamp":"""" ++= Telemetry.iso(tsMs)
    b ++= """","device_name":"""" ++= device ++= """","state":"""" ++= state
    b ++= """","battery":""" ++= battery.toString
    b ++= ""","fan_power":""" ++= fan.map(f => s""""$f"""").getOrElse("null")
    b ++= ""","water_box_status":"installed","water_box_mode":"""" ++= waterMode
    b ++= """","mop_mode":"""" ++= mopMode
    b ++= """","error_code":""" ++= errorCode.map(_.toString).getOrElse("null")
    b ++= ""","clean_time":""" ++= cleanTimeS.toString
    b ++= ""","clean_area":""" ++= cleanAreaCm2.toString
    b ++= ""","clean_count":""" ++= cleanCount.toString
    b ++= ""","main_brush_work_time":""" ++= mainBrush.toString
    b ++= ""","side_brush_work_time":""" ++= sideBrush.toString
    b ++= ""","filter_work_time":""" ++= filter.toString
    b ++= ""","sensor_dirty_time":""" ++= sensor.toString
    b ++= ""","cleaning_brush_work_time":""" ++= brush.map(_.toString).getOrElse("null")
    b ++= ""","mop_work_time":""" ++= mopWork.toString ++= "}"
    b.toString
  }
  def sample: StatusSample = StatusSample(device, new Timestamp(tsMs),
    state.toLowerCase, Some(battery), fan, Some(waterMode), Some(mopMode), errorCode)
}

final case class Record(device: String, tsMs: Long, startMs: Long, durationS: Long,
    areaCm2: Long, cleanMode: String, errorCode: Int) extends Line {
  def json: String =
    s"""{"kind":"record","timestamp":"${Telemetry.iso(tsMs)}","device_name":"$device",""" +
      s""""start_time":"${Telemetry.iso(startMs)}","duration":$durationS,"area":$areaCm2,""" +
      s""""clean_mode":"$cleanMode","clean_way":"Sweep_Mop","error_code":$errorCode,""" +
      s""""task_status":"Completed"}"""
}

/** Seeded generator of raw telemetry files. Each device runs a
  * charging → cleaning → (returning) → charging cycle on its own
  * simulated clock; which device polls next is Zipf-skewed. */
final class Telemetry(cfg: GenConfig, seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val cum: Array[Double] = {
    val w = (0 until cfg.devices).map(i => 1.0 / math.pow(i + 1, cfg.zipfS))
    w.scanLeft(0.0)(_ + _).tail.toArray
  }
  private val names = Array.tabulate(cfg.devices)(i => f"robo-$i%04d")
  private val cleanStates = Array("cleaning", "segment_cleaning", "zone_cleaning")
  private val fans = Array("quiet", "balanced", "turbo", "max")
  private val waters = Array("low", "medium", "high")
  private val mops = Array("standard", "deep", "deep_plus")

  private final class Dev(val name: String) {
    var clock: Long = Telemetry.Epoch + rnd.nextLong(3600000L)
    var phase = 0 // 0 charging, 1 cleaning, 2 returning
    var left: Int = 1 + rnd.nextInt(4)
    var battery: Int = 40 + rnd.nextInt(60)
    var cleanState = "cleaning"
    var fan = "balanced"
    var sessionStart = 0L
    var cleanTimeS, areaCm2, count, brushWork = 0L
    val hasBrush: Boolean = rnd.nextInt(3) != 0
  }
  private val devs = names.map(new Dev(_))
  private var held = List.empty[Line]

  private def pickDevice(): Dev = {
    val x = rnd.nextDouble() * cum.last
    var lo = 0
    var hi = cum.length - 1
    while (lo < hi) { val m = (lo + hi) >>> 1; if (cum(m) < x) lo = m + 1 else hi = m }
    devs(lo)
  }

  /** The next poll of one device, plus its run record when that poll
    * ends a cleaning run. */
  private def poll(d: Dev): Seq[Line] = {
    d.clock += cfg.cadenceS * 1000L + rnd.nextLong(cfg.cadenceS * 200L) - cfg.cadenceS * 100L
    val out = Seq.newBuilder[Line]
    d.left -= 1
    if (d.left < 0) d.phase match {
      case 0 =>
        d.phase = 1; d.left = 1 + rnd.nextInt(2 * cfg.sessionLen)
        d.cleanState = cleanStates(rnd.nextInt(cleanStates.length))
        d.fan = fans(rnd.nextInt(fans.length)); d.sessionStart = d.clock
      case 1 =>
        val dur = (d.clock - d.sessionStart) / 1000L
        val area = dur * (20 + rnd.nextInt(40))
        d.count += 1; d.cleanTimeS += dur; d.areaCm2 += area
        out += Record(d.name, d.clock, d.sessionStart, dur, area,
          if (rnd.nextBoolean()) "Standard" else "Deep", 0)
        if (rnd.nextInt(8) == 0) { d.phase = 2; d.left = 0 }
        else { d.phase = 0; d.left = 1 + rnd.nextInt(6) }
      case _ =>
        d.phase = 0; d.left = 1 + rnd.nextInt(6)
    }
    val state = d.phase match {
      case 0 => if (rnd.nextInt(10) == 0) "idle" else "charging"
      case 1 => d.cleanState
      case _ => "returning"
    }
    d.battery = if (d.phase == 1) math.max(5, d.battery - 1 - rnd.nextInt(4))
      else math.min(100, d.battery + rnd.nextInt(6))
    if (d.phase == 1) d.brushWork += cfg.cadenceS
    out += Poll(d.name, d.clock, if (rnd.nextInt(50) == 0) state.toUpperCase else state,
      d.battery, if (rnd.nextInt(40) == 0) None else Some(d.fan),
      waters(rnd.nextInt(waters.length)), mops(rnd.nextInt(mops.length)),
      if (rnd.nextInt(30) == 0) None else Some(if (rnd.nextInt(200) == 0) 8 else 0),
      d.cleanTimeS, d.areaCm2, d.count, d.brushWork, d.brushWork / 2, d.brushWork / 3,
      d.brushWork / 4, if (d.hasBrush) Some(d.brushWork) else None, d.brushWork + 7)
    out.result()
  }

  /** Lines of the next file: `linesPerFile` polls (plus run records),
    * with a share held back to the following file and a share of
    * adjacent lines swapped. */
  def nextFile(): Array[Line] = {
    val buf = mutable.ArrayBuffer.empty[Line]
    buf ++= held
    held = Nil
    var n = 0
    while (n < cfg.linesPerFile) {
      poll(pickDevice()).foreach { l =>
        if (l.isInstanceOf[Poll] && rnd.nextDouble() < cfg.oooAcrossFiles) held ::= l
        else buf += l
      }
      n += 1
    }
    var i = 0
    while (i + 1 < buf.length) {
      if (rnd.nextDouble() < cfg.oooInFile) {
        val t = buf(i); buf(i) = buf(i + 1); buf(i + 1) = t
      }
      i += 1
    }
    buf.toArray
  }
}

object Telemetry {
  val Epoch: Long = 1767225600000L // 2026-01-01T00:00:00Z

  def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString

  /** Raw landing-zone schema (every field any line kind carries). */
  val rawSchema: StructType = StructType(Seq(
    StructField("kind", StringType), StructField("timestamp", TimestampType),
    StructField("device_name", StringType), StructField("state", StringType),
    StructField("battery", IntegerType), StructField("fan_power", StringType),
    StructField("water_box_status", StringType), StructField("water_box_mode", StringType),
    StructField("mop_mode", StringType), StructField("error_code", IntegerType),
    StructField("clean_time", LongType), StructField("clean_area", DoubleType),
    StructField("clean_count", LongType), StructField("main_brush_work_time", LongType),
    StructField("side_brush_work_time", LongType), StructField("filter_work_time", LongType),
    StructField("sensor_dirty_time", LongType),
    StructField("cleaning_brush_work_time", LongType), StructField("mop_work_time", LongType),
    StructField("start_time", TimestampType), StructField("duration", DoubleType),
    StructField("area", DoubleType), StructField("clean_mode", StringType),
    StructField("clean_way", StringType), StructField("task_status", StringType)))

  /** Land one file atomically: write it under `tmpDir`, then rename it
    * into `dir` (same filesystem), so the stream never sees a partial
    * file. */
  def land(tmpDir: Path, dir: Path, name: String, lines: Array[Line]): Unit = {
    val sb = new StringBuilder(lines.length * 420)
    lines.foreach(l => sb ++= l.json += '\n')
    val tmp = tmpDir.resolve(name)
    Files.write(tmp, sb.toString.getBytes("UTF-8"))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Expected Cleaning_History: the public [[Sessionizer.step]] folded
    * per device over the micro-batches in commit order, each batch
    * holding the polls of the files the stream assigned to it. */
  def expectedSessions(batches: Seq[Seq[Array[Line]]]): Seq[CleaningHistory] = {
    val state = mutable.Map.empty[String, Sessionizer.SessionState]
    val out = Seq.newBuilder[CleaningHistory]
    batches.foreach { files =>
      files.flatten.collect { case p: Poll => p.sample }.groupBy(_.deviceName)
        .toSeq.sortBy(_._1).foreach { case (dev, samples) =>
          val (emitted, next) = Sessionizer.step(
            state.getOrElse(dev, Sessionizer.SessionState.empty), samples)
          state(dev) = next
          out ++= emitted
        }
    }
    out.result()
  }

  /** File name → micro-batch id, from the file stream source's own
    * metadata log in the query checkpoint (plain and compacted files;
    * every entry carries its batch id). */
  def batchOfFile(checkpoint: Path): Map[String, Long] = {
    val dir = checkpoint.resolve("sources").resolve("0")
    if (!Files.isDirectory(dir)) return Map.empty
    val PathRe = "\"path\"\\s*:\\s*\"([^\"]+)\"".r
    val BatchRe = "\"batchId\"\\s*:\\s*(\\d+)".r
    val files = Files.list(dir)
    try {
      val it = files.iterator()
      val m = mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (!f.getFileName.toString.startsWith(".")) {
          scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().foreach { l =>
            for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
              m(p.group(1).split('/').last) = b.group(1).toLong
          }
        }
      }
      m.toMap
    } finally files.close()
  }
}
