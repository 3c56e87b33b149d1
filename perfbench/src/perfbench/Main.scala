package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.sources.ManifestTable
import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes `result.json` to the work
  * directory: end-to-end metrics (always), per-layer metrics (traced
  * runs), and the checks made on the program's outputs.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1>
  *   <workDir> <dataDir> <cpus> */
object Main {

  val SetupReps = 3

  final class Out {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    var latency = Double.NaN

    def json: String = {
      def ms(m: mutable.LinkedHashMap[String, (Double, String)]) = Json.obj(m.toSeq.map {
        case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })
      Json.obj(Seq(
        "correct" -> problems.isEmpty.toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "latency_p50_s" -> Json.num(latency),
        "metrics" -> ms(metrics),
        "per_layer" -> ms(layer),
        "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) }),
        "problems" -> problems.map(Json.str).mkString("[", ",", "]")))
    }
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, dataDir, cpusS) = argv
    val work = Files.createDirectories(Paths.get(workS))
    val out = new Out
    val ctx = Ctx(seedS.toLong, secondsS.toDouble, traceS == "1", work, dataDir, cpusS.toInt, out)
    workload match {
      case "pipeline_live" => Workloads.live(ctx)
      case "gates" => Workloads.gates(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out.layer("jvm.heap_peak_mb") = (ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")
    Files.write(work.resolve("result.json"), out.json.getBytes("UTF-8"))
    SparkSession.getActiveSession.foreach(_.stop())
    sys.exit(0)
  }
}

object Stats {
  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** The highest of p50/p75/p90/p95/p99/p99.9 with at least ten
    * samples beyond it, as (label, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(String, Double)] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
      .find(p => xs.size - math.ceil(p / 100.0 * xs.size) >= 10)
      .map(p => (s"p${if (p == p.toInt) p.toInt.toString else p.toString}", percentile(xs, p)))
}

final case class Ctx(seed: Long, seconds: Double, traced: Boolean, work: Path,
    dataDir: String, cpus: Int, out: Main.Out)

object Workloads {
  import Main.SetupReps
  import Stats.{median, tail}

  private def session(cpus: Int): SparkSession = graft.Graft.session("perfbench", cpus)

  /** Run `one` SetupReps times, each on a fresh session, and return the
    * median wall time and the last repetition's result. Every earlier
    * repetition is torn down by `teardown`. */
  private def setups[T](ctx: Ctx, cpus: Int)(one: (SparkSession, Int) => T)(
      teardown: T => Unit): (SparkSession, T) = {
    var last: Option[(SparkSession, T)] = None
    val times = (0 until SetupReps).map { rep =>
      last.foreach { case (s, t) => teardown(t); s.stop() }
      val t0 = System.nanoTime()
      val s = session(cpus)
      val r = one(s, rep)
      last = Some((s, r))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.out.metrics("setup_s") = (median(times), "s")
    ctx.out.info("setup_runs_s") = times.map(t => f"$t%.3f").mkString(",")
    last.get
  }

  /** Per-layer numbers of the traced window [from, to], from the
    * listeners. */
  private def layers(ctx: Ctx, trace: Trace, from: Long, to: Long, ops: Long)(
      implicit spark: SparkSession): Unit = {
    trace.drain(spark)
    val w = trace.totalWork
    val wall = (to - from) / 1e9
    val l = ctx.out.layer
    l("sched.jobs") = (w.jobs.toDouble, "count")
    l("sched.stages") = (w.stages.toDouble, "count")
    l("sched.tasks") = (w.tasks.toDouble, "count")
    l("sched.jobs_per_op") = (w.jobs.toDouble / math.max(1L, ops), "count")
    l("sched.delay_s") = (w.schedDelayMs / 1000.0, "s")
    l("driver.busy_s") = (trace.idleSeconds(from, to), "s")
    l("plan.s") = (trace.planNs.get / 1e9, "s")
    l("exec.run_s") = (w.runMs / 1000.0, "s")
    l("exec.cpu_s") = (w.cpuNs / 1e9, "s")
    l("exec.gc_s") = (w.gcMs / 1000.0, "s")
    l("exec.util") = (w.runMs / 1000.0 / (wall * ctx.cpus), "ratio")
    l("shuffle.write_bytes") = (w.shuffleWrite.toDouble, "bytes")
    l("shuffle.read_bytes") = (w.shuffleRead.toDouble, "bytes")
    l("spill.bytes") = (w.spill.toDouble, "bytes")
    trace.writeSpans(ctx.work.resolve("spans.jsonl"))
    val self = trace.selfSeconds
    ctx.out.info("self_s") = self.toSeq.sortBy(-_._2)
      .map { case (n, s) => f"$n=$s%.3f" }.mkString(",")
  }

  /** Stream-engine and pipeline-module numbers; zero on workloads that
    * do not run the pipeline. */
  private def pipelineLayers(ctx: Ctx, trace: Trace, p: Option[Pipeline],
      backlogMax: Int, lateMax: Double)(
      implicit spark: SparkSession): Unit = {
    val l = ctx.out.layer
    val prog = trace.progress.synchronized(trace.progress.toList).map(_.progress)
      .filter(_.numInputRows > 0)
    def avgMs(k: String) =
      if (prog.isEmpty) 0.0 else prog.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum / prog.size
    l("stream.batches") = (prog.size.toDouble, "count")
    l("stream.rows_per_batch") =
      (if (prog.isEmpty) 0.0 else prog.map(_.numInputRows.toDouble).sum / prog.size, "rows")
    l("stream.planning_ms") = (avgMs("queryPlanning"), "ms")
    l("stream.wal_ms") = (avgMs("walCommit"), "ms")
    l("stream.offset_ms") = (avgMs("latestOffset"), "ms")
    l("stream.backlog_files_max") = (backlogMax.toDouble, "count")
    l("gen.late_s_max") = (lateMax, "s")
    val ops = prog.flatMap(_.stateOperators.headOption)
    l("state.rows") = (ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "rows")
    l("state.bytes") = (ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes")
    l("state.commit_ms") =
      (if (ops.isEmpty) 0.0 else ops.map(_.commitTimeMs.toDouble).sum / ops.size, "ms")
    val commits = p.toSeq.flatMap(_.commitNs.asScala.toSeq).map(_ / 1e9)
    val rollups = p.toSeq.flatMap(_.rollupNs.asScala.toSeq).map(_ / 1e9)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def tl(xs: Seq[Double]) = tail(xs).map(_._2).getOrElse(if (xs.isEmpty) 0.0 else xs.max)
    l("commit.s_p50") = (p50(commits), "s")
    l("commit.s_tail") = (tl(commits), "s")
    l("rollup.s_p50") = (p50(rollups), "s")
    l("rollup.s_tail") = (tl(rollups), "s")
    val (files, bytes, versions, sessionsOut) = p match {
      case Some(pp) =>
        val data = Files.walk(Paths.get(pp.tables)).iterator().asScala
          .filter(f => f.toString.endsWith(".parquet") && f.toString.contains("/data/"))
          .toSeq
        (data.size.toDouble / math.max(1L, ManifestTable.latestVersion(spark, pp.tables)),
          data.map(Files.size(_)).sum.toDouble,
          ManifestTable.latestVersion(spark, pp.tables).toDouble,
          ManifestTable.read(spark, pp.tables, "Cleaning_History").count().toDouble)
      case None => (0.0, 0.0, 0.0, 0.0)
    }
    l("commit.files") = (files, "count")
    val events = p.toSeq.flatMap(_.landed.asScala).map(_.lines.length).sum
    l("commit.bytes_per_event") = (if (events > 0) bytes / events else 0.0, "bytes")
    l("commit.log_versions") = (versions, "count")
    l("Sessionizer.sessions_out") = (sessionsOut, "rows")
  }

  private def zeroGateLayers(ctx: Ctx): Unit = Gates.slice.foreach { g =>
    ctx.out.layer(s"$g.s") = (0.0, "s")
    ctx.out.layer(s"$g.jobs") = (0.0, "count")
  }

  /** `throughput_per_s` is operations per second, an operation being
    * what `attempted` counts: a gate, or a micro-batch. The latency of
    * the workload's unit of work is printed on `info` lines but not
    * bounded: on a shared 4-vCPU VM its run-to-run spread on
    * pipeline_live (IQR/median 0.14–0.47 over ten seeds) exceeds the
    * largest bound a benchmark may set (NOTES.md). */
  private def endToEnd(ctx: Ctx, latency: Seq[Double], latencyName: String,
      opsPerSec: Double): Unit = {
    ctx.out.latency = median(latency)
    ctx.out.metrics("throughput_per_s") = (opsPerSec, "1/s")
    ctx.out.info(s"${latencyName}_p50_s") = f"${median(latency)}%.4f"
    tail(latency).foreach { case (label, v) =>
      ctx.out.info(s"${latencyName}_tail_s") = f"$v%.4f ($label of ${latency.size})"
    }
  }

  // ------------------------------------------------------ pipeline_live

  /** Offered load: files per second × lines per file (see NOTES.md). */
  val LiveFilesPerSec = 5.0
  /** Seconds of traffic before the measured window. The batches of a
    * fresh JVM speed up while the JIT compiles the batch path; the
    * window starts after the steepest part of that. */
  val LiveRampS = 8.0

  def live(ctx: Ctx): Unit = {
    val gen = new Telemetry(GenConfig(), ctx.seed)
    val trace = new Trace(ctx.traced, s"pipeline_live-${ctx.seed}")
    // Spark task threads + the generator thread stay within the cores.
    val cpus = math.max(1, ctx.cpus - 1)
    val (spark0, (p, q)) = setups(ctx, cpus) { (s, rep) =>
      Pipeline.warmStart(ctx.work.resolve(s"live-$rep"), trace, gen)(s)
    } { case (_, q) => q.stop() }
    implicit val spark: SparkSession = spark0

    val n = ((LiveRampS + ctx.seconds) * LiveFilesPerSec).round.toInt
    val g0 = System.nanoTime()
    val files = Array.fill(n)(gen.nextFile())
    val genS = (System.nanoTime() - g0) / 1e9
    val period = (1e9 / LiveFilesPerSec).toLong
    val ramp = trace.now
    val start = ramp + (LiveRampS * 1e9).toLong
    val late = new java.util.concurrent.atomic.AtomicLong(0)
    val generator = new Thread(() => files.zipWithIndex.foreach { case (f, k) =>
      val due = ramp + k * period
      val wait = due - trace.now
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      late.accumulateAndGet(trace.now - due, math.max)
      p.land(f, due)
    }, "perfbench-generator")
    generator.start()
    if (ctx.traced) {
      while (trace.now < start) Thread.sleep(1)
      trace.attach(spark)
    }
    generator.join()
    q.processAllAvailable()
    q.exception.foreach(e => throw e)
    val end = trace.now

    val inWin = p.batches().flatMap { case (b, ls) => ls.map(l => (b, l)) }
      .filter(_._2.dueNs >= start)
    val fresh = inWin.map { case (b, l) => (p.batchTimes.get(b)._2 - l.dueNs) / 1e9 }
    val lastEnd = inWin.map { case (b, _) => p.batchTimes.get(b)._2 }.max
    val events = inWin.map(_._2.lines.length.toLong).sum
    // Micro-batches that started in the window while files were still
    // landing. Those run back to back, so the time from the previous
    // batch's end to a batch's end is the whole per-batch cost: offsets,
    // planning, WAL, state, the commit and the rollup.
    val lastDue = ramp + (n - 1) * period
    val cycles = p.batchTimes.asScala.toSeq.sortBy(_._1).map(_._2).sliding(2).collect {
      case Seq((_, prevEnd), (b0, b1)) if b0 >= start && b0 <= lastDue => (b1 - prevEnd) / 1e9
    }.toSeq
    endToEnd(ctx, fresh, "freshness", 1 / median(cycles))
    ctx.out.info("batch_cycle_s") = cycles.map(c => f"$c%.2f").mkString(",")
    ctx.out.info("events_per_s") = f"${events / ((lastEnd - start) / 1e9)}%.3f"
    ctx.out.info("batch_s") = p.batchTimes.asScala.toSeq.sortBy(_._1).map {
      case (_, (b0, b1)) => f"${(b1 - b0) / 1e9}%.2f${if (b0 >= start) "" else "*"}"
    }.mkString(",")
    ctx.out.info("offered_events_per_s") =
      f"${LiveFilesPerSec * GenConfig().linesPerFile}%.1f (+ run records)"
    if (ctx.traced) {
      val started = p.batchTimes.asScala.toSeq.filter(_._2._1 >= start)
      // Files landed but not yet consumed when each batch started.
      val backlog = started.map { case (b, (bs, _)) =>
        inWin.count { case (fb, l) => l.landedNs <= bs && fb >= b }
      }
      layers(ctx, trace, start, end, started.size.toLong)
      pipelineLayers(ctx, trace, Some(p), (0 +: backlog).max, late.get / 1e9)
      ctx.out.layer("gen.s") = (genS, "s")
      trace.detach(spark)
    }
    q.stop()
    finish(ctx, p)
  }

  /** Check all six tables; a failed check fails every batch. */
  private def finish(ctx: Ctx, p: Pipeline)(implicit spark: SparkSession): Unit = {
    val problems = p.verify()
    ctx.out.attempted = p.batchTimes.size.toLong
    ctx.out.failed = if (problems.isEmpty) 0 else ctx.out.attempted
    ctx.out.problems ++= problems
    if (ctx.traced) zeroGateLayers(ctx)
  }

  // -------------------------------------------------------------- gates

  def gates(ctx: Ctx): Unit = {
    val trace = new Trace(ctx.traced, s"gates-${ctx.seed}")
    val order = new scala.util.Random(ctx.seed).shuffle(Gates.slice)
    val (spark0, _) = setups(ctx, ctx.cpus) { (s, _) =>
      Gates.warmUp.foreach(Gates.run(s, ctx.dataDir, _))
    } { _ => () }
    implicit val spark: SparkSession = spark0
    Gates.writeOracle(ctx.work, Gates.slice ++ Gates.knownFindings)
    if (ctx.traced) trace.attach(spark)
    val from = trace.now
    // One pass over the slice; results are saved after the window.
    val results = order.map { g =>
      val t0 = System.nanoTime()
      val r = trace.span(g)(Gates.run(spark, ctx.dataDir, g))
      (g, (System.nanoTime() - t0) / 1e9, r)
    }
    val to = trace.now
    ctx.out.attempted = order.size.toLong
    val times = results.map(_._2)
    // The caller's unit of work is one pass over the slice; single-gate
    // times are too unlike each other for their median to be steady.
    endToEnd(ctx, Seq(times.sum), "pass", order.size / times.sum)
    ctx.out.info("gate_s") = results.map { case (g, t, _) => f"$g=$t%.2f" }.mkString(",")
    if (ctx.traced) {
      layers(ctx, trace, from, to, order.size.toLong)
      pipelineLayers(ctx, trace, None, 0, 0.0)
      val spans = trace.allSpans
      results.foreach { case (g, t, _) =>
        ctx.out.layer(s"$g.s") = (t, "s")
        ctx.out.layer(s"$g.jobs") =
          (spans.filter(_.name == g).map(s => trace.workUnder(s.id).jobs).sum.toDouble, "count")
      }
      ctx.out.layer("gen.s") = (0.0, "s")
      trace.detach(spark)
    }
    val outDir = Files.createDirectories(ctx.work.resolve("gates_out"))
    results.foreach { case (g, _, (rows, schema)) => Gates.save(rows, schema, outDir.resolve(g)) }
    // Known findings: executed and saved for the oracle check, untimed.
    Gates.knownFindings.foreach { g =>
      val (rows, schema) = Gates.run(spark, ctx.dataDir, g)
      Gates.save(rows, schema, outDir.resolve(g))
    }
  }
}
