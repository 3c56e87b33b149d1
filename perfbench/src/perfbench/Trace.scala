package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call made by the benchmark: `parent` is the span that was
  * open on the calling thread, `run` the id shared by every span of
  * one benchmark run. Times are nanoseconds on the run's clock. */
final case class Span(id: Long, name: String, parent: Long, run: String,
    start: Long, end: Long)

/** Work Spark reports for the jobs of one span (or of the whole run
  * when keyed by 0). Times in milliseconds unless named `Ns`. */
final class Work {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
  }
}

/** Spans around the benchmark's calls into the program, plus the three
  * Spark listeners that attribute jobs, query planning and micro-batch
  * progress to them. Outside [[attach]]…[[detach]] (always, when
  * `enabled = false`) a span only runs its body: no listener is
  * registered and nothing is recorded.
  *
  * Attribution: each span sets the Spark local property [[SpanKey]] on
  * its thread. Local properties are inherited by threads created while
  * the span is open, so jobs submitted from a writer pool started inside
  * the call still carry the span's id. */
final class Trace(val enabled: Boolean, val run: String) {
  val SpanKey = "perfbench.span"
  private val t0 = System.nanoTime()
  def now: Long = System.nanoTime() - t0

  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** True between [[attach]] and [[detach]]: only then are spans kept. */
  @volatile private var active = false

  def span[T](name: String)(body: => T)(implicit spark: SparkSession): T =
    if (!active) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val stack = open.get
      val prevProp = sc.getLocalProperty(SpanKey)
      val start = now
      open.set(id :: stack)
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val end = now
        sc.setLocalProperty(SpanKey, prevProp)
        open.set(stack)
        spans.synchronized {
          spans += Span(id, name, stack.headOption.getOrElse(0L), run, start, end)
        }
      }
    }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  // ---------------------------------------------------------- listeners

  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val work = new ConcurrentHashMap[Long, Work]()
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private def workOf(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  val planNs = new AtomicLong(0)
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, now)
      e.stageIds.foreach(st => stageSpan.put(st, s))
      workOf(s).synchronized { workOf(s).jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val st = Option(jobStart.remove(e.jobId)).getOrElse(now)
      jobIntervals.synchronized { jobIntervals += ((st, now)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val w = workOf(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
      w.synchronized { w.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
        val info = e.taskInfo
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        w.synchronized {
          w.tasks += 1
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.schedDelayMs += delay
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private object queryListener extends QueryExecutionListener {
    private def plan(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      planNs.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum * 1000000L)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plan(qe)
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the three listeners (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    active = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Block until the listener has seen every event posted so far: a
    * marker job's end event arrives after all earlier events. */
  def drain(spark: SparkSession): Unit = if (enabled) {
    val sc = spark.sparkContext
    val before = jobIntervals.synchronized(jobIntervals.size)
    sc.setLocalProperty(SpanKey, "-1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 10000000000L
    while (jobIntervals.synchronized(jobIntervals.size) <= before &&
        System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(50)
  }

  def detach(spark: SparkSession): Unit = if (enabled) {
    drain(spark)
    active = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  // ---------------------------------------------------------- summaries

  /** Work of the given span and every span below it. */
  def workUnder(root: Long): Work = {
    val kids = allSpans.groupBy(_.parent)
    val total = new Work
    def visit(id: Long): Unit = {
      Option(work.get(id)).foreach(total.add)
      kids.getOrElse(id, Nil).foreach(s => visit(s.id))
    }
    visit(root)
    total
  }

  def totalWork: Work = {
    val t = new Work
    work.asScala.foreach { case (k, w) => if (k >= 0) t.add(w) }
    t
  }

  /** Seconds in [from, to] during which no Spark job was running. */
  def idleSeconds(from: Long, to: Long): Double = {
    val iv = jobIntervals.synchronized(jobIntervals.toList)
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (to - from - covered) / 1e9
  }

  /** Self time per span name: duration minus the union of its children. */
  def selfSeconds: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
        var covered = 0L
        var a = -1L
        var b = -1L
        iv.foreach { case (x, y) =>
          if (x > b) { covered += b - a; a = x; b = y } else b = math.max(b, y)
        }
        covered += b - a
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    allSpans.sortBy(_.start).foreach { s =>
      val w = Option(work.get(s.id)).getOrElse(new Work)
      sb ++= s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run":${Json.str(s.run)},"start_s":${s.start / 1e9},"end_s":${s.end / 1e9},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks}}""" + "\n"
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
