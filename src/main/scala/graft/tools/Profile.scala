package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import graft.{Graft, SparkEntry}

/** The one profiling main: times `SparkEntry` gates as [[graft.Bench]]
  * does (its session, its warm-up, `count()` per gate, reps interleaved
  * round-robin over the gates, persistent RDDs and scratch dirs freed
  * after every run) and counts the Spark jobs, stages and tasks of each
  * run.
  *
  * Usage: `runMain graft.tools.Profile <out.json> <reps> [--fresh] [qPrefix...]`
  * (no prefix: every gate; `SPARK_GRAFT_SF_DIR` and `SPARK_GRAFT_CPUS`
  * as for Bench). `--fresh` rebuilds and re-warms the session before
  * every run, so a gate is timed without the state earlier gates leave
  * in one session. Bench's warm-up reads `lineitem`; a data dir without
  * that table is warmed by the data-free step only, and the JSON's
  * `warmup` ("lineitem" or "range") says which ran. Writes one JSON
  * object to `<out.json>` and, after the timed reps, each gate's
  * formatted plan to `<out>_plans/<gate>.txt` (`<out>` without its
  * `.json`). */
object Profile {

  /** One gate's runs: seconds per rep (-1.0 for a failed run) and the
    * median job, stage and task counts of one run. */
  final case class Gate(name: String, seconds: Seq[Double],
      jobs: Long, stages: Long, tasks: Long) {
    def failed: Boolean = seconds.contains(-1.0)
  }

  def main(args: Array[String]): Unit = {
    val fresh = args.contains("--fresh")
    val rest = args.filterNot(_ == "--fresh")
    require(rest.length >= 2,
      "usage: Profile <out.json> <reps> [--fresh] [qPrefix...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Bench's session, built anew on every call; a running one stops.
    def session(): SparkSession = {
      SparkSession.getActiveSession.foreach(_.stop())
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }
    try profile(() => session(), fresh, sfDir, rest.drop(2).toSeq,
      rest(1).toInt, Paths.get(rest(0)))
    finally SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Profile the gates named by `prefixes` (all when empty) `reps`
    * times on sessions from `open`: once for all runs, or before every
    * run when `fresh`. Refuses a prefix that matches no gate before
    * `open` is called. Writes the JSON to `out` and the plans next to
    * it, prints the JSON, and returns the rows in gate order. */
  def profile(open: () => SparkSession, fresh: Boolean, sfDir: String,
      prefixes: Seq[String], reps: Int, out: Path): Seq[Gate] = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val all = SparkEntry.queries.keys.toSeq.sorted
    val unmatched = prefixes.filterNot(p => all.exists(_.startsWith(p)))
    require(unmatched.isEmpty, s"no gate matches ${unmatched.mkString(", ")}")
    val names = all.filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    // Bench's warm-up; a data dir without lineitem (perfbench's sf0.1
    // tables) gets only its first, data-free step.
    val warmup =
      if (Files.exists(Paths.get(sfDir, "lineitem.parquet"))) "lineitem" else "range"
    def warmed(): SparkSession = {
      val spark = open()
      spark.range(1000000).selectExpr("sum(id)").collect()
      if (warmup == "lineitem") Graft.table(spark, sfDir, "lineitem").count()
      spark
    }
    var spark = if (fresh) null else warmed()
    val runs = scala.collection.mutable.Map.empty[String, List[(Double, Work)]]
    for (_ <- 1 to reps; name <- names) {
      if (fresh) spark = warmed()
      val sc = spark.sparkContext
      val tag = s"graft-profile-$name"
      val work = new Work(tag)
      sc.addSparkListener(work)
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[profile] $name failed: ${e.getMessage}"); false }
      val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      sc.removeJobTag(tag)
      cleanUp(spark)
      GraftSqlBridge.drainListeners(sc)
      sc.removeSparkListener(work)
      runs(name) = (t, work) :: runs.getOrElse(name, Nil)
    }
    val gates = names.map { n =>
      val rs = runs(n).reverse
      def med(f: Work => AtomicLong) = median(rs.map(r => f(r._2).get))
      Gate(n, rs.map(_._1), med(_.jobs), med(_.stages), med(_.tasks))
    }
    val json = toJson(gates, reps, fresh, warmup, sfDir,
      spark.sparkContext.defaultParallelism)
    Files.write(out, json.getBytes(UTF_8))
    println(json)
    val plans = Files.createDirectories(
      out.resolveSibling(out.getFileName.toString.stripSuffix(".json") + "_plans"))
    names.foreach { n =>
      try Files.write(plans.resolve(s"$n.txt"),
          SparkEntry.queries(n)(spark, sfDir).queryExecution
            .explainString(FormattedMode).getBytes(UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[profile] $n has no plan: ${e.getMessage}") }
      cleanUp(spark)
    }
    gates
  }

  /** Bench's cleanup after every gate: the gates' pins and the
    * scratch table dirs of q139/q140 outlive the query otherwise. */
  private def cleanUp(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    SparkEntry.reapScratch()
  }

  private def median[T: Ordering](xs: Seq[T]): T = xs.sorted.apply(xs.size / 2)

  /** Per-gate maps `queries_median`/`queries_min` (seconds, -1.0 when a
    * run failed) and `jobs`/`stages`/`tasks` (per run), and `failed`. */
  private def toJson(gates: Seq[Gate], reps: Int, fresh: Boolean, warmup: String,
      sfDir: String, cpus: Int): String = {
    def byGate(f: Gate => String): String =
      gates.map(g => s""""${g.name}":${f(g)}""").mkString("{", ",", "}")
    def secs(f: Seq[Double] => Double)(g: Gate): String =
      if (g.failed) "-1.0" else "%.4f".formatLocal(java.util.Locale.ROOT, f(g.seconds))
    val failed = gates.filter(_.failed).map(g => s""""${g.name}"""").mkString("[", ",", "]")
    s"""{"metric":"profile","reps":$reps,"fresh":$fresh,"warmup":"$warmup",""" +
      s""""stat":"median_of_$reps","queries_median":${byGate(secs(median(_)))},""" +
      s""""queries_min":${byGate(secs(_.min))},"jobs":${byGate(_.jobs.toString)},""" +
      s""""stages":${byGate(_.stages.toString)},"tasks":${byGate(_.tasks.toString)},""" +
      s""""failed":$failed,"sf":"$sfDir","cpus":$cpus}"""
  }

  /** Counts the jobs tagged `tag`, and the completed stages and ended
    * tasks of those jobs. Job tags are inherited by threads started
    * while they are set, so jobs a gate submits from its own pools
    * count too. */
  private final class Work(tag: String) extends SparkListener {
    private val stageIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs, stages, tasks = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .exists(_.split(",").contains(tag))) {
        jobs.incrementAndGet()
        e.stageIds.foreach(stageIds.add)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(e.stageInfo.stageId)) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(e.stageId)) tasks.incrementAndGet()
  }
}
