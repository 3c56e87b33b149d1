package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Versioned-manifest commits — the transactional close of the T7
  * exactly-once story (SURVEY §2.8).
  *
  * [[Tables.appendDedup]] makes re-runs safe by re-reading the sink's
  * keys; that works, but a crash between a data append and the state
  * swap still double-applies on any sink that is NOT re-read before
  * writing (the reference has the mirror-image bug: it advances state
  * even when the write failed, pipeline.py:562-568, losing rows).
  * This sink closes the window structurally, Delta-style but with no
  * external dependency — and the log spans a whole BASE DIRECTORY, so
  * one commit can atomically append to several tables AND replace a
  * state snapshot:
  *
  * Layout under `baseDir/`:
  *   - `<table>/data/<txn>-<uuid>/part-*.parquet` — data files,
  *     written FIRST, invisible until referenced by a manifest. Tasks
  *     write them directly into the fresh txn dir ([[ManifestWrite]]):
  *     there is no `_temporary` staging, no rename at task or job
  *     commit, and no `_SUCCESS` marker;
  *   - `_log/v00000000001` … — one small manifest file per commit:
  *     `txn:<id>` (idempotence key), `add:<table>/…` file references,
  *     `snap:<table>` markers (this version REPLACES that table's
  *     contents with its own adds — snapshot semantics for state
  *     tables), and an optional one-line `state:` payload. The
  *     `add:`/`rows:`/`stats:` lines list exactly the files the write
  *     tasks reported at task commit (with the row counts and stats
  *     they read from the footers), never a directory listing — so a
  *     file left by a lost or speculative task attempt is never
  *     referenced.
  *
  * The commit point is a single Hadoop `rename` of the manifest into
  * `_log/` — atomic on HDFS and local FS. Crash before the rename ⇒
  * orphan data files that no reader ever sees (reclaimed by
  * [[vacuum]], which also drops unreferenced files inside referenced
  * dirs); a write that FAILS deletes its call's txn dirs itself.
  * Crash after the rename ⇒ the commit is complete, and re-running
  * the same `txnId` is a recorded no-op. Because every table touched
  * by a sync rides in the SAME manifest, "some sinks advanced but not
  * the watermark" can no longer happen — the whole sync is one rename.
  *
  * Readers take the union of `add:` entries across contiguous
  * versions (resetting at `snap:` markers) — a 100 TB table is listed
  * via one small-file directory scan of `_log/`, never a recursive
  * data-directory listing.
  *
  * Every [[compact]] interval (`graft.manifest.compactEvery`, default
  * 64) a `ckpt_v…` summary is written so steady-state reads open one
  * checkpoint plus a bounded tail — a fleet sealing no-op syncs every
  * few minutes forever must not make year-two syncs read a year-one
  * log. [[truncateLog]] (explicit, never automatic) then drops the
  * covered manifests and with them pre-checkpoint time travel.
  *
  * Concurrency stance: single writer per base dir (the reference's
  * sync is a single loop; Spark jobs coordinate upstream). On HDFS the
  * rename doubles as optimistic concurrency control — rename onto an
  * existing version fails and the loser retries against the new log.
  * On local/POSIX filesystems rename OVERWRITES the destination, so
  * the version slot is claimed via hard link instead (atomic
  * create-exclusive, and it publishes the fully-written tmp file in
  * one syscall). Object stores without atomic rename-if-absent or
  * link would need an external lock — out of scope here.
  */
object ManifestTable {

  private val LogDir = "_log"
  private val DataDir = "data"

  /** A checkpoint is written every this many versions (overridable via
    * SparkConf `graft.manifest.compactEvery`), so steady-state reads
    * open one checkpoint + a bounded manifest tail instead of the
    * whole O(versions) history — an idle fleet sealing no-op syncs
    * forever must not make every later sync slower. */
  private val DefaultCompactEvery = 64L

  private def compactEvery(spark: SparkSession): Long = {
    val raw = spark.conf.getOption("graft.manifest.compactEvery")
    val v = raw.map { s =>
      try s.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft.manifest.compactEvery must be a positive integer, got '$s'")
      }
    }.getOrElse(DefaultCompactEvery)
    require(v > 0,
      s"graft.manifest.compactEvery must be positive, got $v")
    v
  }

  private def fsAndPath(spark: SparkSession, p: String) = {
    val hp = new org.apache.hadoop.fs.Path(p)
    (hp.getFileSystem(spark.sessionState.newHadoopConf()), hp)
  }

  private def versionName(v: Long): String = f"v$v%020d"
  private def ckptName(v: Long): String = f"ckpt_v$v%020d"

  private case class Manifest(version: Long, txns: Seq[String],
      adds: Seq[String], snaps: Seq[String], state: Option[String],
      stats: Map[String, String], schemas: Map[String, String],
      removes: Seq[String], rows: Map[String, Long],
      blooms: Map[(String, String), String])

  private def parseManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      version: Long): Manifest = {
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val lines = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
    Manifest(
      version = version,
      txns = lines.collect { case l if l.startsWith("txn:") => l.drop(4) },
      adds = lines.collect { case l if l.startsWith("add:") => l.drop(4) },
      snaps = lines.collect { case l if l.startsWith("snap:") => l.drop(5) },
      state = lines.collectFirst { case l if l.startsWith("state:") => l.drop(6) },
      // stats:<file path>\t<json of {"col":[min,max],...}> — per-file
      // column ranges for data skipping; absent on pre-stats manifests.
      stats = lines.collect {
        case l if l.startsWith("stats:") && l.contains('\t') =>
          val body = l.drop(6)
          val i = body.indexOf('\t')
          body.take(i) -> body.drop(i + 1)
      }.toMap,
      // schema:<table>\t<StructType json> — the table's schema as of
      // this commit; the LATEST line wins on read (add-column
      // evolution: old files null-fill the new columns).
      schemas = lines.collect {
        case l if l.startsWith("schema:") && l.contains('\t') =>
          val body = l.drop(7)
          val i = body.indexOf('\t')
          body.take(i) -> body.drop(i + 1)
      }.toMap,
      // remove:<file> — this version DROPS that live file (row-level
      // delete rewrote or emptied it). Older versions still list it,
      // so time travel and vacuum keep seeing it.
      removes = lines.collect {
        case l if l.startsWith("remove:") => l.drop(7) },
      // rows:<file>\t<count> — the file's exact row count from its
      // parquet footer, enabling metadata-only count(*) (statsAgg).
      rows = lines.collect {
        case l if l.startsWith("rows:") && l.contains('\t') =>
          val body = l.drop(5)
          val i = body.indexOf('\t')
          scala.util.Try(body.take(i) -> body.drop(i + 1).toLong).toOption
      }.flatten.toMap,
      // bloom:<file>\t<col>\t<hex bits> — compact per-file membership
      // filter for point-lookup file skipping (see fileBloomLines).
      blooms = lines.collect {
        case l if l.startsWith("bloom:") && l.count(_ == '\t') >= 2 =>
          val body = l.drop(6)
          val i = body.indexOf('\t')
          val j = body.indexOf('\t', i + 1)
          (body.take(i), body.slice(i + 1, j)) -> body.drop(j + 1)
      }.toMap)
  }

  private def listLog(fs: org.apache.hadoop.fs.FileSystem,
      log: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(log)) Nil else fs.listStatus(log).toSeq.map(_.getPath)

  /** Committed manifests with version > `after`, oldest first — the
    * incremental read: commit retries re-open only NEW versions, not
    * the whole O(versions) history per attempt. Never consults
    * checkpoints (callers hold their own base). */
  private def readLogAfter(
      spark: SparkSession, baseDir: String, after: Long): Seq[Manifest] = {
    val (fs, log) = fsAndPath(spark, s"$baseDir/$LogDir")
    listLog(fs, log)
      .filter(p => p.getName.matches("v\\d{20}") && p.getName.drop(1).toLong > after)
      .sortBy(_.getName)
      .map(p => parseManifest(fs, p, p.getName.drop(1).toLong))
  }

  /** The effective log, oldest first: the latest checkpoint (a
    * synthetic manifest summarizing everything up to its version)
    * followed by the newer raw manifests — or the full raw history if
    * no checkpoint exists yet. */
  private def readLog(spark: SparkSession, baseDir: String): Seq[Manifest] = {
    val (fs, log) = fsAndPath(spark, s"$baseDir/$LogDir")
    val base = listLog(fs, log)
      .filter(_.getName.matches("ckpt_v\\d{20}"))
      .sortBy(_.getName).lastOption
      .map(p => parseManifest(fs, p, p.getName.drop(6).toLong))
    base.toSeq ++ readLogAfter(spark, baseDir, base.map(_.version).getOrElse(0L))
  }

  /** The COMPLETE raw history, checkpoints ignored — what [[vacuum]]
    * must see: a checkpoint summarizes only LIVE files, and treating
    * it as the whole truth would let vacuum reclaim data that older,
    * still-present manifest versions reference (time travel). */
  private def readFullLog(spark: SparkSession, baseDir: String): Seq[Manifest] =
    readLogAfter(spark, baseDir, 0L)

  /** Transaction ids already committed — the idempotence check. */
  def committedTxns(spark: SparkSession, baseDir: String): Set[String] =
    readLog(spark, baseDir).flatMap(_.txns).toSet

  /** Every table name the log has ever seen (live or historical) —
    * discovery for families of generated subtables (e.g. the
    * partitioned-rollup `<table>.p<i>` sets). */
  def tableNames(spark: SparkSession, baseDir: String): Seq[String] =
    readLog(spark, baseDir)
      .flatMap(m => m.snaps ++ m.adds.map(_.takeWhile(_ != '/')))
      .distinct.sorted

  /** The state payload of the LATEST commit that carried one (e.g. the
    * sync watermark that was advanced atomically with its data). */
  def lastState(spark: SparkSession, baseDir: String): Option[String] =
    readLog(spark, baseDir).reverse.flatMap(_.state).headOption

  /** The latest committed log version (0 = nothing committed yet) —
    * the upper bound an incremental [[tableChanges]] consumer polls
    * up to. */
  def latestVersion(spark: SparkSession, baseDir: String): Long =
    readLog(spark, baseDir).lastOption.map(_.version).getOrElse(0L)

  /** The live file set per the log: appends accumulate; a `snap:`
    * marker resets its table to that manifest's adds. */
  private def liveFiles(log: Seq[Manifest], table: String): Seq[String] = {
    val prefix = s"$table/"
    log.foldLeft(Vector.empty[String]) { (acc, m) =>
      val mine = m.adds.filter(_.startsWith(prefix))
      val base = if (m.snaps.contains(table)) Vector.empty[String] else acc
      val gone = m.removes.filter(_.startsWith(prefix)).toSet
      (if (gone.isEmpty) base else base.filterNot(gone)) ++ mine
    }
  }

  /** The table's schema as of the latest commit that recorded one —
    * the read schema under add-column evolution. None on tables whose
    * history predates schema tracking (reads fall back to inference
    * from the live files). */
  private def latestSchema(log: Seq[Manifest], table: String)
      : Option[StructType] =
    log.reverse.flatMap(_.schemas.get(table)).headOption.map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j).asInstanceOf[StructType])

  /** Public view of the committed schema (None before any
    * schema-tracking commit). */
  def schemaOf(spark: SparkSession, baseDir: String, table: String)
      : Option[StructType] = latestSchema(readLog(spark, baseDir), table)

  /** Single-table append facade over [[commitMulti]]. */
  def commit(
      batch: DataFrame,
      baseDir: String,
      table: String,
      txnId: String,
      state: Option[String] = None,
      beforeCommit: () => Unit = () => ()): Long =
    commitMulti(batch.sparkSession, baseDir, txnId,
      appends = Map(table -> batch), state = state,
      beforeCommit = beforeCommit).values.sum

  /** [[commit]], with the batch range-clustered on `clusterCol` first
    * (range repartition + sort within partitions). File min/max stats
    * only prune when per-file ranges are DISJOINT — an unclustered
    * append scatters every key range across every file and a
    * predicate then skips nothing. Clustering by the query column
    * (typically the event timestamp) makes a point/range read open
    * O(1) of the batch's files instead of all of them — the layout
    * half of the data-skipping story (Delta/Iceberg's cluster-on-write
    * idiom). The sort also maximizes parquet row-group stats and
    * dictionary/RLE compression on the clustered column. */
  def commitClustered(
      batch: DataFrame,
      baseDir: String,
      table: String,
      txnId: String,
      clusterCol: String,
      state: Option[String] = None,
      numFiles: Option[Int] = None): Long = {
    val key = org.apache.spark.sql.functions.col(clusterCol)
    // Default lets AQE size the range partitions (the right call for
    // an unknown-size batch at scale); pin numFiles when the batch
    // size is known or AQE would coalesce a small batch to one file.
    val shaped = numFiles.map(n => batch.repartitionByRange(n, key))
      .getOrElse(batch.repartitionByRange(key))
    commit(shaped.sortWithinPartitions(clusterCol), baseDir, table, txnId, state)
  }

  /** Morton/z-value of several columns normalized to `bits`-bit
    * buckets against caller-supplied (min, max) ranges: output bit
    * b·n+i takes bucket bit b of column i, so the sort order
    * interleaves all columns' locality. Range-clustering on this key
    * makes EVERY participating column's per-file min/max tight at
    * once — the multi-column generalization of single-key clustering,
    * where sorting by (a, b) leaves b scattered across all files and
    * a predicate on b alone prunes nothing. Callers supply the ranges
    * because at scale they are already known (timestamp watermarks,
    * id ranges); deriving them here would cost an extra pass. Values
    * outside [min, max] clamp into the edge buckets, so stragglers
    * degrade locality, never correctness. Bucketing divides in double
    * — fine for LAYOUT (which file a row lands in), since reads never
    * trust layout, only the exact per-file stats recorded at commit. */
  def zorderKey(cols: Seq[(org.apache.spark.sql.Column, Long, Long)],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "need at least one column")
    require(bits > 0 && bits * cols.size <= 62,
      s"bits*cols must fit a positive long, got $bits*${cols.size}")
    val n = cols.size
    val width = (1L << bits) - 1
    val buckets = cols.map { case (c, mn, mx) =>
      require(mx > mn, s"empty range [$mn, $mx]")
      val clamped = least(greatest(c.cast("long"), lit(mn)), lit(mx))
      ((clamped - lit(mn)).cast("double") * width / (mx - mn).toDouble)
        .cast("long")
    }
    (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (bk, i) =>
        shiftleft(shiftright(bk, b).bitwiseAND(lit(1L)), b * n + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** [[commit]], with the batch clustered on the [[zorderKey]] of
    * several columns — cluster-on-write for workloads that filter on
    * MORE than one column (device + time, source + id). Each file
    * then covers a small hyper-rectangle of the key space, and
    * [[read]]'s skipFilter prunes on any participating column. */
  def commitZordered(
      batch: DataFrame,
      baseDir: String,
      table: String,
      txnId: String,
      cols: Seq[(String, Long, Long)],
      bits: Int = 16,
      state: Option[String] = None,
      numFiles: Option[Int] = None): Long = {
    import org.apache.spark.sql.functions.col
    val z = zorderKey(cols.map { case (c, mn, mx) => (col(c), mn, mx) }, bits)
    val keyed = batch.withColumn("__graft_z", z)
    val shaped = numFiles.map(nf => keyed.repartitionByRange(nf, col("__graft_z")))
      .getOrElse(keyed.repartitionByRange(col("__graft_z")))
    commit(shaped.sortWithinPartitions("__graft_z").drop("__graft_z"),
      baseDir, table, txnId, state)
  }

  /** Atomically commit appends to several tables plus full-replace
    * snapshots (state tables) in ONE manifest rename. Re-running a
    * `txnId` that already committed is a no-op returning an empty map
    * — crash-rerun cannot double-apply, and no subset of the tables
    * can ever be visible without the rest.
    *
    * Every table's write is in flight at once. If one throws, the
    * others are cancelled and waited for down to their last task, the
    * call's txn dirs are deleted and the first error is rethrown — the
    * log is untouched, nothing of the call lands later, and the same
    * `txnId` can simply be re-run.
    *
    * `beforeCommit` is a test seam: it runs after all data files are
    * durable but before the manifest rename (the crash window the
    * protocol closes). Production callers leave the default. */
  def commitMulti(
      spark: SparkSession,
      baseDir: String,
      txnId: String,
      appends: Map[String, DataFrame] = Map.empty,
      snapshots: Map[String, DataFrame] = Map.empty,
      state: Option[String] = None,
      beforeCommit: () => Unit = () => ()): Map[String, Long] = {
    require(txnId.nonEmpty && !txnId.contains("\n"), s"bad txnId: $txnId")
    require(state.forall(!_.contains("\n")), "state payload must be one line")
    require((appends.keySet & snapshots.keySet).isEmpty,
      "a table cannot be both appended and snapshotted in one commit")
    // Parse the compaction conf BEFORE anything is durable: a malformed
    // value must fail the call cleanly here, not throw after the commit
    // rename (where the caller's retry would no-op via the sealed-txn
    // check and lose the written row-count map).
    val ckptEvery = compactEvery(spark)
    // One full log parse; the retry loop below only reads NEWER versions.
    var log = readLog(spark, baseDir)
    if (log.exists(_.txns.contains(txnId))) return Map.empty
    // Schema evolution gate, BEFORE anything is durable: an APPEND may
    // only add columns — every existing column must stay, same name and
    // type, or old and new files stop being one coherent table. A
    // SNAPSHOT replaces the table's contents outright, so it may
    // reshape the schema freely. (Re-checked inside the commit retry
    // loop: on HDFS a lost slot race means the log moved — a
    // concurrent reshape must fail THIS commit, not land a stale
    // schema line on top of it.)
    def schemaGate(current: Seq[Manifest]): Unit =
      appends.foreach { case (t, df) =>
        latestSchema(current, t).foreach { prev =>
          val now = df.schema.map(f => f.name -> f.dataType).toMap
          prev.foreach { f =>
            require(now.get(f.name).contains(f.dataType),
              s"append to $t must keep column '${f.name}: ${f.dataType.sql}' " +
                s"(schema evolution is add-column only; snapshot the table " +
                "to reshape it)")
          }
        }
      }
    schemaGate(log)

    // 1. Data files first — invisible until a manifest references them.
    // Each entry writes into its own fresh txn dir, named up front so a
    // failed call knows every dir it may have created.
    val safeTxn = txnId.replaceAll("[^A-Za-z0-9._-]", "_")
    val entries = (appends ++ snapshots).toSeq.sortBy(_._1).map { case (t, df) =>
      (t, df, s"$t/$DataDir/$safeTxn-${java.util.UUID.randomUUID()}") }
    val written: Map[String, Seq[WrittenFile]] =
      writeConcurrently(spark, baseDir, entries)

    // Per-file Bloom membership lines for the columns named in
    // `graft.manifest.bloomCols` (comma-separated; opt-in because it
    // costs one extra distributed pass over the JUST-written files —
    // never over the table). Integral/string columns only: the hash
    // key is the value's string form, which must render identically
    // at build (executor cast) and probe (driver literal) time.
    val bloomLines: Seq[String] = {
      val cols = spark.conf.getOption("graft.manifest.bloomCols")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
      if (cols.isEmpty) Nil
      else (appends ++ snapshots).toSeq.sortBy(_._1).flatMap { case (t, df) =>
        import org.apache.spark.sql.types._
        val eligible = df.schema.fields.collect {
          case f if cols.contains(f.name) &&
              Seq(ByteType, ShortType, IntegerType, LongType, StringType)
                .contains(f.dataType) => f.name
        }.toSeq
        if (eligible.isEmpty) Nil
        else fileBloomLines(spark, baseDir, written(t).map(_.path), eligible)
      }
    }

    beforeCommit()

    // 2. Commit = one atomic claim of the next version slot. On HDFS
    // that is a rename (rename onto an existing path fails). On local /
    // POSIX filesystems rename OVERWRITES, so rename-as-OCC does not
    // hold — there we claim via hard link, which is create-exclusive
    // AND publishes the fully-written tmp content in one syscall.
    // Retry versions forward: on a lost race, re-check only the new
    // log entries (the winner may have been OUR txn from a previous
    // attempt) and try the next slot.
    val (fs, logPath) = fsAndPath(spark, s"$baseDir/$LogDir")
    fs.mkdirs(logPath)
    val body = (Seq(s"txn:$txnId") ++
      snapshots.keys.toSeq.sorted.map(t => s"snap:$t") ++
      fileLines(written.toSeq.sortBy(_._1).flatMap(_._2)) ++
      bloomLines ++
      // A schema line activates explicit-schema reads, so an APPEND may
      // stamp one only where that cannot regress: the table already
      // tracks its schema, or it has no live files yet (brand-new). An
      // append to a LEGACY table (live pre-tracking files, unknown
      // columns) must keep schema inference — stamping the append's own
      // schema would hide legacy columns or break on type mismatch.
      // Snapshots replace the contents, so they always stamp.
      (appends.filter { case (t, _) =>
          latestSchema(log, t).isDefined || liveFiles(log, t).isEmpty } ++
        snapshots).toSeq.sortBy(_._1)
        .map { case (t, df) => s"schema:$t\t${df.schema.json}" } ++
      state.map(s => s"state:$s")).mkString("", "\n", "\n")
    val tmp = writeTmp(fs, logPath, body)
    var attempts = 0
    var committed = -1L
    while (committed < 0) {
      attempts += 1
      if (attempts > 100) {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"manifest commit for $txnId lost 100 races — aborting")
      }
      log = log ++ readLogAfter(spark, baseDir,
        log.lastOption.map(_.version).getOrElse(0L))
      if (log.exists(_.txns.contains(txnId))) { // a prior attempt of ours won
        fs.delete(tmp, false)
        return Map.empty
      }
      try schemaGate(log) catch { case e: Throwable =>
        fs.delete(tmp, false); throw e }
      val next = log.lastOption.map(_.version).getOrElse(0L) + 1
      if (claimSlot(fs, tmp, new org.apache.hadoop.fs.Path(logPath,
          versionName(next)))) committed = next
    }
    if (fs.getScheme == "file") fs.delete(tmp, false)
    // Opportunistic compaction keeps reads O(tail), never blocks the
    // commit that just succeeded.
    if (committed % ckptEvery == 0)
      try compact(spark, baseDir)
      catch { case scala.util.control.NonFatal(_) => () }
    written.map { case (t, files) => t -> files.map(_.rows).sum }
  }

  /** The `add:`, `stats:` and `rows:` lines of a manifest for files as
    * their task commits reported them. */
  private def fileLines(files: Seq[WrittenFile]): Seq[String] =
    files.map(f => s"add:${f.path}") ++
      files.flatMap(f => f.stats.map(j => s"stats:${f.path}\t$j")) ++
      files.map(f => s"rows:${f.path}\t${f.rows}")

  /** Write every `(table, frame, txn dir)` entry with
    * [[ManifestWrite.write]], all in flight at once (one thread per
    * entry: the dirs are disjoint and nothing is visible until the
    * manifest references them, so the only limit is Spark's
    * scheduler). If any write throws, no sibling write starts after
    * that, the running ones are cancelled (again every 50 ms, so a job
    * a sibling was still planning is cancelled too), and the call
    * waits until every task those jobs launched has ended — a
    * cancelled job ends at once, but its tasks only stop at their next
    * kill check. Only then is every dir of `entries` deleted and the
    * first error rethrown, so nothing of the call can land afterwards
    * and a failed commit leaves no orphaned data. The task wait is
    * bounded (60 s) so a wedged task cannot hang the error path; a
    * file such a task still writes is unreferenced, invisible to
    * reads and removed by [[vacuum]]. */
  private def writeConcurrently(
      spark: SparkSession,
      baseDir: String,
      entries: Seq[(String, DataFrame, String)]): Map[String, Seq[WrittenFile]] = {
    if (entries.isEmpty) return Map.empty
    val sc = spark.sparkContext
    val tag = s"graft-commit-${java.util.UUID.randomUUID()}"
    val tasks = new TaggedTasks(tag)
    sc.addSparkListener(tasks)
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(entries.size)
    val done = new java.util.concurrent.ExecutorCompletionService[
      Option[(String, Seq[WrittenFile])]](pool)
    val reason = "a sibling table's write failed"
    try {
      entries.foreach { case (t, df, rel) =>
        done.submit { () =>
          if (failed.get) None
          else {
            sc.addJobTag(tag)
            try Some(t -> ManifestWrite.write(df, baseDir, rel))
            finally sc.removeJobTag(tag)
          }
        }
      }
      var firstError: Option[Throwable] = None
      var results = Seq.empty[(String, Seq[WrittenFile])]
      var pending = entries.size
      while (pending > 0) {
        val f = if (firstError.isEmpty) done.take()
          else done.poll(50, java.util.concurrent.TimeUnit.MILLISECONDS)
        if (f == null) sc.cancelJobsWithTag(tag, reason)
        else {
          pending -= 1
          try results ++= f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            if (firstError.isEmpty) {
              firstError = Some(e.getCause)
              failed.set(true)
              sc.cancelJobsWithTag(tag, reason)
            }
          }
        }
      }
      firstError.foreach { e =>
        // Every sibling has returned, so every job of the tag has
        // ended and launched its last task. Once the scheduler and the
        // listener bus have caught up, `tasks` has seen every task
        // start, and its count only falls. If they do not catch up in
        // time, the bounded wait below is all that is left.
        try org.apache.spark.sql.GraftSqlBridge.cancelAndDrain(sc, tag, reason)
        catch { case scala.util.control.NonFatal(_) => () }
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (tasks.running > 0 && System.nanoTime() < deadline) Thread.sleep(5)
        entries.foreach { case (_, _, rel) =>
          val (fs, dir) = fsAndPath(spark, s"$baseDir/$rel")
          fs.delete(dir, true)
        }
        throw e
      }
      results.toMap
    } finally {
      pool.shutdown()
      sc.removeSparkListener(tasks)
    }
  }

  /** Counts the running tasks of the jobs tagged `tag`, from the
    * scheduler's task start and end events. A task's end event is
    * posted only after the task has stopped, so zero means none of
    * them can still write a file. */
  private final class TaggedTasks(tag: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val count = new java.util.concurrent.atomic.AtomicInteger
    def running: Int = count.get
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .exists(_.split(",").contains(tag)))
        e.stageIds.foreach(stages.add)
    override def onTaskStart(e: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
      if (stages.contains(e.stageId)) count.incrementAndGet()
    override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (stages.contains(e.stageId)) count.decrementAndGet()
  }

  /** A column's per-file value range: numeric (exact decimal) or
    * string (raw UTF-8 bytes, compared unsigned — the one order that
    * parquet UTF8 stats, Spark's UTF8String comparison, and code-point
    * order all agree on; java.lang.String order does NOT, it sorts
    * UTF-16 surrogates below U+E000). */
  private sealed trait ColRange
  private final case class NumRange(lo: BigDecimal, hi: BigDecimal)
    extends ColRange
  private final case class StrRange(lo: Array[Byte], hi: Array[Byte])
    extends ColRange

  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** Decode one stats JSON line back to col → range. The format is
    * writer-controlled (identifier names, plain JSON numbers or
    * hex-string pairs), so a targeted parse is safe; anything
    * malformed yields no stats for the file (reads stay correct, just
    * unpruned). */
  private def parseStats(json: String): Map[String, ColRange] =
    try {
      "\"([A-Za-z0-9_]+)\":\\[([^,\\]]+),([^,\\]]+)\\]".r
        .findAllMatchIn(json)
        .flatMap { m =>
          val (a, b) = (m.group(2), m.group(3))
          def unhex(s: String): Option[Array[Byte]] =
            if (s.length >= 3 && s.startsWith("\"x") && s.endsWith("\"") &&
              s.length % 2 == 1 && s.drop(2).dropRight(1).forall(c =>
                "0123456789abcdef".contains(c)))
              Some(s.drop(2).dropRight(1).grouped(2).toArray
                .map(Integer.parseInt(_, 16).toByte))
            else None
          (unhex(a), unhex(b)) match {
            case (Some(lo), Some(hi)) => Some(m.group(1) -> StrRange(lo, hi))
            case (None, None) =>
              try Some(m.group(1) -> NumRange(BigDecimal(a), BigDecimal(b)))
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Write `body` to a uniquely-named tmp file in `dir`. */
  private def writeTmp(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      body: String): org.apache.hadoop.fs.Path = {
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"_tmp_${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    tmp
  }

  /** Atomically claim `next` with the content of `tmp`: hard link on
    * local/POSIX (create-exclusive, publishes complete content in one
    * syscall; rename there OVERWRITES), rename-if-absent on HDFS.
    * On the link path `tmp` stays for the caller to delete. */
  private def claimSlot(
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: org.apache.hadoop.fs.Path,
      next: org.apache.hadoop.fs.Path): Boolean =
    if (fs.getScheme == "file") {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(next.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else !fs.exists(next) && fs.rename(tmp, next)

  /** Write a checkpoint summarizing the whole log as of its latest
    * version: every sealed txn id, every table as a snapshot of its
    * LIVE files, and the latest state payload. Readers then open one
    * checkpoint + the manifests behind it. Returns the checkpointed
    * version (None on an empty log; no-op if that version is already
    * checkpointed). Old manifest files stay — time travel and
    * [[vacuum]] still see them — until [[truncateLog]]. */
  def compact(spark: SparkSession, baseDir: String): Option[Long] = {
    val log = readLog(spark, baseDir)
    val last = log.lastOption.map(_.version).getOrElse(return None)
    // Re-checkpointing an already-checkpointed version is a no-op:
    // claimSlot finds ckpt_v<last> present and loses the claim.
    val tables = log.flatMap(m =>
      m.snaps ++ m.adds.map(_.takeWhile(_ != '/'))).distinct.sorted
    val live = tables.flatMap(t => liveFiles(log, t))
    val allStats = log.flatMap(_.stats).toMap // files write once; any wins
    val allRows = log.flatMap(_.rows).toMap
    val allBlooms = log.flatMap(_.blooms).toMap
    val body = (log.flatMap(_.txns).distinct.map(t => s"txn:$t") ++
      tables.map(t => s"snap:$t") ++
      live.map(f => s"add:$f") ++
      live.flatMap(f => allStats.get(f).map(j => s"stats:$f\t$j")) ++
      live.flatMap(f => allRows.get(f).map(c => s"rows:$f\t$c")) ++
      live.flatMap(f => allBlooms.collect {
        case ((bf, c), hx) if bf == f => s"bloom:$f\t$c\t$hx" }.toSeq.sorted) ++
      tables.flatMap(t => log.reverse.flatMap(_.schemas.get(t)).headOption
        .map(j => s"schema:$t\t$j")) ++
      log.reverse.flatMap(_.state).headOption.map(s => s"state:$s"))
      .mkString("", "\n", "\n")
    val (fs, logPath) = fsAndPath(spark, s"$baseDir/$LogDir")
    val tmp = writeTmp(fs, logPath, body)
    claimSlot(fs, tmp, new org.apache.hadoop.fs.Path(logPath, ckptName(last)))
    fs.delete(tmp, false) // claimed-by-link, lost-race, or HDFS leftover
    Some(last)
  }

  /** Delete raw manifests covered by the latest checkpoint. This
    * DROPS time travel before the checkpoint: a following [[vacuum]]
    * reclaims data files only pre-checkpoint history referenced.
    * Returns the number of manifest files removed. */
  def truncateLog(spark: SparkSession, baseDir: String): Int = {
    val (fs, log) = fsAndPath(spark, s"$baseDir/$LogDir")
    val ckpt = listLog(fs, log).filter(_.getName.matches("ckpt_v\\d{20}"))
      .sortBy(_.getName).lastOption.map(_.getName.drop(6).toLong)
      .getOrElse(return 0)
    val old = listLog(fs, log).filter(p =>
      p.getName.matches("v\\d{20}") && p.getName.drop(1).toLong <= ckpt)
    old.foreach(p => fs.delete(p, false))
    old.length
  }

  /** Roll `table` back to its contents AS OF log version
    * `asOfVersion`, as a NEW zero-copy commit (Delta's RESTORE): the
    * restore manifest re-references that version's live data files —
    * snap + add lines, no data rewrite, because at 100 TB a rollback
    * must be a metadata operation — carries their footer stats
    * forward so file skipping keeps working, and re-stamps the
    * schema as of that version. History is preserved: the rolled-back
    * versions stay time-travel readable, a restore of a restore is
    * just another commit, and [[vacuum]] keeps the re-referenced
    * files alive (they appear in the restore manifest's adds). Other
    * tables are untouched. `txnId` seals exactly-once like any
    * commit; returns the committed version, or -1 if `txnId` was
    * already sealed (idempotent replay). Throws where time travel
    * would: the requested state predates the oldest reconstructible
    * version, or the table did not exist at `asOfVersion`.
    * `beforeCommit` is the same test seam as [[commitMulti]]'s: runs
    * after the restore manifest is durable, before slot claiming. */
  def restore(
      spark: SparkSession,
      baseDir: String,
      table: String,
      asOfVersion: Long,
      txnId: String,
      beforeCommit: () => Unit = () => ()): Long = {
    require(txnId.nonEmpty && !txnId.contains("\n"), s"bad txnId: $txnId")
    var log = readLog(spark, baseDir)
    if (log.exists(_.txns.contains(txnId))) return -1L
    val oldLog = logAsOf(spark, baseDir, asOfVersion)
    val files = liveFiles(oldLog, table)
    val schemaJson = oldLog.reverse.flatMap(_.schemas.get(table)).headOption
    require(files.nonEmpty || schemaJson.isDefined,
      s"$table did not exist at version $asOfVersion — nothing to restore")
    // A pre-schema-tracking state can only be restored while no LATER
    // commit has stamped a schema: the restore manifest would carry no
    // schema line, so post-restore reads would resolve the newer
    // schema and apply it to the legacy files — where a time-travel
    // read of the same state correctly falls back to inference.
    def schemaGuard(cur: Seq[Manifest]): Unit =
      require(schemaJson.isDefined ||
          cur.forall(_.schemas.get(table).isEmpty),
        s"$table had no tracked schema at version $asOfVersion but a " +
          "later commit stamped one — restoring would misread the legacy " +
          "files under the newer schema; snapshot the time-travel read " +
          "instead")
    schemaGuard(log)
    val allStats = oldLog.flatMap(_.stats).toMap
    val allRows = oldLog.flatMap(_.rows).toMap
    val allBlooms = oldLog.flatMap(_.blooms).toMap
    val body = (Seq(s"txn:$txnId", s"snap:$table") ++
      files.map(f => s"add:$f") ++
      files.flatMap(f => allStats.get(f).map(j => s"stats:$f\t$j")) ++
      files.flatMap(f => allRows.get(f).map(c => s"rows:$f\t$c")) ++
      files.flatMap(f => allBlooms.collect {
        case ((bf, c), hx) if bf == f => s"bloom:$f\t$c\t$hx" }.toSeq.sorted) ++
      schemaJson.map(j => s"schema:$table\t$j")).mkString("", "\n", "\n")
    val (fs, logPath) = fsAndPath(spark, s"$baseDir/$LogDir")
    fs.mkdirs(logPath)
    val tmp = writeTmp(fs, logPath, body)
    beforeCommit()
    var attempts = 0
    var committed = -1L
    while (committed < 0) {
      attempts += 1
      if (attempts > 100) {
        fs.delete(tmp, false)
        throw new java.io.IOException(
          s"restore commit for $txnId lost 100 races — aborting")
      }
      log = log ++ readLogAfter(spark, baseDir,
        log.lastOption.map(_.version).getOrElse(0L))
      if (log.exists(_.txns.contains(txnId))) { // a prior attempt won
        fs.delete(tmp, false)
        return -1L
      }
      // Re-run the no-tracked-schema guard against the EXTENDED log:
      // a concurrent commit can stamp the table's first schema between
      // the entry check and claimSlot, and letting the schema-less
      // restore manifest land then would produce exactly the
      // legacy-files-under-newer-schema state the guard prevents
      // (commitMulti re-runs its schemaGate per attempt for the same
      // reason).
      try schemaGuard(log)
      catch { case e: Throwable => fs.delete(tmp, false); throw e }
      val next = log.lastOption.map(_.version).getOrElse(0L) + 1
      if (claimSlot(fs, tmp, new org.apache.hadoop.fs.Path(logPath,
          versionName(next)))) committed = next
    }
    if (fs.getScheme == "file") fs.delete(tmp, false)
    committed
  }

  /** Read the committed snapshot of one table. `schema` serves the
    * zero-commit case (a table that exists logically but has no data
    * yet). `asOfVersion` time-travels to the table as of that log
    * version — served from the raw manifest history, or from the
    * latest checkpoint at or below that version once [[truncateLog]]
    * has run; it throws only when the requested state predates the
    * oldest reconstructible one.
    *
    * `skipFilter` is a read predicate that ALSO skips data: conjuncts
    * of the form `column <op> literal` (on plain numeric columns) are
    * checked against the per-file min/max recorded at commit time, and
    * files whose range cannot satisfy the predicate are never handed
    * to the scan — at 100 TB a watermark query (`ts >= ...`, the
    * reference's incremental idiom) opens only the recent files
    * instead of listing-then-row-group-skipping all of history. The
    * filter is always applied to the returned frame too, so semantics
    * are exactly `read(...).filter(skipFilter)` whether or not any
    * conjunct was prunable (unknown shapes, missing stats, and
    * pre-stats manifests degrade to "no skipping", never to wrong
    * rows). */
  def read(
      spark: SparkSession,
      baseDir: String,
      table: String,
      schema: Option[StructType] = None,
      asOfVersion: Option[Long] = None,
      skipFilter: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val log = asOfVersion match {
      case None => readLog(spark, baseDir)
      case Some(v) => logAsOf(spark, baseDir, v)
    }
    readLive(spark, baseDir, table, log, schema, skipFilter)
  }

  /** The manifest history reconstructing the table state as of
    * version `v` — the time-travel log slice. Served from the raw
    * manifests when they survive, or from the latest CHECKPOINT at or
    * below `v` plus the newer raws (a checkpoint summarizes the state
    * as of its version, so [[truncateLog]] does not strand states at
    * or after it — only states BEFORE the checkpoint become
    * unreachable, and those throw loudly here). */
  private def logAsOf(spark: SparkSession, baseDir: String, v: Long)
      : Seq[Manifest] = {
    val (fs, logPath) = fsAndPath(spark, s"$baseDir/$LogDir")
    logAsOfFrom(fs, readFullLog(spark, baseDir),
      listLog(fs, logPath).filter(_.getName.matches("ckpt_v\\d{20}"))
        .map(p => p -> p.getName.drop(6).toLong).sortBy(_._2), v)
  }

  /** [[logAsOf]] against an already-read raw history and checkpoint
    * listing — multi-version readers ([[tableChanges]] reconstructs
    * both window ends) pay the log I/O once. */
  private def logAsOfFrom(
      fs: org.apache.hadoop.fs.FileSystem,
      full: Seq[Manifest],
      ckpts: Seq[(org.apache.hadoop.fs.Path, Long)],
      v: Long): Seq[Manifest] = {
    require(v > 0, s"asOfVersion must be positive, got $v")
    val latestRaw = full.lastOption.map(_.version).getOrElse(0L)
    val ckpt = ckpts.filter(_._2 <= v).lastOption
    // Distinguish "not written yet" from "written then truncated": the
    // NEWEST checkpoint (even one above v) counts toward what exists,
    // so a truncated-history request falls through to the truncation
    // message below instead of claiming v was never written.
    val latest = math.max(latestRaw, ckpts.lastOption.map(_._2).getOrElse(0L))
    require(v <= latest,
      s"cannot time-travel to version $v: it does not exist yet " +
        s"(latest committed version is $latest)")
    ckpt match {
      case Some((p, cv)) =>
        val tail = full.filter(m => m.version > cv && m.version <= v)
        // Raw versions are contiguous above the checkpoint; a gap
        // means something external deleted manifests truncateLog
        // keeps.
        require(tail.length == v - cv,
          s"cannot time-travel to version $v: only ${tail.length} of " +
            s"the ${v - cv} manifests after checkpoint v$cv remain")
        parseManifest(fs, p, cv) +: tail
      case None =>
        val hist = full.filter(_.version <= v)
        // Versions are contiguous from 1; anything less means
        // truncateLog dropped part of the requested history (and no
        // checkpoint at or below v can stand in for it).
        require(hist.length == v,
          s"cannot time-travel to version $v: only ${hist.length} of " +
            s"the first $v manifests remain (truncateLog dropped the " +
            "rest)")
        hist
    }
  }

  /** Every table whose name matches regex `pattern` and whose schema
    * the log tracks, read against ONE shared log parse — discovery,
    * schema lookup, and file listing for a family of generated
    * subtables (the partitioned-rollup `<table>.p<i>` sets) without
    * re-reading the manifest log per subtable (on object storage each
    * parse is a LIST plus per-manifest GETs). */
  def readFamily(
      spark: SparkSession,
      baseDir: String,
      pattern: String): Seq[(String, DataFrame)] = {
    val log = readLog(spark, baseDir)
    log.flatMap(m => m.snaps ++ m.adds.map(_.takeWhile(_ != '/')))
      .distinct.sorted.filter(_.matches(pattern))
      .flatMap(t => latestSchema(log, t).map(s =>
        t -> readLive(spark, baseDir, t, log, Some(s), None)))
  }

  /** [[read]] against an already-parsed `log` — the shared tail of
    * [[read]] and [[readFamily]]. */
  private def readLive(
      spark: SparkSession,
      baseDir: String,
      table: String,
      log: Seq[Manifest],
      schema: Option[StructType],
      skipFilter: Option[org.apache.spark.sql.Column]): DataFrame = {
    val files = liveFiles(log, table)
    // The committed schema (latest schema: line) is the read schema:
    // files written before an add-column commit lack the new columns
    // and the parquet reader null-fills them — no mergeSchema footer
    // sweep over a 100 TB file list.
    val logSchema = latestSchema(log, table)
    if (files.isEmpty) {
      return schema.orElse(logSchema).map(s => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
        .getOrElse(throw new java.io.FileNotFoundException(
          s"$baseDir/$table has no committed data and no schema was supplied"))
    }
    val kept = skipFilter match {
      case None => files
      case Some(pred) => prunedPartition(log, files, pred)._1
    }
    val reader = logSchema.map(spark.read.schema).getOrElse(spark.read)
    // Every live file pruned: the stats PROVED the predicate selects
    // zero rows, but the empty frame still needs the table's schema —
    // open one file's footer (metadata-only) and emit no rows.
    val df =
      if (kept.nonEmpty) reader.parquet(kept.map(f => s"$baseDir/$f"): _*)
      else reader.parquet(s"$baseDir/${files.head}")
        .where(org.apache.spark.sql.functions.lit(false))
    skipFilter.map(p => df.filter(p)).getOrElse(df)
  }

  /** Change data feed at FILE granularity: every row `table` gained or
    * lost between its committed states as of `fromVersion` (exclusive
    * base; 0 = empty table, so everything live reads as inserted) and
    * `toVersion` (inclusive), tagged `_change_type` = 'insert' |
    * 'delete' — the Delta `table_changes` idiom derived purely from
    * the manifest log, with ZERO extra storage: inserts are the rows
    * of files live at B but not at A, deletes the reverse. A file
    * added and removed entirely inside the window cancels (its rows
    * never became visible committed state).
    *
    * Rewrite commits ([[deleteWhere]]/[[upsertKeyed]]/[[replaceWhere]]
    * /[[optimize]]) surface each rewritten file as whole-file delete +
    * re-insert; `netOnly` diffs the two sides (exceptAll both ways) so
    * only true row-level changes remain — a pure [[optimize]] window
    * nets to zero rows. The net diff shuffles only the CHANGED files'
    * rows, never the table.
    *
    * At 100 TB this is what an incremental downstream consumer polls
    * instead of re-reading the table: the scan (and the net diff) is
    * bounded by the files that changed in the window, and the consumer
    * resumes from the last version it processed — the same
    * contract the streaming sinks' txn ids give writers, now on the
    * read side. Both sides read under the `toVersion` schema
    * (add-column-only evolution: older files null-fill). */
  def tableChanges(
      spark: SparkSession,
      baseDir: String,
      table: String,
      fromVersion: Long,
      toVersion: Long,
      netOnly: Boolean = false): DataFrame =
    changeRows(spark, baseDir,
      changeWindow(spark, baseDir, table, fromVersion, toVersion), netOnly)

  /** What changed in `table` between its committed states as of
    * `fromVersion` (exclusive; 0 = empty) and `toVersion` — the
    * metadata half of [[tableChanges]], answered from the manifest log
    * alone with no Spark job. `inserted`/`deleted` are the files live
    * at B but not at A and the reverse (a file added and removed
    * inside the window cancels); `insertedRows` is their exact row
    * count from the `rows:` lines, None when any inserted file lacks
    * one (pre-`rows:` commits); `schema` is the table's schema as of
    * `toVersion`. */
  final case class ChangeWindow(
      table: String,
      fromVersion: Long,
      toVersion: Long,
      inserted: Seq[String],
      deleted: Seq[String],
      insertedRows: Option[Long],
      schema: Option[StructType])

  def changeWindow(
      spark: SparkSession,
      baseDir: String,
      table: String,
      fromVersion: Long,
      toVersion: Long): ChangeWindow = {
    require(fromVersion >= 0, s"fromVersion must be >= 0, got $fromVersion")
    require(toVersion > fromVersion,
      s"toVersion ($toVersion) must be after fromVersion ($fromVersion)")
    // Each side reconstructs its own state (one shared log read):
    // logAsOfFrom serves from a checkpoint when truncateLog dropped
    // the raw prefix, and throws loudly when a state genuinely
    // predates the oldest checkpoint — a prefix-filter of the B log
    // would silently read a stranded base state as EMPTY and re-emit
    // the whole table as inserts.
    val (fsL, logPath) = fsAndPath(spark, s"$baseDir/$LogDir")
    val full = readFullLog(spark, baseDir)
    val ckpts = listLog(fsL, logPath)
      .filter(_.getName.matches("ckpt_v\\d{20}"))
      .map(p => p -> p.getName.drop(6).toLong).sortBy(_._2)
    val logB = logAsOfFrom(fsL, full, ckpts, toVersion)
    val liveA =
      if (fromVersion == 0L) Set.empty[String]
      else liveFiles(logAsOfFrom(fsL, full, ckpts, fromVersion), table).toSet
    val liveB = liveFiles(logB, table).toSet
    val inserted = (liveB -- liveA).toSeq.sorted
    val rows = logB.flatMap(_.rows).toMap
    val counts = inserted.map(rows.get)
    ChangeWindow(table, fromVersion, toVersion, inserted,
      (liveA -- liveB).toSeq.sorted,
      if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None,
      latestSchema(logB, table))
  }

  /** The rows of a [[changeWindow]], tagged as in [[tableChanges]]. */
  def changeRows(
      spark: SparkSession,
      baseDir: String,
      w: ChangeWindow,
      netOnly: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val reader = w.schema.map(spark.read.schema).getOrElse(spark.read)
    def tagged(files: Seq[String], t: String): Option[DataFrame] =
      if (files.isEmpty) None
      else Some(reader.parquet(files.map(f => s"$baseDir/$f"): _*)
        .withColumn("_change_type", lit(t)))
    (tagged(w.inserted, "insert"), tagged(w.deleted, "delete")) match {
      case (Some(i), Some(d)) if netOnly =>
        val iRaw = i.drop("_change_type")
        val dRaw = d.drop("_change_type")
        iRaw.exceptAll(dRaw).withColumn("_change_type", lit("insert"))
          .unionByName(
            dRaw.exceptAll(iRaw).withColumn("_change_type", lit("delete")))
      case (Some(i), Some(d)) => i.unionByName(d)
      case (Some(i), None) => i
      case (None, Some(d)) => d
      case (None, None) => w.schema
        .map { s =>
          val withTag = StructType(s.fields :+
            org.apache.spark.sql.types.StructField("_change_type",
              org.apache.spark.sql.types.StringType))
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withTag)
        }
        .getOrElse(throw new java.io.FileNotFoundException(
          s"$baseDir/${w.table} changed no files in (${w.fromVersion}, " +
            s"${w.toVersion}] and tracks no schema to shape an empty feed"))
    }
  }

  /** Flatten a predicate into AND-ed conjuncts (each prunes on its
    * own; anything non-AND stays whole and is judged conservatively).
    * Column-built predicates arrive as UNRESOLVED function nodes
    * (`'and(a, b)`) — analysis has not run at this driver-side point —
    * so both spellings are handled. */
  private def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
        if f.nameParts == Seq("and") && f.arguments.length == 2 =>
      splitConjuncts(f.arguments.head) ++ splitConjuncts(f.arguments(1))
    case other => Seq(other)
  }

  /** Could any row of a file with column `ranges` satisfy this conjunct?
    * Only `column <op> literal` shapes (either operand order, numeric
    * or string literal against the matching range kind) can answer
    * "no"; everything else — unknown expressions, columns without
    * recorded stats, kind mismatches — answers "maybe" and keeps the
    * file. min/max cover non-null values and every handled comparison
    * is null-rejecting, so NULL rows never rescue a pruned file. */
  private def conjunctMayMatch(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      ranges: Map[String, ColRange]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def name(x: Expression): Option[String] = x match {
      // Single-part names only: a struct path like `x.ts` must never
      // prune against the TOP-LEVEL `ts` stats.
      case u: UnresolvedAttribute if u.nameParts.length == 1 =>
        Some(u.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def num(x: Expression): Option[BigDecimal] = x match {
      case Literal(v: Byte, _) => Some(BigDecimal(v.toInt))
      case Literal(v: Short, _) => Some(BigDecimal(v.toInt))
      case Literal(v: Int, _) => Some(BigDecimal(v))
      case Literal(v: Long, _) => Some(BigDecimal(v))
      case Literal(v: Float, _) if !v.isNaN && !v.isInfinite =>
        Some(BigDecimal(v.toDouble))
      case Literal(v: Double, _) if !v.isNaN && !v.isInfinite =>
        Some(BigDecimal(v))
      case Literal(v: org.apache.spark.sql.types.Decimal, _) =>
        Some(v.toBigDecimal)
      case _ => None
    }
    def str(x: Expression): Option[Array[Byte]] = x match {
      // UTF8String literals carry Spark's default UTF8_BINARY order;
      // a collated comparison would not arrive as a bare literal.
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.getBytes)
      case _ => None
    }
    // Evaluate `col <op> v` against the column's recorded range, with
    // the literal and range kinds required to agree.
    def rangeCheck(n: String, op: String, numV: Option[BigDecimal],
        strV: Option[Array[Byte]]): Option[Boolean] =
      (ranges.get(n), numV, strV) match {
        case (Some(NumRange(lo, hi)), Some(v), _) => Some(op match {
          case ">"  => hi > v
          case ">=" => hi >= v
          case "<"  => lo < v
          case "<=" => lo <= v
          case "="  => lo <= v && v <= hi
        })
        case (Some(StrRange(lo, hi)), _, Some(v)) => Some(op match {
          case ">"  => cmpBytes(hi, v) > 0
          case ">=" => cmpBytes(hi, v) >= 0
          case "<"  => cmpBytes(lo, v) < 0
          case "<=" => cmpBytes(lo, v) <= 0
          case "="  => cmpBytes(lo, v) <= 0 && cmpBytes(v, hi) <= 0
        })
        case _ => None
      }
    def flip(op: String): String = op match {
      case ">" => "<"; case ">=" => "<="
      case "<" => ">"; case "<=" => ">="; case other => other
    }
    // Normalize to (range of column, op, literal) with the column on
    // the left, flipping the operator when the literal leads.
    def check(lhs: Expression, op: String, rhs: Expression): Option[Boolean] =
      name(lhs).flatMap(n => rangeCheck(n, op, num(rhs), str(rhs)))
        .orElse(name(rhs).flatMap(n =>
          rangeCheck(n, flip(op), num(lhs), str(lhs))))
    val ops = Set(">", ">=", "<", "<=", "=", "==")
    val verdict = e match {
      case GreaterThan(l, r) => check(l, ">", r)
      case GreaterThanOrEqual(l, r) => check(l, ">=", r)
      case LessThan(l, r) => check(l, "<", r)
      case LessThanOrEqual(l, r) => check(l, "<=", r)
      case EqualTo(l, r) => check(l, "=", r)
      // Pre-analysis Column predicates: operator as unresolved function.
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 && ops.contains(f.nameParts.head) &&
            f.arguments.length == 2 =>
        val op = if (f.nameParts.head == "==") "=" else f.nameParts.head
        check(f.arguments.head, op, f.arguments(1))
      case _ => None
    }
    verdict.getOrElse(true)
  }

  /** Outcome of a [[deleteWhere]]: how many rows went, how many files
    * were rewritten, and how many live files the stats proved
    * untouched (they keep their object-store paths — no data movement,
    * no cache invalidation, tight vacuum scope). */
  final case class DeleteResult(
      deletedRows: Long, filesRewritten: Int, filesKept: Int)

  /** Row-level delete: remove the rows matching `predicate` from
    * `table`, rewriting ONLY the files whose recorded per-file min/max
    * stats say they might hold a matching row — the takedown/opt-out
    * path (GDPR erasure, licensing retractions) that otherwise means
    * rewriting a whole landed corpus. On a key-clustered table
    * ([[commitClustered]]/[[commitZordered]]) a keyed delete touches
    * O(1) of the files; every other file keeps its object-store path
    * untouched, proven by the same [[read]] skipFilter stats machinery
    * (conservative: a file without stats is rewritten, never skipped).
    *
    * DELETE-WHERE semantics: a row goes only when the predicate is
    * TRUE; false AND NULL rows survive (dropping NULL-evaluating rows
    * would silently erase rows the predicate never matched).
    *
    * The commit is one manifest (`remove:` old files + `add:`
    * rewrites) sealed under `txnId` — crash-replay is a recorded
    * no-op returning None. Older manifests still list the removed
    * files, so time travel reads the pre-delete table and [[vacuum]]
    * leaves those files alone until [[truncateLog]] drops the history
    * that references them. */
  def deleteWhere(
      spark: SparkSession,
      baseDir: String,
      table: String,
      predicate: org.apache.spark.sql.Column,
      txnId: String,
      beforeCommit: () => Unit = () => ()): Option[DeleteResult] = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(txnId.nonEmpty && !txnId.contains("\n"), s"bad txnId: $txnId")
    val log = readLog(spark, baseDir)
    if (log.exists(_.txns.contains(txnId))) return None
    val files = liveFiles(log, table)
    val (candidates, kept) = prunedPartition(log, files, predicate)
    if (candidates.isEmpty) {
      // Nothing can match, but the txn must still seal (idempotence).
      commitMulti(spark, baseDir, txnId)
      return Some(DeleteResult(0L, 0, kept.length))
    }
    val before = parquetRowCount(spark, candidates.map(f =>
      new org.apache.hadoop.fs.Path(s"$baseDir/$f")))
    // Rewrite the candidates minus the matching rows. The committed
    // schema is the read schema (old files null-fill evolved columns).
    val reader = latestSchema(log, table).map(spark.read.schema)
      .getOrElse(spark.read)
    val survivors = reader.parquet(candidates.map(f => s"$baseDir/$f"): _*)
      .filter(coalesce(not(predicate), lit(true)))
    val adds = writeRewrite(spark, baseDir, table, txnId, survivors)
    beforeCommit()
    if (!commitRewrite(spark, baseDir, txnId, log, candidates, adds,
        kind = "delete", table = table)) return None
    Some(DeleteResult(before - adds.map(_.rows).sum, candidates.length,
      kept.length))
  }

  /** Split `files` into (may hold a predicate match, provably cannot)
    * using the committed per-file stats — THE pruning judgment, shared
    * by [[read]]'s skipFilter and every rewrite op so their notions of
    * "affected file" can never diverge. Conservative: a file without
    * stats lands on the may-match side. */

  /** Metadata-only aggregates — `count(*)`, `min(col)`, `max(col)`
    * answered from manifest lines alone, ZERO data-file reads: at
    * 100 TB a `SELECT count(*)` should be a manifest read, not a
    * scan. Row counts come from the per-file `rows:` lines (exact
    * parquet footer counts recorded at commit); min/max from the
    * per-file `stats:` ranges merged across live files.
    *
    * Returns None — caller falls back to the scan — whenever the
    * manifest cannot PROVE the answer: any live file predates the
    * `rows:` line (legacy commit), or a requested column lacks
    * recorded numeric stats in any nonempty live file (unsupported
    * type, all-null file, pre-stats manifest). `minMaxCols` are
    * limited to the plain INT32/INT64/DOUBLE columns footer stats
    * cover exactly; string columns are excluded by design — parquet
    * writers may TRUNCATE binary stats, which stays a valid pruning
    * BOUND but is not the exact min/max value. min/max cover
    * non-null values, matching the SQL aggregates' null-skipping.
    *
    * Output: one row — `cnt` plus `min_<c>`/`max_<c>` per requested
    * column, typed per the committed schema (NULL on an empty
    * table). Time-travels with `asOfVersion` like [[read]]. */
  def statsAgg(
      spark: SparkSession,
      baseDir: String,
      table: String,
      minMaxCols: Seq[String] = Nil,
      asOfVersion: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val log = asOfVersion match {
      case None => readLog(spark, baseDir)
      case Some(v) => logAsOf(spark, baseDir, v)
    }
    val files = liveFiles(log, table)
    val allRows = log.flatMap(_.rows).toMap
    val allStats = log.flatMap(_.stats).toMap
    val schema = latestSchema(log, table).getOrElse(return None)
    val counts = files.map(allRows.get)
    if (counts.exists(_.isEmpty)) return None // legacy file: no proof
    val total = counts.flatten.sum
    val nonEmpty = files.filter(f => allRows(f) > 0)
    val merged: Seq[Option[(String, DataType, BigDecimal, BigDecimal)]] =
      minMaxCols.map { c =>
        val dt = schema.fields.find(_.name == c).map(_.dataType) match {
          case Some(t @ (IntegerType | LongType | DoubleType)) => t
          case _ => return None // not a stats-exact type
        }
        if (total == 0) None // empty table: NULL min/max, cnt 0
        else {
          val ranges = nonEmpty.map(f =>
            allStats.get(f).map(parseStats).getOrElse(Map.empty).get(c))
          if (ranges.exists(r => !r.exists(_.isInstanceOf[NumRange])))
            return None // a nonempty file without provable range
          val nums = ranges.flatten.collect { case NumRange(lo, hi) => (lo, hi) }
          Some((c, dt, nums.map(_._1).min, nums.map(_._2).max))
        }
      }
    def conv(dt: DataType, v: BigDecimal): Any = dt match {
      case IntegerType => v.toIntExact
      case LongType => v.toLongExact
      case DoubleType => v.toDouble
      case other => throw new IllegalStateException(other.sql)
    }
    val outSchema = StructType(
      StructField("cnt", LongType, nullable = false) +:
        minMaxCols.flatMap { c =>
          val dt = schema.fields.find(_.name == c).get.dataType
          Seq(StructField(s"min_$c", dt), StructField(s"max_$c", dt))
        })
    val values: Seq[Any] = total +: merged.flatMap {
      case Some((_, dt, lo, hi)) => Seq(conv(dt, lo), conv(dt, hi))
      case None => Seq(null, null)
    }
    Some(spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row.fromSeq(values)),
      outSchema))
  }

  // ------------------------------------------------------------------
  // Per-file Bloom membership (point-lookup file skipping).
  //
  // Min/max skipping answers RANGE questions; a needle query
  // ("fetch this one URL's row") on an UNCLUSTERED key still opens
  // every file whose range straddles the key. A compact per-file
  // Bloom in the manifest makes "definitely not in this file" exact:
  // 128 64-bit words (1 KiB -> 2048 hex chars per manifest line), 3
  // probes via the same md5-derived hash60 the Sketches family pins,
  // staying off each word's sign bit like Sketches.bloomProbe. At
  // ~50k distinct keys/file the false-positive rate is ~1.6% — a
  // needle read opens ~1 file instead of all of them.
  // ------------------------------------------------------------------

  private val BloomFileWordsLog2 = 7
  private val BloomFileWords = 1 << BloomFileWordsLog2 // 128 longs
  private val BloomFileHashes = 3

  /** Driver-side twin of the executor-side probe: hash60 of
    * (probe index ++ value-as-string), word by low bits, bit by the
    * next 6 (mod 63 — sign bit never set, so hex round-trips as a
    * non-negative long). */
  private def bloomFileHash(j: Int, v: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest((j.toString + v).getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
  }

  /** `bloom:<file>\t<col>\t<hex>` lines for the commit body: ONE
    * distributed pass over the just-written `files` (all columns in
    * the same scan), probes aggregated per (file, col, word) by
    * bit_or, then folded into the finished 2048-hex-char payload per
    * (file, col) ON THE EXECUTORS — the driver collects exactly one
    * formatted string per bloom: record, i.e. the same bytes the
    * manifest is about to write, so driver memory is bounded by the
    * commit body itself, never by files × words × hashes
    * intermediates. A text manifest still carries ~2 KiB per
    * (file, col) line, so bulk loads are capped by
    * `graft.manifest.bloomMaxFilesPerCommit` (default 65536) —
    * commit in batches or raise it deliberately. The executor-side
    * hash mirrors [[bloomFileHash]] exactly (hash60 over
    * j ++ cast-to-string). */
  private def fileBloomLines(
      spark: SparkSession,
      baseDir: String,
      files: Seq[String],
      cols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions._
    val maxFiles = spark.conf.getOption(
      "graft.manifest.bloomMaxFilesPerCommit").map(_.toInt)
      .getOrElse(65536)
    require(files.size <= maxFiles,
      s"bloom build over ${files.size} files in one commit exceeds " +
        s"graft.manifest.bloomMaxFilesPerCommit=$maxFiles; each file " +
        "adds a ~2 KiB bloom line per column to the manifest — commit " +
        "bulk loads in batches, or raise the cap deliberately")
    // File names carry a per-commit UUID, so basename -> rel is unique.
    val relByName = files.map(f => f.split('/').last -> f).toMap
    val src = spark.read.parquet(files.map(f => s"$baseDir/$f"): _*)
      .select(element_at(split(input_file_name(), "/"), -1).as("__f") +:
        cols.map(col): _*)
    val kv = src.select(col("__f"),
        explode(array(cols.sorted.map(c =>
          struct(lit(c).as("c"), col(c).cast("string").as("k"))): _*))
          .as("e"))
      .select(col("__f"), col("e.c").as("__c"), col("e.k").as("__k"))
      .filter(col("__k").isNotNull)
    val probed = kv.select(col("__f"), col("__c"), col("__k"),
      explode(array((0 until BloomFileHashes).map(j => lit(j)): _*))
        .as("__j"))
    val h = graft.functions.TextFunctions.hash60(
      concat_ws("", col("__j"), col("__k")))
    val w = pmod(h, lit(BloomFileWords.toLong)).cast("int")
    val m = call_function("shiftleft", lit(1L),
      pmod(call_function("shiftright", h, lit(BloomFileWordsLog2)),
        lit(63L)).cast("int"))
    val lines = probed
      .select(col("__f"), col("__c"), w.as("w"), m.as("m"))
      .groupBy(col("__f"), col("__c"), col("w"))
      .agg(expr("bit_or(m)").as("bits"))
      .groupBy(col("__f"), col("__c"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits"))))
        .as("__wb"))
      .select(col("__f"), col("__c"),
        array_join(transform(sequence(lit(0), lit(BloomFileWords - 1)),
          i => lower(lpad(hex(coalesce(element_at(col("__wb"), i),
            lit(0L))), 16, "0"))), "").as("__hex"))
      .collect()
    lines.toSeq
      .map(r => (r.getString(1), r.getString(0), r.getString(2)))
      .sortBy { case (c, name, _) => (c, name) }
      .flatMap { case (c, name, hx) =>
        relByName.get(name).map(rel => s"bloom:$rel\t$c\t$hx")
      }
  }

  /** Probe a manifest bloom line's bits for one rendered value. */
  private def bloomMight(hexBits: String, value: String): Boolean =
    hexBits.length == BloomFileWords * 16 &&
      (0 until BloomFileHashes).forall { j =>
        val h = bloomFileHash(j, value)
        val w = (h % BloomFileWords).toInt
        val bit = ((h >> BloomFileWordsLog2) % 63L).toInt
        val word = java.lang.Long.parseUnsignedLong(
          hexBits.substring(w * 16, w * 16 + 16), 16)
        (word & (1L << bit)) != 0L
      }

  /** Could any row of file `f` satisfy this conjunct, per its Bloom
    * lines? Only `col = literal` (either order, integral or string
    * literal) can answer "no"; everything else answers "maybe". The
    * literal is rendered exactly as the build cast it
    * (Long/Int -> decimal string, string verbatim), and equality is
    * null-rejecting, so NULL rows never rescue a pruned file. */
  private def bloomConjunctMayMatch(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      bloomOf: String => Option[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def name(x: Expression): Option[String] = x match {
      case u: UnresolvedAttribute if u.nameParts.length == 1 =>
        Some(u.nameParts.head)
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def render(x: Expression): Option[String] = x match {
      case Literal(v: Byte, _) => Some(v.toString)
      case Literal(v: Short, _) => Some(v.toString)
      case Literal(v: Int, _) => Some(v.toString)
      case Literal(v: Long, _) => Some(v.toString)
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        Some(v.toString)
      case _ => None
    }
    def check(lhs: Expression, rhs: Expression): Option[Boolean] =
      (name(lhs), render(rhs)) match {
        case (Some(n), Some(v)) =>
          bloomOf(n).map(bits => bloomMight(bits, v))
        case _ => None
      }
    val verdict = e match {
      case EqualTo(l, r) => check(l, r).orElse(check(r, l))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.length == 1 &&
            Set("=", "==").contains(f.nameParts.head) &&
            f.arguments.length == 2 =>
        check(f.arguments.head, f.arguments(1))
          .orElse(check(f.arguments(1), f.arguments.head))
      case _ => None
    }
    verdict.getOrElse(true)
  }

  private def prunedPartition(
      log: Seq[Manifest],
      files: Seq[String],
      predicate: org.apache.spark.sql.Column)
      : (Seq[String], Seq[String]) = {
    val allStats = log.flatMap(_.stats).toMap
    val allBlooms = log.flatMap(_.blooms).toMap
    val conjuncts = splitConjuncts(
      org.apache.spark.sql.GraftSqlBridge.resolved(predicate))
    files.partition { f =>
      val st = allStats.get(f).map(parseStats).getOrElse(Map.empty)
      conjuncts.forall(c => conjunctMayMatch(c, st) &&
        bloomConjunctMayMatch(c, n => allBlooms.get((f, n))))
    }
  }

  /** The add-column-only evolution gate shared by [[upsertKeyed]] and
    * [[replaceWhere]] (commitMulti keeps its own copy inside the retry
    * loop, where it re-checks a MOVED log). */
  private def requireAddColumnOnly(
      log: Seq[Manifest],
      table: String,
      schema: StructType,
      verb: String): Unit =
    latestSchema(log, table).foreach { prev =>
      val now = schema.map(f => f.name -> f.dataType).toMap
      prev.foreach { f =>
        require(now.get(f.name).contains(f.dataType),
          s"$verb into $table must keep column '${f.name}: " +
            s"${f.dataType.sql}' (schema evolution is add-column only)")
      }
    }

  /** Parquet row count across `paths` — driver-side footer reads, no
    * Spark scan job. */
  private def parquetRowCount(
      spark: SparkSession, paths: Seq[org.apache.hadoop.fs.Path]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    paths.map(ManifestWrite.readFooter(_, conf)._1).sum
  }

  /** Write `df` into a fresh txn-stamped data dir of `table` and
    * return the reported files. A zero-ROW result is deleted and
    * yields no files — rewrite commits must never reference an empty
    * rewrite. */
  private def writeRewrite(
      spark: SparkSession,
      baseDir: String,
      table: String,
      txnId: String,
      df: DataFrame): Seq[WrittenFile] = {
    val safeTxn = txnId.replaceAll("[^A-Za-z0-9._-]", "_")
    val rel = s"$table/$DataDir/$safeTxn-${java.util.UUID.randomUUID()}"
    val files = ManifestWrite.write(df, baseDir, rel)
    if (files.exists(_.rows > 0)) files
    else {
      val (fs, dataPath) = fsAndPath(spark, s"$baseDir/$rel")
      fs.delete(dataPath, true)
      Nil
    }
  }

  /** True iff manifest `m` writes table `table` in any way — adds or
    * removes files under it, snapshots it, or stamps its schema. The
    * unit of optimistic-concurrency conflict detection. */
  private def touchesTable(m: Manifest, table: String): Boolean = {
    val p = s"$table/"
    m.snaps.contains(table) || m.schemas.contains(table) ||
      m.adds.exists(_.startsWith(p)) || m.removes.exists(_.startsWith(p))
  }

  /** Claim a version slot for a rewrite manifest (`remove:` + `add:` +
    * `stats:` under one txn, plus an optional `schema:` stamp for an
    * evolving upsert) with the same retry discipline as
    * [[commitMulti]]. Returns false if the txn turned out to be
    * already sealed (a prior attempt of ours won).
    *
    * Optimistic concurrency (the Delta conflict matrix, per table):
    * `log0`'s tail is the version this rewrite was PLANNED against;
    * before claiming a slot the loop re-reads the log and aborts
    * (ConcurrentModificationException) iff an intervening commit
    * TOUCHED `table` — its removes/adds were computed from a live-file
    * set that no longer exists, and landing them would resurrect
    * deleted rows or duplicate rewritten ones. Commits to OTHER
    * tables are not conflicts: the loop simply claims the next slot
    * after them. So: append ∥ append lands both; rewrite ∥ write to a
    * different table lands both; deleteWhere/upsert/replaceWhere/
    * optimize ∥ any same-table write aborts the rewrite, and the
    * caller re-runs against the new log (the aborted txn is NOT
    * sealed — the re-run is a fresh attempt, while a crash-replay of
    * an already-LANDED txn still returns the recorded no-op). */
  private def commitRewrite(
      spark: SparkSession,
      baseDir: String,
      txnId: String,
      log0: Seq[Manifest],
      removes: Seq[String],
      adds: Seq[WrittenFile],
      kind: String,
      table: String,
      schemaLine: Option[(String, String)] = None): Boolean = {
    var log = log0
    val body = (Seq(s"txn:$txnId") ++
      removes.map(f => s"remove:$f") ++
      fileLines(adds) ++
      schemaLine.map { case (t, j) => s"schema:$t\t$j" })
      .mkString("", "\n", "\n")
    val (lfs, logPath) = fsAndPath(spark, s"$baseDir/$LogDir")
    lfs.mkdirs(logPath)
    val tmp = writeTmp(lfs, logPath, body)
    var attempts = 0
    var committed = -1L
    while (committed < 0) {
      attempts += 1
      if (attempts > 100) {
        lfs.delete(tmp, false)
        throw new java.io.IOException(
          s"$kind commit for $txnId lost 100 races — aborting")
      }
      log = log ++ readLogAfter(spark, baseDir,
        log.lastOption.map(_.version).getOrElse(0L))
      if (log.exists(_.txns.contains(txnId))) {
        lfs.delete(tmp, false)
        return false
      }
      // Conflict abort: someone else committed a write to THIS table
      // after the rewrite was planned — removing/adding against the
      // stale live set could resurrect their deleted rows or
      // duplicate rewritten ones. Unrelated tables advancing the log
      // are fine; the claim below just moves to the next free slot.
      val planned = log0.lastOption.map(_.version).getOrElse(0L)
      log.filter(_.version > planned).find(touchesTable(_, table))
        .foreach { m =>
          lfs.delete(tmp, false)
          throw new java.util.ConcurrentModificationException(
            s"$kind for $txnId: version ${m.version} wrote $table after " +
              s"this rewrite was planned against version $planned — " +
              "re-run the operation against the current log")
        }
      val next = log.lastOption.map(_.version).getOrElse(0L) + 1
      if (claimSlot(lfs, tmp, new org.apache.hadoop.fs.Path(logPath,
          versionName(next)))) committed = next
    }
    if (lfs.getScheme == "file") lfs.delete(tmp, false)
    true
  }

  /** Outcome of an [[optimize]]: small files folded into bigger ones. */
  final case class OptimizeResult(
      filesCompacted: Int, filesOut: Int, bytesCompacted: Long)

  /** Bin-pack small files (the Delta/Iceberg OPTIMIZE idiom): every
    * live file under `targetBytes` is rewritten into ~targetBytes
    * outputs; files already at size keep their paths. Streaming sinks
    * commit a file (or several) per micro-batch — after a week of
    * 30-second batches a table is 20k tiny files and every read pays
    * 20k opens; compaction is what makes "land small, read big"
    * sustainable. Content is untouched (row-identical, spec-verified),
    * stats are recomputed for the new files, and the swap is one
    * `remove:`+`add:` manifest under `txnId` — readers flip atomically,
    * time travel still reads the pre-compaction layout, replays are
    * sealed no-ops (None).
    *
    * `clusterCol` additionally range-clusters the rewritten rows —
    * compaction is the natural moment to ALSO fix layout, since the
    * rows are being rewritten anyway ([[commitClustered]]'s skipping
    * rationale). */
  def optimize(
      spark: SparkSession,
      baseDir: String,
      table: String,
      txnId: String,
      targetBytes: Long = 128L << 20,
      clusterCol: Option[String] = None): Option[OptimizeResult] = {
    require(txnId.nonEmpty && !txnId.contains("\n"), s"bad txnId: $txnId")
    require(targetBytes > 0, "targetBytes must be positive")
    val log = readLog(spark, baseDir)
    if (log.exists(_.txns.contains(txnId))) return None
    val (fs, _) = fsAndPath(spark, baseDir)
    val live = liveFiles(log, table)
    // One listStatus per data DIRECTORY, not one getFileStatus per
    // file: lengths come back with the listing, so the 20k-tiny-file
    // table this function exists for costs O(dirs) metadata RPCs to
    // size instead of 20k serial HEADs.
    val sizeOf: Map[String, Long] = live.groupBy(
        f => f.take(f.lastIndexOf('/'))).iterator.flatMap { case (dir, _) =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$baseDir/$dir"))
        .iterator.map(st => s"$dir/${st.getPath.getName}" -> st.getLen)
    }.toMap
    val sized = live.map(f => f -> sizeOf.getOrElse(f,
      throw new java.io.FileNotFoundException(s"$baseDir/$f is in the " +
        "manifest log but not on storage — was it vacuumed externally?")))
    val small = sized.filter(_._2 < targetBytes)
    if (small.length < 2) {
      // Nothing to fold together; still seal the txn (idempotence).
      commitMulti(spark, baseDir, txnId)
      return Some(OptimizeResult(0, 0, 0L))
    }
    val bytesIn = small.map(_._2).sum
    val nOut = math.max(1L, (bytesIn + targetBytes - 1) / targetBytes).toInt
    val reader = latestSchema(log, table).map(spark.read.schema)
      .getOrElse(spark.read)
    val rows = reader.parquet(small.map(f => s"$baseDir/${f._1}"): _*)
    val shaped = clusterCol match {
      case Some(c) =>
        val key = org.apache.spark.sql.functions.col(c)
        rows.repartitionByRange(nOut, key).sortWithinPartitions(c)
      // Pure compaction: coalesce is a NARROW fold of the small-file
      // partitions — no shuffle of data that is only changing files.
      case None => rows.coalesce(nOut)
    }
    val adds = writeRewrite(spark, baseDir, table, txnId, shaped)
    if (!commitRewrite(spark, baseDir, txnId, log, small.map(_._1), adds,
        kind = "optimize", table = table)) return None
    Some(OptimizeResult(small.length, adds.length, bytesIn))
  }

  /** Outcome of a [[replaceWhere]]. */
  final case class ReplaceResult(
      rowsDeleted: Long, rowsInserted: Long, filesRewritten: Int)

  /** Predicate-scoped overwrite (Delta's replaceWhere): atomically
    * delete every row matching `predicate` and land `data` in its
    * place — the reprocessed-partition idiom ("rebuild yesterday's
    * slice from corrected inputs") without snapshotting the whole
    * table. Stats-pruned like [[deleteWhere]]: only files whose
    * min/max ranges might hold a matching row rewrite; the caller is
    * trusted (and should arrange) that `data` itself satisfies
    * `predicate`, as in Delta. One `remove:`+`add:` manifest under
    * `txnId`; replays return None. */
  def replaceWhere(
      spark: SparkSession,
      baseDir: String,
      table: String,
      predicate: org.apache.spark.sql.Column,
      data: DataFrame,
      txnId: String): Option[ReplaceResult] = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    require(txnId.nonEmpty && !txnId.contains("\n"), s"bad txnId: $txnId")
    val log = readLog(spark, baseDir)
    if (log.exists(_.txns.contains(txnId))) return None
    requireAddColumnOnly(log, table, data.schema, "replaceWhere")
    val files = liveFiles(log, table)
    val candidates = prunedPartition(log, files, predicate)._1
    val (survivorAdds, survivorRows, before) =
      if (candidates.isEmpty) (Nil, 0L, 0L)
      else {
        val before = parquetRowCount(spark, candidates.map(f =>
          new org.apache.hadoop.fs.Path(s"$baseDir/$f")))
        val reader = latestSchema(log, table).map(spark.read.schema)
          .getOrElse(spark.read)
        val survivors = reader
          .parquet(candidates.map(f => s"$baseDir/$f"): _*)
          .filter(coalesce(not(predicate), lit(true)))
        val adds = writeRewrite(spark, baseDir, table, txnId, survivors)
        (adds, adds.map(_.rows).sum, before)
      }
    val dataAdds = writeRewrite(spark, baseDir, table, txnId + ".data", data)
    val inserted = dataAdds.map(_.rows).sum
    val schemaLine =
      if (latestSchema(log, table).isDefined || liveFiles(log, table).isEmpty)
        Some(table -> data.schema.json)
      else None
    if (!commitRewrite(spark, baseDir, txnId, log, candidates,
        survivorAdds ++ dataAdds, kind = "replaceWhere", table = table,
        schemaLine = schemaLine)) return None
    Some(ReplaceResult(before - survivorRows, inserted, candidates.length))
  }

  /** Outcome of an [[upsertKeyed]]. */
  final case class UpsertResult(
      rowsReplaced: Long, rowsInserted: Long, filesRewritten: Int)

  /** Keyed MERGE (upsert): land `delta` into `table`, replacing any
    * existing row with the same `keyCol` — the SCD-overwrite /
    * reprocessed-partition idiom at file granularity. Only files whose
    * recorded min/max range intersects the delta's [min, max] key span
    * are anti-joined and rewritten (on a key-clustered table a narrow
    * delta touches O(1) files); the delta itself appends alongside in
    * the SAME `remove:`+`add:` manifest, so readers never see a state
    * with the old rows gone and the new ones missing, or both present.
    * Sealed under `txnId`; replays return None. Duplicate keys INSIDE
    * `delta` are the caller's contract to avoid (both rows land, as in
    * any append). */
  def upsertKeyed(
      spark: SparkSession,
      baseDir: String,
      table: String,
      delta: DataFrame,
      keyCol: String,
      txnId: String,
      beforeCommit: () => Unit = () => ()): Option[UpsertResult] = {
    import org.apache.spark.sql.functions.{col, lit, max => smax, min => smin}
    require(txnId.nonEmpty && !txnId.contains("\n"), s"bad txnId: $txnId")
    val log = readLog(spark, baseDir)
    if (log.exists(_.txns.contains(txnId))) return None
    // Same add-column-only gate as commitMulti appends: the delta's
    // files must stay one coherent table with the existing ones.
    requireAddColumnOnly(log, table, delta.schema, "upsert")
    // Pin the delta ONCE: its plan is otherwise re-evaluated for the
    // key bounds, the anti-join key set, and the landed files — and a
    // non-deterministic delta (sample, un-ordered limit) evaluated
    // thrice could delete rows whose replacements never land.
    val pinned = graft.operators.Dedup.truncate(delta)
    val keys = pinned.select(col(keyCol)).where(col(keyCol).isNotNull)
    val bounds = keys.agg(smin(col(keyCol)), smax(col(keyCol))).head()
    val files = liveFiles(log, table)
    val candidates =
      if (bounds.isNullAt(0)) Seq.empty[String] // empty delta key set
      else {
        val pred = col(keyCol) >= lit(bounds.get(0)) &&
          col(keyCol) <= lit(bounds.get(1))
        prunedPartition(log, files, pred)._1
      }
    val (survivorAdds, survivorRows, before) =
      if (candidates.isEmpty) (Nil, 0L, 0L)
      else {
        val before = parquetRowCount(spark, candidates.map(f =>
          new org.apache.hadoop.fs.Path(s"$baseDir/$f")))
        val reader = latestSchema(log, table).map(spark.read.schema)
          .getOrElse(spark.read)
        val survivors = reader
          .parquet(candidates.map(f => s"$baseDir/$f"): _*)
          .join(keys.distinct(), Seq(keyCol), "left_anti")
        val adds = writeRewrite(spark, baseDir, table, txnId, survivors)
        (adds, adds.map(_.rows).sum, before)
      }
    // The delta lands as its own add set in the same manifest. An empty
    // delta frame still writes a schema-bearing file via commitMulti's
    // path — but here an empty delta means "pure delete of nothing";
    // writeRewrite drops zero-row output and that is correct.
    val deltaAdds = writeRewrite(spark, baseDir, table, txnId + ".delta", pinned)
    val inserted = deltaAdds.map(_.rows).sum
    // Stamp the delta's (possibly add-column-evolved) schema under the
    // same conditions commitMulti appends do — a schema-tracking table
    // must surface the new columns, and a brand-new table starts
    // tracking; a legacy table keeps inference.
    val schemaLine =
      if (latestSchema(log, table).isDefined || liveFiles(log, table).isEmpty)
        Some(table -> delta.schema.json)
      else None
    beforeCommit()
    if (!commitRewrite(spark, baseDir, txnId, log, candidates,
        survivorAdds ++ deltaAdds, kind = "upsert", table = table,
        schemaLine = schemaLine)) return None
    Some(UpsertResult(before - survivorRows, inserted, candidates.length))
  }

  /** Delete orphan data under one table: whole data dirs that NO
    * manifest references (written by a crashed or failed commit), and
    * unreferenced parquet files inside referenced dirs (left by a lost
    * or speculative task attempt, which writes straight into the txn
    * dir but is never reported to the manifest). Files old manifest
    * versions reference stay, preserving time travel. Safe any time
    * under the single-writer stance. Returns the number of dirs plus
    * stray files removed. */
  def vacuum(spark: SparkSession, baseDir: String, table: String): Int = {
    // Referenced = full raw history PLUS every checkpoint's live set.
    // Raw manifests keep pre-checkpoint time travel alive; after
    // truncateLog the checkpoint is the only reference to the live
    // files — neither view alone is safe.
    val (lfs, logPath) = fsAndPath(spark, s"$baseDir/$LogDir")
    val ckptAdds = listLog(lfs, logPath)
      .filter(_.getName.matches("ckpt_v\\d{20}"))
      .flatMap(p => parseManifest(lfs, p, p.getName.drop(6).toLong).adds)
    val referenced =
      (readFullLog(spark, baseDir).flatMap(_.adds) ++ ckptAdds).toSet
    val (fs, dataRoot) = fsAndPath(spark, s"$baseDir/$table/$DataDir")
    if (!fs.exists(dataRoot)) return 0
    var removed = 0
    fs.listStatus(dataRoot).foreach { dir =>
      val rel = s"$table/$DataDir/${dir.getPath.getName}"
      val (live, stray) = fs.listStatus(dir.getPath).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .partition(f => referenced.contains(s"$rel/${f.getName}"))
      if (live.isEmpty) { fs.delete(dir.getPath, true); removed += 1 }
      else stray.foreach { f => fs.delete(f, false); removed += 1 }
    }
    removed
  }
}
