package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.internal.io.FileNameSpec
import org.apache.spark.sql.DataFrame

/** One data file as its write task reported it at task commit: the
  * path relative to the manifest base, the exact row count and the
  * per-file stats JSON, both from the file's own parquet footer. */
private[sources] final case class WrittenFile(
    path: String, rows: Long, stats: Option[String])

/** The manifest-native parquet write (the Delta `DelayedCommitProtocol`
  * design): tasks write uniquely named files STRAIGHT into a fresh txn
  * dir — no `_temporary` staging, no task/job-commit renames, no
  * `_SUCCESS` marker — and each task commit reports the files it wrote
  * with their row counts and stats, read from the footers on the
  * executor. Job commit only gathers the reports, so the manifest's
  * `add:`/`rows:`/`stats:` lines never come from a directory listing:
  * a file left by a lost or speculative attempt is never referenced
  * (and [[ManifestTable.vacuum]] reclaims it). Nothing is visible until
  * a manifest references the reported files. */
private[sources] object ManifestWrite {

  /** Write `df` as parquet into the fresh dir `baseDir/rel` and return
    * the reported files, sorted by path. Keeps the checks
    * `df.write.parquet` makes: the parquet schema check (inside
    * `FileFormatWriter.write`), empty-struct and duplicate-column
    * refusal, and a dir that must not exist yet. A frame that produced
    * no file at all is refused too: committing it would durably
    * truncate a snapshot table to "no data, no schema". (Spark's
    * writer emits a schema-only file even for a zero-partition frame,
    * so with parquet this guard never fires.) */
  def write(df: DataFrame, baseDir: String, rel: String): Seq[WrittenFile] = {
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.GraftSqlBridge.checkWritableSchema(spark, "parquet", df.schema)
    val dir = new Path(s"$baseDir/$rel")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(hadoopConf)
    if (fs.exists(dir))
      throw new org.apache.hadoop.fs.FileAlreadyExistsException(s"$dir already exists")
    fs.mkdirs(dir)
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    val committer = new ManifestCommitProtocol(dir.toString)
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe) {
      val plan = qe.executedPlan
      FileFormatWriter.write(
        sparkSession = spark,
        plan = plan,
        fileFormat = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(dir.toString, Map.empty, plan.output),
        hadoopConf = hadoopConf,
        partitionColumns = Nil,
        bucketSpec = None,
        statsTrackers = Nil,
        options = Map.empty)
    }
    val files = committer.reported.map(f => f.copy(path = s"$rel/${f.path}"))
    require(files.nonEmpty,
      s"refusing to commit $rel from a frame that produced no parquet " +
        "files (zero partitions) — repartition(1) an intentionally empty frame")
    files.sortBy(_.path)
  }

  /** Per-file `{"col":[min,max],...}` JSON from a parquet footer, for
    * top-level PLAIN numeric columns (INT32/INT64/DOUBLE with no
    * logical annotation — which covers the raw-long watermark idiom;
    * annotated types like timestamps carry unit conventions the
    * driver-side literal comparison must not guess at, and FLOAT is
    * excluded because its shortest decimal repr does not order
    * consistently against Spark's float→double-promoted comparisons —
    * pruning on it could drop matching rows) and UTF8-annotated BINARY
    * string columns (hex-encoded bytes — `"x<hex>"` — so arbitrary
    * corpus strings survive the one-line manifest format; unsigned
    * byte order matches Spark's UTF8_BINARY comparison exactly, so a
    * `source = 'src5'` read prunes like a hive partition without the
    * directory layout). A column whose stats are missing in ANY row
    * group is dropped for the file; min/max cover non-null values,
    * which is exactly what the null-rejecting comparison predicates
    * prune against. Names are restricted to identifier characters so
    * the JSON needs no quoting rules. Returns None when nothing
    * qualifies. */
  private[sources] def footerStatsJson(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Option[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val chunks = footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString)
      .filter { case (name, _) => name.matches("[A-Za-z0-9_]+") }
    def statsOk(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData) =
      cc.getStatistics != null && !cc.getStatistics.isEmpty &&
        cc.getStatistics.hasNonNullValue
    val cols = chunks.toSeq.sortBy(_._1).flatMap { case (name, ccs) =>
      val numeric = ccs.forall { cc =>
        val pt = cc.getPrimitiveType
        Set(INT32, INT64, DOUBLE).contains(pt.getPrimitiveTypeName) &&
          pt.getLogicalTypeAnnotation == null && statsOk(cc)
      }
      val string = !numeric && ccs.forall { cc =>
        val pt = cc.getPrimitiveType
        pt.getPrimitiveTypeName == BINARY &&
          pt.getLogicalTypeAnnotation.isInstanceOf[
            org.apache.parquet.schema.LogicalTypeAnnotation
              .StringLogicalTypeAnnotation] && statsOk(cc)
      }
      if (numeric)
        try { // NaN/Infinity float stats have no decimal form — skip col
          val los = ccs.map(c => BigDecimal(c.getStatistics.genericGetMin.toString))
          val his = ccs.map(c => BigDecimal(c.getStatistics.genericGetMax.toString))
          Some(s""""$name":[${los.min},${his.max}]""")
        } catch { case _: NumberFormatException => None }
      else if (string) {
        def bin(o: Any) =
          o.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        def hex(b: Array[Byte]) = b.map(x => f"${x & 0xff}%02x").mkString
        val ord = Ordering.fromLessThan[Array[Byte]](
          java.util.Arrays.compareUnsigned(_, _) < 0)
        val lo = ccs.map(c => bin(c.getStatistics.genericGetMin)).min(ord)
        val hi = ccs.map(c => bin(c.getStatistics.genericGetMax)).max(ord)
        Some(s""""$name":["x${hex(lo)}","x${hex(hi)}"]""")
      } else None
    }
    if (cols.isEmpty) None else Some(cols.mkString("{", ",", "}"))
  }

  /** Read options for footers. Building them from a Hadoop conf
    * loads a fresh configuration (~10 ms, more than writing a small
    * file), and only footer decryption needs the conf — so one shared
    * plain instance serves every read (an encrypted footer fails to
    * parse rather than being misread). */
  private lazy val plainReadOptions =
    org.apache.parquet.ParquetReadOptions.builder().build()

  /** Row count and stats JSON of one parquet file, from its footer. */
  private[sources] def readFooter(
      path: Path, conf: org.apache.hadoop.conf.Configuration)
      : (Long, Option[String]) = {
    import scala.jdk.CollectionConverters._
    val file = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    val in = file.newStream()
    val footer = try org.apache.parquet.hadoop.ParquetFileReader.readFooter(
        file, plainReadOptions, in)
      finally in.close()
    (footer.getBlocks.asScala.map(_.getRowCount).sum, footerStatsJson(footer))
  }
}

/** The commit protocol behind [[ManifestWrite.write]]. Serialized to
  * the executors; `reported` is filled on the driver's instance by
  * `commitJob`. Partitioned and absolute-path outputs are refused:
  * manifest tables are unpartitioned directories of files. */
private[sources] final class ManifestCommitProtocol(dir: String)
    extends FileCommitProtocol with Serializable {

  /** Files the current task attempt created (executor side). */
  @transient private var taskFiles: List[String] = Nil

  /** The files every committed task reported (driver side). */
  @transient @volatile var reported: Seq[WrittenFile] = Nil

  override def setupJob(jobContext: JobContext): Unit = ()

  override def commitJob(
      jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    reported = taskCommits.flatMap(_.obj.asInstanceOf[Seq[WrittenFile]])

  // The caller owns the txn dir and deletes it on failure.
  override def abortJob(jobContext: JobContext): Unit = ()

  override def setupTask(taskContext: TaskAttemptContext): Unit =
    taskFiles = Nil

  override def newTaskTempFile(
      taskContext: TaskAttemptContext, subDir: Option[String], ext: String): String =
    newTaskTempFile(taskContext, subDir, FileNameSpec("", ext))

  override def newTaskTempFile(
      taskContext: TaskAttemptContext,
      subDir: Option[String],
      spec: FileNameSpec): String = {
    require(subDir.isEmpty, "manifest tables are not partitioned by directory")
    // The attempt-unique UUID keeps a retried or speculative attempt
    // from overwriting the file another attempt reported.
    val split = taskContext.getTaskAttemptID.getTaskID.getId
    val name = f"${spec.prefix}part-$split%05d-${java.util.UUID.randomUUID()}${spec.suffix}"
    taskFiles = name :: taskFiles
    new Path(dir, name).toString
  }

  override def newTaskTempFileAbsPath(
      taskContext: TaskAttemptContext, absoluteDir: String, ext: String): String =
    throw new UnsupportedOperationException(
      "manifest tables do not write outside their txn dir")

  override def commitTask(taskContext: TaskAttemptContext): TaskCommitMessage = {
    val conf = taskContext.getConfiguration
    new TaskCommitMessage(taskFiles.reverse.map { name =>
      val (rows, stats) = ManifestWrite.readFooter(new Path(dir, name), conf)
      WrittenFile(name, rows, stats)
    })
  }

  override def abortTask(taskContext: TaskAttemptContext): Unit = {
    val conf = taskContext.getConfiguration
    taskFiles.foreach { name =>
      val p = new Path(dir, name)
      scala.util.Try(p.getFileSystem(conf).delete(p, false))
    }
  }
}
