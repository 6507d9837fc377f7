package org.apache.spark.sql

import java.util.{Date, UUID}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.lib.output.FileOutputFormat
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.{InterruptibleIterator, SparkContext, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.internal.io.SparkHadoopWriterUtils
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, SortOrder,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.SerializableConfiguration

/** Bridge into Spark's parquet writer for a table format's staged
  * writes: each task writes its rows straight to their final names in
  * one directory and reads its own files' footers, in one Spark job
  * under one SQL execution.
  *
  * `DataFrameWriter.parquet` costs a table format that names and
  * publishes its own files three things per write: two copies of the
  * session's Hadoop configuration (about 1,100 entries, 113 KB) in
  * every task's closure, a commit protocol that renames each file
  * twice through `_temporary`, and a driver-side listing and footer
  * read per file to learn what the job wrote. Here the OutputWriterFactory
  * comes from the same `ParquetFileFormat.prepareWrite` call, the job's
  * configuration travels once per write as a broadcast, and the task
  * returns each file's name and footer-derived stats with its result.
  */
object GraftWriteBridge {

  /** One written file: its name in the write's directory, the split
    * value its rows share (an empty row when there are no split
    * columns), and what the task's `footer` function returned for it.
    */
  final case class WrittenFile[S](name: String, split: Row, footer: Option[S])

  /** Write `df` as parquet files in `dir`, one file per (task, value of
    * the `split` columns), rolled every `spark.sql.files.maxRecordsPerFile`
    * rows as Spark's writer rolls them.
    *
    * Rows are sorted within each partition by the split columns, as
    * Spark's partitioned writer sorts them, and the split columns are
    * left out of the files. A file is named
    * `<prefix(split)>-<write id>-<task attempt id>-<n>.parquet`; its
    * task calls `footer(split, path, conf)` once the file is closed.
    * With no split columns, partition 0 writes a file even when it has
    * no rows (so the schema lands somewhere), as Spark's writer does.
    *
    * Files stay in `dir` under their final names: they are published
    * only when a caller names them. A task that throws deletes the
    * files it wrote; when the job fails, the driver waits for the
    * write's tasks to end and deletes every file carrying the write's
    * id. A file left by a lost executor or a speculative duplicate is
    * a file nobody names, which the caller's own garbage collection
    * must cover.
    */
  def writeSplit[S](df: DataFrame, dir: Path, split: Seq[String],
                    prefix: Row => String,
                    footer: (Row, Path, Configuration) => Option[S]): Seq[WrittenFile[S]] = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val output = ds.logicalPlan.output
    val splitAttrs = split.map(c => output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"split column $c not in [${output.map(_.name).mkString(", ")}]")))
    val qe = cs.sessionState.executePlan(
      if (splitAttrs.isEmpty) ds.logicalPlan
      else Sort(splitAttrs.map(SortOrder(_, Ascending)), global = false, ds.logicalPlan))
    val dataAttrs = output.filterNot(a => splitAttrs.exists(_.exprId == a.exprId))
    val dataSchema = StructType(df.schema.filterNot(f => split.contains(f.name)))

    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, dataSchema)
    DataSourceUtils.checkFieldNames(format, dataSchema)
    SchemaUtils.checkColumnNameDuplication(dataSchema.fieldNames.toSeq,
      cs.sessionState.conf.caseSensitiveAnalysis)
    val job = Job.getInstance(cs.sessionState.newHadoopConfWithOptions(Map.empty))
    job.setOutputKeyClass(classOf[Void])
    job.setOutputValueClass(classOf[InternalRow])
    FileOutputFormat.setOutputPath(job, dir)
    val factory = format.prepareWrite(cs, job, Map.empty, dataSchema)

    val sc = cs.sparkContext
    val writeId = UUID.randomUUID().toString
    val task = new SplitWriteTask(factory, sc.broadcast(new SerializableConfiguration(
      job.getConfiguration)), SparkHadoopWriterUtils.createJobTrackerID(new Date),
      dir.toString, writeId, output, splitAttrs, dataAttrs, dataSchema,
      cs.sessionState.conf.maxRecordsPerFile, prefix, footer)
    try SQLExecution.withNewExecutionId(qe, Some("save")) {
      val rows = qe.toRdd
      val rdd = if (rows.partitions.nonEmpty) rows
        else sc.parallelize(Seq.empty[InternalRow], 1)
      val written = new Array[Seq[WrittenFile[S]]](rdd.partitions.length)
      val run = sc.submitJob(rdd, (it: Iterator[InternalRow]) => task.run(it),
        rdd.partitions.indices, (i: Int, files: Seq[WrittenFile[S]]) => written(i) = files, ())
      try Await.ready(run, Duration.Inf)
      catch { case e: Throwable => run.cancel(); throw e }
      finally run.value match {
        case Some(Success(_)) => ()
        case _ =>
          awaitTasks(sc, run.jobIds)
          val fsv = dir.getFileSystem(job.getConfiguration)
          Option(fsv.listStatus(dir)).toSeq.flatten
            .filter(_.getPath.getName.contains(s"-$writeId-"))
            .foreach(st => fsv.delete(st.getPath, false))
      }
      run.value.get match {
        case Success(_) => written.toSeq.flatten
        case Failure(e) => throw e
      }
    } finally task.conf.destroy()
  }

  /** Wait (at most 30 s) until no task of `jobIds` is running, so a
    * failed write's cleanup lists the directory after its last file.
    */
  private def awaitTasks(sc: SparkContext, jobIds: Seq[Int]): Unit = {
    val st = sc.statusTracker
    def running = jobIds.flatMap(st.getJobInfo).flatMap(_.stageIds)
      .flatMap(st.getStageInfo).map(_.numActiveTasks).sum
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (running > 0 && System.nanoTime() < deadline) Thread.sleep(10)
  }
}

/** The executor half of [[GraftWriteBridge.writeSplit]]: everything a
  * task needs, with the job configuration behind one broadcast.
  */
private class SplitWriteTask[S](
    factory: OutputWriterFactory,
    val conf: Broadcast[SerializableConfiguration],
    jobTrackerId: String, dir: String, writeId: String,
    output: Seq[Attribute], splitAttrs: Seq[Attribute], dataAttrs: Seq[Attribute],
    dataSchema: StructType, maxRecordsPerFile: Long,
    prefix: Row => String, footer: (Row, Path, Configuration) => Option[S])
  extends Serializable {

  def run(rows: Iterator[InternalRow]): Seq[GraftWriteBridge.WrittenFile[S]] = {
    val ctx = TaskContext.get()
    // the broadcast value is shared by every task of this executor:
    // each task sets its own attempt ids on a copy, as Spark's writer
    // sets them on its own deserialized copy
    val hadoopConf = new Configuration(conf.value.value)
    val jobId = SparkHadoopWriterUtils.createJobID(jobTrackerId, ctx.stageId())
    val attemptId = new TaskAttemptID(new TaskID(jobId, TaskType.MAP, ctx.partitionId()),
      ctx.taskAttemptId().toInt & Int.MaxValue)
    hadoopConf.set("mapreduce.job.id", jobId.toString)
    hadoopConf.set("mapreduce.task.id", attemptId.getTaskID.toString)
    hadoopConf.set("mapreduce.task.attempt.id", attemptId.toString)
    hadoopConf.setBoolean("mapreduce.task.ismap", true)
    hadoopConf.setInt("mapreduce.task.partition", 0)
    val attempt: TaskAttemptContext = new TaskAttemptContextImpl(hadoopConf, attemptId)
    // with no split columns a row is written as it comes, as Spark's
    // single-directory writer writes it
    val toData: InternalRow => InternalRow =
      if (splitAttrs.isEmpty) identity else UnsafeProjection.create(dataAttrs, output)
    val toSplit = UnsafeProjection.create(splitAttrs, output)
    val splitRow = CatalystTypeConverters.createToScalaConverter(
      DataTypeUtils.fromAttributes(splitAttrs))
    val written = ArrayBuffer.empty[Path]
    val files = ArrayBuffer.empty[GraftWriteBridge.WrittenFile[S]]
    var writer: OutputWriter = null
    // with no split columns every file's split value is the empty row
    var split: UnsafeRow = if (splitAttrs.isEmpty) toSplit(InternalRow.empty).copy() else null
    var inFile = 0L

    def open(): Unit = {
      val name = s"${prefix(splitRow(split).asInstanceOf[Row])}-$writeId-" +
        s"${ctx.taskAttemptId()}-${written.size}.parquet"
      val path = new Path(dir, name)
      written += path
      writer = factory.newInstance(path.toString, dataSchema, attempt)
      inFile = 0L
    }
    def close(): Unit = if (writer != null) {
      val w = writer
      writer = null
      w.close()
      val at = written.last
      val s = splitRow(split).asInstanceOf[Row]
      files += GraftWriteBridge.WrittenFile(at.getName, s, footer(s, at, hadoopConf))
    }

    try {
      val it = new InterruptibleIterator(ctx, rows)
      while (it.hasNext) {
        val row = it.next()
        if (splitAttrs.nonEmpty) {
          val s = toSplit(row)
          if (writer == null || s != split) {
            close()
            split = s.copy()
            open()
          }
        } else if (writer == null) open()
        if (maxRecordsPerFile > 0 && inFile >= maxRecordsPerFile) { close(); open() }
        writer.write(toData(row))
        inFile += 1
      }
      if (written.isEmpty && splitAttrs.isEmpty && ctx.partitionId() == 0) open()
      close()
      files.toSeq
    } catch {
      case t: Throwable =>
        try if (writer != null) writer.close() catch { case _: Throwable => () }
        val fsv = new Path(dir).getFileSystem(hadoopConf)
        written.foreach(p => try fsv.delete(p, false) catch { case _: Throwable => () })
        throw t
    }
  }
}
