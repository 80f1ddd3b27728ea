package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Direct per-group write of a commit's data files, bypassing the Hadoop
  * commit protocol.
  *
  * A many-group commit (the table format's file-per-group layout) through
  * `DataFrameWriter.partitionBy` pays, PER FILE: a `_temporary` task
  * directory, a task-commit rename, a job-commit merge walk, and an
  * `_SUCCESS`-era checksum dance — measured at ~3 ms/file. The table's
  * write needs none of that protocol: the completed instant is the only
  * publish point
  * (readers open only files a completed instant lists; an aborted write
  * deletes the files its instant names, and the failed-write reaper finds
  * a crashed one's files by their `_<instant>` suffix), and every group's
  * file is written ONCE, straight at its committed name. A retried task
  * simply overwrites its predecessor's output, and write-then-rename per
  * file keeps a partial file invisible even mid-task.
  *
  * This writer opens Spark's own columnar [[org.apache.spark.sql.execution.datasources.OutputWriter]]
  * (parquet/orc — same encoders, codecs and footer stats as the
  * `partitionBy` path) once per group run inside each sorted task
  * partition: rows MUST arrive clustered by the group columns (the
  * caller's repartition+sortWithinPartitions guarantees runs). */
object GroupedFileWriter {

  /** Per-file accounting hook for [[write]], and the only producer of a
    * file's metadata (graft.write.RowStats.Collector: rows, bytes, column
    * stats and the key bloom sidecar): observes every (projected) row as
    * the task streams it into the current file, then produces the file's
    * manifest value once the file has landed at its committed name, so
    * anything `finish` writes beside the file (a sidecar) never exists
    * without it. One instance per task; `reset()` opens a file's
    * accounting, `finish()` closes it. `update` receives the writer's
    * UNSAFE row whose buffer is reused — retained values must be
    * copied. */
  trait RowFileCollector[S] extends Serializable {
    def reset(): Unit
    def update(row: org.apache.spark.sql.catalyst.InternalRow): Unit
    def finish(path: Path, conf: org.apache.hadoop.conf.Configuration): S
  }

  /** Test seam: runs in the writing task after EACH file lands at its
    * final name. Lets a chaos spec kill a write job after K of N files —
    * the messiest real-world wreckage: files at committed names with no
    * completed instant — and assert the failed-write reaper reclaims
    * them. No-op in production; in `local` mode executor threads share
    * the JVM, so the tasks see the injected hook. */
  @volatile var onFileLanded: Path => Unit = _ => ()

  /** Write `df` (already clustered by `groupCols` within partitions) as
    * one file per distinct group-column combination, at
    * `<baseDir>/<relPath(group values)>`, and return the MANIFEST: every
    * written file's group values paired with the per-file value of a
    * [[RowFileCollector]] built once per task from the written data
    * schema (group columns excluded). The collector observes rows AS
    * THEY ARE WRITTEN, so per-file accounting (row count, byte length,
    * column min/max/null stats, key bloom) costs no re-open of the
    * just-written file at all (the reference's write handles populate HoodieWriteStat
    * the same way, io/HoodieCreateHandle.java:52-210).
    *
    * Each file is written to `.<name>.tmp-<attempt>` beside its final
    * name and renamed into place when complete, so the final name only
    * ever holds a whole file, and a crash leaves only temps that carry
    * the final name. A group must sit in ONE task (hash co-location by
    * the group columns); a retried task overwrites its predecessor's
    * files and only the successful attempt's manifest entries reach the
    * driver (Spark returns one result per partition), so the manifest
    * never double-counts. */
  def write[S: scala.reflect.ClassTag](
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      groupCols: Seq[String],
      baseDir: String,
      format: String,
      relPath: Seq[String] => String,
      newCollector: StructType => RowFileCollector[S]): Seq[(Seq[String], S)] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val schema = df.schema
    val groupOrdinals = groupCols.map(schema.fieldIndex)
    groupOrdinals.foreach { i =>
      require(schema(i).dataType == StringType,
        s"group column ${schema(i).name} must be string, got ${schema(i).dataType}")
    }
    val dataFields = schema.fields.zipWithIndex
      .filterNot { case (_, i) => groupOrdinals.contains(i) }
    val dataSchema = StructType(dataFields.map(_._1).toArray)
    val dataOrdinals = dataFields.map(_._2).toArray

    val job = Job.getInstance(classic.sessionState.newHadoopConf())
    val fmt = if (format == "orc") new OrcFileFormat else new ParquetFileFormat
    val factory = fmt.prepareWrite(classic, job, Map.empty, dataSchema)
    val serConf = new SerializableConfiguration(job.getConfiguration)
    val nGroupCols = groupCols.size

    df.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[String], S)]
        val collector = newCollector(dataSchema)
        val pid = TaskContext.get().partitionId()
        val attempt = TaskContext.get().taskAttemptId()
        val tac = new TaskAttemptContextImpl(serConf.value,
          new TaskAttemptID(new TaskID(new JobID("graftwrite", pid), TaskType.MAP,
            pid), attempt.toInt & Int.MaxValue))
        val base = new Path(baseDir)
        val fs = base.getFileSystem(serConf.value)
        val proj = UnsafeProjection.create(
          dataOrdinals.map(i =>
            BoundReference(i, schema(i).dataType, schema(i).nullable)).toSeq)
        var writer: org.apache.spark.sql.execution.datasources.OutputWriter = null
        var tmpPath: Path = null
        var finalPath: Path = null
        // rows arrive sorted by group, so one task's groups in one
        // directory are contiguous: one mkdirs per directory run
        var madeDir: Path = null
        val current = new Array[String](nGroupCols)
        var open = false
        def closeCurrent(): Unit = if (writer != null) {
          writer.close(); writer = null
          if (!fs.rename(tmpPath, finalPath)) {
            fs.delete(finalPath, false)
            if (!fs.rename(tmpPath, finalPath))
              throw new java.io.IOException(s"rename failed: $tmpPath -> $finalPath")
          }
          onFileLanded(finalPath)
          out += current.toIndexedSeq -> collector.finish(finalPath, serConf.value)
        }
        try {
          def groupValue(row: org.apache.spark.sql.catalyst.InternalRow, ord: Int): String =
            if (row.isNullAt(ord)) null else row.getUTF8String(ord).toString
          rows.foreach { row =>
            var same = open
            var i = 0
            while (same && i < nGroupCols) {
              if (groupValue(row, groupOrdinals(i)) != current(i)) same = false
              i += 1
            }
            if (!same) {
              closeCurrent()
              var j = 0
              while (j < nGroupCols) { current(j) = groupValue(row, groupOrdinals(j)); j += 1 }
              finalPath = new Path(base, relPath(current.toIndexedSeq))
              tmpPath = new Path(finalPath.getParent, s".${finalPath.getName}.tmp-$attempt")
              if (finalPath.getParent != madeDir) {
                fs.mkdirs(finalPath.getParent)
                madeDir = finalPath.getParent
              }
              writer = factory.newInstance(tmpPath.toString, dataSchema, tac)
              collector.reset()
              open = true
            }
            val projected = proj(row)
            collector.update(projected)
            writer.write(projected)
          }
          closeCurrent()
        } catch {
          case t: Throwable =>
            if (writer != null) {
              try writer.close() catch { case _: Throwable => () }
              try fs.delete(tmpPath, false) catch { case _: Throwable => () }
            }
            throw t
        }
        out.iterator
      }
    }.collect().toSeq
  }
}
