package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Direct per-group staged write, bypassing the Hadoop commit protocol.
  *
  * A many-group commit (the table format's file-per-group layout) through
  * `DataFrameWriter.partitionBy` pays, PER FILE: a `_temporary` task
  * directory, a task-commit rename, a job-commit merge walk, and an
  * `_SUCCESS`-era checksum dance — measured at ~3 ms/file, it is the
  * publish-path floor at thousands of groups (guide §2.4/§6: remove
  * work, not tune it). The staged write needs none of that protocol:
  * the staging directory itself is the transaction (its files become
  * visible only via commit metadata written AFTER the moves; an aborted
  * write deletes the whole directory), and group files are
  * deterministically named, so a retried task simply overwrites its
  * predecessor's partial output (write-then-rename per file keeps a
  * concurrently-read partial invisible even mid-task).
  *
  * This writer opens Spark's own columnar [[org.apache.spark.sql.execution.datasources.OutputWriter]]
  * (parquet/orc — same encoders, codecs and footer stats as the
  * `partitionBy` path, so published files are byte-compatible with what
  * the previous staged write produced) once per group run inside each
  * sorted task partition: rows MUST arrive clustered by the group
  * columns (the caller's repartition+sortWithinPartitions guarantees
  * runs), written straight to the final staged name. */
object GroupedFileWriter {

  /** Per-file accounting hook for [[write]]: observes every (projected)
    * row as the task streams it into the current file, then produces the
    * file's manifest value after the file is complete. One instance per
    * task; `reset()` opens a file's accounting, `finish()` closes it.
    * `update` receives the writer's UNSAFE row whose buffer is reused —
    * retained values must be copied. */
  trait RowFileCollector[S] extends Serializable {
    def reset(): Unit
    def update(row: org.apache.spark.sql.catalyst.InternalRow): Unit
    def finish(path: Path, conf: org.apache.hadoop.conf.Configuration): S
  }

  /** Write `df` (already clustered by `groupCols` within partitions)
    * under `destDir` as `<gp>=<v>/.../part-<pid>.<ext>` files, one per
    * distinct group-column combination per task, and return the staged
    * MANIFEST: every written file path paired with the per-file value of
    * a [[RowFileCollector]] built once per task from the written data
    * schema (group columns excluded). The collector observes rows AS
    * THEY ARE WRITTEN, so per-file accounting (row count, byte length,
    * column min/max/null stats) costs no re-open of the just-written
    * file at all (the reference's write handles populate HoodieWriteStat
    * the same way, io/HoodieCreateHandle.java:52-210). A retried task
    * overwrites its predecessor's deterministically-named files and only
    * the successful attempt's manifest entries reach the driver (Spark
    * returns one result per partition), so the manifest never
    * double-counts. */
  def write[S: scala.reflect.ClassTag](
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      groupCols: Seq[String],
      destDir: String,
      format: String,
      newCollector: StructType => RowFileCollector[S]): Seq[(String, S)] = {
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
    val groupNames = groupCols.toArray

    df.queryExecution.toRdd.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, S)]
        val collector = newCollector(dataSchema)
        val pid = TaskContext.get().partitionId()
        val attempt = TaskContext.get().taskAttemptId()
        val tac = new TaskAttemptContextImpl(serConf.value,
          new TaskAttemptID(new TaskID(new JobID("graftstage", pid), TaskType.MAP,
            pid), attempt.toInt & Int.MaxValue))
        val ext = factory.getFileExtension(tac)
        val fs = new Path(destDir).getFileSystem(serConf.value)
        val proj = UnsafeProjection.create(
          dataOrdinals.map(i =>
            BoundReference(i, schema(i).dataType, schema(i).nullable)).toSeq)
        var writer: org.apache.spark.sql.execution.datasources.OutputWriter = null
        var tmpPath: Path = null
        var finalPath: Path = null
        val current = new Array[String](groupNames.length)
        var open = false
        def closeCurrent(): Unit = if (writer != null) {
          writer.close(); writer = null
          // per-file write-then-rename: the deterministic final name only
          // ever holds a COMPLETE file (a crashed attempt leaves only
          // .tmp-* junk, removed with the staging dir)
          if (!fs.rename(tmpPath, finalPath)) {
            fs.delete(finalPath, false)
            if (!fs.rename(tmpPath, finalPath))
              throw new java.io.IOException(s"staged rename failed: $tmpPath -> $finalPath")
          }
          out += finalPath.toString -> collector.finish(finalPath, serConf.value)
        }
        try {
          def groupValue(row: org.apache.spark.sql.catalyst.InternalRow, ord: Int): String =
            if (row.isNullAt(ord)) null else row.getUTF8String(ord).toString
          rows.foreach { row =>
            var same = open
            var i = 0
            while (same && i < groupNames.length) {
              if (groupValue(row, groupOrdinals(i)) != current(i)) same = false
              i += 1
            }
            if (!same) {
              closeCurrent()
              var dir = new Path(destDir)
              var j = 0
              while (j < groupNames.length) {
                val v = groupValue(row, groupOrdinals(j))
                current(j) = v
                // same dir-name encoding as DataFrameWriter.partitionBy:
                // null/empty -> the Hive default-partition sentinel
                val seg =
                  if (v == null || v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
                  else ExternalCatalogUtils.escapePathName(v)
                dir = new Path(dir, s"${groupNames(j)}=$seg")
                j += 1
              }
              fs.mkdirs(dir)
              finalPath = new Path(dir, f"part-$pid%05d$ext")
              tmpPath = new Path(dir, f".tmp-attempt$attempt-part-$pid%05d$ext")
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
