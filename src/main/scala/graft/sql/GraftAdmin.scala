package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core._
import graft.write.GraftTable

/** Admin/inspection surface over a table's timeline and file layout —
  * the rebuild of hudi-cli's read-only command set (reference:
  * hudi-cli/src/main/java/org/apache/hudi/cli/commands/
  * CommitsCommand.java:72 `commits show`, FileSystemViewCommand.java:56
  * `show fsview all`, CleansCommand.java:49, SavepointsCommand.java:45,
  * RollbacksCommand.java:48, ArchivedCommitsCommand.java:53). Where the
  * reference shells into a REPL, this engine returns DataFrames from
  * `spark.sql`-able statements — the admin surface composes with the
  * rest of Spark (filter/join/write the result like any other frame).
  *
  * Everything here is commit-metadata-scale driver work: no data file is
  * ever opened.
  */
object GraftAdmin {

  /** One row per completed data instant: write accounting from the
    * commit's WriteStats (reference: CommitsCommand.printCommits —
    * total bytes / files / records per commit). */
  def showCommits(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    table.timeline.completed()
      .filter(i => Action.dataActions(i.action))
      .map { i =>
        val m = table.timeline.metadataOf(i)
        (i.time, i.action, m.operation,
          m.stats.size.toLong,
          m.stats.map(_.rows).sum,
          m.stats.map(_.bytes).sum,
          m.replaced.values.map(_.size).sum.toLong)
      }
      .toDF("instant", "action", "operation", "files", "rows", "bytes",
        "replaced_groups")
  }

  /** One row per live file slice: the filesystem-view listing
    * (reference: FileSystemViewCommand.java:56 `show fsview all`). */
  def showFsView(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    Snapshot.resolve(table.timeline).slices
      .map { s =>
        (s.partition, s.fileId,
          s.baseFile.map(_.rows).getOrElse(0L),
          s.baseFile.map(_.bytes).getOrElse(0L),
          s.deltas.size.toLong,
          s.deltas.map(_.rows).sum,
          s.deltas.map(_.bytes).sum)
      }
      .toDF("partition", "file_id", "base_rows", "base_bytes",
        "num_deltas", "delta_rows", "delta_bytes")
  }

  /** Clean history: instant + files removed (reference:
    * CleansCommand.java:49). */
  def showCleans(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    table.timeline.completed().filter(_.action == Action.Clean)
      .map { i =>
        val m = table.timeline.metadataOf(i)
        val deleted = Json.read(
          m.extra.getOrElse("deleted", "[]"), classOf[Array[String]])
        (i.time, m.operation, deleted.length.toLong)
      }
      .toDF("instant", "operation", "files_deleted")
  }

  /** Savepoints: instant + pinned target (reference:
    * SavepointsCommand.java:45). */
  def showSavepoints(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    table.timeline.completed().filter(_.action == Action.Savepoint)
      .map(i => (i.time,
        table.timeline.metadataOf(i).extra.getOrElse("target", "")))
      .toDF("instant", "pinned_instant")
  }

  /** Rollback/restore history (reference: RollbacksCommand.java:48). */
  def showRollbacks(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    table.timeline.completed()
      .filter(i => i.action == Action.Rollback || i.action == Action.Restore)
      .map { i =>
        val m = table.timeline.metadataOf(i)
        (i.time, i.action, m.extra.getOrElse("target", ""))
      }
      .toDF("instant", "action", "target_instant")
  }

  /** The data-skipping index, exposed: per (file, column) min/max/null
    * stats exactly as [[graft.read.StatsSkipping]] consumes them
    * (reference analog: the hudi-cli `metadata stats` / .zindex table
    * inspection surface). Commit metadata only — no data IO. */
  def showColumnStats(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    Snapshot.resolve(table.timeline).slices
      .flatMap { s =>
        (s.baseFile.toSeq ++ s.deltas).flatMap { f =>
          f.columnStats.toSeq.map { case (c, st) =>
            (s.partition, s.fileId, f.path, c, st.min, st.max,
              st.nullCount, f.rows)
          }
        }
      }
      .toDF("partition", "file_id", "file", "column",
        "min", "max", "null_count", "rows")
  }

  /** Write amplification per commit (reference: StatsCommand.java:58
    * `stats wa` — total records written / records upserted): commits
    * whose metadata carries the incoming batch size (upsert/delete; the
    * index probe measures it for free) get an exact factor, others show
    * null rather than a guess. Final row totals the known commits. */
  def showWriteAmplification(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    val per = table.timeline.completed()
      .filter(i => Action.dataActions(i.action))
      .map { i =>
        val m = table.timeline.metadataOf(i)
        val written = m.stats.map(_.rows).sum
        val incoming = m.extra.get("incoming_rows").map(_.toLong)
        (i.time, m.operation, written, incoming,
          incoming.filter(_ > 0).map(written.toDouble / _))
      }
    val knownW = per.filter(_._4.isDefined).map(_._3).sum
    val knownI = per.flatMap(_._4).sum
    val total = ("total", "", knownW, Some(knownI).filter(_ > 0),
      Some(knownI).filter(_ > 0).map(knownW.toDouble / _))
    (per :+ total)
      .toDF("instant", "operation", "rows_written", "incoming_rows", "wa")
  }

  /** Archived instants with their accounting — audit over the cold
    * timeline (reference: ArchivedCommitsCommand.java:53). */
  def showArchivedCommits(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    table.timeline.archivedInstants()
      .filter { case (i, _) => Action.dataActions(i.action) }
      .map { case (i, m) =>
        (i.time, i.action, m.operation, m.stats.size.toLong, m.stats.map(_.rows).sum)
      }
      .toDF("instant", "action", "operation", "files", "rows")
  }

  /** Snapshot checkpoints (the spine archiving folds state into):
    * instant + storage format + file-entry count. v2 answers from the
    * manifest alone — O(1) per checkpoint regardless of slice count. */
  def showCheckpoints(spark: SparkSession, table: GraftTable): DataFrame = {
    import spark.implicits._
    graft.core.Checkpoint.times(table.timeline).map { t =>
      val (fmt, entries) = graft.core.Checkpoint.describe(table.timeline, t)
      (t, fmt, entries)
    }.toDF("instant", "format", "entries")
  }
}

/** Copy a table snapshot OUT of the table format into plain files —
  * the reference's HoodieSnapshotExporter
  * (hudi-utilities/src/main/java/org/apache/hudi/utilities/
  * HoodieSnapshotExporter.java:103: snapshot read at the latest — or a
  * requested — instant, re-written as parquet/json/csv, partition
  * layout preserved). Meta columns are stripped: the export is for
  * consumers outside the engine. */
object GraftExporter {

  def export(
      table: GraftTable,
      outDir: String,
      format: String = "parquet",
      asOf: Option[String] = None): Long = {
    require(Set("parquet", "json", "csv", "orc").contains(format),
      s"unsupported export format: $format")
    val reader = graft.read.GraftReader(table)
    val snap = reader.snapshot(asOf)
    // row count rides the write itself as an observed metric — no second
    // scan of the freshly written output (for json/csv that re-read even
    // re-infers schemas over every file)
    val obs = org.apache.spark.sql.Observation()
    val out = reader.dataOnly(snap).observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    val partitioned = table.config.partitionFields.filter(out.columns.contains)
    val writer = out.write.mode("overwrite").format(format)
    (if (partitioned.nonEmpty) writer.partitionBy(partitioned: _*) else writer)
      .save(outDir)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Back up a snapshot AS a graft table: copy the live slice files
    * (bases + deltas + bloom sidecars) byte-for-byte and mint a fresh
    * one-commit timeline over them, so the copy is immediately
    * queryable/writable with full engine semantics (reference analog:
    * HoodieSnapshotCopier.java:56 — latest files + commit metadata to a
    * backup dir). File copies are metadata-driven (never a directory
    * listing) and run on a driver thread pool. */
  def copyTable(
      table: GraftTable,
      destDir: String,
      asOf: Option[String] = None): String = {
    import org.apache.hadoop.fs.Path
    val spark = table.spark
    val snap = Snapshot.resolve(table.timeline, asOf)
    val schema = table.readSchema(snap)
    val dest = GraftTable.create(spark, destDir, table.config)
    val fs = table.timeline.fileSystem
    val dfs = dest.timeline.fileSystem
    val conf = spark.sessionState.newHadoopConf()
    // base before deltas per group: single-commit snapshot replay folds
    // stats in list order (a base resets the group, deltas stack on it)
    val ordered = snap.slices.flatMap(s => s.baseFile.toSeq ++ s.deltas)
      .filterNot(_.external)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, ordered.size)))
    try {
      ordered.map { st =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val src = new Path(table.absPath(st))
            val dst = new Path(destDir, st.path)
            dfs.mkdirs(dst.getParent)
            org.apache.hadoop.fs.FileUtil.copy(fs, src, dfs, dst, false, conf)
            val sb = graft.write.KeyBloom.sidecar(src)
            if (fs.exists(sb))
              org.apache.hadoop.fs.FileUtil.copy(
                fs, sb, dfs, graft.write.KeyBloom.sidecar(dst), false, conf)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    val t = dest.timeline.start(Action.Commit)
    dest.timeline.complete(t, Action.Commit,
      CommitMetadata("snapshot_copy", schema.json, ordered,
        extra = Map("source" -> table.basePath, "source_as_of" -> snap.asOf)))
    t
  }
}
