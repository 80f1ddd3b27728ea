package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StructType}

import graft.core._
import graft.read.GraftReader
import graft.write.GraftTable

/** Catalog-shaped DDL over graft tables (reference analog: the command
  * layer — CreateHoodieTableAsSelectCommand.scala:38,
  * AlterHoodieTableAddColumnsCommand.scala:42,
  * ShowHoodieTablePartitionsCommand.scala:37,
  * TruncateHoodieTableCommand.scala:33).
  */
object GraftDdl {

  /** CTAS: create the table and load the query result in one step. */
  def createTableAs(
      spark: SparkSession, path: String, config: TableConfig,
      query: DataFrame, sortMode: String = "partition"): GraftTable = {
    val table = GraftTable.create(spark, path, config)
    table.bulkInsert(query, sortMode)
    table
  }

  /** ALTER TABLE ADD COLUMNS: a schema-evolution commit — no data moves;
    * the new schema (old + appended fields) is recorded in a data-less
    * commit and read-side projection fills the new columns with null for
    * pre-evolution files. */
  def addColumns(table: GraftTable, newCols: Seq[StructField]): String = {
    val snap = Snapshot.resolve(table.timeline)
    val current = table.readSchema(snap)
    require(current.nonEmpty, "cannot evolve an empty table (no schema yet)")
    val clash = newCols.map(_.name).toSet.intersect(current.fieldNames.toSet)
    require(clash.isEmpty, s"columns already exist: ${clash.mkString(",")}")
    val evolved = StructType(current.fields ++ newCols)
    val t = table.timeline.start(Action.Commit)
    table.timeline.complete(t, Action.Commit,
      CommitMetadata("alter_add_columns", evolved.json, Nil))
    t
  }

  /** ALTER TABLE ... RENAME TO: the reference renames the catalog
    * identifier (AlterHoodieTableRenameCommand.scala:33); the
    * path-addressed analog updates the stored table name — catalog
    * entries follow via Spark's own ALTER ... RENAME on the registered
    * name. */
  def renameTable(table: GraftTable, newName: String): String = {
    require(newName.nonEmpty && !newName.contains('/'), s"bad table name: $newName")
    table.timeline.updateConfig(table.timeline.config.copy(name = newName))
    newName
  }

  /** Type promotions accepted for ALTER COLUMN ... TYPE: the reflexive
    * closure of the engine's ONE promotion lattice — the same rule the
    * write path applies to mismatched batches
    * ([[GraftTable.promotesLossless]]), so a column widened here keeps
    * accepting the old narrow batches afterwards. The lattice is exactly
    * the set Spark's Parquet readers up-cast at scan time (verified in
    * DdlSpec), mirroring the reference's Avro-compatibility gate
    * (AlterHoodieTableChangeColumnCommand.scala:36 +
    * TableSchemaResolver.isSchemaCompatible): byte/short/int -> wider
    * integer, int/float -> double; long -> double is NOT readable and is
    * rejected. */
  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean =
    from == to || GraftTable.promotesLossless(from, to)

  /** ALTER TABLE ... ALTER COLUMN c TYPE t: widening type change as a
    * schema-evolution commit — no data moves; pre-change files up-cast
    * at scan time. */
  def changeColumnType(table: GraftTable, name: String,
      newType: org.apache.spark.sql.types.DataType): String = {
    val snap = Snapshot.resolve(table.timeline)
    val current = table.readSchema(snap)
    val field = current.fields.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(s"no such column: $name"))
    require(widens(field.dataType, newType),
      s"cannot change $name from ${field.dataType.simpleString} to " +
        s"${newType.simpleString}: not a widening promotion")
    val evolved = StructType(current.fields.map(f =>
      if (f.name == name) f.copy(dataType = newType) else f))
    val t = table.timeline.start(Action.Commit)
    table.timeline.complete(t, Action.Commit,
      CommitMetadata("alter_change_column", evolved.json, Nil))
    t
  }

  /** ALTER TABLE ... DROP PARTITION (k='v'[, ...]): a replacecommit via
    * delete_partition (reference analog:
    * AlterHoodieTableDropPartitionCommand.scala:39). The spec must name
    * every partition field. */
  def dropPartition(table: GraftTable, spec: Map[String, String]): String = {
    val cfg = table.config
    require(cfg.partitionFields.nonEmpty, "table is not partitioned")
    require(spec.keySet == cfg.partitionFields.toSet,
      s"full partition spec required: ${cfg.partitionFields.mkString(",")}")
    val path = cfg.partitionFields.map { f =>
      if (cfg.hiveStylePartitioning) s"$f=${spec(f)}" else spec(f)
    }.mkString("/")
    table.deletePartitions(Seq(path))
  }

  /** SHOW PARTITIONS: distinct live partition paths from the snapshot —
    * pure commit-metadata, no listing. */
  def showPartitions(table: GraftTable): DataFrame = {
    import table.spark.implicits._
    Snapshot.resolve(table.timeline).slices.map(_.partition)
      .distinct.sorted.toDF("partition")
  }

  /** Zero-copy bootstrap: onboard an existing parquet directory WITHOUT
    * rewriting it (reference analog: bootstrap,
    * SparkBootstrapCommitActionExecutor.java:84). Source files become
    * external file groups — meta columns are stamped at read time, and
    * the first upsert touching a group rewrites it as a native file.
    * One stats job over the source computes per-file row counts, key
    * ranges, and partition values; no data is copied.
    *
    * Constraints: partition columns must be PRESENT in the source files
    * (they stay queryable data columns), every source file must hold a
    * single partition's rows (true for any partition-laid-out dataset),
    * and source file basenames must be unique. */
  def bootstrap(
      spark: SparkSession, path: String, config: TableConfig,
      sourceDir: String,
      /** "metadata" (default): zero-copy — adopt source files in place,
        * stamping meta at read (reference analog: METADATA_ONLY
        * bootstrap, BootstrapMode.java + skeleton files). "full":
        * rewrite every source record through the normal bulk_insert
        * path — meta columns stored, files re-laid-out, no
        * single-partition-per-file requirement (reference analog:
        * FULL_RECORD mode, SparkBootstrapCommitActionExecutor.java:84,
        * which is likewise "a bulk insert of the source"). */
      mode: String = "metadata",
      /** format of the files under `sourceDir`. Defaults to the TABLE's
        * data format. In "metadata" mode they must match anyway (the
        * source files are adopted in place as the table's own); in
        * "full" mode the source is rewritten, so e.g. a parquet lake can
        * bootstrap into an ORC table by passing sourceFormat="parquet". */
      sourceFormat: String = null): GraftTable = {
    val srcFmt = Option(sourceFormat).map(_.trim.toLowerCase)
      .filter(_.nonEmpty).getOrElse(config.dataFormat)
    mode match {
      case "full" =>
        val table = GraftTable.create(spark, path, config)
        table.bulkInsert(spark.read.format(srcFmt).load(sourceDir))
        table
      case "metadata" =>
        require(srcFmt == config.dataFormat,
          s"zero-copy bootstrap adopts the source files in place, so their " +
            s"format ($srcFmt) must equal the table's (${config.dataFormat}); " +
            "use mode=\"full\" to rewrite across formats")
        bootstrapMetadataOnly(spark, path, config, sourceDir)
      case other => throw new IllegalArgumentException(
        s"unknown bootstrap mode '$other' (expected 'metadata' or 'full')")
    }
  }

  private def bootstrapMetadataOnly(
      spark: SparkSession, path: String, config: TableConfig,
      sourceDir: String): GraftTable = {
    val table = GraftTable.create(spark, path, config)
    val src = spark.read.format(config.dataFormat).load(sourceDir)
    val missing = config.partitionFields.filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"bootstrap needs partition columns in the source files; missing: ${missing.mkString(",")}")
    import org.apache.spark.sql.functions._
    // one distributed stats pass, grouped by physical file — key ranges
    // and partition values via the write path's own derivation exprs
    val stats = src
      .select(input_file_name().as("_f"),
        table.keyValueExpr.as("_k"), table.partitionValueExpr.as("_p"))
      .groupBy(col("_f"))
      .agg(count(lit(1)).as("rows"),
        min(col("_k")).as("minKey"), max(col("_k")).as("maxKey"),
        min(col("_p")).as("pLo"), max(col("_p")).as("pHi"))
      .collect()
    val multi = stats.filter(r => r.getString(4) != r.getString(5))
    require(multi.isEmpty,
      s"bootstrap requires single-partition source files; mixed: ${multi.take(3).map(_.getString(0)).mkString(",")}")
    val fs = new org.apache.hadoop.fs.Path(sourceDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val basenames = stats.map(r => r.getString(0).split('/').last)
    require(basenames.distinct.length == basenames.length,
      "bootstrap requires unique source file basenames")
    val writeStats = stats.zipWithIndex.map { case (r, i) =>
      val uri = r.getString(0)
      val p = new org.apache.hadoop.fs.Path(java.net.URI.create(uri))
      graft.core.WriteStat(
        partition = Option(r.getString(4)).getOrElse(""),
        fileId = f"boot-$i%05d", path = p.toString,
        rows = r.getLong(1), bytes = fs.getFileStatus(p).getLen,
        minKey = Option(r.getString(2)).getOrElse(""),
        maxKey = Option(r.getString(3)).getOrElse(""),
        external = true)
    }.toSeq
    val metaFields = Seq(
      StructField(graft.write.Meta.CommitTime, org.apache.spark.sql.types.StringType),
      StructField(graft.write.Meta.Seqno, org.apache.spark.sql.types.StringType),
      StructField(graft.write.Meta.Key, org.apache.spark.sql.types.StringType),
      StructField(graft.write.Meta.Partition, org.apache.spark.sql.types.StringType),
      StructField(graft.write.Meta.File, org.apache.spark.sql.types.StringType),
      StructField(graft.write.Meta.Deleted, org.apache.spark.sql.types.BooleanType))
    val schema = StructType(metaFields ++ src.schema.fields.map(_.copy(nullable = true)))
    val t = table.timeline.start(Action.Commit)
    table.timeline.complete(t, Action.Commit,
      CommitMetadata("bootstrap", schema.json, writeStats))
    table
  }

  /** TRUNCATE TABLE: one replacecommit replacing every live file group
    * (files removed later by clean — same logical-delete contract as
    * delete_partition, and the same write protocol). */
  def truncate(table: GraftTable): String = table.replaceFileGroups("truncate", _ => true)
}
