package graft.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.core.{Snapshot, TableConfig, TableType}
import graft.read.GraftReader
import graft.write.GraftTable

/** `format("graft")` integration (reference analog: DefaultSource.scala:72
  * — dispatch on query type for reads, operation for writes; registered
  * through DataSourceRegister so `spark.read.format("graft")` works).
  *
  * Read options:
  *   path             table base path (required)
  *   query.type       snapshot (default) | read_optimized | incremental | cdc
  *   as.of.instant    time-travel pin (snapshot/read_optimized)
  *   begin.instant    incremental/cdc range start (exclusive; "" = origin)
  *   end.instant      incremental/cdc range end (inclusive; default latest)
  *   incr.path.glob   partition-path glob pruning incremental reads
  * Write options:
  *   path             table base path (required)
  *   operation        upsert (default) | insert | bulk_insert |
  *                    insert_overwrite | insert_overwrite_table
  *   + table-creation options when the table does not exist yet:
  *   key.fields       comma-separated record key fields (required on create)
  *   partition.fields comma-separated partition fields
  *   ordering.field   precombine/ordering column
  *   table.type       COW (default) | MOR
  *   merge.strategy   overwrite_latest (default) | event_time |
  *                    partial_update | any name registered via
  *                    graft.write.MergeStrategies.register
  *   compact.inline.delta.commits  MOR: compact after N delta commits (0=off)
  *   clean.retain.commits          auto-clean after commit, keep N (0=off)
  *   archive.min.commits / archive.max.commits   auto-archive window
  *   hive.style.partitioning / url.encode.partitioning   path encoding
  *   drop.partition.columns   partition fields live only in the path
  *   virtual.keys             store zero meta columns (append-only COW)
  *   occ                      multi-writer optimistic concurrency
  *   commit.store             rename (default) | put — storage profile
  *   lock.provider            file (default) | inprocess | zk:<connect> |
  *                            hms:<connect>
  *   heartbeat.ttl.ms         heartbeat expiry for failed-write cleanup
  *                            under occ (0 = default)
  */
class GraftDataSource
  extends RelationProvider
  with SchemaRelationProvider
  with CreatableRelationProvider
  with org.apache.spark.sql.sources.StreamSinkProvider
  with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft")` (reference analog:
    * HoodieStreamingSink.scala:41): every micro-batch runs the full
    * table write with the batchId recorded in commit metadata, so a
    * replayed batch after restart is skipped — exactly-once table state
    * on at-least-once delivery. Accepts the same `operation` and
    * table-creation options as batch writes; the first batch creates
    * the table when needed. */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
    : org.apache.spark.sql.execution.streaming.Sink = {
    val p = path(parameters)
    val operation = parameters.getOrElse("operation", "upsert")
    // idempotency scope: one logical stream; the checkpoint location is
    // stable across restarts, which is exactly the contract needed. There
    // is deliberately NO per-path fallback: two independent queries
    // writing one table would share it, and the second query's batch 0
    // would be silently skipped as a "replay" — config error beats data
    // loss.
    val queryId = parameters.getOrElse("query.id",
      parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "graft streaming sink needs an explicit idempotency scope: set " +
            "the 'checkpointLocation' option (per-query, stable across " +
            "restarts) or a 'query.id' option")))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val spark = sqlContext.sparkSession
        val table = ensureTable(spark, p, parameters, SaveMode.Append)
        // the incoming frame has a streaming plan; re-wrap its physical
        // rows as a batch frame so the write path can analyze it
        val batch = org.apache.spark.sql.graft.StreamingBatch.rebatch(data)
        graft.streaming.GraftStreamSink.writeBatch(
          table, queryId, operation, batch, batchId)
      }
      override def toString: String = s"GraftSink[$p]"
    }
  }

  private def path(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("option 'path' is required"))

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    // re-planned per scan: the table handle and snapshot resolve FRESH
    // on every query, so cached catalog relations never serve stale state
    val mkDf: () => org.apache.spark.sql.DataFrame = () => {
      val reader = GraftReader(GraftTable.load(spark, path(parameters)))
      parameters.getOrElse("query.type", "snapshot") match {
        case "snapshot" =>
          reader.snapshot(asOf = parameters.get("as.of.instant"))
        case "read_optimized" =>
          reader.readOptimized(asOf = parameters.get("as.of.instant"))
        case "incremental" =>
          reader.incremental(
            parameters.getOrElse("begin.instant", ""),
            parameters.get("end.instant"),
            parameters.get("incr.path.glob"))
        case "cdc" =>
          reader.incrementalCdc(
            parameters.getOrElse("begin.instant", ""),
            parameters.get("end.instant"))
        case other =>
          throw new IllegalArgumentException(s"unknown query.type: $other")
      }
    }
    new GraftRelation(sqlContext, mkDf)
  }

  /** Catalog re-resolution passes back the stored schema; the live
    * table schema wins (it may have evolved since CREATE) — except on a
    * ZERO-COMMIT table, whose data-derived schema is still empty: there
    * the declared schema holds, so CREATE stores real columns in the
    * catalog and the first INSERT can align against them. */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation = {
    val live = createRelation(sqlContext, parameters)
    if (live.schema.nonEmpty || schema.isEmpty) live
    else new GraftRelation(sqlContext, sqlContext.sparkSession.createDataFrame(
      sqlContext.sparkSession.sparkContext.emptyRDD[Row], schema))
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val p = path(parameters)
    val table = ensureTable(spark, p, parameters, mode)
    val operation = parameters.getOrElse("operation",
      if (mode == SaveMode.Overwrite) "insert_overwrite_table" else "upsert")
    operation match {
      case "upsert"                 => table.upsert(data)
      case "insert"                 => table.insert(data)
      case "bulk_insert"            => table.bulkInsert(data)
      case "insert_overwrite"       => table.insertOverwrite(data)
      case "insert_overwrite_table" => table.insertOverwriteTable(data)
      case other =>
        throw new IllegalArgumentException(s"unknown operation: $other")
    }
    createRelation(sqlContext, Map("path" -> p))
  }

  private def ensureTable(
      spark: SparkSession, p: String,
      parameters: Map[String, String], mode: SaveMode): GraftTable = {
    val exists = new graft.core.Timeline(p, spark.sessionState.newHadoopConf()).exists
    if (exists) {
      if (mode == SaveMode.ErrorIfExists)
        throw new IllegalArgumentException(s"graft table already exists at $p")
      GraftTable.load(spark, p)
    } else {
      val keys = parameters.getOrElse("key.fields",
        throw new IllegalArgumentException("option 'key.fields' required to create a table"))
      GraftTable.create(spark, p, TableConfig(
        name = new org.apache.hadoop.fs.Path(p).getName,
        tableType = parameters.getOrElse("table.type", TableType.COW),
        keyFields = keys.split(",").map(_.trim).toSeq,
        partitionFields = parameters.get("partition.fields")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil),
        orderingField = parameters.getOrElse("ordering.field", ""),
        mergeStrategy = parameters.getOrElse("merge.strategy", "overwrite_latest"),
        hiveStylePartitioning =
          parameters.getOrElse("hive.style.partitioning", "false").toBoolean,
        urlEncodePartitioning =
          parameters.getOrElse("url.encode.partitioning", "false").toBoolean,
        dropPartitionColumns =
          parameters.getOrElse("drop.partition.columns", "false").toBoolean,
        virtualKeys = parameters.getOrElse("virtual.keys", "false").toBoolean,
        inlineCompactDeltaCommits =
          parameters.getOrElse("compact.inline.delta.commits", "0").toInt,
        autoCleanRetainCommits =
          parameters.getOrElse("clean.retain.commits", "0").toInt,
        autoArchiveMinCommits =
          parameters.getOrElse("archive.min.commits", "0").toInt,
        autoArchiveMaxCommits =
          parameters.getOrElse("archive.max.commits", "0").toInt,
        occ = parameters.getOrElse("occ", "false").toBoolean,
        commitStore = parameters.getOrElse("commit.store", "rename"),
        baseFormat = parameters.getOrElse("base.format", "parquet"),
        strictSchema = parameters.getOrElse("strict.schema", "false").toBoolean,
        lockProvider = parameters.getOrElse("lock.provider", "file"),
        heartbeatTtlMs =
          parameters.getOrElse("heartbeat.ttl.ms", "0").toLong,
        checkpointKeep =
          parameters.getOrElse("checkpoint.keep", "0").toInt,
        lockAcquireTimeoutMs =
          parameters.getOrElse("lock.acquire.timeout.ms", "0").toLong))
    }
  }
}

/** Thin BaseRelation over a LAZILY RE-PLANNED DataFrame: scans delegate
  * to the underlying plan, so FileIndex pruning / parquet pushdown
  * still apply — pushed `Filter`s are translated back into Column
  * predicates and applied INSIDE the wrapped plan (reaching the
  * FileIndex stats skipping and the parquet reader), column pruning
  * arrives via requiredColumns. Untranslatable filters are simply not
  * pushed; Spark re-applies every filter above the scan regardless
  * (unhandledFilters defaults to all), so pushdown is purely an IO
  * optimization, never a correctness dependency.
  *
  * `mkDf` runs per SCAN, not per relation: Spark's session catalog
  * caches the resolved relation per table name, so a
  * construction-time plan would freeze the file list and serve STALE
  * data after any write to the table. Re-resolving per query costs one
  * driver metadata pass (timeline read — no storage listing) and makes
  * `SELECT` on a catalog name always see the latest committed snapshot.
  * The SCHEMA is still fixed at relation build (Spark requires it
  * stable); after a schema evolution a cached entry refreshes via
  * `refreshTable`, which our ALTER command issues itself. */
class GraftRelation(
    val sqlContext: SQLContext,
    mkDf: () => DataFrame) extends BaseRelation with TableScan with PrunedFilteredScan {

  def this(sqlContext: SQLContext, df: DataFrame) = this(sqlContext, () => df)

  override val schema: StructType = mkDf().schema

  override def buildScan(): RDD[Row] = mkDf().rdd

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val df = mkDf()
    val filtered = filters.flatMap(GraftRelation.filterToColumn)
      .foldLeft(df)((acc, c) => acc.filter(c))
    val pruned =
      if (requiredColumns.isEmpty) filtered
      else filtered.select(
        requiredColumns.toSeq.map(org.apache.spark.sql.functions.col): _*)
    pruned.rdd
  }
}

object GraftRelation {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}

  /** Best-effort translation of a pushed source `Filter` back into a
    * Column predicate (the V1-relation inverse of Catalyst's filter
    * translation). None = not pushable; the filter still runs above. */
  def filterToColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toSeq.map(lit(_)): _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    // Not must negate an EXACT translation: And/Or below may widen
    // (translate a superset — safe to prune with), and !superset is a
    // subset, which would physically drop rows Spark's re-applied
    // filter can never restore.
    case Not(child)               => exactColumn(child).map(!_)
    case And(l, r) =>
      // one translatable side still prunes (the other re-applies above)
      (filterToColumn(l), filterToColumn(r)) match {
        case (Some(a), Some(b)) => Some(a && b)
        case (Some(a), None)    => Some(a)
        case (None, Some(b))    => Some(b)
        case _                  => None
      }
    case Or(l, r) =>
      for (a <- filterToColumn(l); b <- filterToColumn(r)) yield a || b
    case _ => None
  }

  /** Strict translation: every node must translate, so the result is
    * EQUIVALENT to `f`, never a superset. Required under Not. */
  private def exactColumn(f: Filter): Option[Column] = f match {
    case And(l, r) => for (a <- exactColumn(l); b <- exactColumn(r)) yield a && b
    case Or(l, r)  => for (a <- exactColumn(l); b <- exactColumn(r)) yield a || b
    case Not(c)    => exactColumn(c).map(!_)
    case leaf      => filterToColumn(leaf) // leaves translate exactly or not at all
  }
}
