package graft.write

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core._
import graft.read.GraftFileIndex

/** Meta columns stamped onto every stored row (reference analog: the five
  * `_hoodie_*` columns, model/HoodieRecord.java:37-56). They enable
  * incremental queries, record lineage and merge-on-read without any
  * row-format sidecar. */
object Meta {
  val CommitTime = "_g_commit_time"
  val Seqno = "_g_seqno"
  val Key = "_g_key"
  val Partition = "_g_partition"
  val File = "_g_file"
  val Deleted = "_g_deleted"
  val all: Seq[String] = Seq(CommitTime, Seqno, Key, Partition, File, Deleted)
  /** write-only grouping columns: the writer groups rows into files by
    * these and strips them from file contents, so the meta columns they
    * copy stay stored (or are shed, under virtual keys) independently */
  val GP = "_gp"
  val GF = "_gf"
  /** write-only delta flag: lets ONE write carry base and delta groups
    * together (a MOR upsert lands update deltas and fresh-group bases in
    * a single Spark job instead of two) */
  val GD = "_gd"
  /** path segment standing in for a NULL partition-field value (reference
    * analog: hive.exec.default.partition.name /
    * keygen/KeyGenUtils.java DEFAULT_PARTITION_PATH handling) — without
    * it concat_ws would silently DROP the segment and shift every later
    * segment's index, which corrupts dropPartitionColumns reads */
  val NullPartitionSegment = "__HIVE_DEFAULT_PARTITION__"
}

/** A graft table: Parquet file groups + a JSON instant timeline, managed
  * Spark-first. All dataflow is DataFrame-declarative (Catalyst plans the
  * shuffles); only the commit protocol and file-group bookkeeping are ours.
  *
  * Write-path shape (reference analog: SparkRDDWriteClient.java:154 →
  * BaseSparkCommitActionExecutor.java:146, re-expressed without the
  * RDD/Avro IR): prepare (key/partition exprs + intra-batch dedup) →
  * tag via key-index join → bucket assignment → window-merge per file
  * group → one file per group at its committed name → atomic instant
  * completion.
  */
class GraftTable private (
    val spark: SparkSession,
    val basePath: String,
    val timeline: Timeline) {

  import Meta._

  graft.Tables.warnIfCodegenCacheSmall(spark)

  lazy val config: TableConfig = timeline.config
  private def isMor: Boolean = config.tableType == TableType.MOR

  /** Per-writer pre-commit validators (reference analog:
    * hoodie.precommit.validators — writer config, not table state). */
  @volatile private var validators: Seq[PreCommitValidator] = Nil
  def withValidators(vs: Seq[PreCommitValidator]): this.type = {
    validators = vs; this
  }
  private def fs = timeline.fileSystem

  // =========================================================================
  // prepare: stamp key / partition / meta columns
  // =========================================================================

  private def keyExpr: Column =
    if (config.keyFields.size == 1) col(config.keyFields.head).cast("string")
    else concat_ws(":", config.keyFields.map(f => col(f).cast("string")): _*)

  /** Partition-path derivation = the key-generator zoo as pure Catalyst
    * expressions (reference analog: keygen/SimpleKeyGenerator.java:34,
    * ComplexKeyGenerator.java:34, TimestampBasedKeyGenerator.java:39,
    * NonpartitionedKeyGenerator.java:36; hive-style + url-encode options
    * DataSourceOptions.scala:279,636). */
  private[graft] def partitionExpr: Column =
    if (config.partitionFields.isEmpty) lit("")
    else concat_ws("/", config.partitionFields.map(partitionSegment): _*)

  private def partitionSegment(f: String): Column = {
    val formatted = config.partitionTimestampFormat.contains(f)
    val raw =
      if (formatted) date_format(col(f), config.partitionTimestampFormat(f))
      else col(f).cast("string")
    // a formatted field may legitimately emit '/' (e.g. "yyyy/MM/dd" →
    // nested dirs); only raw values get full path sanitizing
    val unsafeChars =
      if (formatted) "[\\\\:*?\"<>|%\\x00-\\x1f]" else "[/\\\\:*?\"<>|%\\x00-\\x1f]"
    val safe =
      if (config.urlEncodePartitioning) call_function("url_encode", raw)
      else regexp_replace(raw, unsafeChars, "_")
    // a NULL partition value must still materialize a segment: concat_ws
    // skips nulls, shifting every later segment's index (and with
    // dropPartitionColumns the value would be unrecoverable)
    val safeNN = coalesce(safe, lit(NullPartitionSegment))
    if (config.hiveStylePartitioning) concat(lit(s"$f="), safeNN) else safeNN
  }

  private def orderingCol(df: DataFrame): Column =
    if (config.orderingField.nonEmpty && df.columns.contains(config.orderingField))
      col(config.orderingField)
    else lit(0)

  /** True when the type holds a MAP anywhere (top level or nested in
    * struct/array) — those columns are un-hashable in Spark. */
  private def containsMapType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.exists(f => containsMapType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType =>
        containsMapType(a.elementType)
      case _ => false
    }

  /** Stamp meta columns for a new write at `commitTime`. A pre-existing
    * `_g_deleted` column is honored (mixed upsert+delete batches, e.g.
    * MERGE INTO with WHEN MATCHED DELETE); otherwise every row gets
    * `deleted`. */
  private def prepare(df: DataFrame, commitTime: String, deleted: Boolean = false): DataFrame = {
    // a timestamp renders with ':' which path sanitizing replaces by '_'
    // — not invertible, so a dropped timestamp partition column would
    // read back NULL; url-encoding roundtrips exactly, so require it
    // (checked here because column types only arrive with the data)
    if (config.dropPartitionColumns && !config.urlEncodePartitioning)
      config.partitionFields.foreach { f =>
        df.schema.fields.find(_.name == f).foreach { fld =>
          require(!fld.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampType] &&
            !fld.dataType.isInstanceOf[org.apache.spark.sql.types.TimestampNTZType],
            s"dropPartitionColumns with timestamp partition field '$f' requires " +
              "urlEncodePartitioning: sanitized path characters are not invertible")
        }
      }
    val del: Column =
      if (df.columns.contains(Deleted)) coalesce(col(Deleted), lit(false))
      else lit(deleted)
    val base = df
      .withColumn(Key, keyExpr)
      .withColumn(Partition, partitionExpr)
      .withColumn(CommitTime, lit(commitTime))
      // deterministic tiebreaker: stable across task retries/recomputation
      // (monotonically_increasing_id is not); identical duplicate rows
      // collide, but then either copy is the same winner. Spark forbids
      // hashing MAP-bearing types (entry order is unspecified across
      // DIFFERENT maps), so those columns hash their to_json form — a
      // recomputed row re-derives the same entries in the same order, so
      // retry stability holds
      .withColumn(Seqno, concat(lit(commitTime), lit("_"),
        lpad(org.apache.spark.sql.functions.abs(
          xxhash64(df.schema.fields.toSeq.map { f =>
            if (containsMapType(f.dataType)) to_json(col(f.name))
            else col(f.name)
          }: _*)).cast("string"), 20, "0")))
      .withColumn(Deleted, del)
    base
  }

  /** Intra-batch dedup — keep the winning row per key within one incoming
    * batch (reference analog: preCombine, commit/SparkWriteHelper.java:63). */
  private def precombine(df: DataFrame): DataFrame = {
    // batch winner per key, scoped like the INDEX: (key, partition) for
    // partition-local tables, key ALONE under a global index — two
    // same-key rows in different partitions would otherwise both land
    // and break the global uniqueness the tag join maintains
    val keyScope =
      if (config.partitionFields.isEmpty || config.globalIndex)
        Window.partitionBy(col(Key))
      else Window.partitionBy(col(Key), col(Partition))
    val w = keyScope.orderBy(orderingCol(df).desc_nulls_last, col(Seqno).desc)
    df.withColumn("_g_rn", row_number().over(w)).filter(col("_g_rn") === 1).drop("_g_rn")
  }

  /** Cross-version merge: latest row per key across base + delta + incoming.
    *
    * Tombstones first: a delete always removes every version committed at
    * or before it (EmptyHoodieRecordPayload: delete regardless of
    * ordering), while rows committed AFTER the latest tombstone survive —
    * so a re-insert after a delete wins. This emulates the reference's
    * sequential log application (HoodieMergedLogRecordScanner) without a
    * per-key map.
    *
    * Then, among surviving data rows, strategy semantics
    * (reference analog §1.1 payloads):
    *  - overwrite_latest: higher ordering wins; ties → newer commit wins
    *    (OverwriteWithLatestAvroPayload)
    *  - event_time: higher ordering wins; ties → stored (older commit) row
    *    kept (DefaultHoodieRecordPayload.needUpdatingPersistedRecord >=)
    * Null ordering sorts LAST: a data row with no event time never beats a
    * stored row that has one. */
  private[graft] def mergeLatest(df: DataFrame): DataFrame = {
    val strat = MergeStrategies(config.mergeStrategy)
    val keyW = Window.partitionBy(col(Key), col(Partition))
    val rnW = keyW.orderBy(
      strat.priority(orderingCol(df), col(CommitTime), col(Seqno)): _*)
    val alive = df
      .withColumn("_g_tomb", max(when(col(Deleted), col(CommitTime))).over(keyW))
      .filter(col("_g_tomb").isNull || col(CommitTime) > col("_g_tomb"))
    // dead rows are pre-filtered above, so every frame row is live
    val frame = rnW.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val projected = strat.project(alive, frame,
      dataColumns(alive), col(Deleted), lit(true))
    projected
      .withColumn("_g_rn", row_number().over(rnW)).filter(col("_g_rn") === 1)
      .drop("_g_rn", "_g_tomb")
  }

  /** Non-meta columns a merge strategy's projection may transform. */
  private def dataColumns(df: DataFrame): Seq[String] = {
    val metaSet = Meta.all.toSet + "_g_tomb" + "_g_live"
    df.columns.toSeq.filterNot(metaSet.contains)
  }

  // Partial-update contract note (reference analog:
  // OverwriteNonDefaultsWithLatestAvroPayload.java:31, now
  // [[PartialUpdateStrategy]]): the column coalesce runs in PRIORITY
  // order (ordering desc, then commit desc) over every retained version,
  // which makes the result stable under compaction and identical however
  // the versions are physically laid out. The reference is
  // path-dependent here (its MOR log scan combines the ordering winner
  // against the base record only, so an earlier partial update's field
  // can vanish when a later one arrives null); we pick the deterministic
  // order-insensitive semantics instead. COW collapse and MOR merge
  // agree except in the out-of-order corner where a stale update sets a
  // field every higher-ordering version left null — priority order
  // resolves that corner in favor of the stale value (it IS the
  // highest-priority version that set the field).

  /** [[mergeLatest]] variant that KEEPS a key's newest tombstone when no
    * live row survives it — used by the COW rewrite path so deletes
    * leave a durable `_g_deleted` marker in the file group. Snapshot/RO
    * reads filter the marker out; incremental CDC reads surface it as a
    * D operation; compaction and clustering purge markers for keys whose
    * history is folded. */
  private[graft] def mergeLatestKeepTombstones(df: DataFrame): DataFrame = {
    val strat = MergeStrategies(config.mergeStrategy)
    val keyW = Window.partitionBy(col(Key), col(Partition))
    // live rows outrank dead ones; among dead rows the tombstone itself
    // wins (Deleted desc, newest commit) so the marker is what survives
    val priority = col("_g_live").desc +: col(Deleted).desc +:
      when(col(Deleted), col(CommitTime)).desc_nulls_last +:
      strat.priority(orderingCol(df), col(CommitTime), col(Seqno))
    val marked = df
      .withColumn("_g_tomb", max(when(col(Deleted), col(CommitTime))).over(keyW))
      .withColumn("_g_live",
        (col("_g_tomb").isNull || col(CommitTime) > col("_g_tomb")).cast("int"))
    // projection sees live = false for tombstone-shadowed rows: a dead
    // pre-tombstone value must not resurrect through a later projection
    val frame = keyW.orderBy(priority: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val projected = strat.project(marked, frame,
      dataColumns(marked), col(Deleted), col("_g_live") === 1)
    projected
      .withColumn("_g_rn", row_number().over(keyW.orderBy(priority: _*)))
      .filter(col("_g_rn") === 1)
      .drop("_g_rn", "_g_tomb", "_g_live")
  }

  // =========================================================================
  // physical write: one file per group, at its committed name
  // =========================================================================

  /** Label the jobs an action spawns (guide §1.5) — a multi-job commit
    * is unreadable in the UI without them. Thread-local, restored after
    * the action. */
  private def withJobDesc[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft: $desc")
    try body finally sc.setJobDescription(prev)
  }

  /** Write `df` (which must carry all meta columns incl. `_g_file`) into
    * the table layout: one file per file group (rows are co-located by
    * the repartition), written once, straight at its committed name
    * `<partition>/<fileId>_<commit>[.delta].<ext>`. Returns per-file
    * WriteStats. Nothing is visible until the caller completes the
    * instant that lists them.
    *
    * A pre-existing boolean `_gd` column overrides `delta` PER ROW, so
    * one write (one Spark job) can carry delta and base groups
    * together — the MOR upsert path lands update deltas and fresh-group
    * bases in a single job. A group must be all-delta or all-base. */
  private[graft] def writeGroups(
      df: DataFrame,
      commitTime: String,
      delta: Boolean = false,
      /** df carries a boolean `_gd` column routing each group to delta
        * or base; costs one extra grouping column, so only mixed
        * writers opt in */
      mixed: Boolean = false,
      /** upper bound on the number of file groups in `df`, when the
        * caller knows it (bucket plan size, pruned index candidates,
        * service plan size) — caps the write shuffle's partition count
        * so a small commit does not schedule `shufflePartitions` mostly
        * empty write tasks. None = unknown, full width. */
      groups: Option[Int] = None): Seq[WriteStat] = {
    // partition-field columns leave the stored schema here (their values
    // live on in the _g_partition path + the synthesized per-group stats
    // below), and virtual-keys tables shed ALL meta columns; every
    // writer — upsert, compaction, clustering — funnels through this one
    // write point, so the invariant holds table-wide
    val droppedPartCols: Seq[String] =
      if (config.dropPartitionColumns) config.partitionFields.filter(df.columns.contains)
      else Nil
    val droppedMeta: Seq[String] =
      if (config.virtualKeys) Meta.all.filter(df.columns.contains) else Nil
    val dropped = droppedPartCols ++ droppedMeta
    val data = if (dropped.isEmpty) df else df.drop(dropped: _*)
    // explicit partition count: an implicit repartition(cols) is subject
    // to AQE coalescing, which at many-small-groups commits folds the
    // write into ONE task that opens thousands of parquet writers
    // serially — the write must keep cluster-wide parallelism (hash
    // co-location of a group into one task holds at any count).
    // When the caller knows the commit's group count, cap the width at
    // 2× that (the 2× absorbs hash collisions): a 3-group trickle commit
    // then schedules ~6 write tasks instead of `shufflePartitions`
    // mostly-empty ones, while a 100k-group commit keeps full width —
    // scale-adaptive in both directions (guide §2).
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val writeParts = groups match {
      case Some(g) => math.min(shufflePartitions.toLong, 2L * math.max(1, g)).toInt
      case None    => shufflePartitions
    }
    // GP/GF/sort derive from the meta columns, so the projection that
    // sheds dropped columns from file contents goes AFTER the sort (a
    // narrow projection preserves within-partition order)
    val grouped = df
      .withColumn(GP, col(Partition))
      .withColumn(GF, col(File))
      .repartition(writeParts, col(GP), col(GF))
      .sortWithinPartitions(col(GP), col(GF), col(Key))
      .drop(dropped: _*)
    // timestamps must be stored as INT64 micros: Spark's default (INT96)
    // writes NO usable parquet footer min/max, which would silently stop
    // the scan's row-group filter pushdown from skipping on timestamp
    // columns. Parquet's prepareWrite reads this key ONLY from the
    // session conf (a per-write option is overwritten), so it is pinned
    // for the session — idempotently and
    // WITHOUT restore, because a set/restore window races the concurrent
    // writers this engine supports (async compactor + ingest on one
    // session): interleaved restores can leave INT96 active mid-write,
    // silently dropping footer stats. Same-value sets cannot race.
    val tsTypeKey = "spark.sql.parquet.outputTimestampType"
    if (!spark.conf.getOption(tsTypeKey).contains("TIMESTAMP_MICROS"))
      spark.conf.set(tsTypeKey, "TIMESTAMP_MICROS")

    // Per-file stats (and, on a bloomIndex table, the key bloom sidecar)
    // are built from the ROWS as the writing task streams them into each
    // file (graft.write.RowStats) — no re-open of the just-written file
    // and no second job over it. Reference analog: HoodieWriteStat and
    // the bloom, populated by the write handles during the write.
    val statsCols = config.statsColumns.filter(data.columns.contains)
    val statTypes: Map[String, DataType] =
      (Key +: statsCols).flatMap(c =>
        data.schema.fields.find(_.name == c).map(f => c -> f.dataType)).toMap

    val groupCols = if (mixed) Seq(GP, GF, GD) else Seq(GP, GF)
    val toWrite =
      if (mixed) grouped.withColumn(GD, col(GD).cast("string")) else grouped
    // The write runs through the direct per-group writer, NOT
    // DataFrameWriter.partitionBy: the Hadoop commit protocol costs a
    // temp dir + task-commit rename + job-commit merge walk PER FILE,
    // which at a many-group commit (file-per-group layout) measured ~2.5×
    // the actual parquet work (see GroupedFileWriter + the experiment
    // record in OPTIMIZATION_r12.md). Each group's committed name is
    // computed in the writing task from its group values; the closure
    // captures plain values only (this table is not serializable).
    val ext = config.dataFormat
    val isDelta: Seq[String] => Boolean = g => if (mixed) g(2).toBoolean else delta
    val relPath: Seq[String] => String = { g =>
      val name = s"${g(1)}_$commitTime${if (isDelta(g)) ".delta" else ""}.$ext"
      if (g(0).isEmpty) name else s"${g(0)}/$name"
    }
    val isOrc = ext == "orc"
    val bloom = config.bloomIndex
    // the write job returns the MANIFEST: (group values, (rows, bytes,
    // column stats)) per file — the driver does zero per-file I/O
    val manifest: Seq[(Seq[String], (Long, Long, Map[String, ColStat]))] =
      withJobDesc(s"stage $commitTime")(
        org.apache.spark.sql.graft.GroupedFileWriter.write(
          spark, toWrite, groupCols, basePath, ext, relPath,
          (dataSchema: StructType) => new RowStats.Collector(statTypes, isOrc, bloom, dataSchema)))

    // a group split across tasks would write one committed name twice,
    // the later file silently replacing the earlier one's rows
    val rels = manifest.map(m => relPath(m._1))
    require(rels.distinct.size == rels.size,
      s"two file groups share a committed name: ${rels.diff(rels.distinct).take(3)}")
    val out = manifest.zip(rels).map { case ((g, (rows, bytes, colStats)), rel) =>
      val part = g(0)
      val keyStat = colStats.get(Key)
      // a file group lives in exactly ONE partition, so each
      // dropped partition field is single-valued in this file:
      // min = max = its (read-visible) path segment — stats
      // skipping on partition-field predicates keeps working
      // with the column gone from storage
      val partStats: Map[String, ColStat] =
        if (droppedPartCols.isEmpty) Map.empty
        else {
          val segs = part.split("/", -1)
          // segment position = the field's position in the FULL
          // partition spec (a batch carrying only a subset of
          // the partition columns must not shift the mapping)
          droppedPartCols.flatMap { f =>
            val i = config.partitionFields.indexOf(f)
            if (i < 0 || i >= segs.length) None
            else decodePartSegment(f, segs(i)) match {
              // null-partition sentinel: every row of the file is
              // null in this field (boundCmp reads null bounds as
              // an empty range; IsNull needs nullCount = rows)
              case null => Some(f -> ColStat(null, null, rows))
              case v    => Some(f -> ColStat(v, v, 0L))
            }
          }.toMap
        }
      WriteStat(part, g(1), rel, isDelta = isDelta(g), rows = rows, bytes = bytes,
        minKey = keyStat.flatMap(s => Option(s.min)).getOrElse(""),
        maxKey = keyStat.flatMap(s => Option(s.max)).getOrElse(""),
        columnStats = colStats.filter { case (c, _) => c != Key } ++ partStats)
    }
    out
  }

  // =========================================================================
  // bucket assignment for inserts
  // =========================================================================

  /** Marker column emitted by [[assignInsertGroups]]: true when the row
    * was routed to a brand-new file group (vs filled into an existing
    * under-sized one). Callers must route fill rows through the group's
    * rewrite/delta path and drop the marker before the write. */
  private[graft] val NewGroup = "_g_newgrp"

  /** Effective rows-per-file target. Byte-configured tables convert
    * `targetFileBytes` via the observed average record size across the
    * snapshot's base files (reference analog:
    * UpsertPartitioner.averageBytesPerRecord, seeded at 1024 B on an
    * empty table, HoodieCompactionConfig.java:245). */
  private def effectiveTargetRows(snap: Option[Snapshot]): Long =
    if (config.targetFileBytes <= 0) math.max(1L, config.targetFileRows)
    else {
      val files = snap.toSeq.flatMap(_.slices).flatMap(_.baseFile)
        .filter(s => s.rows > 0 && s.bytes > 0)
      val avg =
        if (files.isEmpty) 1024L
        else math.max(1L, files.map(_.bytes).sum / files.map(_.rows).sum)
      math.max(1L, config.targetFileBytes / avg)
    }

  /** Effective small-file threshold (rows) at a given file target. */
  private def smallFileLimit(target: Long): Long =
    if (config.smallFileRows < 0) target * 3 / 4
    else config.smallFileRows

  /** File groups pinned by a PENDING clustering plan (requested
    * replacecommit with a `clustering_plan` payload): while the plan is
    * outstanding, updates/deletes targeting them are rejected and insert
    * fills skip them, so the clustering rewrite can replace the groups
    * without losing a concurrent write (reference analog:
    * SparkRejectUpdateStrategy.java:42 +
    * ClusteringUtils.getAllPendingClusteringPlans). Empty in the common
    * no-pending-plan case, costing one O(#instants) listing. */
  private[graft] def pendingClusteringGroups(): Set[(String, String)] =
    timeline.instants()
      .filter(i => i.action == Action.ReplaceCommit && i.state == State.Requested)
      .flatMap { i =>
        scala.util.Try(timeline.metadataOf(i)).toOption.toSeq
          .filter(_.operation == "clustering_plan")
          .flatMap(_.stats.map(st => (st.partition, st.fileId)))
      }.toSet

  /** Reject a mutation that targets clustering-pinned groups. One small
    * driver collect of the distinct target groups; skipped entirely when
    * no clustering plan is pending. Callers that also compute fill
    * targets pass the pinned set through so the O(#instants) timeline
    * listing happens once per write, not once per consumer. */
  private def rejectPinnedTargets(
      df: DataFrame, op: String,
      pinned: Set[(String, String)]): Unit = {
    if (pinned.isEmpty) return
    val touched = df.select(col(Partition), col(File)).distinct()
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val clash = touched.intersect(pinned)
    if (clash.nonEmpty) throw new ClusteringConflictException(op, clash.take(3))
  }

  /** Existing fill targets for bin packing: per partition, the live
    * groups under the small-file limit with their remaining row capacity
    * toward target size — computed from commit-metadata stats only.
    * Clustering-pinned groups are excluded (their files must stay
    * immutable until the plan executes). */
  private def fillTargets(
      snap: Option[Snapshot], target: Long,
      pinnedIn: Option[Set[(String, String)]] = None): Map[String, Seq[(String, Long)]] = {
    val limit = smallFileLimit(target)
    lazy val pinned = pinnedIn.getOrElse(pendingClusteringGroups())
    snap match {
      case Some(sn) if limit > 0 =>
        sn.slices
          // external (bootstrapped) groups stay zero-copy until a real
          // update touches them — filling one would force its rewrite
          .filterNot(_.allFiles.exists(_.external))
          .filterNot(s => pinned((s.partition, s.fileId)))
          .map(s => (s.partition, s.fileId, s.allFiles.map(_.rows).sum))
          .filter { case (_, _, rows) => rows > 0 && rows < limit && rows < target }
          .groupBy(_._1)
          .map { case (p, ss) =>
            p -> ss.sortBy(_._2).map { case (_, fid, rows) => (fid, target - rows) }.toSeq }
      case _ => Map.empty
    }
  }

  /** Assign rows without an existing file group either to NEW groups
    * sized by `target` rows, or into the given existing under-filled
    * groups, filling them toward target size (reference analog:
    * UpsertPartitioner.assignInserts, UpsertPartitioner.java:157,
    * small-file fill :188-214). The plan is a small per-partition
    * aggregate joined back broadcast-style; row routing is
    * hash-proportional to each bucket's remaining capacity, so no
    * per-row driver work and no extra shuffle. */
  /** Returns the routed frame AND the total number of target groups in
    * the plan (fills + new buckets) — the write shuffle's width cap. */
  private def assignInsertGroups(
      df: DataFrame, commitTime: String,
      fillsByPart: Map[String, Seq[(String, Long)]] = Map.empty,
      targetRows: Long = 0L): (DataFrame, Int) = {
    val target = if (targetRows > 0) targetRows else math.max(1L, config.targetFileRows)
    val counts = withJobDesc(s"group plan $commitTime")(
      df.groupBy(col(Partition)).agg(count(lit(1)).as("_g_cnt")).collect())
      .map(r => (r.getString(0), r.getLong(1)))
    var offset = 0
    val plan = counts.map { case (part, cnt) =>
      val fills = fillsByPart.getOrElse(part, Nil)
      val fillCap = fills.map(_._2).sum
      val newBuckets =
        if (cnt <= fillCap && fills.nonEmpty) 0
        else math.max(if (fills.isEmpty) 1L else 0L,
          (cnt - fillCap + target - 1) / target).toInt
      val newIds = (0 until newBuckets).map(i => s"g$commitTime-${offset + i}")
      offset += newBuckets
      val ids = fills.map(_._1) ++ newIds
      // only the FILL buckets carry per-bucket capacities; new buckets
      // are uniform (target rows each), so their index is arithmetic
      val fillCums = fills.map(_._2).scanLeft(0L)(_ + _).tail
      val total = fillCap + newBuckets.toLong * target
      (part, ids, fillCums, fillCap, total, fills.size)
    }.toSeq
    val planDf = broadcast(
      spark.createDataFrame(plan)
        .toDF(Partition + "_p", "_g_ids", "_g_fcums", "_g_fcap", "_g_total", "_g_nfill"))
    val unit = pmod(xxhash64(col(Key)), col("_g_total"))
    // bucket index: the uniform new-bucket tail resolves with pure
    // (codegen'd) arithmetic; the array scan — a non-codegen lambda —
    // only runs for rows landing in the small fill prefix, so routing
    // stays whole-stage-codegen for the bulk of a large load
    val idx = least(
      when(unit >= col("_g_fcap"),
        col("_g_nfill") + floor((unit - col("_g_fcap")) / lit(target)).cast("int"))
        .otherwise(size(filter(col("_g_fcums"), c => c <= unit))),
      size(col("_g_ids")) - 1) // clamp: double division can misround at 2^53-scale units
    val routed = df.join(planDf, col(Partition) === col(Partition + "_p"), "left")
      .withColumn(File, element_at(col("_g_ids"), idx + lit(1)))
      .withColumn(NewGroup, idx >= col("_g_nfill"))
      .drop(Partition + "_p", "_g_ids", "_g_fcums", "_g_fcap", "_g_total", "_g_nfill")
    (routed, plan.map(_._2.size).sum)
  }

  // =========================================================================
  // reading file groups (native + bootstrapped-external)
  // =========================================================================

  /** The commit that introduced zero-copy external files, if any. */
  private[graft] lazy val bootstrapInstant: Option[String] =
    timeline.completed().filter(i => Action.dataActions(i.action))
      .find(i => timeline.metadataOf(i).stats.exists(_.external)).map(_.time)

  private[graft] def absPath(st: WriteStat): String =
    if (st.external) st.path else s"$basePath/${st.path}"

  /** The one read of commit-listed files: `stats` as one DataFrame in
    * the table's full `schema`, every file scanned through a
    * [[graft.read.GraftFileIndex]] relation — the file list comes from
    * commit metadata (never a storage listing, never a path glob) and
    * Catalyst pushdown + per-file stats pruning reach the scan. Every
    * reader funnels here: snapshot / read-optimized / incremental / CDC
    * reads, MOR merges, compaction, clustering and the upsert / delete
    * re-reads.
    *
    * Pruning is sound under the merge window: the only filters Spark
    * pushes below [[mergeLatest]]'s window are on its partition keys
    * (key, partition), and every version of a key lives in files whose
    * key range and partition cover it.
    *
    * Native files carry meta columns (stamped from commit metadata under
    * virtual keys — [[stampVirtual]]); dropped partition fields are
    * appended by the scan from typed per-group values
    * ([[partitionedReadLayout]]). External (bootstrapped) files get
    * their meta columns stamped on the fly ([[stampExternal]]). */
  private[graft] def readStatsDf(schema: StructType, stats: Seq[WriteStat]): DataFrame = {
    val (ext, native) = stats.partition(_.external)
    val parts = Seq(
      if (native.isEmpty) None else Some(readNative(schema, native)),
      if (ext.isEmpty) None else Some(stampExternal(schema, ext))
    ).flatten
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else parts.reduce(_.unionByName(_))
  }

  private def readNative(schema: StructType, native: Seq[WriteStat]): DataFrame = {
    // virtual-keys files hold only data columns; the meta columns are
    // stamped after the scan, so stats pruning still runs over the files
    val stored =
      if (config.virtualKeys) StructType(schema.fields.filterNot(f => Meta.all.contains(f.name)))
      else schema
    val rel =
      if (config.dropPartitionColumns && config.partitionFields.nonEmpty) {
        // partition fields live only in the path: declare them as a real
        // partition schema so the scan appends typed values from commit
        // metadata and Catalyst's partition filters prune groups exactly
        val (dataSchema, partSchema, rows) =
          partitionedReadLayout(stored, native.map(_.partition))
        GraftFileIndex.relation(spark, basePath, native, dataSchema, partSchema, rows,
          fileFormat = config.dataFormat).select(stored.fieldNames.toSeq.map(col): _*)
      } else GraftFileIndex.relation(spark, basePath, native, stored,
        fileFormat = config.dataFormat, partitionFields = config.partitionFields)
    if (config.virtualKeys) stampVirtual(rel, schema, native) else rel
  }

  /** Path segment → read-visible partition value (the inverse of
    * [[partitionSegment]]'s encoding; null for the null-partition
    * sentinel). */
  private def decodePartSegment(f: String, seg: String): String = {
    val raw = if (config.hiveStylePartitioning) seg.stripPrefix(s"$f=") else seg
    val decoded =
      if (config.urlEncodePartitioning) java.net.URLDecoder.decode(raw, "UTF-8")
      else raw
    if (decoded == NullPartitionSegment) null else decoded
  }

  /** For dropPartitionColumns tables: split the full read schema into
    * (stored data schema, partition schema) and decode each distinct
    * partition path into a typed values row for [[graft.read.GraftFileIndex]]
    * to hand Spark's scan — the native partitioned-read path (columns
    * appended from metadata, partitionFilters pruned exactly, zero IO). */
  private[graft] def partitionedReadLayout(
      schema: StructType,
      partitions: Seq[String]): (StructType, StructType,
        Map[String, org.apache.spark.sql.catalyst.InternalRow]) = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    // same zone as the write path's col.cast("string") rendering — a
    // hardcoded zone would shift timestamp partition values between the
    // written path and the read-back value
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val pf = config.partitionFields
    // pair each found field with its position in the FULL partition spec
    // (segment alignment must not shift if a field is missing from the
    // declared schema)
    val partFieldsIdx = pf.zipWithIndex
      .flatMap { case (f, i) => schema.fields.find(_.name == f).map((_, i)) }
    val partFields = partFieldsIdx.map(_._1)
    val dataSchema = StructType(schema.fields.filterNot(f => pf.contains(f.name)))
    val rows = partitions.distinct.map { p =>
      val segs = p.split("/", -1)
      val vals = partFieldsIdx.map { case (f, i) =>
        if (i >= segs.length) null
        else decodePartSegment(f.name, segs(i)) match {
          case null => null // null-partition sentinel
          // TRY eval: one malformed / hand-damaged path segment must
          // degrade only THIS group's reconstituted value to null, not
          // throw (ANSI default) and fail every read of the table —
          // filter evaluation keeps its own strict semantics
          case s => Cast(
            Literal.create(
              org.apache.spark.unsafe.types.UTF8String.fromString(s),
              org.apache.spark.sql.types.StringType),
            f.dataType, tz, EvalMode.TRY).eval(null)
        }
      }
      p -> org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
    }.toMap
    (dataSchema, StructType(partFields), rows)
  }

  /** Reconstitute EVERY meta column for a virtual-keys read (reference
    * analog: hoodie.populate.meta.fields=false + virtual-key generation,
    * HoodieTableConfig.java:159): partition/commit-time/file-id are
    * per-file constants from commit metadata (stamped via an
    * input_file_name lookup, like the bootstrap path), the key comes from
    * the key-generator expression, and rows are never tombstoned
    * (append-only contract). `df` holds `schema`'s data columns (dropped
    * partition fields already appended by the scan); output matches
    * `schema`'s columns. */
  private def stampVirtual(
      df: DataFrame, schema: StructType, native: Seq[WriteStat]): DataFrame = {
    import spark.implicits._
    // per-file constants ride a BROADCAST join keyed on the file name —
    // not a literal map: a literal embeds every file name into the
    // serialized plan shipped with each task, which at metadata scale
    // (10^5-10^6 files) is a driver/task-size liability; a broadcast
    // ships once per executor
    val info = native.map { st =>
      val name = new Path(st.path).getName
      val commit = name
        .stripSuffix(".parquet").stripSuffix(".orc").stripSuffix(".delta")
        .stripPrefix(s"${st.fileId}_")
      (name, st.fileId, commit, st.partition)
    }.toDF("_g_vf_name", "_g_vf_file", "_g_vf_commit", "_g_vf_part")
    df
      .withColumn("_g_vf_name", regexp_extract(input_file_name(), "[^/]+$", 0))
      .join(broadcast(info), "_g_vf_name")
      .withColumn(Partition, col("_g_vf_part"))
      .withColumn(Key, keyExpr)
      .withColumn(CommitTime, col("_g_vf_commit"))
      .withColumn(Seqno, concat(col(CommitTime), lit("_"), lpad(lit("0"), 20, "0")))
      .withColumn(File, col("_g_vf_file"))
      .withColumn(Deleted, lit(false))
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** Key / partition derivation exposed for the bootstrap stats pass
    * (GraftDdl.bootstrap computes per-file key ranges and partition
    * values with the exact expressions the write path uses). */
  private[graft] def keyValueExpr: Column = keyExpr
  private[graft] def partitionValueExpr: Column = partitionExpr

  /** Bootstrapped (zero-copy external) files in the table's schema: key
    * / partition from the config expressions, commit time = the
    * bootstrap instant, file id via a basename→fileId lookup. Column
    * pruning still reaches the scan (the stamps are narrow projections). */
  private def stampExternal(schema: StructType, ext: Seq[WriteStat]): DataFrame = {
    val t = bootstrapInstant.getOrElse("00000000000000000")
    val dataSchema = StructType(schema.fields.filterNot(f => Meta.all.contains(f.name)))
    val mapping = ext.map(st => new Path(st.path).getName -> st.fileId).toMap
    // external paths are absolute, so they resolve as-is against the root
    GraftFileIndex.relation(spark, basePath, ext, dataSchema, fileFormat = config.dataFormat)
      .withColumn(Key, keyExpr)
      // partition columns live IN the external files (bootstrap
      // contract), so the path value derives row-wise like any write
      .withColumn(Partition, partitionExpr)
      .withColumn(CommitTime, lit(t))
      .withColumn(Seqno, concat(lit(t), lit("_"), lpad(lit("0"), 20, "0")))
      .withColumn(File,
        element_at(typedLit(mapping),
          regexp_extract(input_file_name(), "[^/]+$", 0)))
      .withColumn(Deleted, lit(false))
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  // =========================================================================
  // key index (tagging)
  // =========================================================================

  /** (key, partition, fileId) projection of the live slices — the SIMPLE
    * index (reference analog: index/simple/HoodieSimpleIndex.java:114;
    * bloom/range pruning is replaced by Parquet column pruning: only the
    * key columns are read). Restricted to `partitions` when the incoming
    * batch touches a subset. */
  private def keyIndex(
      snap: Snapshot,
      partitions: Option[Set[String]],
      keyRangeOf: String => Option[(String, String)] = _ => None,
      incoming: Option[DataFrame] = None): (DataFrame, Int) = {
    val slices = partitions match {
      case Some(ps) => snap.slices.filter(s => ps.contains(s.partition))
      case None     => snap.slices
    }
    // key-range pruning: a file whose [minKey, maxKey] doesn't overlap
    // the incoming batch's key range (per partition, or global for a
    // global index) cannot contain any incoming key — skip its scan
    // (reference analog: HoodieBloomIndex.loadInvolvedFiles :136 +
    // KeyRangeLookupTree interval pruning). At scale this is what keeps
    // the tag join from reading the whole table's key projection on
    // every trickle upsert of time-ordered keys.
    val ranged = GraftTable.pruneByKeyRange(slices.flatMap(_.allFiles), keyRangeOf)
    // bloom pruning: among range-surviving files, keep only those whose
    // key bloom might contain AT LEAST ONE incoming key — the pruning
    // that still works when keys are random (UUIDs) and every file's
    // [minKey, maxKey] spans the whole keyspace
    val stats = incoming match {
      case Some(batch) if config.bloomIndex => bloomPrune(ranged, batch)
      case _                                => ranged
    }
    if (stats.isEmpty)
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          org.apache.spark.sql.types.StructField(Key, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(Partition, org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField(File, org.apache.spark.sql.types.StringType)))), 0)
    // A key lives in exactly one file group; for groups with deltas the
    // delta rows repeat the same (key,file), so distinct is cheap.
    // Shuffle the projection by the TAG-JOIN KEYS first: hash(key[,part])
    // satisfies both the distinct's clustering requirement (its grouping
    // is a superset) and the join's, so the index side crosses the
    // network ONCE instead of twice (distinct's (key,part,file) exchange
    // + a (key,part) re-exchange at the join) — at scale the tag join's
    // index projection is the upsert's largest shuffle input (guide
    // §2.4: two operations keyed the same way share one exchange).
    val joinKeyCols =
      if (config.partitionFields.isEmpty || config.globalIndex) Seq(col(Key))
      else Seq(col(Key), col(Partition))
    (readStatsDf(readSchema(snap), stats)
      .select(col(Key), col(Partition), col(File))
      .repartition(joinKeyCols: _*)
      .distinct(),
      // candidate GROUP count (the tag join can only route updates into
      // these groups) — the write shuffle's width cap for update-paths
      stats.map(_.fileId).distinct.size)
  }

  /** (candidate files, files kept) of the last bloom probe — test/debug
    * visibility into pruning effectiveness. */
  @volatile private[graft] var lastBloomProbe: Option[(Int, Int)] = None

  /** Probe each candidate file's key bloom with the incoming batch's
    * keys; drop files no incoming key can be in. The probe is the
    * reference's explode pattern (HoodieBloomIndexCheckFunction.java:57:
    * (file, candidate-key) pairs checked on executors against the file's
    * filter): keys × same-partition candidate files, candidate list
    * broadcast, filters loaded executor-side with a per-task cache.
    * Files without a sidecar (pre-bloom commits) are always kept —
    * soundness over pruning. Output is only the surviving file list
    * (metadata-bounded), never data rows. */
  private def bloomPrune(stats: Seq[WriteStat], incoming: DataFrame): Seq[WriteStat] = {
    import spark.implicits._
    val (external, native) = stats.partition(_.external)
    if (native.isEmpty) return stats
    val candDf = native.map(st => (st.partition, absPath(st)))
      .toDF("_g_bf_part", "_g_bf_path")
    val global = config.partitionFields.isEmpty || config.globalIndex
    val keys = incoming.select(col(Partition), col(Key)).distinct()
    val pairs =
      if (global) keys.crossJoin(broadcast(candDf))
      else keys.join(broadcast(candDf), col(Partition) === col("_g_bf_part"))
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val kept = withJobDesc("bloom probe")(pairs.select(col("_g_bf_path"), col(Key))
      .as[(String, String)]
      .mapPartitions { it =>
        val cache = scala.collection.mutable.Map.empty[String, Option[KeyBloom]]
        val hits = scala.collection.mutable.Set.empty[String]
        it.foreach { case (file, key) =>
          if (!hits.contains(file)) {
            val bloom = cache.getOrElseUpdate(file, {
              val p = new Path(file)
              KeyBloom.read(
                org.apache.hadoop.fs.FileSystem.get(p.toUri, conf.value), p)
            })
            bloom match {
              case None    => hits += file // no sidecar: cannot rule out
              case Some(b) => if (b.mightContain(key)) hits += file
            }
          }
        }
        hits.iterator
      }
      .collect()).toSet
    val keptNative = native.filter(st => kept.contains(absPath(st)))
    lastBloomProbe = Some((stats.size, keptNative.size + external.size))
    keptNative ++ external
  }

  /** One driver aggregate over the incoming batch yielding BOTH the
    * touched partitions (index restriction) and the incoming key ranges
    * (per partition, or global for a global index) that prune the tag
    * join's file list (reference analog: the bloom index computes the
    * same batch statistics before loadInvolvedFiles). */
  private def batchIndexProbe(
      prepared: DataFrame): (Option[Set[String]], String => Option[(String, String)], Long) = {
    val batchStats = withJobDesc("index probe")(
      prepared.groupBy(col(Partition))
        .agg(min(col(Key)).as("_g_mn"), max(col(Key)).as("_g_mx"),
          count(lit(1)).as("_g_n"))
        .collect())
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2)),
        r.getLong(3)))
    val global = config.partitionFields.isEmpty || config.globalIndex
    val touched: Option[Set[String]] =
      if (global) None else Some(batchStats.map(_._1).toSet)
    val keyRangeOf: String => Option[(String, String)] =
      if (global) {
        val mins = batchStats.flatMap(_._2)
        val maxs = batchStats.flatMap(_._3)
        val g = if (mins.isEmpty) None
          else Some((mins.min(CodePointOrder), maxs.max(CodePointOrder)))
        _ => g
      } else {
        val m = batchStats.flatMap { case (p, mn, mx, _) =>
          for (a <- mn; b <- mx) yield p -> (a, b)
        }.toMap
        p => m.get(p)
      }
    (touched, keyRangeOf, batchStats.map(_._4).sum)
  }

  // =========================================================================
  // commit publication (single-writer fast path / OCC guarded path)
  // =========================================================================

  /** Publish a commit. With `occ` enabled, take the timeline lock and
    * check that no data instant completed AFTER the snapshot this write
    * planned against (`plannedAsOf` watermark) touches the same file
    * groups; on conflict the write's files are removed and the commit
    * aborts (reference analog: TransactionManager.java:35 +
    * SimpleConcurrentFileWritesConflictResolutionStrategy.hasConflict :73).
    * Insert-only ops skip the guard: their file groups are brand new
    * (fileIds embed the instant time), so they cannot overlap. */
  /** Commit finalization for every public write op: run pre-commit
    * validators over the before/hypothetical-after snapshot views, then
    * complete the instant (through the OCC guard when `guarded`). A
    * validator failure removes the written files and the pending instant
    * — the bad batch never becomes visible (reference analog:
    * SparkPreCommitValidator.java:72; failure → rollback of the inflight
    * instant). */
  private def finishCommit(
      t: String, action: String, meta: CommitMetadata,
      plannedAsOf: String, guarded: Boolean): Unit = {
    if (validators.nonEmpty) {
      val before = Snapshot.resolve(timeline)
      val beforeSchema = readSchema(before)
      val afterSchema =
        if (meta.schemaJson.nonEmpty) DataTypeJson.parse(meta.schemaJson)
        else beforeSchema
      val reader = graft.read.GraftReader(this)
      val beforeDf = reader.snapshotOf(
        before, if (beforeSchema.isEmpty) afterSchema else beforeSchema)
      val afterDf = reader.snapshotOf(Snapshot.applied(before, t, meta), afterSchema)
      try validators.foreach(_.validate(spark, beforeDf, afterDf))
      catch {
        case e: Throwable =>
          meta.stats.filterNot(_.external)
            .foreach(st => GraftTable.deleteDataFile(fs, new Path(basePath, st.path)))
          timeline.deletePending(t, action)
          throw e
      }
    }
    if (guarded) publish(t, action, meta, plannedAsOf)
    else timeline.complete(t, action, meta)
    maybeRunInlineServices()
  }

  /** Post-commit inline table services (reference analog: the reference
    * runs compaction/clean/archive as part of every write client commit
    * when configured — SparkRDDWriteClient.postCommit :512 →
    * autoCleanOnCommit + inline compaction + archiveIfRequired). Runs
    * AFTER the instant is durable: a service failure never un-commits
    * the write. Inline compaction skips (to the next commit) when
    * concurrent writers race the plan. */
  private def maybeRunInlineServices(): Unit = {
    val c = config
    val any = c.inlineCompactDeltaCommits > 0 || c.autoCleanRetainCommits > 0 ||
      (c.autoArchiveMinCommits > 0 && c.autoArchiveMaxCommits > 0)
    if (!any) return
    val svc = graft.services.TableServices(this)
    if (isMor && c.inlineCompactDeltaCommits > 0) {
      val completed = timeline.completed()
      val lastCompaction = completed.filter(_.action == Action.Compaction)
        .map(_.time).maxOption.getOrElse("")
      val deltasSince = completed
        .count(i => i.action == Action.DeltaCommit && i.time > lastCompaction)
      if (deltasSince >= c.inlineCompactDeltaCommits)
        try svc.compact()
        catch {
          // ANY failure skips to the next commit: concurrent writers
          // racing the plan (ISE) defer like the reference's inline
          // path, and a Spark/FS failure must not escape a call whose
          // data commit is already durable — the caller would read it
          // as "write failed" and retry into a double-insert
          case scala.util.control.NonFatal(e) =>
            GraftTable.log.warn(
              s"[graft] inline compaction failed (commit is durable; " +
                s"re-attempted next commit): ${e.getClass.getName}: ${e.getMessage}")
        }
    }
    // clean/archive failures must not escape either: the data commit is
    // already durable, and a thrown write call would read as "write
    // failed" — a retry would then double-insert the batch. Both
    // services are retried by construction on the next commit.
    try {
      if (c.autoCleanRetainCommits > 0) svc.clean(c.autoCleanRetainCommits)
      if (c.autoArchiveMinCommits > 0 && c.autoArchiveMaxCommits > 0 &&
          timeline.config.version >= 1)
        svc.archive(c.autoArchiveMinCommits, c.autoArchiveMaxCommits)
    } catch {
      case scala.util.control.NonFatal(e) =>
        GraftTable.log.warn(
          s"[graft] inline clean/archive failed (commit is durable; " +
            s"retried next commit): ${e.getClass.getName}: ${e.getMessage}")
    }
  }

  /** Test seam: runs inside publish's critical section, after the
    * conflict check and BEFORE the fence check — where a session loss is
    * invisible to the holder until verified. Lets a spec kill the lock
    * session mid-commit and assert the stale writer aborts. */
  private[graft] var onBeforeComplete: () => Unit = () => ()

  private def publish(
      t: String, action: String, meta: CommitMetadata,
      plannedAsOf: String): Unit = {
    if (!config.occ) { timeline.complete(t, action, meta); return }
    def groupsOf(m: CommitMetadata): Set[(String, String)] =
      m.stats.map(s => (s.partition, s.fileId)).toSet ++
        m.replaced.toSeq.flatMap { case (p, ids) => ids.map(f => (p, f)) }
    def abortWrite(): Unit = {
      meta.stats.foreach(st => GraftTable.deleteDataFile(fs, new Path(basePath, st.path)))
      timeline.deletePending(t, action)
    }
    val lk = new TimelineLock(timeline)
    lk.withLock {
      val mine = groupsOf(meta)
      val conflicting = timeline.completed()
        .filter(i => Action.dataActions(i.action))
        .filter(i => i.time > plannedAsOf && i.time != t)
        .find(i => groupsOf(timeline.metadataOf(i)).intersect(mine).nonEmpty)
      conflicting match {
        case Some(other) =>
          abortWrite()
          throw new ConcurrentWriteConflictException(t, other.time)
        case None =>
          onBeforeComplete()
          // fence check at the commit point: a holder whose lock
          // session/lease was lost since acquire (and whose conflict
          // check above may therefore have raced a new holder's) must
          // abort, not complete — see LockProvider.verifyFence
          if (!lk.verifyFence()) {
            abortWrite()
            throw new LockSessionLostException(t, config.lockProvider)
          }
          timeline.complete(t, action, meta.copy(extra = meta.extra ++
            lk.fenceToken.map(f => "fenceToken" -> f.toString)))
      }
    }
  }

  // =========================================================================
  // public write operations
  // =========================================================================

  /** Mint a write instant: first check the lock setting's form and roll
    * back crashed writers (reference analog: the reference runs
    * rollbackFailedWrites at the start of every commit —
    * AbstractHoodieWriteClient.java:780,916), then open the inflight
    * instant and start its liveness heartbeat ([[graft.core.Heartbeat]]).
    * A cleanup failure is logged, not thrown: hygiene must never block a
    * healthy write (same stance as the inline-services error handling). */
  private def startWrite(action: String): String = {
    // a malformed lockProvider fails here, before the instant is minted
    // and any file is written (a table.json may predate the create-time
    // check, or name a provider this build dropped). Read from storage,
    // as the commit-point lock reads it.
    TimelineLock.parse(timeline.config.lockProvider)
    try {
      val cleaned = graft.services.TableServices(this).rollbackFailedWrites()
      if (cleaned.nonEmpty)
        GraftTable.log.warn(
          s"[graft] rolled back crashed write instants: ${cleaned.mkString(", ")}")
    } catch {
      case scala.util.control.NonFatal(e) =>
        GraftTable.log.warn(
          s"[graft] failed-write cleanup failed (write proceeds; retried " +
            s"next write): ${e.getClass.getName}: ${e.getMessage}")
    }
    val t = timeline.start(action)
    graft.core.Heartbeat.start(timeline, t)
    t
  }

  /** Every write-op body runs inside this guard: an exception-aborted
    * write must stop REFRESHING its heartbeat, so the leaked pending
    * instant goes stale like a crashed writer's and the failed-writes
    * policy can reap it. Left refreshing, it would be immortal while
    * this JVM lives — one transient Spark failure in a long-lived
    * driver would wedge everything that waits on earlier writers. The
    * heartbeat FILE stays (cleanup deletes it with the instant). */
  private def heartbeatGuard[R](t: String)(body: => R): R =
    try body
    catch {
      case e: Throwable =>
        graft.core.Heartbeat.stopTracking(timeline, t)
        throw e
    }

  /** Initial/large load: no index lookup, no merge, straight sized write
    * (reference analog: SparkRDDWriteClient.bulkInsert :227; row-writer
    * path HoodieSparkSqlWriter.bulkInsertAsRow :415 — which is simply a
    * DataFrame write, our default everywhere). sortMode: "global" |
    * "partition" | "none". */
  def bulkInsert(df: DataFrame, sortMode: String = "partition",
      extra: Map[String, String] = Map.empty): String = {
    val t = startWrite(Action.Commit)
    heartbeatGuard(t) {
    val sizingSnap =
      if (config.targetFileBytes > 0) Some(Snapshot.resolve(timeline)) else None
    val schemaSnap = sizingSnap.getOrElse(Snapshot.resolve(timeline))
    val (routed, nGroups) = assignInsertGroups(
      prepare(alignBatchTypes(df, schemaSnap), t), t,
      targetRows = effectiveTargetRows(sizingSnap))
    val prepared = routed.drop(NewGroup)
    val sorted = sortMode match {
      case "global" => prepared.orderBy(col(Partition), col(Key))
      case _        => prepared
    }
    val stats = writeGroups(sorted, t, groups = Some(nGroups))
    finishCommit(t, Action.Commit,
      CommitMetadata("bulk_insert",
        reconciledSchemaJson(schemaSnap, prepared),
        stats, extra = extra),
      plannedAsOf = "", guarded = false)
    t
    }
  }

  /** Insert with intra-batch dedup but no merge-by-key against storage.
    * On COW, inserts fill existing small file groups (bin packing): the
    * filled group is rewritten as old ∪ new — same-key rows merge, like
    * the reference's small-file insert routing through the merge handle
    * (UpsertPartitioner.java:188). MOR inserts always open new groups
    * here (fill-by-delta rides the upsert path). */
  def insert(df: DataFrame, extra: Map[String, String] = Map.empty): String = {
    val t = startWrite(Action.Commit)
    heartbeatGuard(t) {
    val snap = if (isMor) None else Some(Snapshot.resolve(timeline))
    val sizingSnap = snap.orElse(
      if (config.targetFileBytes > 0) Some(Snapshot.resolve(timeline)) else None)
    val target = effectiveTargetRows(sizingSnap)
    val fills = fillTargets(snap, target)
    val schemaSnap = snap.orElse(sizingSnap).getOrElse(Snapshot.resolve(timeline))
    val (assigned0, nGroups) = assignInsertGroups(
      precombine(prepare(alignBatchTypes(df, schemaSnap), t)), t, fills, target)
    val assigned = assigned0.persist()
    try {
      val fillRows = assigned.filter(!col(NewGroup)).drop(NewGroup)
      val freshRows = assigned.filter(col(NewGroup)).drop(NewGroup)
      val usedFillIds =
        if (fills.isEmpty) Set.empty[String]
        else withJobDesc("fill targets")(
          fillRows.select(File).distinct().collect()).map(_.getString(0)).toSet
      val stats =
        if (usedFillIds.isEmpty)
          writeGroups(assigned.drop(NewGroup), t, groups = Some(nGroups))
        else {
          val oldStats = snap.toSeq.flatMap(_.slices)
            .filter(s => usedFillIds.contains(s.fileId)).flatMap(_.allFiles)
          val merged = mergeLatestKeepTombstones(
            readStatsDf(readSchema(snap.get), oldStats)
              .unionByName(fillRows, allowMissingColumns = true))
          writeGroups(merged.unionByName(freshRows, allowMissingColumns = true), t,
            groups = Some(nGroups))
        }
      val meta = CommitMetadata("insert",
        reconciledSchemaJson(schemaSnap, assigned.drop(NewGroup)),
        stats, extra = extra)
      // brand-new groups cannot conflict; a small-file FILL rewrites an
      // existing group and must go through the OCC conflict guard
      finishCommit(t, Action.Commit, meta, snap.map(_.asOf).getOrElse(""),
        guarded = usedFillIds.nonEmpty)
      t
    } finally assigned.unpersist()
    }
  }

  /** Upsert: tag each record against the key index, merge-rewrite affected
    * file groups (COW) or append delta files (MOR), route new keys to new
    * groups. */
  def upsert(df: DataFrame, extra: Map[String, String] = Map.empty): String = {
    require(!config.virtualKeys,
      "upsert is not supported on a virtualKeys table (append-only contract " +
        "— reference analog: hoodie.populate.meta.fields=false)")
    val action = if (isMor) Action.DeltaCommit else Action.Commit
    val t = startWrite(action)
    heartbeatGuard(t) {
    val snap = Snapshot.resolve(timeline)
    val stamped = prepare(alignBatchTypes(df, snap), t)
    val prepared = precombine(stamped)

    // probe the PRE-precombine batch: touched partitions / key ranges are
    // identical (dedup drops rows, never keys), and incoming_rows then
    // matches the reference's `stats wa` denominator (records upserted on
    // the raw batch, StatsCommand.java:58) instead of post-dedup rows
    val (touched, keyRangeOf, incomingRows) = batchIndexProbe(stamped)
    val (idx0, candGroups) = keyIndex(snap, touched, keyRangeOf, incoming = Some(prepared))
    val idx = idx0
      .withColumnRenamed(Key, "_g_idx_key")
      .withColumnRenamed(File, "_g_loc")
      .withColumnRenamed(Partition, "_g_loc_part")
    val joinCond =
      if (config.globalIndex) col(Key) === col("_g_idx_key")
      else col(Key) === col("_g_idx_key") && col(Partition) === col("_g_loc_part")
    // the tag join (which scans the key index) feeds several downstream
    // actions — persist it so tagging runs once, not once per action
    val tagged = prepared.join(idx, joinCond, "left").drop("_g_idx_key").persist()
    try {
      val updates = tagged.filter(col("_g_loc").isNotNull)
        .withColumn(File, col("_g_loc"))
        .withColumn(Partition,
          if (config.globalIndex) col("_g_loc_part") else col(Partition))
        .drop("_g_loc", "_g_loc_part")
      val pinned = pendingClusteringGroups()
      rejectPinnedTargets(updates, "upsert", pinned)
      val target = effectiveTargetRows(Some(snap))
      val fills = fillTargets(Some(snap), target, Some(pinned))
      val (assigned, nNew) = assignInsertGroups(
        tagged.filter(col("_g_loc").isNull).drop("_g_loc", "_g_loc_part"), t, fills, target)
      val fillIns = assigned.filter(!col(NewGroup)).drop(NewGroup)
      val inserts = assigned.filter(col(NewGroup)).drop(NewGroup)

      val stats =
        if (isMor) {
          // MOR: updates — and inserts filled into existing small groups
          // (bin packing) — land as delta files on their group; no base
          // read. Fresh groups open as base files. Both land in ONE
          // write via the per-row delta flag (one Spark job, not two;
          // the flag gives each group its file-name suffix).
          val deltas = if (fills.isEmpty) updates else updates.unionByName(fillIns)
          writeGroups(
            deltas.withColumn(GD, lit(true))
              .unionByName(inserts.withColumn(GD, lit(false))), t, mixed = true,
            // updates can only land in the index's candidate groups
            groups = Some(candGroups + nNew))
        } else {
          // COW: rewrite each affected group = old slice ∪ incoming → latest-wins.
          // Affected = groups with updates plus small groups receiving fill inserts.
          val affectedDf =
            if (fills.isEmpty) updates.select(File)
            else updates.select(File).unionByName(fillIns.select(File))
          val affected = withJobDesc("affected groups")(
            affectedDf.distinct().collect()).map(_.getString(0)).toSet
          val oldStats = snap.slices.filter(s => affected.contains(s.fileId)).flatMap(_.allFiles)
          val incoming =
            if (fills.isEmpty) updates
            else updates.unionByName(fillIns)
          // keep tombstone markers in the rewrite: snapshot reads filter
          // them, incremental CDC needs them for D operations
          val merged =
            if (oldStats.isEmpty) incoming
            else mergeLatestKeepTombstones(
              readStatsDf(readSchema(snap), oldStats)
                .unionByName(incoming, allowMissingColumns = true))
          writeGroups(
            merged.unionByName(inserts, allowMissingColumns = true), t,
            groups = Some(affected.size + nNew))
        }
      finishCommit(t, action,
        CommitMetadata("upsert", reconciledSchemaJson(snap, prepared), stats,
          // write-amplification accounting (stats wa): incoming batch
          // size, measured by the index probe's already-paid aggregation
          extra = extra + ("incoming_rows" -> incomingRows.toString)),
        snap.asOf, guarded = true)
      t
    } finally tagged.unpersist()
    }
  }

  /** Delete by key: `keys` must contain the key fields (+ partition fields
    * for a non-global index). COW: anti-join rewrite of affected groups;
    * MOR: tombstone delta rows (reference analog:
    * SparkRDDWriteClient.delete :252 + EmptyHoodieRecordPayload). */
  def delete(keys: DataFrame, extra: Map[String, String] = Map.empty): String = {
    require(!config.virtualKeys,
      "delete is not supported on a virtualKeys table (append-only contract); " +
        "use deletePartitions or insert_overwrite for bulk removal")
    val action = if (isMor) Action.DeltaCommit else Action.Commit
    val t = startWrite(action)
    heartbeatGuard(t) {
    val snap = Snapshot.resolve(timeline)
    // tombstones keep the key/partition DATA columns too, so a CDC read
    // can report which record a D operation targets
    val keepData = (config.keyFields ++ config.partitionFields)
      .filter(keys.columns.contains).distinct
    val stamped = prepare(keys, t, deleted = true)
    val prepared = precombine(stamped)
      .select((Seq(CommitTime, Seqno, Key, Partition, Deleted) ++ keepData).map(col): _*)

    // pre-precombine probe: see upsert — raw batch size for `stats wa`
    val (touched, keyRangeOf, incomingRows) = batchIndexProbe(stamped)
    val (idx0, candGroups) = keyIndex(snap, touched, keyRangeOf, incoming = Some(prepared))
    val idx = idx0
      .withColumnRenamed(Key, "_g_idx_key")
      .withColumnRenamed(File, "_g_loc")
      .withColumnRenamed(Partition, "_g_loc_part")
    val joinCond =
      if (config.globalIndex) col(Key) === col("_g_idx_key")
      else col(Key) === col("_g_idx_key") && col(Partition) === col("_g_loc_part")
    // records that don't exist are dropped (nothing to delete);
    // persisted: the tag join feeds 2-3 downstream actions
    val tagged = prepared.join(idx, joinCond, "inner").drop("_g_idx_key")
      .withColumn(File, col("_g_loc"))
      .withColumn(Partition,
        if (config.globalIndex) col("_g_loc_part") else col(Partition))
      .drop("_g_loc", "_g_loc_part")
      .persist()
    try {
      rejectPinnedTargets(tagged, "delete", pendingClusteringGroups())
      val (stats, replaced) =
        if (isMor)
          (writeGroups(tagged, t, delta = true, groups = Some(candGroups)),
            Map.empty[String, Seq[String]])
        else {
          val affected = withJobDesc("affected groups")(
            tagged.select(File).distinct().collect()).map(_.getString(0)).toSet
          if (affected.isEmpty) (Nil, Map.empty[String, Seq[String]])
          else {
            // rewrite affected groups as old ∪ tombstones, keeping the
            // tombstone marker rows (durable delete history for CDC);
            // snapshot/RO reads filter them out
            val slices = snap.slices.filter(s => affected.contains(s.fileId))
            val old = readStatsDf(readSchema(snap), slices.flatMap(_.allFiles))
            val merged = mergeLatestKeepTombstones(
              old.unionByName(tagged, allowMissingColumns = true))
            (writeGroups(merged, t, groups = Some(affected.size)),
              Map.empty[String, Seq[String]])
          }
        }
      finishCommit(t, action, CommitMetadata("delete", "", stats, replaced,
          extra = extra + ("incoming_rows" -> incomingRows.toString)),
        snap.asOf, guarded = true)
      t
    } finally tagged.unpersist()
    }
  }

  /** Replace the file groups of every partition touched by `df`
    * (reference analog: insert_overwrite, SparkRDDWriteClient.java:203). */
  def insertOverwrite(df: DataFrame): String = {
    val t = startWrite(Action.ReplaceCommit)
    heartbeatGuard(t) {
    val snap = Snapshot.resolve(timeline)
    val (routed, nGroups) = assignInsertGroups(
      precombine(prepare(alignBatchTypes(df, snap), t)), t,
      targetRows = effectiveTargetRows(Some(snap)))
    val prepared = routed.drop(NewGroup)
    val parts = prepared.select(Partition).distinct().collect().map(_.getString(0)).toSet
    val stats = writeGroups(prepared, t, groups = Some(nGroups))
    val replaced = snap.slices.filter(s => parts.contains(s.partition))
      .groupBy(_.partition).map { case (p, ss) => p -> ss.map(_.fileId).toSeq }
    finishCommit(t, Action.ReplaceCommit,
      // partitions outside the replacement keep their old files, so the
      // schema reconciles like a merge; _table overwrite below replaces
      // EVERYTHING and may legitimately narrow
      CommitMetadata("insert_overwrite",
        reconciledSchemaJson(snap, prepared), stats, replaced),
      snap.asOf, guarded = true)
    t
    }
  }

  /** Replace the entire table's file groups. */
  def insertOverwriteTable(df: DataFrame): String = {
    val t = startWrite(Action.ReplaceCommit)
    heartbeatGuard(t) {
    val snap = Snapshot.resolve(timeline)
    val (routed, nGroups) = assignInsertGroups(precombine(prepare(df, t)), t,
      targetRows = effectiveTargetRows(Some(snap)))
    val prepared = routed.drop(NewGroup)
    val stats = writeGroups(prepared, t, groups = Some(nGroups))
    val replaced = snap.slices.groupBy(_.partition)
      .map { case (p, ss) => p -> ss.map(_.fileId).toSeq }
    finishCommit(t, Action.ReplaceCommit,
      CommitMetadata("insert_overwrite_table", schemaJson(prepared), stats, replaced),
      snap.asOf, guarded = true)
    t
    }
  }

  /** Logically drop whole partitions via replacecommit; physical files are
    * removed later by clean (reference analog:
    * SparkDeletePartitionCommitActionExecutor.java:42). */
  def deletePartitions(partitions: Seq[String]): String = {
    val ps = partitions.toSet
    replaceFileGroups("delete_partition", s => ps.contains(s.partition))
  }

  /** One replacecommit replacing the live file groups `selected` picks,
    * through the whole write protocol (lock-form check, failed-write
    * rollback, heartbeat, OCC guard, validators, inline services). */
  private[graft] def replaceFileGroups(operation: String, selected: FileSlice => Boolean): String = {
    val t = startWrite(Action.ReplaceCommit)
    heartbeatGuard(t) {
    val snap = Snapshot.resolve(timeline)
    val replaced = snap.slices.filter(selected)
      .groupBy(_.partition).map { case (p, ss) => p -> ss.map(_.fileId).toSeq }
    finishCommit(t, Action.ReplaceCommit,
      CommitMetadata(operation, "", Nil, replaced),
      snap.asOf, guarded = true)
    t
    }
  }

  /** Repair duplicate keys left by non-deduplicating ingestion (reference
    * analog: hudi-cli RepairsCommand `repair deduplicate` +
    * DedupeSparkJob.scala:54): bulk_insert skips the tag join by contract,
    * so re-ingesting an existing key plants a physical duplicate that
    * snapshot reads then surface twice. Finds (partition, key) pairs with
    * more than one visible row, rewrites ONLY the file groups holding
    * them through the merge strategy (the row an upsert would have kept
    * wins), and publishes the rewrite as a replacecommit — duplicate-free
    * groups are never touched or rewritten. Partition-scoped like the
    * reference: the same key in two partitions of a non-global table is
    * not a duplicate.
    *
    * One full scan of the (optionally partition-restricted) snapshot
    * finds the duplicates; the rewrite reads only the affected groups.
    * Returns (surplus rows removed, file groups rewritten, instant). */
  def repairDeduplicate(
      partitions: Option[Set[String]] = None,
      dryRun: Boolean = false): (Long, Long, Option[String]) = {
    val snap = Snapshot.resolve(timeline)
    val schema = readSchema(snap)
    if (snap.isEmpty || schema.isEmpty) return (0L, 0L, None)
    val reader = graft.read.GraftReader(this)
    val dupW = Window.partitionBy(col(Partition), col(Key))
    val dup = reader.snapshotOf(snap, schema, partitions)
      .withColumn("_g_dupc", count(lit(1)).over(dupW))
      .filter(col("_g_dupc") > 1)
      .select(col(Partition), col(Key), col(File))
      .persist()
    try {
      val agg = dup.agg(count(lit(1)).as("rows"),
        count_distinct(col(Partition), col(Key)).as("keys")).head()
      val surplus = agg.getLong(0) - agg.getLong(1)
      if (surplus == 0L) return (0L, 0L, None)
      val affected: Map[String, Seq[String]] = dup
        .select(col(Partition), col(File)).distinct().collect()
        .groupBy(_.getString(0))
        .map { case (p, rs) => p -> rs.map(_.getString(1)).toSeq.sorted }
      val groupCount = affected.values.map(_.size).sum.toLong
      if (dryRun) return (surplus, groupCount, None)

      val t = startWrite(Action.ReplaceCommit)
      heartbeatGuard(t) {
      // .toSeq first: flatMap on the Map itself re-keys by partition and
      // silently collapses to ONE file group per partition
      val affectedSet =
        affected.toSeq.flatMap { case (p, ids) => ids.map((p, _)) }.toSet
      // same immutability contract as upsert/delete: a clustering plan's
      // pinned groups must not be replaced under it (the plan would later
      // re-materialize the pre-repair rows)
      val pinnedClash = affectedSet.intersect(pendingClusteringGroups())
      if (pinnedClash.nonEmpty)
        throw new ClusteringConflictException("repair_deduplicate",
          pinnedClash.take(3))
      val sub = snap.copy(slices = snap.slices.filter(s =>
        affectedSet.contains((s.partition, s.fileId))))
      // RAW rows of the affected groups (tombstone markers included),
      // collapsed per key exactly as an upsert would have merged them,
      // restamped into fresh groups. mergeLatestKeepTombstones — not the
      // visible snapshot — so a key's durable delete marker survives the
      // rewrite and CDC windows ending after the repair still emit its D
      // (the marker's commit time does move to the repair instant).
      val repaired =
        mergeLatestKeepTombstones(readStatsDf(schema, sub.slices.flatMap(_.allFiles)))
          .drop(Meta.all.filterNot(_ == Deleted): _*)
      val (routed, nGroups) = assignInsertGroups(precombine(prepare(repaired, t)), t,
        targetRows = effectiveTargetRows(Some(snap)))
      val prepared = routed.drop(NewGroup)
      val stats = writeGroups(prepared, t, groups = Some(nGroups))
      finishCommit(t, Action.ReplaceCommit,
        CommitMetadata("repair_deduplicate", schemaJson(prepared), stats,
          affected, extra = Map("surplus_rows" -> surplus.toString)),
        snap.asOf, guarded = true)
      (surplus, groupCount, Some(t))
      }
    } finally dup.unpersist()
  }

  // =========================================================================
  // schema plumbing
  // =========================================================================

  /** Align common-column TYPES between an incoming batch and the table's
    * current schema (reference analog: the Avro promotion rules inside
    * the TableSchemaResolver.isSchemaCompatible gate :337-345). A batch
    * column strictly NARROWER than the table's (tightest common type ==
    * the table's: int→long, float→double) is cast up losslessly before
    * the write — without this, a narrow batch writes files whose physical
    * type the table schema can't read back (Spark's columnar readers
    * refuse demotion reads: PARQUET_COLUMN_DATA_TYPE_MISMATCH). A
    * strictly WIDER batch column is a valid promotion: the commit schema
    * evolves to it and old narrow files read through it (the readers DO
    * promote upward). Anything else — string↔numeric, decimal
    * precision/scale changes — is rejected loudly. */
  private def alignBatchTypes(df: DataFrame, snap: Snapshot): DataFrame = {
    val current = readSchema(snap).fields
      .filterNot(f => Meta.all.contains(f.name))
      .map(f => f.name -> f.dataType).toMap
    if (current.isEmpty) return df
    // strict-mode rejection runs HERE, before any write I/O — firing
    // it from the commit-metadata step would first pay the full write
    // of every data file, leaving orphans for the
    // failed-write cleaner (the reference's compatibility gate runs
    // up front too)
    if (config.strictSchema) {
      val missing = current.keySet -- df.schema.fieldNames.toSet
      require(missing.isEmpty,
        s"incoming batch is missing table columns " +
          s"${missing.toSeq.sorted.mkString(", ")} — strictSchema rejects " +
          "field drops (the reference's schema-compatibility gate, " +
          "TableSchemaResolver.isSchemaCompatible); write the full schema " +
          "or unset strictSchema to reconcile by union")
    }
    df.schema.fields.foldLeft(df) { (d, f) =>
      current.get(f.name) match {
        case Some(cur) if nullableDeep(cur) == nullableDeep(f.dataType) => d
        case Some(cur) =>
          if (GraftTable.promotesLossless(f.dataType, cur))
            d.withColumn(f.name, col(f.name).cast(cur))
          else {
            require(GraftTable.promotesLossless(cur, f.dataType),
              s"incompatible type change for column '${f.name}': table has " +
                s"$cur, batch has ${f.dataType} — neither promotes to the " +
                "other (the reference's schema-compatibility gate, " +
                "TableSchemaResolver.isSchemaCompatible, rejects this; use " +
                "ALTER TABLE CHANGE COLUMN for deliberate type evolution)")
            d // valid widening: the batch type becomes the evolved schema
          }
        case None => d
      }
    }
  }

  /** Commit-schema reconciliation for MERGING write operations
    * (reference analog: hoodie.datasource.write.reconcile.schema,
    * DataSourceOptions.scala:366, + the Avro compatibility gate,
    * TableSchemaResolver.isSchemaCompatible :337-345): the recorded
    * schema is the UNION of the table's current data schema and the
    * batch's. A batch missing a column must not NARROW the read view —
    * the column still lives in every untouched file, and the rewrite
    * paths already carry it physically (`unionByName(allowMissing)`);
    * only the schema record would lose it. New batch columns widen the
    * view (old files read them as null). Under [[TableConfig.strictSchema]]
    * the reference's DEFAULT contract applies instead: a batch missing
    * table columns is rejected outright. Same-name columns keep the
    * batch's type, exactly as the data path does. */
  private def reconciledSchemaJson(snap: Snapshot, prepared: DataFrame): String = {
    val batchJson = schemaJson(prepared)
    val current = readSchema(snap).fields
      .filterNot(f => Meta.all.contains(f.name))
    if (current.isEmpty) return batchJson
    // Field ORDER is stable across merging commits: the table's existing
    // order survives (with the batch's type for common columns) and only
    // genuinely NEW batch columns append at the end — otherwise a batch
    // that omits or permutes a middle column would silently reorder the
    // visible schema for every `SELECT *` / positional consumer.
    val batch = DataTypeJson.parse(batchJson)
    val (metaFields, dataFields) =
      batch.fields.partition(f => Meta.all.contains(f.name))
    val byName = dataFields.map(f => f.name -> f).toMap
    val missing = current.filterNot(f => byName.contains(f.name))
    if (missing.nonEmpty) {
      require(!config.strictSchema,
        s"incoming batch is missing table columns " +
          s"${missing.map(_.name).mkString(", ")} — strictSchema rejects " +
          "field drops (the reference's schema-compatibility gate, " +
          "TableSchemaResolver.isSchemaCompatible); write the full schema " +
          "or unset strictSchema to reconcile by union")
    }
    val currentNames = current.map(_.name).toSet
    val added = dataFields.filterNot(f => currentNames.contains(f.name))
    val kept = current.map(f => byName.getOrElse(f.name, f))
    StructType(metaFields ++ kept ++ added).json
  }

  private def schemaJson(prepared: DataFrame): String = {
    import org.apache.spark.sql.types._
    val metaFields = Seq(
      StructField(CommitTime, StringType), StructField(Seqno, StringType),
      StructField(Key, StringType), StructField(Partition, StringType),
      StructField(File, StringType), StructField(Deleted, BooleanType))
    // stored as fully nullable: any file group may predate a column
    // (schema evolution), so the read contract must tolerate its absence
    val dataCols = prepared.schema.fields.filterNot(f =>
      Meta.all.contains(f.name) || f.name == GP || f.name == GF)
      .map(f => f.copy(dataType = nullableDeep(f.dataType), nullable = true))
    StructType(metaFields ++ dataCols).json
  }

  private def nullableDeep(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullableDeep(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = nullableDeep(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = nullableDeep(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  /** Latest stored schema (meta + data columns) visible in `snap`;
    * falls back to the checkpoint's schema when every schema-bearing
    * instant has been archived. */
  def readSchema(snap: Snapshot): StructType = {
    val js = snap.instants.reverseIterator
      .map(timeline.metadataOf(_).schemaJson)
      .find(_.nonEmpty)
      .orElse(Option(snap.baseSchemaJson).filter(_.nonEmpty))
    js.map(DataTypeJson.parse).getOrElse(StructType(Nil))
  }
}

/** StructType JSON round-trip helper (kept out of the hot path). */
object DataTypeJson {
  def parse(json: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(json).asInstanceOf[StructType]
}

object GraftTable {
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[GraftTable])

  /** Epoch micros → the UTC-naive LocalDateTime ISO form ColStat carries
    * for timestamps (what StatsSkipping.compare re-parses). */
  private[write] def microsToWallIso(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC).toString

  /** Drop files whose [minKey, maxKey] cannot overlap the incoming
    * batch's key range for their partition. Files without recorded key
    * stats are always kept (soundness over pruning). */
  private[graft] def pruneByKeyRange(
      stats: Seq[WriteStat],
      keyRangeOf: String => Option[(String, String)]): Seq[WriteStat] =
    stats.filter { st =>
      keyRangeOf(st.partition) match {
        case Some((lo, hi)) =>
          st.minKey.isEmpty || st.maxKey.isEmpty ||
            (CodePointOrder.compare(st.minKey, hi) <= 0 &&
              CodePointOrder.compare(st.maxKey, lo) >= 0)
        case None => true
      }
    }

  /** Lossless type-promotion lattice shared by [[alignBatchTypes]] and
    * ALTER COLUMN TYPE (GraftDdl.changeColumnType) — NOT Spark's
    * coercion precedence, which ranks Float/Double above Long
    * (long→float "coerces" but loses precision above 2^24, and a
    * float-typed commit schema cannot read existing int64 files back).
    * Admitted promotions are (a) value-exact (integral widening,
    * float→double, int-or-narrower→double — a double holds every int
    * exactly) and (b) supported as read-time promotions by Spark's
    * vectorized parquet AND ORC readers over files written in the
    * narrower type. long→double stays OUT: longs above 2^53 are not
    * double-exact. */
  private[graft] def promotesLossless(
      narrow: org.apache.spark.sql.types.DataType,
      wide: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val (ni, wi) = (integral.indexOf(narrow), integral.indexOf(wide))
    (ni >= 0 && wi >= 0 && ni < wi) ||
      (narrow == FloatType && wide == DoubleType) ||
      (ni >= 0 && ni <= integral.indexOf(IntegerType) && wide == DoubleType)
  }

  /** Remove a data file AND its bloom sidecar (if any) — every physical
    * data-file removal (clean, rollback, restore, aborted commit) goes
    * through here so sidecars never outlive their file. */
  private[graft] def deleteDataFile(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit = {
    fs.delete(p, false)
    KeyBloom.delete(fs, p)
  }

  private def validateConfig(config: TableConfig): Unit = {
    require(!(config.dropPartitionColumns && config.partitionTimestampFormat.nonEmpty),
      "dropPartitionColumns cannot combine with partitionTimestampFormat: " +
        "formatted partition paths are not invertible back to column values")
    require(!(config.virtualKeys && config.tableType == TableType.MOR),
      "virtualKeys is COW-only: MOR merge lineage needs stored meta columns " +
        "(reference contract: append only/immutable data)")
    require(!(config.virtualKeys && config.bloomIndex),
      "virtualKeys cannot combine with bloomIndex: key bloom sidecars are " +
        "built from the stored key column")
    // a live writer's heartbeat mtime legitimately ages up to the refresh
    // cadence between ticks; a ttl inside that window would let the lazy
    // policy reap LIVE writers mid-write
    require(config.heartbeatTtlMs == 0L ||
      config.heartbeatTtlMs >= 2L * graft.core.Heartbeat.RefreshMs,
      s"heartbeatTtlMs must be 0 (default) or >= ${2L * graft.core.Heartbeat.RefreshMs} ms " +
        s"(2x the ${graft.core.Heartbeat.RefreshMs} ms heartbeat refresh cadence); " +
        s"got ${config.heartbeatTtlMs}")
    TimelineLock.parse(config.lockProvider)
    require(Seq(null, "", "parquet", "orc").contains(config.baseFormat),
      s"unknown baseFormat '${config.baseFormat}' " +
        "(expected 'parquet' or 'orc')")
  }

  def create(spark: SparkSession, path: String, config: TableConfig): GraftTable = {
    validateConfig(config)
    val tl = new Timeline(path, spark.sessionState.newHadoopConf())
    require(!tl.exists, s"table already exists at $path")
    tl.initTable(config)
    new GraftTable(spark, path, tl)
  }

  /** Highest table-format version this build reads/writes (reference
    * analog: table/upgrade/UpgradeDowngrade.java:40 — newer-format
    * tables fail loudly instead of being silently misread). */
  val CurrentVersion = 1

  def load(spark: SparkSession, path: String): GraftTable = {
    val tl = new Timeline(path, spark.sessionState.newHadoopConf())
    require(tl.exists, s"no graft table at $path")
    require(tl.config.version <= CurrentVersion,
      s"table at $path is format version ${tl.config.version}; " +
        s"this build supports <= $CurrentVersion — upgrade the library")
    new GraftTable(spark, path, tl)
  }

  def createOrLoad(spark: SparkSession, path: String, config: TableConfig): GraftTable = {
    validateConfig(config)
    val tl = new Timeline(path, spark.sessionState.newHadoopConf())
    if (!tl.exists) tl.initTable(config)
    new GraftTable(spark, path, tl)
  }
}
