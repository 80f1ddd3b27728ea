package graft.core

/** Core data model of the graft table format.
  *
  * Mirrors the reference's timeline/file-group abstractions
  * (reference: hudi-common/src/main/java/org/apache/hudi/common/model/
  * HoodieKey.java:30, HoodieFileGroup.java:34, FileSlice.java:32,
  * table/timeline/HoodieInstant.java:63) re-expressed for an
  * all-Parquet, Spark-native engine: mutation "logs" are delta Parquet
  * files, and snapshot state is derived purely from commit metadata —
  * no filesystem listing is ever needed to resolve a snapshot, which
  * keeps driver cost O(#instants) at 100 TB.
  */
object Action {
  val Commit = "commit"               // COW write
  val DeltaCommit = "deltacommit"     // MOR write
  val ReplaceCommit = "replacecommit" // clustering / insert_overwrite / delete_partition
  val Compaction = "compaction"       // MOR compaction (completes as a commit-like instant)
  val Clean = "clean"
  val Rollback = "rollback"
  val Savepoint = "savepoint"
  val Restore = "restore"
  val Upgrade = "upgrade"             // format-version migration (either direction)

  /** Actions whose completed instants contribute data files. */
  val dataActions: Set[String] = Set(Commit, DeltaCommit, ReplaceCommit, Compaction)
}

object State {
  val Requested = "requested"
  val Inflight = "inflight"
  val Completed = "completed"
}

/** One timeline event. `time` is a 17-digit yyyyMMddHHmmssSSS string;
  * lexicographic order == temporal order. */
case class Instant(time: String, action: String, state: String) {
  def isCompleted: Boolean = state == State.Completed
  def fileName: String = state match {
    case State.Completed => s"$time.$action"
    case s               => s"$time.$action.$s"
  }
}

/** Per-written-file accounting, stored in commit metadata. This is the
  * engine's only source of truth for table state (reference analog:
  * model/HoodieWriteStat.java:40). */
case class WriteStat(
    partition: String,
    fileId: String,
    path: String,            // relative to table base; absolute when external
    isDelta: Boolean = false,
    rows: Long = 0L,
    bytes: Long = 0L,
    minKey: String = "",
    maxKey: String = "",
    columnStats: Map[String, ColStat] = Map.empty,
    /** zero-copy bootstrapped file living OUTSIDE the table dir, without
      * meta columns — they are stamped at read time (reference analog:
      * bootstrap skeleton files, BootstrapFileMapping.java:33) */
    external: Boolean = false)

/** Per-file column statistics powering min/max data skipping
  * (reference analog: index/zorder/ZOrderingIndexHelper.java:233). */
case class ColStat(min: String, max: String, nullCount: Long)

/** The one order of string bounds (column stats, key ranges): Unicode
  * code-point order, which is the unsigned UTF-8 byte order the writer
  * (RowStats) and Spark's own string compare use. `String.compareTo`
  * orders UTF-16 code units instead and disagrees once one string holds
  * a character in U+E000–U+FFFF and the other a supplementary one
  * ("Ａ" sorts above "😀" there, below it here). Allocates nothing. */
object CodePointOrder extends Ordering[String] {
  override def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i)
      val y = b.charAt(i)
      if (x != y)
        // surrogates (U+D800–U+DFFF) encode code points above U+FFFF:
        // lift them above U+E000–U+FFFF before comparing
        return if (x >= 0xD800 && y >= 0xD800) lift(x) - lift(y) else x - y
      i += 1
    }
    a.length - b.length
  }
  private def lift(c: Char): Int = if (c >= 0xE000) c - 0x800 else c + 0x2000
}

/** Completed-instant payload (reference analog:
  * model/HoodieCommitMetadata.java:47). */
case class CommitMetadata(
    operation: String,
    schemaJson: String = "",
    stats: Seq[WriteStat] = Nil,
    /** partition -> fileIds whose groups this instant logically replaces */
    replaced: Map[String, Seq[String]] = Map.empty,
    /** e.g. rollback target, streaming checkpoints */
    extra: Map[String, String] = Map.empty)

/** Table-level immutable configuration, stored at .graft/table.json
  * (reference analog: common/table/HoodieTableConfig.java:60). */
case class TableConfig(
    name: String,
    tableType: String,                // "COW" | "MOR"
    keyFields: Seq[String],
    partitionFields: Seq[String] = Nil,
    orderingField: String = "",      // empty -> arrival order (latest write wins)
    /** "overwrite_latest" | "event_time" | "partial_update" (null fields
      * in an update inherit the stored value — reference analog:
      * OverwriteNonDefaultsWithLatestAvroPayload.java:31) */
    mergeStrategy: String = "overwrite_latest",
    /** target rows per base file; sizes insert buckets (reference analog:
      * hoodie.parquet.max.file.size, byte-based; rows keep the planner
      * free of size estimation) */
    targetFileRows: Long = 4000000L,
    /** byte-based file sizing (reference analog:
      * hoodie.parquet.max.file.size, HoodieStorageConfig.java:42 —
      * 120 MB default there). When > 0 it overrides `targetFileRows`:
      * the rows-per-file target is derived per write from the observed
      * average record size in commit stats (seed 1024 B on an empty
      * table, mirroring UpsertPartitioner.averageBytesPerRecord +
      * HoodieCompactionConfig.java:245). 0 = row-based sizing. */
    targetFileBytes: Long = 0L,
    /** file groups below this many rows are insert-fill targets (small-
      * file bin packing — reference analog:
      * hoodie.parquet.small.file.limit, HoodieCompactionConfig.java:154).
      * -1 = auto (3/4 of the effective file target, mirroring the
      * reference's 100/120 MB ratio); 0 = disabled. */
    smallFileRows: Long = -1L,
    /** true -> key unique table-wide; updates may move partitions
      * (reference analog: GLOBAL_SIMPLE index) */
    globalIndex: Boolean = false,
    /** data columns whose per-file min/max/nullCount are recorded in every
      * WriteStat, powering read-side data skipping (reference analog: the
      * .zindex column-stats table, ZOrderingIndexHelper.java:233) */
    statsColumns: Seq[String] = Nil,
    /** per-file record-key bloom filters: written as `<file>.bloom`
      * sidecars at commit time, probed during upsert/delete tagging and
      * point lookups to drop files whose key RANGE overlaps the batch
      * but whose keys don't — the pruning that survives random
      * (non-clustered) keys, where ranges alone prune nothing
      * (reference analog: the BLOOM index, Hudi's default —
      * HoodieIndexConfig.java:53, HoodieBloomIndex.java) */
    bloomIndex: Boolean = false,
    /** optimistic concurrency for multi-writer: commits take a timeline
      * lock and fail on overlapping file groups (reference analog:
      * WriteConcurrencyMode.OPTIMISTIC_CONCURRENCY_CONTROL +
      * SimpleConcurrentFileWritesConflictResolutionStrategy.java:44) */
    occ: Boolean = false,
    /** per-field output format for timestamp/date partition fields, e.g.
      * "order_date" -> "yyyy/MM/dd" (reference analog:
      * TimestampBasedKeyGenerator.java:39) */
    partitionTimestampFormat: Map[String, String] = Map.empty,
    /** emit `field=value` partition segments (reference analog:
      * HIVE_STYLE_PARTITIONING, DataSourceOptions.scala:279) */
    hiveStylePartitioning: Boolean = false,
    /** url-encode partition values instead of character sanitizing
      * (reference analog: URL_ENCODE_PARTITIONING,
      * DataSourceOptions.scala:636) */
    urlEncodePartitioning: Boolean = false,
    /** don't store partition-field columns inside data files; readers
      * reconstitute typed values from the stored partition path
      * (reference analog: hoodie.datasource.write.drop.partition.columns,
      * DataSourceOptions.scala DROP_PARTITION_COLUMNS). At scale this
      * saves one stored column per partition field per record. Values
      * hit by path sanitizing don't roundtrip (path value wins — same
      * caveat as the reference); incompatible with
      * partitionTimestampFormat, whose formatted paths aren't
      * invertible. */
    dropPartitionColumns: Boolean = false,
    /** "virtual keys": store ZERO engine meta columns in data files —
      * key/partition/commit-time are derived at read from the
      * key-generator expressions and commit metadata (reference analog:
      * hoodie.populate.meta.fields=false, HoodieTableConfig.java:159 —
      * "only meant to be used for append only/immutable data"). COW
      * only; upsert/delete/incremental/CDC refuse loudly. At 100 TB the
      * six meta columns are a material fraction of narrow tables.
      * (Inverted sense vs the reference key so that table.json files
      * predating the field deserialize to the safe default.) */
    virtualKeys: Boolean = false,
    /** MOR: compact inline after a write once this many delta commits
      * stack since the last compaction (reference analog:
      * hoodie.compact.inline + hoodie.compact.inline.max.delta.commits,
      * HoodieCompactionConfig.java:76,83 — reference default 5 when
      * inline is on). 0 = off. */
    inlineCompactDeltaCommits: Int = 0,
    /** run clean automatically after every data commit, retaining this
      * many commits (reference analog: hoodie.clean.automatic +
      * hoodie.cleaner.commits.retained, HoodieCompactionConfig.java:60,
      * 100). 0 = off. */
    autoCleanRetainCommits: Int = 0,
    /** auto-archive after commit once the active timeline exceeds max
      * completed instants, trimming to min (reference analog:
      * hoodie.keep.min.commits=20 / hoodie.keep.max.commits=30 —
      * archival runs at every commit in the reference,
      * HoodieCompactionConfig.java:107,114). Both > 0 to enable. */
    autoArchiveMinCommits: Int = 0,
    autoArchiveMaxCommits: Int = 0,
    /** storage-atomicity profile for commit publication: "rename"
      * (HDFS/POSIX — temp + atomic rename) or "put" (object stores —
      * conditional writes, moves are copies). See [[CommitStore]];
      * reference analog: the rename seam of
      * HoodieActiveTimeline.java:525-641. */
    commitStore: String = "rename",
    /** base/delta data-file format: "parquet" (default) or "orc" — both
      * written and read through Spark's native columnar datasources, so
      * pushdown/pruning/vectorization hold for either (reference analog:
      * hoodie.table.base.file.format, HoodieFileFormat.java:29-43 +
      * io/storage/HoodieOrcWriter.java; HFILE is out of scope — HBase
      * client). File-level column stats are accumulated from the rows
      * as the writing task streams them (graft.write.RowStats), the
      * same for either format. Timeline,
      * checkpoint and bloom-sidecar INTERNAL files stay parquet — the
      * format choice governs data files only. Old table.json → null =
      * parquet. */
    baseFormat: String = "parquet",
    /** schema contract for merging writes whose batch is missing table
      * columns. Default false = reconcile by union: the commit records
      * current ∪ batch so the absent column never narrows out of the
      * read view (the data paths already carry it physically) — the
      * `hoodie.datasource.write.reconcile.schema=true` behavior
      * (DataSourceOptions.scala:366). true = the reference's DEFAULT
      * contract: reject the write (Avro compatibility gate,
      * TableSchemaResolver.isSchemaCompatible :337-345). */
    strictSchema: Boolean = false,
    /** mutual-exclusion provider for OCC commit publication: "file"
      * (atomic create-if-absent lock file), "inprocess" (JVM-wide
      * map — all writers share a driver), "zk:<connectString>"
      * (ZooKeeper via Curator) or "hms:<connect>" (the Hive
      * metastore's lock manager); see [[TimelineLock.providerFor]]
      * (reference analog: hoodie.write.lock.provider,
      * ZookeeperBasedLockProvider.java:55 /
      * InProcessLockProvider.java). */
    lockProvider: String = "file",
    /** heartbeat expiry, ms, for failed-write cleanup on OCC tables.
      * Cleanup runs at write start and follows `occ` (reference analog:
      * hoodie.cleaner.policy.failed.writes, HoodieCompactionConfig.java
      * :214, which the reference mandates LAZY under OCC): without `occ`
      * it rolls back every pending write instant; with `occ` only those
      * whose writer heartbeat is older than this (reference analog:
      * hoodie.client.heartbeat.interval_in_ms × tolerable misses,
      * HoodieWriteConfig.java:368,373 — 60 s × 2 there; live writers
      * refresh every [[Heartbeat.RefreshMs]]). 0 = default. */
    heartbeatTtlMs: Long = 0L,
    /** snapshot-checkpoint generations retained by rotation (default 3).
      * An as-of resolve whose replay window crosses archived instants
      * loads the gap's metadata back from the archive (exact, but
      * O(gap) extra reads — see Snapshot.resolve), so the oldest
      * retained generation is the time-travel FAST-PATH floor; raise it
      * to keep more historical reads checkpoint-fast. Each generation
      * costs one columnar slice list (~25 MB per 1M file groups).
      * 0/old table.json = default. */
    checkpointKeep: Int = 0,
    /** how long a writer's publish (or a service) waits for the timeline
      * lock before aborting, ms (reference analog:
      * hoodie.write.lock.wait_time_ms + num_retries,
      * LockConfiguration.java). The 30 s default suits the common case —
      * commit-point critical sections are small (checkpoint/archive
      * folds stage OUTSIDE the lock) — but a deployment fanning many
      * concurrent writers into one table, or one with very slow
      * metadata storage, can widen it instead of surfacing spurious
      * lock-timeout aborts. 0/old table.json = default. */
    lockAcquireTimeoutMs: Long = 0L,
    version: Int = 1) {

  /** [[baseFormat]] with the old-table.json null/empty default applied —
    * every format-sensitive code path reads THIS, never the raw field. */
  def dataFormat: String =
    Option(baseFormat).map(_.trim.toLowerCase).filter(_.nonEmpty)
      .getOrElse("parquet")

  /** [[checkpointKeep]] with the old-table.json 0 default applied —
    * retention reads THIS, never the raw field. */
  def effectiveCheckpointKeep: Int = if (checkpointKeep <= 0) 3 else checkpointKeep
}

object TableType { val COW = "COW"; val MOR = "MOR" }

/** A file group's state at an instant: newest base file + newer deltas. */
case class FileSlice(
    partition: String,
    fileId: String,
    baseFile: Option[WriteStat],
    deltas: Seq[WriteStat]) {
  def allFiles: Seq[WriteStat] = baseFile.toSeq ++ deltas
}
