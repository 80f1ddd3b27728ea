package graft.services

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.write.{GraftTable, Meta}

/** Self-managing table services over a graft table: compaction (MOR),
  * cleaning, rollback, restore, savepoints (reference analog: the
  * table/action executors under hudi-client-common — compact/
  * CleanActionExecutor.java:58, BaseRollbackActionExecutor.java:53,
  * BaseRestoreActionExecutor.java:51, SavepointActionExecutor.java:48).
  *
  * All planning happens on the driver from commit metadata (O(#instants),
  * never a data listing); all data movement is a DataFrame job, so at
  * 100 TB compaction parallelism = #file-groups being rewritten.
  */
class TableServices(table: GraftTable) {
  import Meta._

  private def spark = table.spark
  private def timeline: Timeline = table.timeline
  private def fs = timeline.fileSystem
  private def abs(st: WriteStat): Path = new Path(table.absPath(st))

  // =========================================================================
  // compaction (MOR): fold delta files into a new base file per group
  // =========================================================================

  /** Pick file groups to compact, most delta bytes first (reference
    * analog: LogFileSizeBasedCompactionStrategy.java:37 under an IO bound
    * like BoundedIOCompactionStrategy.java:34). `partitions` scopes the
    * plan — the partition-aware strategy family (reference analog:
    * DayBasedCompactionStrategy.java:39 /
    * BoundedPartitionAwareCompactionStrategy.java:40, where the caller
    * picks the day partitions to fold first). */
  def planCompaction(maxGroups: Int = Int.MaxValue,
                     maxDeltaBytes: Long = Long.MaxValue,
                     partitions: Option[Set[String]] = None,
                     strategy: String = "size"): Seq[FileSlice] = {
    val snap = Snapshot.resolve(timeline)
    val withDeltas = snap.slices.filter(_.deltas.nonEmpty)
      .filter(s => partitions.forall(_.contains(s.partition)))
    val ordered = strategy match {
      // newest partitions first (date-formatted partition paths sort
      // lexicographically = chronologically), heaviest groups within a
      // partition — the budget then lands on the hot recent partitions
      // (reference analog: DayBasedCompactionStrategy.java:39 +
      // BoundedPartitionAwareCompactionStrategy.java:40)
      case "day" => withDeltas.sortBy(s =>
        (s.partition, s.deltas.map(_.bytes).sum))(
        Ordering.Tuple2(Ordering.String.reverse, Ordering.Long.reverse))
      // heaviest delta load first, maximizing folded bytes under the IO
      // budget (reference analog:
      // LogFileSizeBasedCompactionStrategy.java:37)
      case _ => withDeltas.sortBy(s => -s.deltas.map(_.bytes).sum)
    }
    var budget = maxDeltaBytes
    ordered.take(maxGroups).takeWhile { s =>
      val b = s.deltas.map(_.bytes).sum
      val ok = budget > 0
      budget -= b
      ok
    }
  }

  /** Compact the planned slices: per group, merge base ∪ deltas into a new
    * base file keeping the same fileId (so group lineage continues), then
    * publish one `compaction` instant. Groups whose merge comes out empty
    * (everything deleted) are replaced instead. Returns the instant, or
    * None when there is nothing to compact (reference analog:
    * HoodieCompactor.java:99). Implemented as schedule + run, so the
    * inline path shares the executor's concurrent-writer safety. */
  def compact(maxGroups: Int = Int.MaxValue,
              partitions: Option[Set[String]] = None,
              strategy: String = "size"): Option[String] =
    scheduleCompaction(maxGroups, partitions = partitions, strategy = strategy)
      .flatMap(runScheduledCompaction)

  /** Data instants minted BEFORE `time` but not yet completed: if one of
    * them later commits, its files carry an instant time under `time` and
    * snapshot replay would fold them beneath a base published at `time`.
    *
    * PARKED service plans (Requested-state compaction/clustering — only
    * services mint Requested instants; data writes open Inflight) do NOT
    * count: they may legitimately sit for hours awaiting their async
    * executor, and instant-time-ordered replay keeps a later base
    * consistent with an earlier-time service output (the earlier base
    * lands beneath and is shadowed). Counting them would let one parked
    * plan block every later schedule/run — a cross-service deadlock.
    * Inflight services DO count (they are actively writing files under
    * `time` and complete in bounded time). */
  private def earlierPendingData(time: String): Boolean =
    timeline.instants().exists(i =>
      !i.isCompleted && Action.dataActions(i.action) && i.time < time &&
        i.state != graft.core.State.Requested)

  /** Wait (bounded) for earlier-minted pending data instants to resolve. */
  private def awaitEarlierData(time: String, timeoutMs: Long = 10000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (earlierPendingData(time) && System.currentTimeMillis() < deadline) {
      val p = TableServices.awaitSleepProbe
      if (p ne null) p.incrementAndGet()
      Thread.sleep(25)
    }
    !earlierPendingData(time)
  }

  /** Persist a compaction plan as a `compaction.requested` instant for a
    * later — possibly concurrent — executor (the async schedule→execute
    * split; reference analog: ScheduleCompactionActionExecutor.java:50 +
    * async/AsyncCompactService). The instant time is minted NOW: delta
    * files appended by writers that commit AFTER this schedule stack on
    * top of the compacted base when the plan executes, because snapshot
    * replay is instant-time-ordered — so ingestion never pauses for the
    * compactor, and post-schedule deltas ride to the NEXT compaction.
    *
    * Writers that minted an instant BEFORE the scheduled time but have
    * not yet committed are the dangerous case (their deltas would fold
    * UNDER the compacted base without being in the plan): scheduling
    * waits for them and re-plans if any of them touched planned groups
    * (reference analog: ScheduleCompactionActionExecutor.java:50-197
    * refuses to schedule below pending writers).
    * Returns the scheduled instant, or None when nothing has deltas. */
  def scheduleCompaction(maxGroups: Int = Int.MaxValue,
                         maxDeltaBytes: Long = Long.MaxValue,
                         partitions: Option[Set[String]] = None,
                         strategy: String = "size"): Option[String] = {
    var attempt = 0
    while (true) {
      val plan = planCompaction(maxGroups, maxDeltaBytes, partitions, strategy)
      if (plan.isEmpty) return None
      // the requested payload pins the exact files to fold
      val stats = plan.flatMap(s => s.baseFile.toSeq ++ s.deltas)
      val t = timeline.startRequested(Action.Compaction,
        CommitMetadata("compaction_plan", "", stats))
      val planGroups = stats.map(s => (s.partition, s.fileId)).toSet
      val planPaths = stats.map(_.path).toSet
      // stale = an instant under `t` (committed between planning and
      // minting, or pending and may still commit) put files into a
      // planned group that the plan does not cover. Only LIVE files
      // count — historical paths already folded away are harmless.
      val settled = awaitEarlierData(t)
      val stale = !settled || {
        val livePaths = Snapshot.resolve(timeline).slices
          .flatMap(_.allFiles).map(_.path).toSet
        timeline.completed()
          .filter(i => Action.dataActions(i.action) && i.time < t)
          .flatMap(i => timeline.metadataOf(i).stats)
          .exists(st => planGroups((st.partition, st.fileId)) &&
            !planPaths(st.path) && livePaths(st.path))
      }
      if (!stale) return Some(t)
      timeline.deletePending(t, Action.Compaction)
      attempt += 1
      if (attempt >= 3) throw new IllegalStateException(
        "could not schedule compaction: concurrent writers with earlier " +
          "instant times kept racing the plan — retry when ingestion quiesces")
    }
    None // unreachable
  }

  /** Scheduled-but-not-yet-completed compaction instants, time asc. */
  def pendingCompactions(): Seq[String] =
    timeline.instants()
      .filter(i => i.action == Action.Compaction && i.state == graft.core.State.Requested)
      .map(_.time).distinct.sorted

  /** Execute a previously scheduled compaction plan. Merges the files
    * pinned at schedule time PLUS any file that landed in a planned group
    * with an instant time EARLIER than the plan's (a cross-process writer
    * can mint a wall-clock time below the scheduled instant even after
    * the schedule; snapshot replay would fold such a file beneath the
    * compacted base, so its content MUST be in the fold — this is the
    * compactor's own OCC). Groups that received deltas with a LATER
    * instant time keep them stacked on the new base (they fold in the
    * next round). Publication happens under the timeline lock and
    * re-verifies the fold is still complete; on a lost race the written
    * files are discarded and the merge retries. Safe to run concurrently
    * with ongoing upserts. */
  def runScheduledCompaction(time: String): Option[String] = {
    val inst = graft.core.Instant(time, Action.Compaction, graft.core.State.Requested)
    val plan = timeline.metadataOf(inst).stats
    if (plan.isEmpty) { timeline.deletePending(time, Action.Compaction); return None }
    val planGroups = plan.map(s => (s.partition, s.fileId)).toSet
    val planPaths = plan.map(_.path).toSet

    // live files in planned groups, committed under `time`, not in the
    // plan — they must be merged or the new base silently erases them
    def earlyExtras(snapNow: Snapshot): Seq[WriteStat] = {
      val livePaths = snapNow.slices.flatMap(_.allFiles).map(_.path).toSet
      timeline.completed()
        .filter(i => Action.dataActions(i.action) && i.time < time)
        .flatMap(i => timeline.metadataOf(i).stats)
        .filter(st => planGroups((st.partition, st.fileId)) &&
          !planPaths(st.path) && livePaths(st.path))
    }

    timeline.markInflight(time, Action.Compaction)
    // unexpected failures (Spark job loss, FS errors) must not strand the
    // inflight marker: a stranded marker makes every later
    // scheduleCompaction wait out a pending instant that will never move
    try runScheduledBody(time, plan, planGroups, planPaths, earlyExtras)
    catch {
      case e: Throwable =>
        try timeline.deleteInflight(time, Action.Compaction)
        catch { case _: Exception => () }
        throw e
    }
  }

  private def runScheduledBody(
      time: String,
      plan: Seq[WriteStat],
      planGroups: Set[(String, String)],
      planPaths: Set[String],
      earlyExtras: Snapshot => Seq[WriteStat]): Option[String] = {
    var attempt = 0
    while (attempt < 3) {
      if (!awaitEarlierData(time)) {
        timeline.deleteInflight(time, Action.Compaction)
        throw new IllegalStateException(
          s"cannot run compaction $time: data instants minted before it " +
            "are still pending — their commits would fold under the new base")
      }
      val snap = Snapshot.resolve(timeline)
      val extras = earlyExtras(snap)
      val extraPaths = extras.map(_.path).toSet
      val schema = table.readSchema(snap)
      val merged = table.mergeLatest(table.readStatsDf(schema, plan ++ extras))
      val stats = table.writeGroups(merged, time,
        groups = Some((plan ++ extras).map(s => (s.partition, s.fileId)).distinct.size))
      val written = stats.map(s => (s.partition, s.fileId)).toSet
      val published = new TimelineLock(timeline).withLock {
        val current = Snapshot.resolve(timeline)
        if (earlierPendingData(time) ||
          earlyExtras(current).map(_.path).toSet != extraPaths) false
        else {
          // a planned group whose merge came out empty is replaced —
          // UNLESS any file outside the fold still lives in it (e.g. a
          // delta with a later instant time: its rows must survive)
          val foldPaths = planPaths ++ extraPaths
          val survivors: Set[(String, String)] = current.slices
            .filter(s => s.allFiles.exists(f => !foldPaths(f.path)))
            .map(s => (s.partition, s.fileId)).toSet
          val emptied = planGroups.toSeq
            .filterNot(written.contains).filterNot(survivors.contains)
            .groupBy(_._1).map { case (p, ks) => p -> ks.map(_._2) }
          timeline.complete(time, Action.Compaction,
            CommitMetadata("compact", "", stats, emptied))
          true
        }
      }
      if (published) return Some(time)
      // lost the race: a writer landed an earlier-time file after the
      // merge read its inputs — discard the written output and re-merge
      stats.foreach(st => GraftTable.deleteDataFile(fs, abs(st)))
      attempt += 1
    }
    timeline.deleteInflight(time, Action.Compaction)
    throw new IllegalStateException(
      s"compaction $time kept losing to concurrent earlier-time writers; " +
        "the plan remains scheduled — retry")
  }

  // =========================================================================
  // clustering: rewrite file groups into target-sized, layout-sorted files
  // =========================================================================

  /** Rewrite delta-free file groups smaller than `smallFileRows` into
    * target-sized groups, range-clustered on `sortCols` either linearly
    * or along a space-filling curve, via one replacecommit (reference
    * analog: SparkSizeBasedClusteringPlanStrategy.java:53 +
    * MultipleSparkJobExecutionStrategy.java:68).
    *
    * layout: "linear" | "zorder" | "hilbert"; rankMode (curves only):
    * "map" scales each column by its global min/max, "sample" ranks by
    * distributed quantile boundaries. MOR groups with pending deltas are
    * skipped — compact first.
    *
    * Scale shape: rank prep is one metadata fold (or one agg job), the
    * rewrite is a single repartitionByRange job whose parallelism is the
    * output file count; file assignment = range partition id, so no
    * per-row driver work. */
  def cluster(
      sortCols: Seq[String],
      layout: String = "linear",
      rankMode: String = "map",
      targetFileRows: Long = 0L,
      smallFileRows: Long = Long.MaxValue,
      /** drop `_g_deleted` tombstone markers during the rewrite — the
        * COW analog of compaction's purge. Bounds marker growth; CDC
        * reads older than this rewrite lose their D rows for the
        * purged keys, same contract as compaction on MOR. */
      purgeTombstones: Boolean = false): Option[String] =
    scheduleClustering(sortCols, layout, rankMode, targetFileRows,
      smallFileRows, purgeTombstones).flatMap(runScheduledClustering)

  /** Pin a clustering plan (input file groups + layout parameters) in a
    * `replacecommit.requested` instant for a later — possibly
    * concurrent — executor (reference analog:
    * ClusteringPlanActionExecutor + async/AsyncClusteringService.java:41).
    * While the plan is pending, updates/deletes targeting the pinned
    * groups are REJECTED at write time and insert fills skip them
    * (reference analog: SparkRejectUpdateStrategy.java:42), so the
    * rewrite can replace the groups without losing concurrent writes.
    * Writers that minted an instant before the schedule are waited out,
    * mirroring compaction's schedule guard. */
  def scheduleClustering(
      sortCols: Seq[String],
      layout: String = "linear",
      rankMode: String = "map",
      targetFileRows: Long = 0L,
      smallFileRows: Long = Long.MaxValue,
      purgeTombstones: Boolean = false): Option[String] = {
    require(Seq("linear", "zorder", "hilbert").contains(layout), s"bad layout $layout")
    if (layout == "hilbert")
      require(sortCols.size == 2, "hilbert layout needs exactly 2 sort columns")
    if (layout != "linear")
      require(sortCols.nonEmpty, s"$layout layout needs sort columns")
    var attempt = 0
    while (true) {
      val snap = Snapshot.resolve(timeline)
      val candidates = snap.slices.filter(s =>
        s.deltas.isEmpty && s.baseFile.exists(_.rows < smallFileRows))
      if (candidates.isEmpty || (layout == "linear" && sortCols.isEmpty)) return None
      val stats = candidates.flatMap(_.baseFile)
      val t = timeline.startRequested(Action.ReplaceCommit,
        CommitMetadata("clustering_plan", "", stats, extra = Map(
          "sortCols" -> sortCols.mkString(","),
          "layout" -> layout,
          "rankMode" -> rankMode,
          "targetFileRows" -> targetFileRows.toString,
          "purgeTombstones" -> purgeTombstones.toString)))
      // earlier-minted writers may still commit into (or replace) the
      // planned groups; wait for them, then confirm the plan is fresh
      val settled = awaitEarlierData(t)
      val stale = !settled || {
        val liveNow = Snapshot.resolve(timeline).slices
          .flatMap(s => s.baseFile.map(b => ((s.partition, s.fileId), b.path)))
          .toMap
        !stats.forall(st => liveNow.get((st.partition, st.fileId)).contains(st.path))
      }
      if (!stale) return Some(t)
      timeline.deletePending(t, Action.ReplaceCommit)
      attempt += 1
      if (attempt >= 3) throw new IllegalStateException(
        "could not schedule clustering: concurrent writers kept racing the plan")
    }
    None // unreachable
  }

  /** Pending clustering plans (requested replacecommits), time asc. */
  def pendingClusterings(): Seq[String] =
    timeline.instants()
      .filter(i => i.action == Action.ReplaceCommit &&
        i.state == graft.core.State.Requested)
      .map(_.time).distinct.sorted
      .filter { t =>
        val inst = graft.core.Instant(t, Action.ReplaceCommit, graft.core.State.Requested)
        scala.util.Try(timeline.metadataOf(inst).operation).toOption
          .contains("clustering_plan")
      }

  /** Execute a pinned clustering plan: rewrite EXACTLY the pinned base
    * files into target-sized, layout-sorted groups via one
    * replacecommit. The write-path reject strategy keeps the pinned
    * groups immutable while the plan is pending; publication still
    * verifies under the timeline lock that every pinned file is live and
    * untouched, aborting (plan kept for retry) if a straggler writer
    * slipped through. */
  def runScheduledClustering(time: String): Option[String] = {
    val inst = graft.core.Instant(time, Action.ReplaceCommit, graft.core.State.Requested)
    val meta = timeline.metadataOf(inst)
    require(meta.operation == "clustering_plan", s"$time is not a clustering plan")
    val stats = meta.stats
    if (stats.isEmpty) { timeline.deletePending(time, Action.ReplaceCommit); return None }
    val sortCols = meta.extra("sortCols").split(",").toSeq.filter(_.nonEmpty)
    val layout = meta.extra("layout")
    val rankMode = meta.extra("rankMode")
    val targetFileRows = meta.extra("targetFileRows").toLong
    val purgeTombstones = meta.extra("purgeTombstones").toBoolean

    timeline.markInflight(time, Action.ReplaceCommit)
    val snap = Snapshot.resolve(timeline)
    val schema = table.readSchema(snap)
    val raw = table.readStatsDf(schema, stats)
    val df = if (purgeTombstones) raw.filter(!col(Deleted)) else raw

    val target = if (targetFileRows > 0) targetFileRows else table.config.targetFileRows
    val totalRows = stats.map(_.rows).sum
    val nb = math.max(1L, (totalRows + target - 1) / target).toInt

    val (keyed, rankCols) = layout match {
      case "linear" => (df, Nil)
      case curve =>
        graft.functions.SpatialCurves.register(spark)
        val bits = if (rankMode == "sample") 8 else math.min(16, 63 / sortCols.size)
        val buckets = 1 << bits
        val withRanks = addRanks(df, stats, sortCols, rankMode, buckets)
        val rankNames = sortCols.indices.map(i => s"`_g_r_$i`")
        val fn = if (curve == "hilbert") "hilbert_value" else "z_value"
        (withRanks.withColumn("_g_sort", expr(s"$fn(${rankNames.mkString(",")})")),
          sortCols.indices.map(i => s"_g_r_$i") :+ "_g_sort")
    }
    val rangeCols = layout match {
      case "linear" => col(Partition) +: sortCols.map(col)
      case _        => Seq(col(Partition), col("_g_sort"))
    }
    val assigned = keyed
      .repartitionByRange(nb, rangeCols: _*)
      .withColumn(File, concat(lit(s"c$time-"), spark_partition_id().cast("string")))
      .drop(rankCols: _*)

    val written = table.writeGroups(assigned, time, groups = Some(nb))
    val published = new TimelineLock(timeline).withLock {
      // every pinned file must still be the live base of its group (no
      // replace/rewrite slipped past the reject strategy)
      val liveNow = Snapshot.resolve(timeline).slices
        .map(s => (s.partition, s.fileId) -> s).toMap
      val intact = stats.forall { st =>
        liveNow.get((st.partition, st.fileId))
          .exists(s => s.deltas.isEmpty && s.baseFile.exists(_.path == st.path))
      }
      if (!intact) false
      else {
        val replaced = stats.map(st => (st.partition, st.fileId)).distinct
          .groupBy(_._1).map { case (p, ks) => p -> ks.map(_._2) }
        timeline.complete(time, Action.ReplaceCommit,
          CommitMetadata("cluster", "", written, replaced))
        true
      }
    }
    if (published) Some(time)
    else {
      // a pinned file changed: the plan is permanently stale — drop it
      // (unpinning the groups for writers) and ask for a re-schedule
      written.foreach(st => GraftTable.deleteDataFile(fs, abs(st)))
      timeline.deletePending(time, Action.ReplaceCommit)
      throw new IllegalStateException(
        s"clustering $time aborted: a concurrent writer touched a pinned " +
          "file group; the stale plan was dropped — re-schedule")
    }
  }

  /** Long-typed curve cell ranks `_g_r_i` for each sort column. "map":
    * global min/max scaling (metadata-only when column stats exist);
    * "sample": quantile boundaries + a codegen'd boundary count. */
  private def addRanks(
      df: DataFrame, stats: Seq[WriteStat], sortCols: Seq[String],
      rankMode: String, buckets: Int): DataFrame =
    if (rankMode == "sample") {
      val probs = (1 until buckets).map(_.toDouble / buckets).toArray
      sortCols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
        val bounds = df.stat.approxQuantile(c, probs, 0.001).distinct
        acc.withColumn(s"_g_r_$i",
          aggregate(
            lit(bounds),
            lit(0L),
            (a, b) => a + when(col(c).cast("double") >= b, 1L).otherwise(0L)))
      }
    } else {
      val haveStats = sortCols.forall(c => stats.forall(_.columnStats.contains(c)))
      val ranges: Map[String, (Double, Double)] =
        if (haveStats && stats.nonEmpty)
          sortCols.map { c =>
            val mins = stats.flatMap(s => Option(s.columnStats(c).min)).map(_.toDouble)
            val maxs = stats.flatMap(s => Option(s.columnStats(c).max)).map(_.toDouble)
            c -> (if (mins.isEmpty) (0.0, 0.0) else (mins.min, maxs.max))
          }.toMap
        else {
          val aggs = sortCols.flatMap(c =>
            Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
          val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
          sortCols.zipWithIndex.map { case (c, i) =>
            c -> (Option(row.get(i * 2)).fold(0.0)(_.asInstanceOf[Double]),
              Option(row.get(i * 2 + 1)).fold(0.0)(_.asInstanceOf[Double]))
          }.toMap
        }
      sortCols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
        val (lo, hi) = ranges(c)
        val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
        acc.withColumn(s"_g_r_$i",
          least(
            floor(((col(c).cast("double") - lit(lo)) / lit(span)) * lit(buckets - 1)),
            lit((buckets - 1).toLong)).cast("long"))
      }
    }

  // =========================================================================
  // cleaning: physically delete file slices no retained snapshot can see
  // =========================================================================

  /** KEEP_LATEST_COMMITS policy (reference analog: CleanPlanner.java:125,
    * default 10 commits retained, savepoint-aware): every file referenced
    * by the snapshot at any of the last `retainCommits` data instants, or
    * at a savepointed instant, survives; all other published files are
    * deleted. Returns the clean instant, or None if nothing to do. */
  def clean(retainCommits: Int = 10): Option[String] = {
    require(retainCommits >= 1, s"retainCommits must be >= 1: $retainCommits")
    val dataInstants = timeline.completed().filter(i => Action.dataActions(i.action))
    if (dataInstants.size <= retainCommits) return None
    // live = ∪ snapshot(tᵢ).allFiles over the retained instants, computed
    // as ONE resolve + the window's commit stats instead of K resolves:
    // the retained instants are CONSECUTIVE, so any file live at a later
    // retained instant either predates the earliest one (then it was
    // live there too — group state only loses files going forward) or
    // was written by an in-window instant (then it appears in that
    // instant's stats, and is live at its own — retained — commit).
    // O(N) once instead of O(K·N) at million-group tables.
    val retainedInstants = dataInstants.takeRight(retainCommits)
    val live: Set[String] =
      (Snapshot.resolve(timeline, Some(retainedInstants.head.time))
          .slices.flatMap(_.allFiles).map(_.path) ++
        retainedInstants.flatMap(i => timeline.metadataOf(i).stats.map(_.path)) ++
        savepointTargets.flatMap { at =>
          Snapshot.resolve(timeline, Some(at)).slices.flatMap(_.allFiles).map(_.path)
        }).toSet
    // external (bootstrapped) files live outside the table and are the
    // user's data — never candidates for physical deletion
    val everWritten = dataInstants
      .flatMap(i => timeline.metadataOf(i).stats)
      .filterNot(_.external).map(_.path).distinct
    val alreadyCleaned = cleanedPaths
    val doomed = everWritten.filterNot(p => live.contains(p) || alreadyCleaned.contains(p))
    if (doomed.isEmpty) return None
    Some(publishClean(doomed,
      Map("earliestRetained" -> dataInstants.takeRight(retainCommits).head.time,
        "policy" -> "KEEP_LATEST_COMMITS")))
  }

  /** Partition TTL: logically drop every live partition whose path
    * value sorts strictly below `expireBelow` (lexicographic — the
    * natural order for date-formatted partition paths like
    * `2026-08-01` and for hive-style `dt=2026-08-01` under a fixed
    * field name). One replacecommit through
    * [[graft.write.GraftTable.deletePartitions]]; physical files leave
    * later through [[clean]], so readers pinned at older instants (and
    * savepoints) stay consistent. Returns (replacecommit instant,
    * dropped partitions), or None when nothing has expired.
    *
    * The reference ships no TTL service in 0.10 — operators run this
    * exact policy by hand over `delete_partition`
    * (SparkDeletePartitionCommitActionExecutor.java:42); wiring the
    * retention rule to the existing verb is the production shape
    * (compare Hudi's later RFC-65 partition-TTL management). Scale:
    * the decision reads only the snapshot's partition list (metadata,
    * driver-sized); the drop itself writes no data files. */
  def partitionTtl(expireBelow: String): Option[(String, Seq[String])] = {
    val doomed = partitionTtlCandidates(expireBelow)
    if (doomed.isEmpty) None
    else Some(table.deletePartitions(doomed) -> doomed)
  }

  /** What [[partitionTtl]] WOULD drop, committing nothing (the verb's
    * DRY RUN arm — retention policies get audited before they fire). */
  def partitionTtlCandidates(expireBelow: String): Seq[String] = {
    val live = ttlPartitions()
    guardLexOrder(live :+ expireBelow)
    live.filter(_ < expireBelow).sorted
  }

  /** Duration-based TTL for date-formatted partitions: drop every live
    * partition whose value carries an ISO date strictly older than
    * `days` days before `today` (UTC by default). The typed form a
    * retention schedule actually wants — no cutoff string to hand-roll,
    * and it REFUSES layouts the rule can't read (a non-date partition
    * value) instead of guessing. Same one-replacecommit drop as
    * [[partitionTtl]]. */
  def partitionTtlOlderThanDays(days: Int,
      today: java.time.LocalDate = java.time.LocalDate.now(java.time.ZoneOffset.UTC))
      : Option[(String, Seq[String])] = {
    val doomed = partitionTtlOlderThanDaysCandidates(days, today)
    if (doomed.isEmpty) None
    else Some(table.deletePartitions(doomed) -> doomed)
  }

  /** DRY RUN arm of [[partitionTtlOlderThanDays]]. */
  def partitionTtlOlderThanDaysCandidates(days: Int,
      today: java.time.LocalDate = java.time.LocalDate.now(java.time.ZoneOffset.UTC))
      : Seq[String] = {
    require(days >= 0, s"retention days must be >= 0: $days")
    val cutoff = today.minusDays(days.toLong)
    val datePat = """(\d{4}-\d{2}-\d{2})""".r
    ttlPartitions().flatMap { p =>
      val v = ttlValueOf(p)
      val d = datePat.findFirstIn(v).map(java.time.LocalDate.parse).getOrElse(
        throw new IllegalArgumentException(
          s"RUN TTL ... OLDER THAN needs date-formatted partitions " +
            s"(yyyy-MM-dd); live partition '$p' carries none — " +
            "use EXPIRE BELOW with an explicit cutoff instead"))
      if (d.isBefore(cutoff)) Some(p) else None
    }.sorted
  }

  /** Live partitions eligible for TTL. Refuses a non-partitioned table:
    * its single sentinel partition is the empty string, which sorts
    * below ANY cutoff — `RUN TTL` there would silently drop the whole
    * table in one replacecommit. */
  private def ttlPartitions(): Seq[String] = {
    require(timeline.config.partitionFields.nonEmpty,
      "RUN TTL needs a partitioned table: a non-partitioned table's " +
        "single partition sorts below every cutoff and the verb would " +
        "drop the entire table")
    Snapshot.resolve(timeline).slices.map(_.partition).distinct
  }

  /** The comparable VALUE inside a partition path (strips a hive-style
    * `field=` prefix, which is constant per table and order-neutral). */
  private def ttlValueOf(p: String): String =
    p.lastIndexOf('=') match { case -1 => p; case i => p.substring(i + 1) }

  /** The lexicographic cutoff is only safe when string order IS the
    * domain order. Unpadded numeric partitions break that ("10" < "9"),
    * and a retention command that mis-sorts drops the WRONG partitions —
    * refuse loudly and point at the fix. */
  private def guardLexOrder(vals: Seq[String]): Unit = {
    val nums = vals.map(ttlValueOf)
    if (nums.nonEmpty && nums.forall(v => v.nonEmpty && v.forall(_.isDigit))) {
      val byString = nums.sorted
      val byNumber = nums.sortBy(BigInt(_))
      val diverge = byString.zip(byNumber).find { case (a, b) => a != b }
      require(byString == byNumber,
        s"numeric partition values sort differently as strings than as " +
          s"numbers (first divergence: '${diverge.fold("")(_._1)}' vs " +
          s"'${diverge.fold("")(_._2)}'); a lexicographic cutoff would " +
          "drop the wrong partitions — zero-pad the partition values " +
          "or use EXPIRE OLDER THAN")
    }
  }

  /** KEEP_LATEST_FILE_VERSIONS policy (reference analog:
    * CleanPlanner.java:207): per live file group, keep only the newest
    * `retainVersions` base-file versions (each version = its base file
    * plus the deltas stacked on it); every older version's files — and
    * every file of replaced (dead) groups — is deleted. Savepointed
    * snapshots stay readable; time travel older than the retained
    * versions does not. */
  def cleanFileVersions(retainVersions: Int = 1): Option[String] = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val dataInstants = timeline.completed().filter(i => Action.dataActions(i.action))
    // group -> versions in commit order; a non-delta stat opens a new
    // version, deltas stack on the current one
    var versions = Map.empty[(String, String), Vector[Vector[WriteStat]]]
    dataInstants.foreach { i =>
      timeline.metadataOf(i).stats.foreach { st =>
        val k = (st.partition, st.fileId)
        val vs = versions.getOrElse(k, Vector.empty)
        versions += k -> (
          if (st.isDelta)
            if (vs.isEmpty) Vector(Vector(st)) else vs.init :+ (vs.last :+ st)
          else vs :+ Vector(st))
      }
    }
    val liveGroups = Snapshot.resolve(timeline).slices.map(s => (s.partition, s.fileId)).toSet
    val live: Set[String] =
      versions.toSeq.flatMap { case (k, vs) =>
        if (liveGroups(k)) vs.takeRight(retainVersions).flatten.map(_.path) else Nil
      }.toSet ++
        savepointTargets.flatMap { at =>
          Snapshot.resolve(timeline, Some(at)).slices.flatMap(_.allFiles).map(_.path)
        }
    val everWritten = dataInstants
      .flatMap(i => timeline.metadataOf(i).stats)
      .filterNot(_.external).map(_.path).distinct
    val alreadyCleaned = cleanedPaths
    val doomed = everWritten.filterNot(p => live.contains(p) || alreadyCleaned.contains(p))
    if (doomed.isEmpty) return None
    Some(publishClean(doomed, Map("policy" -> "KEEP_LATEST_FILE_VERSIONS")))
  }

  private def cleanedPaths: Set[String] =
    timeline.completed().filter(_.action == Action.Clean)
      .flatMap(i => Json.read(
        timeline.metadataOf(i).extra.getOrElse("deleted", "[]"), classOf[Array[String]]))
      .toSet

  private def publishClean(doomed: Seq[String], extra: Map[String, String]): String = {
    val t = timeline.start(Action.Clean)
    doomed.foreach(p => GraftTable.deleteDataFile(fs, new Path(table.basePath, p)))
    timeline.complete(t, Action.Clean, CommitMetadata("clean",
      extra = extra + ("deleted" -> Json.write(doomed.toArray))))
    t
  }

  /** Earliest instant time-travel can still resolve after cleaning. */
  def earliestRetainedInstant: Option[String] =
    timeline.completed().filter(_.action == Action.Clean).lastOption
      .flatMap(i => timeline.metadataOf(i).extra.get("earliestRetained"))

  // =========================================================================
  // archiving: bound the active timeline
  // =========================================================================

  /** Fold table state into a [[Checkpoint]] at the latest instant and
    * move completed instants beyond the retention window into
    * `.graft/archive/` (reference analog:
    * HoodieTimelineArchiveLog.archiveIfRequired, :74 — keep-min/max
    * window, savepoint-aware). Keeps the active timeline — and with it
    * every snapshot resolution — O(keepMin) regardless of table age.
    *
    * Savepoint instants and anything at/after the earliest savepoint
    * target stay active (they pin time-travel). Incremental reads only
    * span the active timeline — consumers further behind than keepMin
    * commits must re-bootstrap (same contract as the reference). */
  /** Take a snapshot checkpoint at the latest data instant WITHOUT
    * archiving anything — the cold-start accelerator for a large table
    * between archive windows: the next process's first resolution
    * parquet-loads the folded state and replays only the Δ tail, never
    * the whole timeline (reference analog: the metadata-table bootstrap,
    * HoodieBackedTableMetadataWriter — materialize file-listing state on
    * demand). Instants stay active, so time travel is unaffected.
    * Returns the checkpointed instant; None when there is no data
    * instant or the newest checkpoint already covers it. */
  def checkpoint(): Option[String] = {
    require(timeline.config.version >= 1,
      "checkpoints need format v1; run upgradeTable() first")
    // Resolved PINNED at the stamped instant, folded and serialized
    // OUTSIDE the timeline lock: a concurrent writer committing during
    // the fold cannot leak into state-at-`at` (the pin), and a
    // large-table fold (~seconds at 1M groups) must not hold the lock —
    // concurrent writers' publish() acquires have a bounded timeout and
    // would otherwise abort under an inline-archive storm. The lock is
    // held only across promote + a re-validation that `at` survived:
    // a rollback/restore racing the fold would otherwise let the promote
    // resurrect rolled-back state through this checkpoint.
    val completed0 = timeline.completed()
    completed0
      .filter(i => Action.dataActions(i.action)).lastOption.map(_.time)
      .filterNot(Checkpoint.times(timeline).contains)
      .flatMap { at =>
        val undos0 = undoCensus(completed0)
        val snap = Snapshot.resolve(timeline, Some(at))
        val cp = SnapshotCheckpoint(
          asOf = at,
          schemaJson = table.readSchema(snap).json,
          slices = snap.slices)
        val (tmp, n) = Checkpoint.stage(timeline, cp)
        new TimelineLock(timeline).withLock {
          if (stampStillValid(at, undos0)) {
            Checkpoint.promote(timeline, cp, tmp, n)
            Some(at)
          } else {
            fs.delete(tmp, false)
            None
          }
        }
      }
  }

  /** The rollback/restore instants visible in a timeline listing — the
    * audit trail every undo records about itself. */
  private def undoCensus(completed: Seq[Instant]): Seq[String] =
    completed.filter(i =>
      i.action == Action.Rollback || i.action == Action.Restore).map(_.time)

  /** Is a checkpoint stamped at `at`, folded from the listing whose undo
    * census was `undos0`, still safe to promote now that the lock is
    * held? True iff the history at or below `at` is untouched: `at`
    * itself is still a completed data instant AND no NEW rollback /
    * restore completed since the fold's listing (an undo racing the
    * fold may have removed instants <= `at` — and a rollback +
    * same-millisecond re-commit reproduces `at` with DIFFERENT files,
    * which the census still catches because every undo records its own
    * instant). New COMMITS are fine: they cannot change state at or
    * before `at`. */
  private def stampStillValid(at: String, undos0: Seq[String]): Boolean = {
    val completed = timeline.completed()
    completed.exists(i => Action.dataActions(i.action) && i.time == at) &&
      undoCensus(completed) == undos0
  }

  def archive(keepMin: Int = 20, keepMax: Int = 30): Option[String] = {
    require(keepMin <= keepMax, "keepMin must be <= keepMax")
    require(timeline.config.version >= 1,
      "archiving needs format v1 (snapshot checkpoints); run upgradeTable() first")
    // Fold pinned to the stamped instant (the mis-stamp race: a commit
    // landing between stamp capture and an unpinned resolve would bake
    // FUTURE state into a past-stamped checkpoint) and staged OUTSIDE
    // the timeline lock: archive runs INLINE after commits when
    // autoArchive is on, and a large-table fold under the lock would
    // time out concurrent writers' bounded publish() acquires. Under
    // the lock: re-validate the stamp (a racing undo invalidates the
    // fold; a racing COMMIT just means the checkpoint is one instant
    // behind latest — still at/after everything archived below),
    // promote, and re-derive the archive candidates from the CURRENT
    // listing, capped at the stamp so nothing newer than the checkpoint
    // can be archived.
    val completed0 = timeline.completed()
    if (completed0.size <= keepMax) return None
    val undos0 = undoCensus(completed0)
    val at = completed0.filter(i => Action.dataActions(i.action))
      .lastOption.getOrElse(completed0.last).time
    // checkpoint the CURRENT state first: it covers everything we
    // archive. Stamped at the last DATA instant, not completed0.last —
    // the state IS that instant's state (clean/savepoint don't change
    // it), and an as-of read at that data commit must find a covering
    // checkpoint (with auto-clean a trailing clean instant would
    // otherwise push the stamp past the last data commit and strand it)
    val snap = Snapshot.resolve(timeline, Some(at))
    val cp = SnapshotCheckpoint(
      asOf = at,
      schemaJson = table.readSchema(snap).json,
      slices = snap.slices)
    val (tmp, n) = Checkpoint.stage(timeline, cp)
    new TimelineLock(timeline).withLock {
      if (!stampStillValid(at, undos0)) {
        fs.delete(tmp, false)
        None // raced an undo; the next archive re-folds fresh state
      } else {
        val completed = timeline.completed()
        val savepointBound = savepointTargets.sorted.headOption
        val candidates = completed.dropRight(keepMin)
          .filterNot(_.action == Action.Savepoint)
          .filter(i => savepointBound.forall(i.time < _))
          .filter(_.time <= at) // never archive past the checkpoint stamp
        if (candidates.isEmpty) { fs.delete(tmp, false); None }
        else {
          Checkpoint.promote(timeline, cp, tmp, n)
          candidates.foreach(timeline.archiveCompleted)
          Some(candidates.last.time)
        }
      }
    }
  }

  // =========================================================================
  // format upgrade / downgrade
  // =========================================================================

  /** Migrate the table FORWARD to format version `to` (reference analog:
    * table/upgrade/UpgradeDowngrade.java:40 — stepwise version actions
    * recorded on the timeline). The engine's one shipped step is
    * v0 → v1: v1 added snapshot checkpoints, which unlock archiving;
    * nothing needs rewriting (checkpoints appear lazily at the next
    * archive), so the action is the audited version stamp itself.
    * No-op (None) when already at or past `to`. */
  def upgradeTable(to: Int = GraftTable.CurrentVersion): Option[String] = {
    val from = timeline.config.version
    require(to <= GraftTable.CurrentVersion,
      s"unknown target version $to (this build writes <= ${GraftTable.CurrentVersion})")
    if (from >= to) return None
    val t = timeline.start(Action.Upgrade)
    timeline.updateConfig(timeline.config.copy(version = to))
    timeline.complete(t, Action.Upgrade, CommitMetadata("upgrade",
      extra = Map("from" -> from.toString, "to" -> to.toString)))
    Some(t)
  }

  /** Migrate BACKWARD to format version `to`, undoing each step: v1 → v0
    * deletes the snapshot checkpoints (a v0 reader does not know them).
    * Refuses while archived instants exist — without checkpoints their
    * state would be silently unresolvable. */
  def downgradeTable(to: Int): Option[String] = {
    val from = timeline.config.version
    require(to >= 0, s"unknown target version $to")
    if (from <= to) return None
    require(timeline.archivedTimes().isEmpty,
      "cannot downgrade: archived instants exist and format v0 cannot " +
        "resolve them — their state would become unreadable")
    val t = timeline.start(Action.Upgrade)
    Checkpoint.times(timeline).foreach(Checkpoint.delete(timeline, _))
    timeline.updateConfig(timeline.config.copy(version = to))
    timeline.complete(t, Action.Upgrade, CommitMetadata("downgrade",
      extra = Map("from" -> from.toString, "to" -> to.toString)))
    Some(t)
  }

  // =========================================================================
  // rollback / restore / savepoint
  // =========================================================================

  /** Checkpoints taken at/after `time` contain state an undo removes —
    * drop them so resolution can't resurrect it. */
  private def dropCheckpointsFrom(time: String): Unit =
    Checkpoint.times(timeline).filter(_ >= time)
      .foreach(Checkpoint.delete(timeline, _))

  /** An undo may have dropped the only checkpoint covering the newest
    * archived instant (reachable with plain public calls: checkpoint(),
    * commits, archive() — which stamps its checkpoint AT the latest
    * commit — then rollback of that latest commit). Resolution stays
    * CORRECT regardless (Snapshot.resolve replays an archived gap from
    * the archive's retained metadata), but every subsequent latest read
    * would pay that O(archived-gap) replay until the next checkpoint —
    * so undo paths re-mint a covering generation at the post-undo state.
    * `trim=false`: retention ranks by stamp and on interleavings with
    * surviving newer generations could otherwise evict the re-mint. */
  private def remintCoveringCheckpoint(): Unit =
    timeline.archivedTimes().lastOption.foreach { am =>
      if (!Checkpoint.times(timeline).exists(_ >= am)) {
        val at = timeline.completed()
          .filter(i => Action.dataActions(i.action)).lastOption.map(_.time)
          .orElse(timeline.archivedInstants()
            .filter(x => Action.dataActions(x._1.action)).lastOption.map(_._1.time))
        at.foreach { a =>
          val snap = Snapshot.resolve(timeline, Some(a))
          Checkpoint.write(timeline, SnapshotCheckpoint(
            asOf = a,
            schemaJson = table.readSchema(snap).json,
            slices = snap.slices), trim = false)
        }
      }
    }

  /** Undo the LATEST data instant (or a pending one): delete the files it
    * wrote, drop its timeline entry, record a `rollback` instant
    * (reference analog: BaseRollbackActionExecutor.java:53). A pending
    * instant lists no files, so its files are found the way the
    * failed-write reaper finds a crashed write's ([[orphanDataFiles]]). */
  def rollback(time: String): String = {
    val all = timeline.instants().filter(i => Action.dataActions(i.action))
    val target = all.find(_.time == time)
      .getOrElse(throw new IllegalArgumentException(s"no instant $time"))
    if (target.isCompleted) {
      require(all.filter(_.isCompleted).lastOption.exists(_.time == time),
        s"can only roll back the latest completed instant; use restore for $time")
      val meta = timeline.metadataOf(target)
      meta.stats.filterNot(_.external).foreach(st => GraftTable.deleteDataFile(fs, abs(st)))
      timeline.deleteCompleted(target)
      // service plans scheduled after this instant may pin the files just
      // deleted — drop them (same contract as restoreTo)
      timeline.instants()
        .filter(i => !i.isCompleted && Action.dataActions(i.action) && i.time > time)
        .foreach(i => timeline.deletePending(i.time, i.action))
      dropCheckpointsFrom(time)
      remintCoveringCheckpoint()
    } else rollbackFailedWrite(target)
    val t = timeline.start(Action.Rollback)
    timeline.complete(t, Action.Rollback,
      CommitMetadata("rollback", extra = Map("target" -> time)))
    t
  }

  /** Roll back crashed writes (reference analog:
    * AbstractHoodieWriteClient.rollbackFailedWrites :916-976, governed by
    * hoodie.cleaner.policy.failed.writes —
    * HoodieCompactionConfig.java:214 — and writer heartbeats,
    * HoodieHeartbeatClient.java:50,226).
    *
    * A "failed write" is a pending instant whose only markers are
    * `inflight` and whose action is a data action: data writes mint
    * inflight-only instants ([[GraftTable]] startWrite), while scheduled
    * compaction/clustering keep a `requested` plan file that their own
    * executors manage — the reference likewise excludes them
    * (getInstantsToRollback builds from the inflight timeline excluding
    * compaction and clustering, AbstractHoodieWriteClient.java:953).
    *
    * Policy, derived from `occ`: without it, every such instant is
    * rolled back (`eager`, single-writer semantics); with it, only those
    * whose heartbeat expired (`lazy`) — safe with concurrent writers,
    * whose live heartbeats protect them.
    *
    * Per doomed instant, under the timeline lock (re-verifying it is
    * still pending): delete every data file and write temp the crashed
    * write left at its committed names (found by an instant-suffix walk
    * of the table tree — a recursive listing is acceptable on this rare
    * crash-recovery path; normal writes never list), drop the pending
    * marker + heartbeat, and record a `rollback` instant for audit.
    * Returns the rolled-back times. */
  def rollbackFailedWrites(curInstant: Option[String] = None): Seq[String] = {
    val c = table.config
    // floor at 2x the refresh cadence regardless of config (see
    // GraftTable.validateConfig): a ttl inside the refresh window would
    // reap LIVE writers whose heartbeat simply hasn't ticked yet
    val ttl = math.max(
      if (c.heartbeatTtlMs > 0) c.heartbeatTtlMs else 120000L,
      2L * Heartbeat.RefreshMs)
    val all = timeline.instants()
    // a crash INSIDE Timeline.complete (completed file written, inflight
    // marker not yet deleted) leaves both files: that instant is
    // PUBLISHED, and treating it as failed would delete committed data —
    // exclude any (time, action) that also has a completed instant
    val published = all.filter(_.isCompleted).map(i => (i.time, i.action)).toSet
    val pending = all.filterNot(_.isCompleted)
      .groupBy(i => (i.time, i.action)).toSeq
      .collect {
        case ((t, a), insts)
            if !curInstant.contains(t) && Action.dataActions(a) &&
              !published.contains((t, a)) &&
              insts.forall(_.state == State.Inflight) => Instant(t, a, State.Inflight)
      }
      .sortBy(_.time).reverse
    // a published instant whose crash left a stale inflight marker needs
    // the MARKER swept (its data is committed): otherwise the phantom
    // pending wedges everything that waits on earlier writers
    all.filterNot(_.isCompleted)
      .filter(i => published.contains((i.time, i.action)) &&
        Heartbeat.isExpired(timeline, i.time, ttl) && instantAgeMs(i.time) > ttl)
      .foreach(i => timeline.deletePending(i.time, i.action))
    val doomed =
      if (!c.occ) pending
      else
        // the instant-age gate closes the mint→heartbeat-create window: a
        // just-minted peer whose heartbeat file doesn't exist YET must not
        // read as crashed (instant times are UTC wall-clock, so age is
        // computable without any state)
        pending.filter(i => Heartbeat.isExpired(timeline, i.time, ttl) &&
          instantAgeMs(i.time) > ttl)
    doomed.flatMap { i =>
      val undone = new TimelineLock(timeline).withLock {
        // the owner may have published (or aborted) between listing and
        // lock — only a still-pending instant with NO completed sibling
        // (see above) is ours to undo
        val now = timeline.instants()
          .filter(x => x.time == i.time && x.action == i.action)
        val still = now.exists(!_.isCompleted) && !now.exists(_.isCompleted)
        if (still) { rollbackFailedWrite(i); true } else false
      }
      if (undone) {
        val t = timeline.start(Action.Rollback)
        timeline.complete(t, Action.Rollback,
          CommitMetadata("rollback",
            extra = Map("target" -> i.time, "reason" -> "failed_write")))
        Some(i.time)
      } else None
    }
  }

  /** Milliseconds since the instant's minted wall-clock time (instant
    * ids are `yyyyMMddHHmmssSSS` UTC); MaxValue when unparseable. */
  private def instantAgeMs(time: String): Long =
    try {
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS")
      val t = java.time.LocalDateTime.parse(time.take(17), fmt)
        .toInstant(java.time.ZoneOffset.UTC)
      System.currentTimeMillis() - t.toEpochMilli
    } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }

  /** Physical cleanup of one pending write instant (the reaper holds the
    * timeline lock and has verified the instant is still pending). The
    * `.graft/.tmp/<t>` delete reaps a staging tree left by a write that
    * crashed under an older build, which staged files there first. */
  private def rollbackFailedWrite(i: Instant): Unit = {
    fs.delete(new Path(table.basePath, s"${Timeline.MetaDir}/.tmp/${i.time}"), true)
    orphanDataFiles(i.time).foreach(p => GraftTable.deleteDataFile(fs, p))
    timeline.deletePending(i.time, i.action)
  }

  /** Data files carrying `_<instant>` in their committed names, and the
    * dot-prefixed temps beside them, found by walking the table tree
    * (skipping `.graft`). Only the crash-recovery path pays this
    * listing. */
  private def orphanDataFiles(time: String): Seq[Path] = {
    val suffixes =
      Seq(s"_$time.parquet", s"_$time.delta.parquet",
        s"_$time.orc", s"_$time.delta.orc")
    // a write task that crashed mid-file leaves its temp
    // (`.<name>.tmp-<attempt>`, GroupedFileWriter.write) beside the
    // committed name, and a copy promote under an older build left
    // `.<name>.put<nanos>t<tid>` — hidden from readers (dot-file, and
    // never in commit metadata) but garbage until this instant's cleanup
    // reaps it with the instant
    def matches(name: String): Boolean =
      suffixes.exists(sfx =>
        name.endsWith(sfx) || (name.startsWith(".") && name.contains(sfx + ".")))
    def walk(dir: Path): Seq[Path] = {
      val entries =
        try fs.listStatus(dir).toSeq
        catch { case _: java.io.FileNotFoundException => Nil }
      entries.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name == Timeline.MetaDir) Nil else walk(st.getPath)
        } else if (matches(name)) Seq(st.getPath)
        else Nil
      }
    }
    walk(new Path(table.basePath))
  }

  /** Roll the table back TO `time`: undo every data instant after it,
    * newest first (reference analog: BaseRestoreActionExecutor.java:51).
    * Pending instants after `time` — including scheduled compaction /
    * clustering plans — are dropped too: their plans pin files the
    * restore removes, so executing them later would fail against
    * missing state (and a stale clustering plan would keep rejecting
    * writers for groups that no longer exist).
    *
    * The target may sit BELOW the archive boundary (even be archived
    * itself): the undo then also deletes the data files of archived
    * instants above it and PRUNES their archived metadata — left in
    * place it would poison later archive-gap replays with instants
    * whose files no longer exist. A covering checkpoint is re-minted
    * when the drop removed the last one over the surviving archive. */
  def restoreTo(time: String): String = {
    // a malformatted target ('2025-08-14' sorts below every real
    // instant) would classify EVERY instant as doomed and wipe the
    // table — restore only to instants that actually exist
    require(timeline.completed()
        .exists(i => Action.dataActions(i.action) && i.time == time) ||
      timeline.archivedInstants(from = time, until = time)
        .exists(x => Action.dataActions(x._1.action)),
      s"restore target is not a completed data instant: $time")
    // restoring BELOW a savepointed instant would delete the pinned
    // files and leave a dangling savepoint that pins nothing (the
    // reference refuses the same way: delete the savepoint first)
    val pinnedAbove = savepointTargets.filter(_ > time)
    require(pinnedAbove.isEmpty,
      s"cannot restore below savepointed instant(s) ${pinnedAbove.mkString(", ")}" +
        s" — delete those savepoints first")
    val doomed = timeline.completed()
      .filter(i => Action.dataActions(i.action) && i.time > time)
      .reverse
    doomed.foreach { inst =>
      timeline.metadataOf(inst).stats.filterNot(_.external)
        .foreach(st => GraftTable.deleteDataFile(fs, abs(st)))
      timeline.deleteCompleted(inst)
    }
    // archived instants above the target go the same way: files first
    // (their metadata still records them; clean may already have removed
    // some — idempotent), then the metadata itself
    val doomedArchived = timeline.archivedInstants(from = time)
      .filter { case (i, _) => Action.dataActions(i.action) && i.time > time }
    doomedArchived.reverse.foreach { case (_, meta) =>
      meta.stats.filterNot(_.external)
        .foreach(st => GraftTable.deleteDataFile(fs, abs(st)))
    }
    timeline.pruneArchivedAfter(time)
    timeline.instants()
      .filter(i => !i.isCompleted && Action.dataActions(i.action) && i.time > time)
      .foreach(i => timeline.deletePending(i.time, i.action))
    (doomed.map(_.time) ++ doomedArchived.map(_._1.time)).minOption
      .foreach(dropCheckpointsFrom)
    remintCoveringCheckpoint()
    val t = timeline.start(Action.Restore)
    timeline.complete(t, Action.Restore,
      CommitMetadata("restore", extra = Map("target" -> time)))
    t
  }

  /** Pin the snapshot at `time` against cleaning (reference analog:
    * SavepointActionExecutor.java:48). */
  def savepoint(time: String): String = {
    // a phantom target (typo, wrong format) would pin NOTHING while the
    // user believes the snapshot is protected — and a low-sorting
    // garbage string would silently disable archiving forever
    require(timeline.completed()
      .exists(i => Action.dataActions(i.action) && i.time == time),
      s"savepoint target is not a completed data instant: $time")
    val t = timeline.start(Action.Savepoint)
    timeline.complete(t, Action.Savepoint,
      CommitMetadata("savepoint", extra = Map("target" -> time)))
    t
  }

  /** Returns how many savepoints matched (0 = nothing deleted). */
  def deleteSavepoint(time: String): Int = {
    val matched = timeline.completed().filter(_.action == Action.Savepoint)
      .filter(i => timeline.metadataOf(i).extra.get("target").contains(time))
    matched.foreach(timeline.deleteCompleted)
    matched.size
  }

  private def savepointTargets: Seq[String] =
    timeline.completed().filter(_.action == Action.Savepoint)
      .flatMap(i => timeline.metadataOf(i).extra.get("target"))
}

object TableServices {
  def apply(table: GraftTable): TableServices = new TableServices(table)

  /** Test probe (null in production — the null check is free): counts
    * the sleeps of `awaitEarlierData`, so a spec can assert that a
    * service never waited behind a pending instant instead of bounding
    * its wall clock. */
  @volatile private[graft] var awaitSleepProbe: java.util.concurrent.atomic.AtomicLong = null
}
