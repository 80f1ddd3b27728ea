package graft.core

/** A resolved view of the table at an instant: for every live file group,
  * its newest base file and the delta files stacked on top of it.
  *
  * Derived purely from commit metadata — no data-directory listing, so
  * driver cost is O(#instants × #files-per-commit), independent of table
  * size (reference analog: table/view/AbstractTableFileSystemView.java:77,
  * built instead from FS listings + timeline).
  */
case class Snapshot(
    config: TableConfig,
    asOf: String,
    slices: Seq[FileSlice],
    /** completed data instants (time asc) visible at `asOf` — ACTIVE
      * timeline only; instants folded into a checkpoint or replayed
      * from the archive appear via `slices`/`baseSchemaJson` instead */
    instants: Seq[Instant],
    /** schema carried by the checkpoint this resolution started from
      * (fallback when no active instant has one) */
    baseSchemaJson: String = "") {

  def latestCommitTime: Option[String] = instants.lastOption.map(_.time)

  def basePaths: Seq[String] = slices.flatMap(_.baseFile).map(_.path)

  def isEmpty: Boolean = slices.isEmpty
}

object Snapshot {

  /** File-group accumulator state during timeline replay. */
  private final case class GroupState(
      partition: String,
      fileId: String,
      base: Option[(String, WriteStat)],       // (commitTime, stat)
      deltas: Vector[(String, WriteStat)]) {
    def toSlice: FileSlice =
      FileSlice(partition, fileId, base.map(_._2), deltas.map(_._2))
  }

  /** Test probe: metadata files resolutions have read — the checkpoint,
    * the archived gap's instants and the active instants each replays (a
    * memo hit reads none). */
  private[graft] val resolveMetaReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Memo of the last few resolutions: between commits every read and
    * every write resolves the SAME state, so a repeated resolve must be
    * O(1), not a re-fold of a million file groups. The key pins the
    * exact inputs (checkpoint generation + a digest of EVERY visible
    * instant time — not a (last, count) pair, which a cross-process
    * rollback + same-millisecond re-commit could alias while the slice
    * state differs); any new commit, rollback, or checkpoint rotation
    * changes it and misses — correctness never depends on invalidation.
    * Config is NOT cached (re-read each call: it can change
    * independently). Memory: 4 entries × the slice list (~350 MB at 1M
    * file groups) is driver-budget, deliberately — the alternative is
    * re-folding a million groups on every read, and a driver planning
    * over 1M file groups is provisioned in tens of GB. */
  private type MemoKey = (String, Option[String], String)
  private val MemoMax = 4
  private val memo =
    new java.util.LinkedHashMap[String, (MemoKey, Snapshot)](8, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (MemoKey, Snapshot)]): Boolean =
        size() > MemoMax
    }

  /** Digest over the ENTIRE completed timeline (time + action per
    * instant, every action — not just data instants). O(active timeline)
    * per resolve — bounded by the archive window, never by file count.
    * Digesting all actions is what closes the cross-process alias hole:
    * a rollback + re-commit minting the SAME millisecond timestamp
    * reproduces the data-instant window exactly (same times, same
    * count), but the rollback itself records a `rollback` instant, so
    * the full-timeline digest always changes when state may have. */
  private def digestTimes(visible: Seq[Instant]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    visible.foreach { i =>
      md.update(i.time.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('|'.toByte)
      md.update(i.action.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Replay completed data instants in time order up to (and including)
    * `asOf`; a new base file for a group folds all earlier deltas; a
    * replacecommit kills the listed groups.
    *
    * Resolution starts from the newest usable [[Checkpoint]] (if any)
    * and replays only the active instants after it — O(#instants since
    * checkpoint), the 100 TB posture: the checkpoint parse is served
    * from [[Checkpoint]]'s cache and identical re-resolutions from the
    * memo above, so the steady-state driver cost per commit is the Δ
    * fold, never a re-parse of the world (probed at 100k/1M groups in
    * SnapshotScaleSpec). Time travel whose replay window crosses the
    * archive boundary loads the gap's archived metadata back and stays
    * EXACT (archiving moves metadata intact) at O(gap) extra reads; the
    * time-travel floor is cleaning — resolving below clean's retention
    * returns files the scan then loudly fails to find. */
  def resolve(timeline: Timeline, asOf: Option[String] = None): Snapshot = {
    val config = timeline.config
    val cp = Checkpoint.latestAtOrBefore(timeline, asOf)
    val cpTime = cp.map(_.asOf).getOrElse("")
    val completed = timeline.completed()
    val all = completed.filter(i => Action.dataActions(i.action))
    val visible = asOf match {
      case Some(t) => all.filter(i => i.time > cpTime && i.time <= t)
      case None    => all.filter(_.time > cpTime)
    }
    val memoKey: MemoKey = (cpTime, asOf, digestTimes(completed))
    memo.synchronized(Option(memo.get(timeline.basePath))).collect {
      case (k, snap) if k == memoKey => return snap.copy(config = config)
    }
    // Archived instants inside the replay window (cpTime, asOf-or-latest]
    // sit on neither the checkpoint nor the active timeline. Archiving
    // moves their COMMIT METADATA intact (Timeline.archivedInstants), so
    // load it back and replay the gap exactly — the same boundary-spanning
    // contract incremental reads already honor (commitsInRange). Cost
    // posture: a LATEST read on a maintained table never enters (every
    // archive stamps its checkpoint at/after everything it archives, and
    // rollback re-mints a covering checkpoint when it drops that one), so
    // the per-commit path pays one cached archivedTimes() probe; a
    // time-travel window crossing the boundary pays O(gap) archived
    // metadata reads, memoized like every other resolution. The real
    // time-travel floor is CLEANING, not archiving: a gap replay whose
    // files clean() has since deleted resolves to the historically-true
    // file list and the scan fails loudly on the missing files.
    val bound = asOf.getOrElse("~") // '~' > any digit: latest
    val gap: Seq[(Instant, CommitMetadata)] =
      if (timeline.archivedTimes().exists(t => t > cpTime && t <= bound))
        timeline.archivedInstants(from = cpTime, until = bound)
          .filter { case (i, _) =>
            Action.dataActions(i.action) && i.time > cpTime && i.time <= bound
          }
      else Nil
    resolveMetaReads.addAndGet(cp.size + gap.size + visible.size)
    var groups = Map.empty[(String, String), GroupState]
    cp.toSeq.flatMap(_.slices).foreach { s =>
      groups += (s.partition, s.fileId) -> GroupState(
        s.partition, s.fileId, s.baseFile.map((cpTime, _)),
        s.deltas.map((cpTime, _)).toVector)
    }
    groups = foldInstants(groups,
      gap ++ visible.map(i => (i, timeline.metadataOf(i))))
    val snap = Snapshot(
      config,
      asOf.orElse(visible.lastOption.map(_.time)).orElse(cp.map(_.asOf)).getOrElse(""),
      groups.values.map(_.toSlice).toSeq.sortBy(s => (s.partition, s.fileId)),
      visible,
      // schema precedence mirrors the fold: active instants (readSchema
      // walks them first) > gap-archived instants > the checkpoint
      baseSchemaJson = gap.reverseIterator.map(_._2.schemaJson)
        .find(_.nonEmpty).orElse(cp.map(_.schemaJson)).getOrElse(""))
    memo.synchronized(memo.put(timeline.basePath, (memoKey, snap)))
    snap
  }

  /** [[resolve]]'s per-instant fold (checkpoint base, archived gap, and
    * active replay all flow through it): a new base file for a group
    * folds all earlier deltas; a replacecommit kills the listed groups. */
  private def foldInstants(
      groups0: Map[(String, String), GroupState],
      insts: Seq[(Instant, CommitMetadata)]): Map[(String, String), GroupState] = {
    var groups = groups0
    insts.foreach { case (inst, meta) =>
      meta.stats.foreach { st =>
        val k = (st.partition, st.fileId)
        val g = groups.getOrElse(k, GroupState(st.partition, st.fileId, None, Vector.empty))
        val g2 =
          if (st.isDelta) g.copy(deltas = g.deltas :+ (inst.time, st))
          else GroupState(st.partition, st.fileId, Some((inst.time, st)), Vector.empty)
        groups += k -> g2
      }
      meta.replaced.foreach { case (partition, fileIds) =>
        fileIds.foreach(fid => groups -= ((partition, fid)))
      }
    }
    groups
  }

  /** The (instantTime -> files written) view needed by incremental reads:
    * data instants with time in (begin, end], paired with their stats.
    *
    * Spans the ARCHIVE BOUNDARY: when `begin` predates the active
    * timeline, the archived instants in range are loaded back (archiving
    * moves timeline metadata only — the data files and their
    * `_g_commit_time` stamps are untouched), so an incremental consumer
    * that fell behind the retention window still gets an exact answer
    * instead of a silent gap (reference analog:
    * HoodieArchivedTimeline.java:61 + InstantRange.java:33). */
  def commitsInRange(
      timeline: Timeline,
      begin: String,
      end: String): Seq[(Instant, CommitMetadata)] = {
    val active = timeline.completed()
      .filter(i => Action.dataActions(i.action) && i.time > begin && i.time <= end)
      .map(i => (i, timeline.metadataOf(i)))
    val activeStart = active.headOption.map(_._1.time).getOrElse("~")
    val archived =
      if (timeline.archivedTimes().exists(t => t > begin && t <= end))
        timeline.archivedInstants(from = begin, until = end)
          .filter { case (i, _) =>
            Action.dataActions(i.action) && i.time > begin &&
              i.time <= end && i.time < activeStart
          }
      else Nil
    archived ++ active
  }

  /** The snapshot that WOULD result if a pending commit with `meta`
    * completed at `time` on top of `base` — the same single-instant fold
    * as `resolve`'s replay. Powers pre-commit validation: the "after"
    * view is computed from written (not yet visible) files without
    * touching the timeline (reference analog: the inflight-commit view
    * handed to SparkPreCommitValidator.validate,
    * SparkPreCommitValidator.java:72). */
  def applied(base: Snapshot, time: String, meta: CommitMetadata): Snapshot = {
    var groups: Map[(String, String), FileSlice] =
      base.slices.map(s => (s.partition, s.fileId) -> s).toMap
    meta.stats.foreach { st =>
      val k = (st.partition, st.fileId)
      val g = groups.getOrElse(k, FileSlice(st.partition, st.fileId, None, Nil))
      val g2 =
        if (st.isDelta) g.copy(deltas = g.deltas :+ st)
        else FileSlice(st.partition, st.fileId, Some(st), Nil)
      groups += k -> g2
    }
    meta.replaced.foreach { case (partition, fileIds) =>
      fileIds.foreach(fid => groups -= ((partition, fid)))
    }
    base.copy(
      asOf = time,
      slices = groups.values.toSeq.sortBy(s => (s.partition, s.fileId)))
  }
}
