package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.GraftTable

/** Snapshot-resolution scale probe (reference contract:
  * HoodieArchivedTimeline.java:61 — the archived timeline keeps the
  * active one bounded, so snapshot load cost is O(instants since the
  * last checkpoint), NOT O(total commits ever).
  *
  * A ~1k-commit table maintained with archive+checkpoint must resolve
  * with a bounded active replay and materially faster than the same
  * commit count replayed in full; archived + checkpointed incremental
  * reads over the long timeline stay exact. Synthetic instants keep the
  * probe cheap: resolution is a pure metadata path, so empty commits
  * exercise it at full fidelity, with a few real writes interleaved so
  * data-bearing reads have something to return. */
class TimelineScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("graft-tscale").toString

  def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
  }

  private def cfg: TableConfig = TableConfig(
    name = "tscale", tableType = TableType.COW, keyFields = Seq("id"),
    orderingField = "ts", targetFileRows = 1000)

  /** Append `n` completed empty data commits straight at the timeline
    * layer — the metadata shape of a long-lived ingest loop, minus the
    * (irrelevant-here) data files. */
  private def syntheticCommits(tl: Timeline, n: Int): Seq[String] =
    (1 to n).map { _ =>
      val t = tl.start(Action.Commit)
      tl.complete(t, Action.Commit, CommitMetadata("upsert"))
      t
    }

  private def timeResolve(tl: Timeline, reps: Int = 5): (Long, Snapshot) = {
    var best = Long.MaxValue
    var snap: Snapshot = null
    (1 to reps).foreach { _ =>
      val t0 = System.nanoTime()
      snap = Snapshot.resolve(tl)
      best = math.min(best, System.nanoTime() - t0)
    }
    (best, snap)
  }

  /** Metadata files one resolution of `tl`'s latest state reads. An
    * `asOf` of "~" (after every instant time) resolves the latest state
    * under a memo key no earlier resolve used, so this counts a real
    * fold, never a memo hit. */
  private def resolveReads(tl: Timeline): Long = {
    val before = Snapshot.resolveMetaReads.get
    Snapshot.resolve(tl, asOf = Some("~"))
    Snapshot.resolveMetaReads.get - before
  }

  test("1k-commit timeline: checkpointed resolution is flat, full replay is not") {
    // table A: 1000+ commits, archive+checkpoint maintained as an
    // operator would (every 100 commits, keep a 20..40 active window)
    val a = GraftTable.create(spark, tmp(), cfg)
    a.bulkInsert(rows(1L to 50L: _*))
    val svcA = TableServices(a)
    var realCommits = List.empty[String]
    (1 to 10).foreach { round =>
      syntheticCommits(a.timeline, 99)
      realCommits ::= a.upsert(rows(round.toLong)) // keeps data in play
      svcA.archive(keepMin = 20, keepMax = 40)
    }
    val totalA = a.timeline.completed().size +
      a.timeline.archivedTimes().size
    assert(totalA >= 1000, s"probe needs ~1k commits, built $totalA")

    // table B: the SAME commit count with no archive — the anti-pattern
    val b = GraftTable.create(spark, tmp(), cfg)
    b.bulkInsert(rows(1L to 50L: _*))
    syntheticCommits(b.timeline, 1000)

    val (tA, snapA) = timeResolve(a.timeline)
    val (tB, snapB) = timeResolve(b.timeline)

    // bounded active replay: resolution after 1k commits touches only
    // the post-checkpoint window, not the historical timeline
    assert(snapA.instants.size <= 40,
      s"active replay must stay within the keep window: ${snapA.instants.size}")
    assert(snapB.instants.size >= 1000,
      s"control table must replay the full history: ${snapB.instants.size}")
    // the cost claim, counted rather than timed (a wall-clock bound
    // flakes on a loaded host): a checkpointed resolution reads under a
    // third of the metadata files a full replay reads
    val readsA = resolveReads(a.timeline)
    val readsB = resolveReads(b.timeline)
    assert(readsA * 3 < readsB,
      s"checkpointed resolve must read far less metadata than full replay: " +
        s"$readsA vs $readsB files")
    info(f"metadata files per resolve: $readsA vs $readsB; best-of-5 wall " +
      f"${tA / 1e6}%.1f ms vs ${tB / 1e6}%.1f ms (info only)")

    // state stays exact through ten archive generations
    import spark.implicits._
    val r = GraftReader(a)
    assert(r.dataOnly(r.snapshot()).count() == 50)

    // incremental over the archived span: begin at a long-archived
    // instant; the read must span the boundary and return exactly the
    // rows written after it (the empty commits contribute nothing)
    val begin = realCommits.last // first real upsert, archived long ago
    assert(a.timeline.archivedTimes().contains(begin),
      "probe expects the first upsert to be archived")
    val got = r.incremental(begin).select("id").as[Long].collect().sorted
    assert(got.toSeq == (2L to 10L),
      s"archived-span incremental must be exact: ${got.toSeq}")
  }

  test("time-travel resolves reuse ONE archive-dir listing until a new archive") {
    // the as-of gap guard consults archivedTimes() per resolve; a
    // time-travel-heavy consumer (incremental backfills pinned at
    // historical instants) must not pay an O(#archived) directory
    // listing per query as the archive grows without bound
    val tbl = GraftTable.create(spark, tmp(), cfg)
    tbl.bulkInsert(rows(1L to 20L: _*))
    val tl = tbl.timeline
    syntheticCommits(tl, 9)
    val svc = TableServices(tbl)
    assert(svc.archive(keepMin = 2, keepMax = 3).nonEmpty)
    // two commits ABOVE the archive checkpoint: their replay windows are
    // archive-free, so these resolves pay only the boundary probe
    val Seq(t1, t2) = syntheticCommits(tl, 2)
    tl.archivedListings.set(0L)
    // alternating targets defeat the snapshot memo, so every resolve
    // runs the gap guard — the listing must still happen at most once
    (1 to 6).foreach { _ =>
      Snapshot.resolve(tl, Some(t1))
      Snapshot.resolve(tl, Some(t2))
    }
    assert(tl.archivedListings.get <= 1,
      s"12 guarded resolves must share one listing, saw ${tl.archivedListings.get}")
    // a new archive generation invalidates the cache exactly once
    syntheticCommits(tl, 6)
    assert(svc.archive(keepMin = 2, keepMax = 3).nonEmpty)
    val Seq(t3, t4) = syntheticCommits(tl, 2)
    tl.archivedListings.set(0L)
    Snapshot.resolve(tl, Some(t3))
    Snapshot.resolve(tl, Some(t4))
    assert(tl.archivedListings.get == 1,
      s"the post-archive resolves must relist exactly once, saw ${tl.archivedListings.get}")
  }

  test("archive-gap replay opens only in-window metadata files, each at most once") {
    // time travel across the archive boundary replays the gap from
    // archived commit metadata; a backfill consumer pinned at historical
    // instants must not re-read the files per query (parse cache) nor
    // open files outside its replay window (the bounds prune the READS)
    val tbl = GraftTable.create(spark, tmp(), cfg)
    val commits = (1 to 8).map(i => tbl.upsert(rows(i.toLong)))
    val svc = TableServices(tbl)
    assert(svc.archive(keepMin = 2, keepMax = 3).nonEmpty)
    val tl = tbl.timeline
    val target = commits(3) // commit 4: archived, mid-gap
    assert(tl.archivedTimes().contains(target), "probe needs an archived target")
    val inWindow = tl.archivedTimes().count(_ <= target)
    val total = tl.archivedTimes().size
    assert(inWindow < total, "probe needs archived instants ABOVE the target")

    tl.archivedMetaReads.set(0L)
    val s1 = Snapshot.resolve(tl, Some(target))
    assert(s1.slices.nonEmpty)
    assert(tl.archivedMetaReads.get == inWindow,
      s"the replay must open exactly the in-window archived files " +
        s"($inWindow of $total), saw ${tl.archivedMetaReads.get}")

    // one step deeper into the gap: exactly ONE new file is read — the
    // rest serve from the parse cache (alternation also defeats the
    // snapshot memo, so this isolates the metadata-read claim)
    val target2 = commits(4)
    Snapshot.resolve(tl, Some(target2))
    assert(tl.archivedMetaReads.get == inWindow + 1,
      s"only the newly-covered file may be opened, saw ${tl.archivedMetaReads.get}")
    Snapshot.resolve(tl, Some(target))
    Snapshot.resolve(tl, Some(target2))
    assert(tl.archivedMetaReads.get == inWindow + 1,
      s"repeat gap replays must be read-free, saw ${tl.archivedMetaReads.get}")

    // restore pruning evicts: the pruned files' cache entries must not
    // survive to answer a (hypothetical) same-name read, and the
    // surviving window still resolves read-free from cache
    svc.restoreTo(commits(5))
    assert(tl.archivedTimes().forall(_ <= commits(5)))
    tl.archivedMetaReads.set(0L)
    Snapshot.resolve(tl, Some(target))
    assert(tl.archivedMetaReads.get == 0,
      s"surviving-window replay must serve from cache, saw ${tl.archivedMetaReads.get}")
  }

  test("completed-instant metadata parses once per file across re-resolves") {
    // each commit breaks the snapshot memo (digest over the timeline),
    // so resolve #k re-folds the whole active window — the parse cache
    // must hold per-file reads at ONE even as the window re-reads, and a
    // replaced instant file (rollback + same-time re-commit surgery, the
    // r11 memo-alias shape) must be re-read because its mtime changed
    val tbl = GraftTable.create(spark, tmp(), cfg)
    tbl.bulkInsert(rows(1L to 10L: _*))
    val tl = tbl.timeline
    tl.completedMetaReads.set(0L)
    val times = syntheticCommits(tl, 10)
    (1 to times.size).foreach(_ => Snapshot.resolve(tl))
    // alternating as-ofs defeat the memo too: still one read per file
    Snapshot.resolve(tl, Some(times(3)))
    Snapshot.resolve(tl, Some(times(7)))
    Snapshot.resolve(tl, Some(times(3)))
    val reads = tl.completedMetaReads.get
    val files = tl.completed().size
    assert(reads <= files,
      s"$files completed instants but $reads physical metadata reads — the parse cache is not holding")
    // timeline-file surgery: overwrite one completed instant's metadata
    // in place (new mtime/length) — the next resolve MUST see new content
    val victim = tl.completed().last
    val p = new org.apache.hadoop.fs.Path(
      tbl.basePath + "/" + Timeline.MetaDir, victim.fileName)
    Thread.sleep(5) // ensure a distinct mtime even on coarse clocks
    val out = tl.fileSystem.create(p, true)
    out.write(Json.write(CommitMetadata("upsert",
      extra = Map("surgery" -> "yes"))).getBytes("UTF-8"))
    out.close()
    assert(tl.metadataOf(victim).extra.get("surgery").contains("yes"),
      "a replaced metadata file (new mtime) must be re-parsed, not served stale")
  }
}
