package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.core._
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.GraftTable

class ServicesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"
  def tmp(): String = Files.createTempDirectory("graft-svc").toString
  def orders: DataFrame = spark.read.parquet(s"$sf/orders.parquet")

  def cfg(tt: String): TableConfig = TableConfig(
    name = "orders", tableType = tt, keyFields = Seq("o_orderkey"),
    partitionFields = Seq("o_orderpriority"), orderingField = "o_orderdate",
    targetFileRows = 500)

  def assertSameRows(got: DataFrame, want: DataFrame, hint: String): Unit = {
    val g = got.select(want.columns.map(col): _*)
    val extra = g.exceptAll(want).count()
    val missing = want.exceptAll(g).count()
    assert(extra == 0 && missing == 0,
      s"$hint: extra=$extra missing=$missing (got=${g.count()}, want=${want.count()})")
  }

  test("MOR compaction folds deltas; snapshot unchanged; RO catches up") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.MOR))
    val b1 = orders.filter(col("o_orderkey") % 3 === 0)
    val b2 = orders.filter(col("o_orderkey") % 3 === 1)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    val upd = b1.withColumn("o_totalprice", col("o_totalprice") + 50)
    tbl.bulkInsert(b1)
    tbl.upsert(b2)   // inserts → new groups
    tbl.upsert(upd)  // updates → delta files
    val r = GraftReader(tbl)
    val before = r.dataOnly(r.snapshot())

    val svc = TableServices(tbl)
    assert(Snapshot.resolve(tbl.timeline).slices.exists(_.deltas.nonEmpty),
      "precondition: deltas exist")
    val t = svc.compact()
    assert(t.isDefined, "compaction ran")
    val snapAfter = Snapshot.resolve(tbl.timeline)
    assert(snapAfter.slices.forall(_.deltas.isEmpty), "all deltas folded")
    assertSameRows(r.dataOnly(r.snapshot()), before, "snapshot stable across compaction")
    assertSameRows(r.dataOnly(r.readOptimized()), before, "RO == snapshot post-compaction")
    assert(svc.compact().isEmpty, "second compaction is a no-op")
  }

  test("compaction replaces groups emptied by deletes") {
    val dir = tmp()
    val conf = cfg(TableType.MOR).copy(partitionFields = Nil, targetFileRows = 100)
    val tbl = GraftTable.create(spark, dir, conf)
    val few = orders.limit(150)
    tbl.bulkInsert(few)
    tbl.delete(few.select("o_orderkey")) // tombstone every key in every group
    val svc = TableServices(tbl)
    svc.compact()
    val snap = Snapshot.resolve(tbl.timeline)
    assert(snap.slices.isEmpty, s"all groups replaced, got ${snap.slices}")
    val r = GraftReader(tbl)
    assert(r.snapshot().count() == 0)
  }

  test("clean removes unreferenced files, keeps retained window readable") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    tbl.bulkInsert(orders)
    // 3 successive rewrites of the same groups → stale versions pile up
    var latest = orders
    for (i <- 1 to 3) {
      latest = orders.withColumn("o_totalprice", col("o_totalprice") + i * 100)
      tbl.upsert(latest)
    }
    val r = GraftReader(tbl)
    val svc = TableServices(tbl)
    val dataTimes = tbl.timeline.completed().filter(i => Action.dataActions(i.action)).map(_.time)
    val cleaned = svc.clean(retainCommits = 2)
    assert(cleaned.isDefined, "clean ran")
    assertSameRows(r.dataOnly(r.snapshot()), latest, "latest snapshot survives clean")
    // files of the retained window still resolve
    val retainedAt = dataTimes.takeRight(2).head
    assert(r.snapshot(asOf = Some(retainedAt)).count() > 0)
    // second clean is a no-op
    assert(svc.clean(retainCommits = 2).isEmpty)
    assert(svc.earliestRetainedInstant.contains(retainedAt))
  }

  test("savepoint pins an old snapshot against clean") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val t0 = tbl.bulkInsert(orders)
    var latest = orders
    for (i <- 1 to 3) {
      latest = orders.withColumn("o_totalprice", col("o_totalprice") + i)
      tbl.upsert(latest)
    }
    val svc = TableServices(tbl)
    svc.savepoint(t0)
    svc.clean(retainCommits = 1)
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.snapshot(asOf = Some(t0))), orders, "savepointed snapshot intact")
    assertSameRows(r.dataOnly(r.snapshot()), latest, "latest intact")
  }

  test("rollback undoes the latest commit; restore rewinds further") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val t1 = tbl.bulkInsert(orders)
    val up1 = orders.withColumn("o_totalprice", col("o_totalprice") + 1)
    val t2 = tbl.upsert(up1)
    val up2 = orders.withColumn("o_totalprice", col("o_totalprice") + 2)
    val t3 = tbl.upsert(up2)
    val r = GraftReader(tbl)
    val svc = TableServices(tbl)

    svc.rollback(t3)
    assertSameRows(r.dataOnly(r.snapshot()), up1, "state back to t2 after rollback")
    intercept[IllegalArgumentException](svc.rollback("0"))

    svc.restoreTo(t1)
    assertSameRows(r.dataOnly(r.snapshot()), orders, "state back to t1 after restore")
    // table still writable after restore
    tbl.upsert(up2)
    assertSameRows(r.dataOnly(r.snapshot()), up2, "write after restore")
  }

  test("incremental read across a compaction: change stream invariant") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.MOR))
    val b1 = orders.filter(col("o_orderkey") % 3 === 0)
    val t1 = tbl.bulkInsert(b1)
    val upd = b1.filter(col("o_orderkey") % 6 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 9)
    tbl.upsert(upd)
    TableServices(tbl).compact()
    val r = GraftReader(tbl)
    // compacted rewrites keep original commit times: the change stream
    // since t1 is exactly the upserted rows, not the whole fold
    assertSameRows(r.dataOnly(r.incremental(t1)), upd, "incremental across compaction")
  }

  test("partition-scoped compaction folds only the named partitions") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.MOR))
    val b1 = orders.filter(col("o_orderkey") % 3 === 0)
    tbl.bulkInsert(b1)
    tbl.upsert(b1.withColumn("o_totalprice", col("o_totalprice") + 5))
    val svc = TableServices(tbl)
    val dirtyParts = Snapshot.resolve(tbl.timeline).slices
      .filter(_.deltas.nonEmpty).map(_.partition).distinct
    assert(dirtyParts.size >= 2, "need multiple dirty partitions")
    val only = Set(dirtyParts.head)
    assert(svc.compact(partitions = Some(only)).isDefined)
    val after = Snapshot.resolve(tbl.timeline)
    assert(after.slices.filter(s => only.contains(s.partition)).forall(_.deltas.isEmpty),
      "scoped partition compacted")
    assert(after.slices.exists(s => !only.contains(s.partition) && s.deltas.nonEmpty),
      "other partitions untouched")
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.snapshot()),
      b1.withColumn("o_totalprice", col("o_totalprice") + 5), "state unchanged")
  }

  test("commit callbacks fire per published instant with its metadata") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.MOR))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    tbl.timeline.register(new graft.core.CommitCallback {
      override def onCommit(i: Instant, m: CommitMetadata): Unit =
        seen += ((i.action, m.operation))
    })
    val b1 = orders.filter(col("o_orderkey") % 3 === 0)
    tbl.bulkInsert(b1)
    tbl.upsert(b1.withColumn("o_totalprice", col("o_totalprice") + 1))
    TableServices(tbl).compact()
    assert(seen.toList == List(
      ("commit", "bulk_insert"), ("deltacommit", "upsert"), ("compaction", "compact")))
  }

  test("incremental read across a clustering replacecommit: no double-count, no loss") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val b1 = orders.filter(col("o_orderkey") % 3 === 0)
    val t1 = tbl.bulkInsert(b1)
    val upd = b1.filter(col("o_orderkey") % 9 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 7)
    tbl.upsert(upd)
    // clustering rewrites every group; rewritten rows KEEP their original
    // commit times, so the change stream is invariant across the rewrite
    val svc = TableServices(tbl)
    assert(svc.cluster(sortCols = Seq("o_orderkey"), targetFileRows = 10000).isDefined)
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.incremental(t1)), upd,
      "incremental across replacecommit = exactly the upserted rows")
    assertSameRows(r.dataOnly(r.snapshot()),
      b1.withColumn("o_totalprice",
        when(col("o_orderkey") % 9 === 0, col("o_totalprice") + 7)
          .otherwise(col("o_totalprice"))),
      "snapshot stable across clustering")
  }

  test("cleanFileVersions retains newest N versions per group") {
    val dir = tmp()
    // packing off: keep one group per partition stable across rewrites
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW).copy(smallFileRows = 0))
    val base = orders.filter(col("o_orderkey") % 3 === 0)
    tbl.bulkInsert(base)
    // two rewrites of every group -> three base versions each
    tbl.upsert(base.withColumn("o_totalprice", col("o_totalprice") + 1))
    tbl.upsert(base.withColumn("o_totalprice", col("o_totalprice") + 2))
    val r = GraftReader(tbl)
    val want = base.withColumn("o_totalprice", col("o_totalprice") + 2)
    val fs = tbl.timeline.fileSystem
    val allPaths = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action))
      .flatMap(i => tbl.timeline.metadataOf(i).stats).map(_.path).distinct
    assert(allPaths.forall(p => fs.exists(new org.apache.hadoop.fs.Path(dir, p))))

    val svc = TableServices(tbl)
    val t = svc.cleanFileVersions(retainVersions = 2)
    assert(t.isDefined, "clean ran")
    val gone = allPaths.filterNot(p => fs.exists(new org.apache.hadoop.fs.Path(dir, p)))
    assert(gone.nonEmpty, "oldest versions physically deleted")
    // exactly the newest 2 versions per group remain
    val kept = allPaths.toSet -- gone
    val liveNow = Snapshot.resolve(tbl.timeline).slices.flatMap(_.allFiles).map(_.path).toSet
    assert(liveNow.subsetOf(kept), "live files survive")
    assertSameRows(r.dataOnly(r.snapshot()), want, "snapshot stable across version clean")
    // idempotent: nothing more to delete
    assert(svc.cleanFileVersions(retainVersions = 2).isEmpty)
    // retain 1 removes the middle version too
    assert(svc.cleanFileVersions(retainVersions = 1).isDefined)
    assertSameRows(r.dataOnly(r.snapshot()), want, "snapshot stable at 1 version")
  }

  test("cluster with purgeTombstones drops COW delete markers, keeps state") {
    import graft.write.Meta
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    tbl.bulkInsert(orders)
    tbl.delete(orders.filter(col("o_orderkey") % 5 === 0)
      .select("o_orderkey", "o_orderpriority"))
    val r = GraftReader(tbl)
    val want = orders.filter(col("o_orderkey") % 5 =!= 0)
    def markerCount(): Long = {
      val snap = Snapshot.resolve(tbl.timeline)
      val paths = snap.slices.flatMap(_.allFiles).map(st => s"$dir/${st.path}")
      spark.read.parquet(paths: _*).filter(col(Meta.Deleted)).count()
    }
    assert(markerCount() > 0, "COW delete leaves tombstone markers")
    TableServices(tbl).cluster(Seq("o_orderkey"), purgeTombstones = true).get
    assert(markerCount() == 0, "purge drops markers")
    assertSameRows(r.dataOnly(r.snapshot()), want, "state unchanged by purge")
  }

  test("scheduled compaction executes under live writes; later deltas survive") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "async", tableType = TableType.MOR, keyFields = Seq("id"),
      orderingField = "ts", targetFileRows = 1000))
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "v", "ts")
    tbl.bulkInsert(df((1L, "a", 1L), (2L, "a", 1L), (3L, "a", 1L),
      (4L, "a", 1L), (5L, "a", 1L), (6L, "a", 1L)))
    tbl.upsert(df((1L, "b", 2L), (2L, "b", 2L), (3L, "b", 2L)))

    val svc = TableServices(tbl)
    val ts = svc.scheduleCompaction().get
    assert(svc.pendingCompactions() == Seq(ts))

    // a writer lands AFTER the schedule — its delta is NOT in the plan
    tbl.upsert(df((2L, "c", 3L), (4L, "c", 3L)))

    // execute the plan CONCURRENTLY with another live upsert
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val fCompact = pool.submit(new Runnable {
      override def run(): Unit =
        try svc.runScheduledCompaction(ts)
        catch { case t: Throwable => errors.add(t) }
    })
    val fWrite = pool.submit(new Runnable {
      override def run(): Unit =
        try tbl.upsert(df((5L, "d", 4L)))
        catch { case t: Throwable => errors.add(t) }
    })
    fCompact.get(); fWrite.get(); pool.shutdown()
    assert(errors.isEmpty, s"unexpected: ${errors.toArray.mkString(", ")}")
    assert(svc.pendingCompactions().isEmpty)

    val r = GraftReader(tbl)
    def state(): Seq[(Long, String)] =
      r.dataOnly(r.snapshot()).select("id", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    val want = Seq((1L, "b"), (2L, "c"), (3L, "b"), (4L, "c"), (5L, "d"), (6L, "a"))
    assert(state() == want, "post-schedule deltas must stack on the compacted base")

    // the compacted base carries the SCHEDULED instant time; the
    // post-schedule deltas remain as deltas until the next round
    val snap = Snapshot.resolve(tbl.timeline)
    assert(snap.slices.exists(_.deltas.nonEmpty),
      "later deltas must NOT be folded by the earlier plan")
    svc.compact()
    assert(state() == want, "second compaction folds the rest, same answer")
    assert(Snapshot.resolve(tbl.timeline).slices.forall(_.deltas.isEmpty))
  }

  test("scheduled clustering pins groups: updates rejected, inserts ride, run replaces") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "aclust", tableType = TableType.COW, keyFields = Seq("id"),
      orderingField = "ts", targetFileRows = 3))
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "v", "ts")
    tbl.bulkInsert(df((1L to 9L).map(i => (i, "a", 1L)): _*))
    assert(Snapshot.resolve(tbl.timeline).slices.size == 3, "3 groups of 3")

    val svc = TableServices(tbl)
    val ts = svc.scheduleClustering(Seq("id"), targetFileRows = 100).get
    assert(svc.pendingClusterings() == Seq(ts))

    // updates and deletes targeting pinned groups are REJECTED
    intercept[ClusteringConflictException] { tbl.upsert(df((1L, "x", 9L))) }
    intercept[ClusteringConflictException] {
      tbl.delete(Seq((2L, "a")).toDF("id", "v").select("id"))
    }
    // an insert of NEW keys rides through (fills skip pinned groups)
    tbl.insert(df((100L, "n", 1L)))

    assert(svc.runScheduledClustering(ts).contains(ts))
    assert(svc.pendingClusterings().isEmpty)
    // groups unpinned: the previously-rejected update now applies
    tbl.upsert(df((1L, "x", 9L)))

    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot()).select("id", "v")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val want = (1L to 9L).map(i => (i, if (i == 1L) "x" else "a")) :+ ((100L, "n"))
    assert(got == want, "clustered + inserted + post-clustering update")
    // the 3 pinned groups were replaced by one clustered group (+ the
    // insert's fresh group + the post-clustering upsert rewrite)
    val slices = Snapshot.resolve(tbl.timeline).slices
    assert(slices.size == 2, s"expected clustered+insert groups, got ${slices.size}")
  }

  test("stale clustering plan aborts loudly and unpins (no data loss)") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "aclust2", tableType = TableType.COW, keyFields = Seq("id"),
      orderingField = "ts", targetFileRows = 3))
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "v", "ts")
    tbl.bulkInsert(df((1L to 6L).map(i => (i, "a", 1L)): _*))
    val svc = TableServices(tbl)
    val ts = svc.scheduleClustering(Seq("id"), targetFileRows = 100).get
    // simulate a straggler that bypassed the reject strategy: an
    // insert_overwrite_table replaces the pinned groups outright
    tbl.insertOverwriteTable(df((10L, "z", 1L)))
    val e = intercept[IllegalStateException] { svc.runScheduledClustering(ts) }
    assert(e.getMessage.contains("re-schedule"))
    assert(svc.pendingClusterings().isEmpty, "stale plan must be dropped")
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot()).select("id", "v")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((10L, "z")), "the overwrite's state must be untouched")
  }

  test("restore drops pending service plans scheduled after the target") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "rplan", tableType = TableType.MOR, keyFields = Seq("id"),
      orderingField = "ts", targetFileRows = 1000))
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "v", "ts")
    val t1 = tbl.bulkInsert(df((1L, "a", 1L), (2L, "a", 1L)))
    tbl.upsert(df((1L, "b", 2L)))
    val svc = TableServices(tbl)
    assert(svc.scheduleCompaction().isDefined)
    assert(svc.pendingCompactions().nonEmpty)
    svc.restoreTo(t1)
    assert(svc.pendingCompactions().isEmpty,
      "a plan pinning restored-away files must not survive the restore")
    // the table keeps working: upsert again and compact cleanly
    tbl.upsert(df((2L, "c", 3L)))
    svc.compact()
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq == Seq((1L, "a"), (2L, "c")))
  }

  test("cleaning runs concurrently with live writers without breaking state") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "aclean", tableType = TableType.COW, keyFields = Seq("id"),
      orderingField = "ts", targetFileRows = 100))
    def df(lo: Long, hi: Long, tag: String) =
      (lo until hi).map(i => (i, tag, hi)).toDF("id", "v", "ts")
    tbl.bulkInsert(df(0, 300, "v0"))

    // background cleaner: the async-clean service shape — repeatedly
    // clean old file versions while upserts rewrite groups
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val cleans = new java.util.concurrent.atomic.AtomicInteger
    val cleaner = new Thread(() => {
      val svc = TableServices(GraftTable.load(spark, dir))
      while (!stop.get()) {
        try svc.clean(retainCommits = 2).foreach(_ => cleans.incrementAndGet())
        catch { case t: Throwable => errors.add(t) }
        Thread.sleep(5)
      }
    })
    cleaner.start()
    (1 to 6).foreach { r => tbl.upsert(df(0, 300, s"v$r")) }
    stop.set(true); cleaner.join()
    assert(errors.isEmpty, s"cleaner errors: ${errors.toArray.mkString(", ")}")
    assert(cleans.get() > 0, "the cleaner must have actually cleaned")

    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot()).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(got.length == 300 && got.forall(_._2 == "v6"),
      s"latest state intact after concurrent cleaning: ${got.take(3).toSeq}")
    // every file the final snapshot references must still exist on disk
    val missing = Snapshot.resolve(tbl.timeline).slices.flatMap(_.allFiles)
      .filterNot(st => tbl.timeline.fileSystem.exists(
        new org.apache.hadoop.fs.Path(dir, st.path)))
    assert(missing.isEmpty, s"cleaner must never delete live files: $missing")
  }

  test("snapshot resolution is O(keepMin) after archiving a long timeline") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "longtl", tableType = TableType.COW, keyFields = Seq("id")))
    val tl = tbl.timeline
    // synthesize 600 commits (driver-side metadata only — the probe
    // measures timeline resolution, not data IO)
    (1 to 600).foreach { i =>
      val t = tl.start(Action.Commit)
      tl.complete(t, Action.Commit, CommitMetadata("upsert", "",
        Seq(WriteStat("", s"g$i", s"g${i}_$t.parquet", rows = 1, bytes = 10))))
    }
    def timeResolve(): (Double, Snapshot) = {
      val t0 = System.nanoTime()
      val s = Snapshot.resolve(tl)
      ((System.nanoTime() - t0) / 1e6, s)
    }
    val (preMs, preSnap) = timeResolve()
    assert(preSnap.slices.size == 600 && preSnap.instants.size == 600)

    TableServices(tbl).archive(keepMin = 20, keepMax = 30)
    val (postMs, postSnap) = timeResolve()
    // resolution work after archiving = checkpoint + O(keepMin) instants,
    // independent of the 600-commit history — gated STRUCTURALLY (the
    // replayed-instant count); the cold-read timing is informational
    // only (a single-shot cold checkpoint parse + archive-dir probe vs
    // 600 tiny metadata reads is scheduler-noise territory — the timed
    // claim lives in TimelineScaleSpec's 1k-commit probe with margin)
    assert(postSnap.instants.size <= 30,
      s"active replay must be bounded, saw ${postSnap.instants.size}")
    assert(postSnap.slices.size == 600, "state identical through the checkpoint")
    info(f"full replay $preMs%.1f ms; checkpointed cold resolve $postMs%.1f ms")
  }

  test("upgrade/downgrade migrates the format version with audited instants") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "vmig", tableType = TableType.COW, keyFields = Seq("id")))
    // simulate a pre-checkpoint-era table
    tbl.timeline.updateConfig(tbl.timeline.config.copy(version = 0))
    tbl.bulkInsert(Seq((1L, "a")).toDF("id", "v"))
    tbl.upsert(Seq((2L, "b")).toDF("id", "v"))
    tbl.upsert(Seq((3L, "c")).toDF("id", "v"))
    tbl.upsert(Seq((4L, "d")).toDF("id", "v"))

    val svc = TableServices(tbl)
    // v0 has no checkpoints -> archiving is gated off
    intercept[IllegalArgumentException] { svc.archive(keepMin = 1, keepMax = 2) }

    assert(svc.upgradeTable().isDefined)
    assert(tbl.timeline.config.version == 1)
    assert(svc.upgradeTable().isEmpty, "already current: no-op")
    assert(tbl.timeline.instants().exists(i =>
      i.action == Action.Upgrade && i.isCompleted))

    // v1 archives fine; archived metadata is loadable for audit
    assert(svc.archive(keepMin = 1, keepMax = 2).isDefined)
    val archived = tbl.timeline.archivedInstants()
    assert(archived.nonEmpty)
    assert(archived.forall { case (_, m) => m.operation.nonEmpty })

    // downgrade refuses while archived instants exist
    intercept[IllegalArgumentException] { svc.downgradeTable(0) }

    // a fresh v1 table with a checkpoint but nothing archived downgrades
    val dir2 = tmp()
    val t2 = GraftTable.create(spark, dir2, TableConfig(
      name = "vmig2", tableType = TableType.COW, keyFields = Seq("id")))
    t2.bulkInsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val snap2 = Snapshot.resolve(t2.timeline)
    Checkpoint.write(t2.timeline, SnapshotCheckpoint(
      asOf = snap2.latestCommitTime.get,
      schemaJson = t2.readSchema(snap2).json, slices = snap2.slices))
    assert(Checkpoint.times(t2.timeline).nonEmpty)
    assert(TableServices(t2).downgradeTable(0).isDefined)
    assert(t2.timeline.config.version == 0)
    assert(Checkpoint.times(t2.timeline).isEmpty, "v0 drops checkpoints")
    val r2 = GraftReader(t2)
    assert(r2.dataOnly(r2.snapshot()).count() == 2L, "full replay still resolves")
  }

  test("day strategy plans newest partitions first; size strategy biggest deltas") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.MOR))
    tbl.bulkInsert(orders)
    // heavy deltas in the lexicographically SMALLEST partition, light in
    // the largest — the two strategies must disagree on who goes first
    val parts = orders.select("o_orderpriority").distinct()
      .collect().map(_.getString(0)).sorted
    val (oldest, newest) = (parts.head, parts.last)
    tbl.upsert(orders.filter(col("o_orderpriority") === oldest)
      .withColumn("o_totalprice", col("o_totalprice") + 1))
    tbl.upsert(orders.filter(col("o_orderpriority") === newest).limit(5)
      .withColumn("o_totalprice", col("o_totalprice") + 1))
    val svc = TableServices(tbl)
    assert(svc.planCompaction(maxGroups = 1).head.partition == oldest,
      "size strategy: heaviest delta group first")
    assert(svc.planCompaction(maxGroups = 1, strategy = "day").head.partition == newest,
      "day strategy: newest partition first")
    // a day-scoped fold leaves the older partition's deltas for later
    svc.compact(maxGroups = 1, strategy = "day")
    val after = Snapshot.resolve(tbl.timeline).slices
    assert(after.filter(_.partition == newest).forall(_.deltas.isEmpty),
      "newest partition folded")
    assert(after.exists(s => s.partition == oldest && s.deltas.nonEmpty),
      "older partition deltas untouched")
  }

  test("inline compaction fires after N delta commits and then resets") {
    val dir = tmp()
    val conf = cfg(TableType.MOR).copy(inlineCompactDeltaCommits = 3)
    val tbl = GraftTable.create(spark, dir, conf)
    val base = orders.filter(col("o_orderkey") % 2 === 0)
    tbl.bulkInsert(base)
    def compactions: Int =
      tbl.timeline.completed().count(_.action == Action.Compaction)
    // three updating upserts = three delta commits → threshold reached
    (1 to 3).foreach { i =>
      tbl.upsert(base.limit(40).withColumn("o_totalprice", col("o_totalprice") + i))
      if (i < 3) assert(compactions == 0, s"no compaction after $i delta commits")
    }
    assert(compactions == 1, "inline compaction fired at the threshold")
    assert(Snapshot.resolve(tbl.timeline).slices.forall(_.deltas.isEmpty),
      "deltas folded inline")
    // the counter restarts from the compaction instant
    tbl.upsert(base.limit(10).withColumn("o_totalprice", lit(1.0)))
    assert(compactions == 1, "one delta commit after compaction does not re-fire")
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).count() == base.count(), "row count stable")
  }

  test("auto clean + auto archive bound storage and timeline across commits") {
    val dir = tmp()
    val conf = cfg(TableType.COW).copy(
      partitionFields = Nil, targetFileRows = 100000,
      autoCleanRetainCommits = 2,
      autoArchiveMinCommits = 4, autoArchiveMaxCommits = 6)
    val tbl = GraftTable.create(spark, dir, conf)
    val base = orders.limit(200)
    tbl.bulkInsert(base)
    // each upsert rewrites the single COW group → one obsolete file per
    // commit; auto clean must keep only the versions the last 2 commits
    // can still see, auto archive must keep the active timeline <= 6
    (1 to 9).foreach { i =>
      tbl.upsert(base.limit(20).withColumn("o_totalprice", lit(i.toDouble)))
    }
    val fs = tbl.timeline.fileSystem
    val dataFiles = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
    assert(dataFiles.length <= 3,
      s"auto clean retains only reachable versions, saw ${dataFiles.mkString(",")}")
    val active = tbl.timeline.completed().size
    assert(active <= 6, s"auto archive bounds the active timeline, saw $active")
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot())
    assert(got.count() == 200, "snapshot intact under auto services")
    assert(got.filter(col("o_totalprice") === 9.0).count() == 20,
      "last upsert visible")
  }

  test("a parked service plan never blocks later scheduling or execution") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "parked", tableType = TableType.MOR, keyFields = Seq("id"),
      orderingField = "ts", targetFileRows = 3))
    def df(rows: (Long, String, Long)*) = rows.toDF("id", "v", "ts")
    tbl.bulkInsert(df((1L, "a", 1L), (2L, "a", 1L), (3L, "a", 1L),
      (4L, "a", 1L), (5L, "a", 1L), (6L, "a", 1L)))
    val svc = TableServices(tbl)
    // park a clustering plan (delta-free groups) and LEAVE it parked —
    // the normal long-lived async Requested state
    val parked = svc.scheduleClustering(sortCols = Seq("id"), layout = "linear")
    assert(parked.nonEmpty, "clustering plan parks")
    // make a group delta-bearing OUTSIDE the pinned set: inserts of new
    // keys open fresh groups; their deltas are compactable
    tbl.upsert(df((7L, "b", 2L), (8L, "b", 2L), (9L, "b", 2L)))
    tbl.upsert(df((7L, "c", 3L)))
    // a compaction must schedule AND run promptly despite the
    // earlier-time parked plan (a Requested service instant is not a
    // pending data writer; a 30s stall + IllegalStateException here was
    // the cross-service deadlock)
    val sleeps = new java.util.concurrent.atomic.AtomicLong
    val t0 = System.currentTimeMillis()
    TableServices.awaitSleepProbe = sleeps
    val compacted =
      try svc.compact() finally TableServices.awaitSleepProbe = null
    info(s"compaction took ${System.currentTimeMillis() - t0} ms")
    assert(compacted.nonEmpty, "compaction must run under a parked clustering plan")
    assert(sleeps.get == 0L,
      s"compaction waited ${sleeps.get} times behind the parked plan")
    // the parked plan still executes to the SAME final state
    svc.runScheduledClustering(parked.get)
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot()).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "a", 5L -> "a",
      6L -> "a", 7L -> "c", 8L -> "b", 9L -> "b"))
  }

  test("partition TTL drops below-cutoff partitions; files leave via clean") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    tbl.bulkInsert(orders)
    val svc = TableServices(tbl)
    // nothing expired -> None, no commit minted
    val before = tbl.timeline.completed().size
    assert(svc.partitionTtl("1").isEmpty)
    assert(tbl.timeline.completed().size == before)
    // dry run: lists the candidates, commits nothing
    assert(svc.partitionTtlCandidates("3") == Seq("1-URGENT", "2-HIGH"))
    assert(tbl.timeline.completed().size == before)
    // cutoff between 2-HIGH and 3-MEDIUM
    val res = svc.partitionTtl("3")
    assert(res.nonEmpty, "partitions below the cutoff must be dropped")
    val (t, dropped) = res.get
    assert(dropped == Seq("1-URGENT", "2-HIGH"))
    assert(tbl.timeline.completed().exists(i =>
      i.time == t && i.action == Action.ReplaceCommit))
    val r = GraftReader(tbl)
    val left = r.dataOnly(r.snapshot()).select("o_orderpriority")
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(left == Seq("3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
    // repeated run: nothing left below the cutoff
    assert(svc.partitionTtl("3").isEmpty)
    // physical files survive until clean (older snapshots stay readable);
    // after enough commits + clean, the dropped partitions' files go
    val fs = tbl.timeline.fileSystem
    val droppedFiles = tbl.timeline.completed()
      .flatMap(i => tbl.timeline.metadataOf(i).stats)
      .filter(st => st.partition < "3").map(_.path).distinct
    assert(droppedFiles.nonEmpty &&
      droppedFiles.forall(p => fs.exists(new org.apache.hadoop.fs.Path(dir, p))),
      "TTL must be logical: data files stay until clean")
    (1 to 10).foreach { i =>
      tbl.upsert(orders.filter(col("o_orderpriority") === "5-LOW" &&
        col("o_orderkey") % 10 === i % 10))
    }
    assert(svc.clean(retainCommits = 2).nonEmpty)
    assert(droppedFiles.forall(p =>
      !fs.exists(new org.apache.hadoop.fs.Path(dir, p))),
      "clean must reap the TTL-dropped partitions' files")
  }

  test("on-demand checkpoint: folds now, idempotent, delta replays on top") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val svc = TableServices(tbl)
    assert(svc.checkpoint().isEmpty, "no data instant -> nothing to fold")
    tbl.bulkInsert(orders.filter(col("o_orderkey") % 3 === 0))
    tbl.upsert(orders.filter(col("o_orderkey") % 3 === 1))
    val at = svc.checkpoint()
    assert(at.nonEmpty, "checkpoint must mint at the latest data instant")
    assert(at == tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action)).lastOption.map(_.time))
    assert(svc.checkpoint().isEmpty, "same instant -> no-op")
    assert(Checkpoint.times(tbl.timeline) == at.toSeq)
    // a later commit replays as the delta tail on top of the fold
    tbl.upsert(orders.filter(col("o_orderkey") % 3 === 2))
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.snapshot()), orders,
      "full state must read back through checkpoint + delta")
    // and a NEW checkpoint at the new head is mintable
    assert(svc.checkpoint().nonEmpty)
    assert(Checkpoint.times(tbl.timeline).size == 2)
  }

  test("concurrent RUN CHECKPOINT twins both return cleanly") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    tbl.bulkInsert(orders.filter(col("o_orderkey") % 2 === 0))
    tbl.upsert(orders.filter(col("o_orderkey") % 2 === 1))
    // two racing checkpoint() calls at the same head: the timeline lock
    // serializes them; the loser sees the winner's fold and no-ops (or,
    // losing the data rename, treats dest-exists-at-same-asOf as
    // success) — neither may throw
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 2).foreach { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          barrier.await()
          try results.add(TableServices(tbl).checkpoint())
          catch { case e: Throwable => errs.add(e) }
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"no twin may throw: ${Option(errs.peek()).map(_.toString)}")
    val rs = results.toArray(Array.empty[Option[String]]).toSeq
    assert(rs.count(_.nonEmpty) >= 1, "at least one twin folded")
    assert(Checkpoint.times(tbl.timeline).size == 1,
      "exactly one checkpoint generation at the shared head")
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.snapshot()), orders,
      "state must read back exactly through the raced checkpoint")
  }

  test("resolve memo misses across a cross-process rollback + same-instant re-commit") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    tbl.bulkInsert(orders.filter(col("o_orderkey") % 3 === 0))
    val t2 = tbl.upsert(orders.filter(col("o_orderkey") % 3 === 1))
    val before = Snapshot.resolve(tbl.timeline) // memoized
    // Emulate ANOTHER PROCESS rolling back t2 and re-committing a
    // DIFFERENT payload that mints the SAME millisecond instant (in-JVM
    // newInstantTime can never reuse a time; a peer process can) by
    // direct timeline-file surgery: drop t2, record the rollback
    // instant a real rollback writes, re-commit t2 with altered stats.
    // The data-instant window (times AND count) is then IDENTICAL to
    // the memoized one — only the full-timeline digest catches it.
    val fs = tbl.timeline.fileSystem
    val metaDir = tbl.timeline.metaDir
    val meta = tbl.timeline.metadataOf(Instant(t2, Action.Commit, State.Completed))
    assert(meta.stats.size > 1, "need >1 written file to alter the payload")
    def put(name: String, content: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(metaDir, name), true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    fs.delete(new org.apache.hadoop.fs.Path(metaDir, s"$t2.${Action.Commit}"), false)
    put(s"${(BigInt(t2) + 1).toString}.${Action.Rollback}",
      Json.write(CommitMetadata("rollback")))
    put(s"$t2.${Action.Commit}", Json.write(meta.copy(stats = meta.stats.drop(1))))
    val after = Snapshot.resolve(tbl.timeline)
    assert(
      after.slices.flatMap(_.allFiles).map(_.path).toSet !=
        before.slices.flatMap(_.allFiles).map(_.path).toSet,
      "resolve must reflect the re-committed state, never the memoized slices")
  }

  test("time travel into an archived gap below a retained old checkpoint " +
      "replays the archive exactly") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val svc = TableServices(tbl)
    (1 to 3).foreach(i => tbl.upsert(orders.filter(col("o_orderkey") % 8 === i)))
    assert(svc.checkpoint().nonEmpty) // cpOld stamped at commit 3
    val more =
      (4 to 8).map(i => tbl.upsert(orders.filter(col("o_orderkey") % 8 === i % 8)))
    assert(svc.archive(keepMin = 2, keepMax = 3).nonEmpty)
    val cps = Checkpoint.times(tbl.timeline)
    assert(cps.size == 2, s"retained checkpoints: $cps")
    val cpOld = cps.head
    val archived = tbl.timeline.archivedTimes()
    val gap = archived.find(_ > cpOld)
      .getOrElse(fail("need an archived instant above the old checkpoint"))
    assert(gap == more.head, "commit 4 is the first archived above cp@3")
    // the replay window (cpOld, gap] contains ARCHIVED instants: they are
    // on neither the checkpoint nor the active timeline. Archiving keeps
    // their commit metadata intact, so the resolve loads it back and
    // replays the gap EXACTLY (round 11 refused this read; before that
    // guard it silently returned cpOld's state — the wrong answer)
    val r = GraftReader(tbl)
    assertSameRows(
      r.dataOnly(r.snapshot(asOf = Some(gap))).select(orders.columns.map(col): _*),
      orders.filter(col("o_orderkey") % 8 >= 1 && col("o_orderkey") % 8 <= 4),
      "gap-window time travel must replay the archived instants")
    // the old checkpoint's own stamp still resolves exactly (window empty)
    assert(Snapshot.resolve(tbl.timeline, Some(cpOld)).slices.nonEmpty)
    // and everything at/after the covering checkpoint stays available
    assert(Snapshot.resolve(tbl.timeline, Some(cps.last)).slices.nonEmpty)
    assert(r.dataOnly(r.snapshot()).count() > 0, "latest reads unaffected")
  }

  test("checkpointKeep widens retention (and with it the time-travel floor)") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW).copy(checkpointKeep = 5))
    val svc = TableServices(tbl)
    (1 to 5).foreach { i =>
      tbl.upsert(orders.filter(col("o_orderkey") % 8 === i))
      assert(svc.checkpoint().nonEmpty)
    }
    assert(Checkpoint.times(tbl.timeline).size == 5,
      "a table configured for 5 generations must retain all 5")
    tbl.upsert(orders.filter(col("o_orderkey") % 8 === 6))
    assert(svc.checkpoint().nonEmpty)
    val cps = Checkpoint.times(tbl.timeline)
    assert(cps.size == 5, "the 6th generation rotates the oldest out")
    // every retained stamp stays time-travelable (nothing archived here)
    cps.foreach(t => assert(Snapshot.resolve(tbl.timeline, Some(t)).slices.nonEmpty))
  }

  test("restore below the oldest retained checkpoint — and onto an ARCHIVED " +
      "target — lands exactly, pruning the archive and re-minting coverage") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val svc = TableServices(tbl)
    val commits =
      (1 to 8).map(i => tbl.upsert(orders.filter(col("o_orderkey") % 8 === i % 8)))
    assert(svc.archive(keepMin = 2, keepMax = 3).nonEmpty)
    // rotate the archive-boundary checkpoint out with three newer ones
    (1 to 3).foreach { i =>
      tbl.upsert(orders.filter(col("o_orderkey") % 16 === i))
      assert(svc.checkpoint().nonEmpty)
    }
    val cps = Checkpoint.times(tbl.timeline)
    assert(cps.size == 3, s"rotation must keep the newest three: $cps")
    val am = tbl.timeline.archivedTimes().last
    assert(cps.forall(_ > am), "precondition: every retained checkpoint is " +
      "newer than the archive boundary")
    // restore below the OLDEST retained checkpoint drops every retained
    // generation; the archived history replays from the archive's own
    // metadata and a covering checkpoint is re-minted (round 11 refused
    // this depth — the resolver could not replay archived instants)
    val deep = commits(6) // commit 7: above the boundary, below every cp
    assert(deep < cps.head && deep > am, s"probe geometry: $deep vs $cps / $am")
    svc.restoreTo(deep)
    val r = GraftReader(tbl)
    assertSameRows(
      r.dataOnly(r.snapshot()).select(orders.columns.map(col): _*),
      orders.filter(col("o_orderkey") % 8 >= 1 && col("o_orderkey") % 8 <= 7),
      "restored state must include the archived batches")
    assert(Checkpoint.times(tbl.timeline).exists(_ >= am),
      "a covering checkpoint must be re-minted over the surviving archive")
    // deeper still: restore onto an instant that is ITSELF archived —
    // the archived metadata above it is pruned (its files are deleted,
    // so leaving it would poison later gap replays) and reads stay exact
    val archivedTarget = commits(3) // commit 4, inside the archive
    assert(tbl.timeline.archivedTimes().contains(archivedTarget))
    svc.restoreTo(archivedTarget)
    assertSameRows(
      r.dataOnly(r.snapshot()).select(orders.columns.map(col): _*),
      orders.filter(col("o_orderkey") % 8 >= 1 && col("o_orderkey") % 8 <= 4),
      "restore onto an archived instant must land on its exact state")
    assert(tbl.timeline.archivedTimes().forall(_ <= archivedTarget),
      "archived metadata above the restore target must be pruned")
    // the service spine stays green on the deep-restored table
    tbl.upsert(orders.filter(col("o_orderkey") % 8 === 5))
    assert(svc.checkpoint().nonEmpty)
    assert(r.dataOnly(r.snapshot()).count() > 0, "restored table reads back")
    // an incremental consumer pinned AT the restore target sees only the
    // post-restore commit: the pruned history must not leak back into
    // the boundary-spanning range read
    assertSameRows(
      r.incremental(archivedTarget).select(orders.columns.map(col): _*),
      orders.filter(col("o_orderkey") % 8 === 5),
      "incremental from the restore target must span only surviving history")
  }

  test("rollback re-mints a covering checkpoint when it drops the only one " +
      "covering the archive") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val svc = TableServices(tbl)
    (1 to 8).foreach(i => tbl.upsert(orders.filter(col("o_orderkey") % 8 === i % 8)))
    assert(svc.archive(keepMin = 2, keepMax = 3).nonEmpty)
    val am = tbl.timeline.archivedTimes().last
    val active = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action)).map(_.time)
    assert(Checkpoint.times(tbl.timeline) == Seq(active.last),
      "precondition: the archive-boundary checkpoint is the ONLY one")
    // rolling back the latest commit drops that checkpoint; the archived
    // window (through am) would be covered by NOTHING — before the fix,
    // latest resolution either silently missed the archived commits (an
    // older checkpoint surviving) or threw forever (none surviving: a
    // bricked table). The rollback must re-mint a covering checkpoint at
    // the post-rollback state from the archived metadata itself.
    svc.rollback(active.last)
    val cps = Checkpoint.times(tbl.timeline)
    assert(cps.exists(t => t >= am && t < active.last),
      s"a surviving checkpoint must cover the archive boundary $am: $cps")
    val r = GraftReader(tbl)
    // exactness: batch 8 (keys % 8 == 0) rolled back, batches 1..7 intact
    // INCLUDING the archived ones — a silent archived miss would drop them
    assertSameRows(
      r.dataOnly(r.snapshot()).select(orders.columns.map(col): _*),
      orders.filter(col("o_orderkey") % 8 =!= 0),
      "post-rollback state must replay the archived window")
    // time travel at the re-minted stamp and the service spine stay green
    assert(Snapshot.resolve(tbl.timeline, Some(cps.last)).slices.nonEmpty)
    tbl.upsert(orders.filter(col("o_orderkey") % 8 === 0))
    assert(svc.checkpoint().nonEmpty, "checkpointing resumes after recovery")
  }

  test("partition TTL guards: non-partitioned and unpadded-numeric layouts refuse") {
    import spark.implicits._
    // non-partitioned table: its single sentinel partition ("") sorts
    // below any cutoff — the verb must refuse, not drop the whole table
    val flat = GraftTable.create(spark, tmp(), TableConfig(
      name = "flat", tableType = TableType.COW, keyFields = Seq("id")))
    flat.bulkInsert(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val e1 = intercept[IllegalArgumentException] {
      TableServices(flat).partitionTtlCandidates("zzz")
    }
    assert(e1.getMessage.contains("non-partitioned"))
    val r = GraftReader(flat)
    assert(r.dataOnly(r.snapshot()).count() == 2, "nothing was dropped")

    // unpadded numeric partitions: "10" < "9" as strings — a
    // lexicographic cutoff would drop the wrong partitions; refuse
    val hours = GraftTable.create(spark, tmp(), TableConfig(
      name = "hrs", tableType = TableType.COW, keyFields = Seq("id"),
      partitionFields = Seq("hour")))
    hours.bulkInsert(Seq((1L, "9"), (2L, "10"), (3L, "11"))
      .toDF("id", "hour"))
    val e2 = intercept[IllegalArgumentException] {
      TableServices(hours).partitionTtlCandidates("10")
    }
    assert(e2.getMessage.contains("zero-pad"))
    // zero-padded values sort consistently and pass the guard
    val padded = GraftTable.create(spark, tmp(), TableConfig(
      name = "pad", tableType = TableType.COW, keyFields = Seq("id"),
      partitionFields = Seq("hour")))
    padded.bulkInsert(Seq((1L, "09"), (2L, "10"), (3L, "11"))
      .toDF("id", "hour"))
    assert(TableServices(padded).partitionTtlCandidates("10") == Seq("09"))
  }

  test("duration TTL (EXPIRE OLDER THAN n DAYS) reads date partitions; " +
      "non-date layouts refuse") {
    import spark.implicits._
    val tbl = GraftTable.create(spark, tmp(), TableConfig(
      name = "dated", tableType = TableType.COW, keyFields = Seq("id"),
      partitionFields = Seq("dt")))
    tbl.bulkInsert(Seq(
      (1L, "2020-01-05"), (2L, "2020-02-01"), (3L, "2026-01-01"),
      (4L, "2099-01-01")).toDF("id", "dt"))
    val svc = TableServices(tbl)
    // pinned `today` makes the arithmetic itself deterministic
    val today = java.time.LocalDate.parse("2026-08-16")
    assert(svc.partitionTtlOlderThanDaysCandidates(365, today) ==
      Seq("2020-01-05", "2020-02-01"))
    assert(svc.partitionTtlOlderThanDaysCandidates(0, today) ==
      Seq("2020-01-05", "2020-02-01", "2026-01-01"))
    val res = svc.partitionTtlOlderThanDays(365, today)
    assert(res.map(_._2) == Some(Seq("2020-01-05", "2020-02-01")))
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).select("dt").distinct()
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("2026-01-01", "2099-01-01"))
    // the SQL verb (wall-clock today; fixture dates are decades away
    // from the boundary so the assertion is stable)
    val viaSql = graft.sql.GraftSql.sql(spark,
      s"RUN TTL ON '${tbl.basePath}' EXPIRE OLDER THAN 365 DAYS DRY RUN")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql.isEmpty, "already dropped — dry run sees nothing old")
    // a layout without ISO dates refuses the duration form
    val prio = GraftTable.create(spark, tmp(), cfg(TableType.COW))
    prio.bulkInsert(orders)
    val e = intercept[IllegalArgumentException] {
      TableServices(prio).partitionTtlOlderThanDaysCandidates(30, today)
    }
    assert(e.getMessage.contains("date-formatted"))
  }

  override def afterAll(): Unit = spark.stop()
}
