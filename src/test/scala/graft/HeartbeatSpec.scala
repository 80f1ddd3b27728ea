package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.GraftTable

/** Failed-write cleanup: writer heartbeats + the eager (no occ) and lazy
  * (occ) rollback policies (reference analogs: HoodieHeartbeatClient.java:50,226,
  * hoodie.cleaner.policy.failed.writes HoodieCompactionConfig.java:214,
  * rollbackFailedWrites AbstractHoodieWriteClient.java:916-976). */
class HeartbeatSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("graft-hb").toString

  /** Cleanup is eager without `occ` and lazy (heartbeat-gated) with it. */
  def cfg(occ: Boolean = false, ttlMs: Long = 0L): TableConfig = TableConfig(
    name = "t", tableType = TableType.COW, keyFields = Seq("id"),
    orderingField = "ts", targetFileRows = 1000, occ = occ,
    heartbeatTtlMs = ttlMs)

  def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
  }

  def state(tbl: GraftTable): Seq[Long] = {
    import spark.implicits._
    val r = GraftReader(tbl)
    r.dataOnly(r.snapshot()).select("id").as[Long].collect().sorted.toSeq
  }

  private def touchFile(tbl: GraftTable, p: Path, bytes: String): Unit = {
    val fs = tbl.timeline.fileSystem
    val out = fs.create(p, true)
    out.write(bytes.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  /** Plant a crashed write: pending inflight marker (dated `time`), one
    * orphan data file at its committed name, and the writer temp of a
    * file the crash cut mid-write (`.dead-1_<time>.parquet.tmp-7`,
    * GroupedFileWriter.write). Also the leftovers of a crash under an
    * older build: a `.graft/.tmp/<time>` staging tree and a put-profile
    * promote temp (`.dead-0_<time>.parquet.put1t1`). Returns (staged,
    * orphan) paths; the temps are [[crashTemps]]. */
  private def plantCrash(tbl: GraftTable, time: String): (Path, Path) = {
    val metaDir = tbl.timeline.metaDir
    touchFile(tbl, new Path(metaDir, s"$time.commit.inflight"), "{}")
    val staged = new Path(metaDir, s".tmp/$time/part-junk")
    touchFile(tbl, staged, "staged")
    val orphan = new Path(tbl.basePath, s"dead-0_$time.parquet")
    touchFile(tbl, orphan, "orphan")
    crashTemps(tbl, time).foreach(touchFile(tbl, _, "half-written"))
    (staged, orphan)
  }

  private def crashTemps(tbl: GraftTable, time: String): Seq[Path] = Seq(
    new Path(tbl.basePath, s".dead-1_$time.parquet.tmp-7"),
    new Path(tbl.basePath, s".dead-0_$time.parquet.put1t1"))

  test("eager policy rolls back a crashed write at the next write start") {
    val tbl = GraftTable.create(spark, tmp(), cfg()) // no OCC -> eager
    tbl.bulkInsert(rows(1, 2, 3))
    val (staged, orphan) = plantCrash(tbl, "19990101000000000")
    tbl.upsert(rows(4))
    val fs = tbl.timeline.fileSystem
    assert(tbl.timeline.instants().forall(_.isCompleted))
    assert(!fs.exists(staged) && !fs.exists(orphan))
    assert(!crashTemps(tbl, "19990101000000000").exists(fs.exists),
      "a crashed write's temps must be reaped with its instant")
    assert(tbl.timeline.completed().exists(i =>
      i.action == Action.Rollback &&
        tbl.timeline.metadataOf(i).extra.get("target").contains("19990101000000000")))
    assert(state(tbl) == Seq(1L, 2L, 3L, 4L))
  }

  test("rolling back a pending write deletes the files it left at committed names") {
    val tbl = GraftTable.create(spark, tmp(), cfg().copy(partitionFields = Seq("v")))
    tbl.bulkInsert(rows(1, 2, 3))
    val fs = tbl.timeline.fileSystem
    val crashT = "19990101000000000"
    val (staged, _) = plantCrash(tbl, crashT)
    // a crash mid-write leaves files in REAL partition dirs
    val partDir = fs.listStatus(new Path(tbl.basePath)).filter(_.isDirectory).map(_.getPath)
      .filterNot(_.getName == Timeline.MetaDir).head
    val inPart = Seq(new Path(partDir, s"deadbeef-0_$crashT.parquet"),
      new Path(partDir, s".deadbeef-1_$crashT.parquet.tmp-3"))
    inPart.foreach(touchFile(tbl, _, "orphan"))
    Heartbeat.touch(tbl.timeline, crashT)
    TableServices(tbl).rollback(crashT)
    def leftovers(d: Path): Seq[String] = fs.listStatus(d).toSeq.flatMap { st =>
      if (st.isDirectory) { if (st.getPath.getName == Timeline.MetaDir) Nil else leftovers(st.getPath) }
      else Seq(st.getPath.getName).filter(_.contains(s"_$crashT."))
    }
    assert(leftovers(new Path(tbl.basePath)).isEmpty && !inPart.exists(fs.exists),
      s"files of the rolled-back write survive: ${leftovers(new Path(tbl.basePath))}")
    assert(!crashTemps(tbl, crashT).exists(fs.exists) && !fs.exists(staged))
    assert(!fs.exists(Heartbeat.path(tbl.timeline, crashT)), "its heartbeat goes too")
    assert(tbl.timeline.instants().forall(_.isCompleted))
    assert(state(tbl) == Seq(1L, 2L, 3L))
  }

  /** Rewrite table.json with `fields` (raw JSON members) prepended, as a
    * table written by an older build carries them (through the
    * filesystem, so its checksum stays valid). */
  private def injectConfig(tbl: GraftTable, fields: String): Unit = {
    val fs = tbl.timeline.fileSystem
    val conf = new Path(tbl.timeline.metaDir, Timeline.ConfigFile)
    val json = { val in = fs.open(conf); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
    assert(json.startsWith("{"))
    val out = fs.create(conf, true)
    try out.write(("{" + fields + "," + json.drop(1)).getBytes("UTF-8")) finally out.close()
  }

  test("a table.json that still carries failedWritesPolicy and bloomFpp loads, and cleanup follows occ") {
    // "none" once switched cleanup off; a stored value is now ignored:
    // eager without occ, lazy (heartbeat-gated) with it
    Seq(false, true).foreach { occ =>
      val dir = tmp()
      val created = GraftTable.create(spark, dir,
        cfg(occ = occ, ttlMs = 60000).copy(bloomIndex = true))
      created.bulkInsert(rows(1, 2))
      injectConfig(created, "\"failedWritesPolicy\":\"none\",\"bloomFpp\":0.5")
      val tbl = GraftTable.load(spark, dir)
      assert(tbl.config.occ == occ && tbl.config.bloomIndex)
      val crashT = "19990101000000000"
      val (staged, orphan) = plantCrash(tbl, crashT)
      val fs = tbl.timeline.fileSystem
      if (occ) {
        Heartbeat.touch(tbl.timeline, crashT) // a live writer's heartbeat
        tbl.upsert(rows(3))
        assert(fs.exists(orphan) && tbl.timeline.instants().exists(_.time == crashT),
          "lazy cleanup must spare a fresh heartbeat")
        val old = System.currentTimeMillis() - 600000L
        fs.setTimes(Heartbeat.path(tbl.timeline, crashT), old, old)
      }
      tbl.upsert(rows(4))
      assert(!fs.exists(staged) && !fs.exists(orphan),
        s"occ=$occ: the crashed write must be reaped despite the stored 'none'")
      assert(tbl.timeline.instants().forall(_.isCompleted))
      assert(state(tbl) == (if (occ) Seq(1L, 2L, 3L, 4L) else Seq(1L, 2L, 4L)))
    }
  }

  test("lazy policy spares a live writer's fresh heartbeat, reaps an expired one") {
    val tbl = GraftTable.create(spark, tmp(), cfg(occ = true, ttlMs = 60000))
    tbl.bulkInsert(rows(1))
    val crashT = "19990101000000000"
    plantCrash(tbl, crashT)
    Heartbeat.touch(tbl.timeline, crashT) // fresh heartbeat = live writer
    tbl.upsert(rows(2))
    assert(tbl.timeline.instants().exists(i => !i.isCompleted),
      "fresh heartbeat must protect the pending instant")
    // expire it: age the heartbeat file past the ttl
    val fs = tbl.timeline.fileSystem
    val hb = Heartbeat.path(tbl.timeline, crashT)
    val old = System.currentTimeMillis() - 120000
    fs.setTimes(hb, old, old)
    tbl.upsert(rows(3))
    assert(tbl.timeline.instants().forall(_.isCompleted),
      "expired heartbeat must be reaped")
    assert(state(tbl) == Seq(1L, 2L, 3L))
  }

  test("lazy policy spares a just-minted instant with no heartbeat yet") {
    val tbl = GraftTable.create(spark, tmp(), cfg(occ = true, ttlMs = 60000))
    tbl.bulkInsert(rows(1))
    // a peer writer mid-mint: instant file exists, heartbeat not yet —
    // the instant's own wall-clock age is inside the ttl, so it's spared
    val freshT = tbl.timeline.newInstantTime()
    touchFile(tbl, new Path(tbl.timeline.metaDir, s"$freshT.commit.inflight"), "{}")
    tbl.upsert(rows(2))
    assert(tbl.timeline.instants().exists(i => !i.isCompleted && i.time == freshT),
      "an instant younger than the ttl must never be presumed crashed")
  }

  test("scheduled compaction and clustering plans survive eager cleanup") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "t", tableType = TableType.MOR, keyFields = Seq("id"),
      orderingField = "ts", targetFileRows = 1000))
    tbl.bulkInsert(rows(1, 2, 3))
    tbl.upsert(rows(1))
    val svc = TableServices(tbl)
    val planT = svc.scheduleCompaction().get
    tbl.upsert(rows(4)) // eager cleanup runs here
    assert(svc.pendingCompactions() == Seq(planT),
      "a requested compaction plan is NOT a failed write")
    assert(svc.runScheduledCompaction(planT).isDefined)
  }

  test("a successful write leaves no heartbeat file behind") {
    val tbl = GraftTable.create(spark, tmp(), cfg())
    val t = tbl.bulkInsert(rows(1, 2))
    val fs = tbl.timeline.fileSystem
    assert(!fs.exists(Heartbeat.path(tbl.timeline, t)))
    val hbDir = new Path(tbl.timeline.metaDir, Timeline.HeartbeatDir)
    assert(!fs.exists(hbDir) || fs.listStatus(hbDir).isEmpty)
  }

  test("heartbeat expiry semantics: missing = expired, fresh = live") {
    val tbl = GraftTable.create(spark, tmp(), cfg())
    assert(Heartbeat.isExpired(tbl.timeline, "20000101000000000", 60000))
    Heartbeat.touch(tbl.timeline, "20000101000000000")
    assert(!Heartbeat.isExpired(tbl.timeline, "20000101000000000", 60000))
    assert(Heartbeat.ageMs(tbl.timeline, "20000101000000000").exists(_ >= 0))
    Heartbeat.delete(tbl.timeline, "20000101000000000")
    assert(Heartbeat.isExpired(tbl.timeline, "20000101000000000", 60000))
  }

  test("an aborted OCC loser's heartbeat is cleaned with its pending instant") {
    val tbl = GraftTable.create(spark, tmp(), cfg(occ = true))
    tbl.bulkInsert(rows(1, 2, 3))
    // two racing writers on the same file groups: the loser aborts and
    // must leave neither a pending instant nor a heartbeat file
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    (1 to 2).foreach { _ =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          barrier.await()
          try { tbl.upsert(rows(1, 2, 3)); () }
          catch { case _: ConcurrentWriteConflictException =>
            conflicts.incrementAndGet(); () }
        }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    val fs = tbl.timeline.fileSystem
    val hbDir = new Path(tbl.timeline.metaDir, Timeline.HeartbeatDir)
    assert(tbl.timeline.instants().forall(_.isCompleted))
    assert(!fs.exists(hbDir) || fs.listStatus(hbDir).isEmpty)
    assert(state(tbl) == Seq(1L, 2L, 3L))
  }

  test("a published commit with a stale inflight marker is never treated as failed") {
    val tbl = GraftTable.create(spark, tmp(), cfg()) // no occ -> eager
    tbl.bulkInsert(rows(1, 2, 3))
    val fs = tbl.timeline.fileSystem
    // simulate a crash INSIDE Timeline.complete on an OLD instant:
    // completed file written, inflight marker never deleted — plus a
    // data file carrying the instant suffix that cleanup must NOT touch
    val crashT = "19990101000000000"
    touchFile(tbl, new Path(tbl.timeline.metaDir, s"$crashT.commit"),
      """{"operation":"probe"}""")
    touchFile(tbl, new Path(tbl.timeline.metaDir, s"$crashT.commit.inflight"), "{}")
    val dataOfPublished = new Path(tbl.basePath, s"pub-0_$crashT.parquet")
    touchFile(tbl, dataOfPublished, "committed-bytes")
    tbl.upsert(rows(4))
    assert(fs.exists(dataOfPublished),
      "cleanup must never delete data files of a PUBLISHED instant")
    assert(tbl.timeline.completed().exists(i => i.time == crashT),
      "the published instant survives")
    assert(!tbl.timeline.completed().exists(i =>
      i.action == Action.Rollback &&
        tbl.timeline.metadataOf(i).extra.get("target").contains(crashT)),
      "no rollback may be recorded for a published instant")
    // the stale MARKER itself is swept (it would wedge writers that wait
    // on pending instants), because the instant is old and heartbeat-less
    assert(!fs.exists(new Path(tbl.timeline.metaDir, s"$crashT.commit.inflight")))
    assert(state(tbl) == Seq(1L, 2L, 3L, 4L))
  }

  test("an exception-aborted write stops refreshing its heartbeat and is reapable") {
    import spark.implicits._
    val tbl = GraftTable.create(spark, tmp(), cfg(occ = true, ttlMs = 60000))
    tbl.bulkInsert(rows(1))
    // a batch without the key column fails the write AFTER the instant
    // was minted; the guard must stop the heartbeat refresher so the
    // leaked instant can go stale like a crashed writer's
    intercept[Throwable] {
      tbl.upsert(Seq((9L, "x")).toDF("wrong", "v"))
    }
    val leaked = tbl.timeline.instants().filter(!_.isCompleted)
    assert(leaked.size == 1, s"expected one leaked pending instant: $leaked")
    val t = leaked.head.time
    assert(!Heartbeat.isTracked(tbl.timeline, t),
      "the guard must deregister the aborted write from the refresher")
    // age both the heartbeat file and nothing else; the leaked instant's
    // own age is fresh, so ALSO verify the age gate by waiting out...
    // instead: age the heartbeat and re-point the instant check through a
    // planted old instant equivalent — here the heartbeat file exists
    // (created at mint) so lazy reaping hinges on its mtime + instant age
    val fs = tbl.timeline.fileSystem
    val hb = Heartbeat.path(tbl.timeline, t)
    if (fs.exists(hb)) {
      val old = System.currentTimeMillis() - 600000
      fs.setTimes(hb, old, old)
    }
    // the instant itself was just minted, so the age gate still protects
    // it — cleanup must NOT reap yet
    tbl.upsert(rows(2))
    assert(tbl.timeline.instants().exists(i => !i.isCompleted && i.time == t),
      "age gate: a fresh instant is not reaped even with an aged heartbeat")
  }

  test("failed-write cleanup reaps .orc orphans on an ORC table") {
    val tbl = GraftTable.create(spark, tmp(), cfg().copy(baseFormat = "orc"))
    tbl.bulkInsert(rows(1L, 2L))
    val crashT = "19990101000000000"
    val metaDir = tbl.timeline.metaDir
    touchFile(tbl, new Path(metaDir, s"$crashT.commit.inflight"), "{}")
    val staged = new Path(metaDir, s".tmp/$crashT/part-junk")
    touchFile(tbl, staged, "staged")
    // orphans at BOTH final-name shapes the format can produce
    val orphanBase = new Path(tbl.basePath, s"dead-0_$crashT.orc")
    val orphanDelta = new Path(tbl.basePath, s"dead-1_$crashT.delta.orc")
    touchFile(tbl, orphanBase, "orphan")
    touchFile(tbl, orphanDelta, "orphan")
    tbl.upsert(rows(3L)) // startWrite triggers the eager cleanup
    val fs = tbl.timeline.fileSystem
    assert(!fs.exists(staged) && !fs.exists(orphanBase) && !fs.exists(orphanDelta),
      "crashed-write leftovers (.orc final names included) must be reaped")
    assert(state(tbl) == Seq(1L, 2L, 3L))
  }

  // a lazy-policy cleaner hammering rollbackFailedWrites WHILE a live
  // writer mints/writes/completes commit after commit (reference
  // contract: the LAZY policy + heartbeats exist precisely so cleanup is
  // safe next to in-flight writers, AbstractHoodieWriteClient.java:963).
  // The cleaner must reap ONLY the planted crashed write, never a live
  // one — under both storage profiles
  Seq(CommitStore.Rename, CommitStore.Put).foreach { store =>
    test(s"lazy cleaner racing a live writer reaps only the crashed instant ($store)") {
      val dir = tmp()
      val tbl = GraftTable.create(spark, dir,
        cfg(occ = true, ttlMs = 60000).copy(commitStore = store))
      tbl.bulkInsert(rows(1L, 2L, 3L, 4L, 5L))
      val crashT = "19990101000000000"
      val (staged, orphan) = plantCrash(tbl, crashT)

      // the cleaner runs through its OWN handle (a second process in
      // production; the timeline lock is what coordinates them)
      val svc = TableServices(GraftTable.load(spark, dir))
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val reaped = new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)
      val cleanerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val cleaner = new Thread(() => {
        try while (!stop.get()) {
          val r = svc.rollbackFailedWrites()
          if (r.nonEmpty) reaped.updateAndGet(_ ++ r)
          Thread.sleep(5)
        } catch { case e: Throwable => cleanerErr.set(e) }
      }, "race-cleaner")
      cleaner.start()
      try (6L to 15L).foreach(i => tbl.upsert(rows(i)))
      finally { stop.set(true); cleaner.join(30000) }

      assert(cleanerErr.get() == null,
        s"cleaner must never throw next to a live writer: ${cleanerErr.get()}")
      assert(reaped.get().distinct == Seq(crashT),
        s"cleaner must reap exactly the crashed instant: ${reaped.get()}")
      val fs = tbl.timeline.fileSystem
      assert(!fs.exists(staged) && !fs.exists(orphan))
      assert(tbl.timeline.instants().forall(_.isCompleted),
        "every live write must have published")
      assert(state(tbl) == (1L to 15L))
    }
  }
}
