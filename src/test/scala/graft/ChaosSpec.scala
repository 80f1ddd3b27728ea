package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.GraftTable

object ChaosSpec {
  /** Chaos-table row (top-level so Spark derives an Encoder without an
    * outer-class reference). */
  case class Doc(id: Long, v: String, ts: Long, p: String)

  /** Logical effect of one write batch on the shadow model. */
  sealed trait Effect
  case class UpsertRows(rows: Seq[Doc]) extends Effect
  case class DeleteIds(ids: Seq[Long]) extends Effect
  case class OverwriteParts(parts: Set[String], rows: Seq[Doc]) extends Effect
  case class DropParts(parts: Seq[String]) extends Effect
}

/** Long-horizon seeded chaos suite (reference analog: the
  * hudi-integ-test YAML-DAG framework —
  * hudi-integ-test/src/main/java/org/apache/hudi/integ/testsuite/ with
  * unit-test-cow-dag.yaml / unit-test-mor-dag.yaml — which composes long
  * randomized operation sequences with validation nodes). One seeded run
  * per matrix leg composes 110-250+ mixed operations:
  *
  *  - writes: upsert / delete / insert_overwrite / delete_partition
  *  - services: compaction (MOR) / clustering (COW) / clean / archive /
  *    checkpoint / partition TTL
  *  - time travel the write path: savepoint → rollback → restore
  *  - a CONCURRENT second writer under OCC (tagged batches; the shadow
  *    is folded from the timeline's own serialization order afterwards)
  *    — on leg 1 under a REAL out-of-process ZooKeeper lock
  *  - fault injection (kill legs): a commit killed at the driver commit
  *    point (after the conflict check, before the completing write) AND
  *    a write job killed mid-job after K of N files landed at their
  *    committed names; both recovered by the heartbeat-driven
  *    failed-write reaper, with the committed-name orphan census
  *    asserted empty afterwards
  *
  * against a driver-side SHADOW MODEL (a plain Map folded with plain
  * Scala — no engine code), asserted equal to a full snapshot read after
  * every service and every few writes. The serialization-order fold is
  * sound because OCC guarantees conflicting commits serialize: the
  * timeline order is the order the engine CLAIMS, and the assert checks
  * the DATA matches that claim.
  */
class ChaosSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ChaosSpec._

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  // one embedded ZooKeeper shared by the zk-locked leg (started lazily:
  // the other legs never pay for it)
  private var zkServer: Option[(String, () => Unit)] = None
  private def zkConnect(): String = synchronized {
    zkServer.getOrElse {
      val s = EmbeddedZk.start(); zkServer = Some(s); s
    }._1
  }

  // the write-job kill goes through a JVM-wide writer seam; reset it
  // after every test, whatever the outcome
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally org.apache.spark.sql.graft.GroupedFileWriter.onFileLanded = _ => ()

  override def afterAll(): Unit = {
    spark.stop()
    zkServer.foreach { case (c, stop) =>
      ZkLockProvider.closeCached(c); stop()
    }
  }

  private def partOf(id: Long): String = s"p${id % 5}"

  private def df(rows: Seq[Doc]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF()
  }

  private type Shadow = Map[Long, Doc]

  private def fold(shadow: Shadow, e: Effect): Shadow = e match {
    case UpsertRows(rows) => shadow ++ rows.map(r => r.id -> r)
    case DeleteIds(ids)   => shadow -- ids
    case OverwriteParts(parts, rows) =>
      shadow.filterNot { case (_, d) => parts(d.p) } ++ rows.map(r => r.id -> r)
    case DropParts(parts) =>
      shadow.filterNot { case (_, d) => parts.contains(d.p) }
  }

  private def assertState(tbl: GraftTable, shadow: Shadow, hint: String): Unit = {
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot()).select("id", "v", "ts", "p").collect()
      .map(x => Doc(x.getLong(0), x.getString(1), x.getLong(2), x.getString(3)))
      .toSet
    val want = shadow.values.toSet
    assert(got == want,
      s"$hint: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)} " +
        s"(got=${got.size}, want=${want.size})")
  }

  /** Draw n distinct ids from [0, 400). */
  private def drawIds(rng: scala.util.Random, n: Int): Seq[Long] =
    Seq.fill(n + 8)(rng.nextInt(400).toLong).distinct.take(n)

  // The matrix spans both table types, both commit stores, both base
  // formats, a REAL out-of-process lock (embedded ZooKeeper, leg 1), the
  // MOR × Put corner (leg 3), and — on the two kill legs — crash
  // injection into the commit point and into the write job itself,
  // under both stores.
  // Leg 3 skips the kill phase (and with it the unavoidable 60 s
  // heartbeat-TTL wait) — its job is the write/compaction/OCC surface of
  // the remaining matrix corner, not crash recovery.
  for (((tt, store, format, lockKey, kills, aSteps), legIdx) <- Seq(
         (TableType.MOR, CommitStore.Rename, "orc", "zk", true, 90),
         (TableType.COW, CommitStore.Put, "parquet", "inprocess", true, 90),
         (TableType.MOR, CommitStore.Put, "parquet", "inprocess", false, 60))
         .zipWithIndex)
  test(s"seeded chaos [$tt/$store/$format/$lockKey" +
      s"${if (kills) "/kills" else ""}]: long horizon + " +
      "concurrent OCC writer match the shadow model throughout") {
    val seed = 20260816L + legIdx
    val rng = new scala.util.Random(seed)
    val dir = Files.createTempDirectory(s"graft-chaos").toString
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "chaos", tableType = tt, keyFields = Seq("id"),
      partitionFields = Seq("p"), orderingField = "", occ = true,
      commitStore = store,
      lockProvider = if (lockKey == "zk") s"zk:${zkConnect()}" else "inprocess",
      heartbeatTtlMs = 60000, targetFileRows = 200, baseFormat = format))
    val svc = TableServices(tbl)
    val fs = tbl.timeline.fileSystem
    var shadow: Shadow = Map.empty
    var batchId = 0L
    val opsRun = new java.util.concurrent.atomic.AtomicLong(0L)
    def nextBatch(): Long = { batchId += 1; batchId }

    def doUpsert(): Unit = {
      opsRun.incrementAndGet()
      val bid = nextBatch()
      val rows = drawIds(rng, 5 + rng.nextInt(25))
        .map(i => Doc(i, s"b$bid", bid, partOf(i)))
      tbl.upsert(df(rows))
      shadow = fold(shadow, UpsertRows(rows))
    }
    def doDelete(): Unit = {
      opsRun.incrementAndGet()
      val ids = drawIds(rng, 3 + rng.nextInt(12))
      tbl.delete(df(ids.map(i => Doc(i, "", 0L, partOf(i)))).select("id", "p"))
      shadow = fold(shadow, DeleteIds(ids))
    }
    def doOverwrite(): Unit = {
      opsRun.incrementAndGet()
      val bid = nextBatch()
      val pi = rng.nextInt(5)
      val rows = Seq.fill(20)(rng.nextInt(80).toLong * 5 + pi).distinct
        .map(i => Doc(i, s"o$bid", bid, partOf(i)))
      tbl.insertOverwrite(df(rows))
      shadow = fold(shadow, OverwriteParts(Set(s"p$pi"), rows))
    }
    def doDropPartition(): Unit = {
      val live = shadow.values.map(_.p).toSeq.distinct.sorted
      if (live.nonEmpty) {
        opsRun.incrementAndGet()
        val part = live(rng.nextInt(live.size))
        tbl.deletePartitions(Seq(part))
        shadow = fold(shadow, DropParts(Seq(part)))
      }
    }
    def rewriteService(): Unit = {
      opsRun.incrementAndGet()
      if (tt == TableType.MOR) svc.compact() else svc.cluster(Seq("id"))
    }
    /** Table services count toward the composed-horizon budget too (the
      * reference DAG framework's validation nodes are ops in the run). */
    def serviceOp(body: => Unit): Unit = { opsRun.incrementAndGet(); body }

    // ---- seed load --------------------------------------------------------
    val seedRows = (0L until 300L).map(i => Doc(i, "seed", 0L, partOf(i)))
    tbl.bulkInsert(df(seedRows))
    shadow = fold(shadow, UpsertRows(seedRows))
    assertState(tbl, shadow, "after seed load")

    // ---- phase A: single-writer steps over the full op mix ----------------
    for (step <- 1 to aSteps) {
      val roll = rng.nextInt(100)
      if (roll < 40) doUpsert()
      else if (roll < 55) doDelete()
      else if (roll < 63) doOverwrite()
      else if (roll < 68) doDropPartition()
      else if (roll < 76) { rewriteService(); assertState(tbl, shadow, s"A$step rewrite") }
      else if (roll < 83) { serviceOp(svc.clean(8)); assertState(tbl, shadow, s"A$step clean") }
      else if (roll < 90) { serviceOp(svc.checkpoint()); assertState(tbl, shadow, s"A$step checkpoint") }
      else if (roll < 95) { serviceOp(svc.archive(15, 25)); assertState(tbl, shadow, s"A$step archive") }
      else doUpsert()
      if (step % 10 == 0) assertState(tbl, shadow, s"A$step")
    }
    assertState(tbl, shadow, "end of phase A")

    // ---- phase B: concurrent OCC writer; shadow folded from the -----------
    //      timeline's serialization order afterwards. Both writers update
    //      only EXISTING keys: concurrent inserts of the SAME brand-new key
    //      land in distinct file groups and are invisible to file-level OCC
    //      (the same contract as the reference) — not the race under test.
    val existing = shadow.keys.toVector.sorted
    val ledger = new java.util.concurrent.ConcurrentHashMap[Long, Effect]()
    val bidGen = new java.util.concurrent.atomic.AtomicLong(1000L)
    def taggedWrite(t: GraftTable, r: scala.util.Random, deletes: Boolean): Unit = {
      opsRun.incrementAndGet()
      val bid = bidGen.getAndIncrement()
      val ids = Seq.fill(12)(existing(r.nextInt(existing.size))).distinct
      try {
        if (deletes) {
          ledger.put(bid, DeleteIds(ids))
          t.delete(df(ids.map(i => Doc(i, "", 0L, partOf(i)))).select("id", "p"),
            extra = Map("chaosBatch" -> bid.toString))
        } else {
          val rows = ids.map(i => Doc(i, s"c$bid", bid, partOf(i)))
          ledger.put(bid, UpsertRows(rows))
          t.upsert(df(rows), extra = Map("chaosBatch" -> bid.toString))
        }
      } catch {
        // an aborted batch never reaches the timeline — the fold skips it
        case _: ConcurrentWriteConflictException => ()
        case _: ClusteringConflictException      => ()
        case _: LockSessionLostException         => ()
      }
    }
    val wErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writer = new Thread(() => {
      try {
        val wrng = new scala.util.Random(seed + 7777)
        val peer = GraftTable.load(spark, dir)
        for (_ <- 1 to 18) {
          taggedWrite(peer, wrng, deletes = false)
          Thread.sleep(wrng.nextInt(40).toLong)
        }
      } catch { case e: Throwable => wErrs.add(e) }
    }, "chaos-writer")
    writer.start()
    for (step <- 1 to 24) {
      if (step % 8 == 0) {
        // services racing live writers: a schedule that keeps losing the
        // race gives up loudly by contract — acceptable here, retry next
        try rewriteService()
        catch { case _: IllegalStateException => () }
      } else if (step % 5 == 0) serviceOp(svc.checkpoint())
      else taggedWrite(tbl, rng, deletes = rng.nextInt(10) < 3)
    }
    writer.join(300000)
    assert(!writer.isAlive, "concurrent writer must finish")
    assert(wErrs.isEmpty, s"concurrent writer died: ${Option(wErrs.peek())}")
    // fold the tagged batches in the timeline's serialization order
    val taggedEffects = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action))
      .sortBy(i => (i.time, i.action))
      .flatMap(i => Option(tbl.timeline.metadataOf(i).extra.getOrElse("chaosBatch", null))
        .map(_.toLong).flatMap(b => Option(ledger.get(b))))
    assert(taggedEffects.nonEmpty, "phase B must land tagged batches")
    shadow = taggedEffects.foldLeft(shadow)(fold)
    assertState(tbl, shadow, "end of phase B (timeline-order fold)")

    // ---- phase B2: the CDC consistency TRIANGLE over a purge-free -------
    //      concurrent window. Constraints learned from the engine's own
    //      contracts: (1) compaction/clustering PURGE tombstone markers,
    //      so a CDC window crossing a purge loses D rows by design —
    //      this window runs writes only; (2) checkpoint rotation keeps
    //      the newest 3 generations, so the begin instant must not be
    //      older than the newest checkpoint — true here because B2
    //      mints no checkpoints after its start.
    val shadowAtB2 = shadow
    val b2Start = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action)).last.time
    val w2Errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val writer2 = new Thread(() => {
      try {
        val wrng = new scala.util.Random(seed + 8888)
        val peer = GraftTable.load(spark, dir)
        for (_ <- 1 to 8) taggedWrite(peer, wrng, deletes = false)
      } catch { case e: Throwable => w2Errs.add(e) }
    }, "chaos-writer2")
    writer2.start()
    for (_ <- 1 to 8) taggedWrite(tbl, rng, deletes = rng.nextInt(10) < 4)
    writer2.join(300000)
    assert(!writer2.isAlive && w2Errs.isEmpty, s"writer2 died: ${Option(w2Errs.peek())}")
    val b2Effects = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action) && i.time > b2Start)
      .sortBy(i => (i.time, i.action))
      .flatMap(i => Option(tbl.timeline.metadataOf(i).extra.getOrElse("chaosBatch", null))
        .map(_.toLong).flatMap(b => Option(ledger.get(b))))
    shadow = b2Effects.foldLeft(shadow)(fold)
    assertState(tbl, shadow, "end of phase B2 (timeline-order fold)")
    // third side of the triangle: a CDC consumer replaying the window's
    // one-row-per-changed-key I/U/D view over the window-start state
    // must land on the same shadow the fold (and the snapshot) claim
    val cdcShadow = GraftReader(tbl).incrementalCdc(b2Start)
      .select("id", "v", "ts", "p", "_g_operation").collect()
      .foldLeft(shadowAtB2) { (acc, r) =>
        if (r.getString(4) == "D") acc - r.getLong(0)
        else acc + (r.getLong(0) ->
          Doc(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      }
    assert(cdcShadow == shadow,
      s"CDC replay of phase B2 must reconstruct the folded shadow: " +
        s"extra=${(cdcShadow.keySet -- shadow.keySet).take(5)} " +
        s"missing=${(shadow.keySet -- cdcShadow.keySet).take(5)}")

    // ---- phase C: crash injection + heartbeat recovery --------------------
    // two kill flavors, both leaving files at COMMITTED names with no
    // completed instant:
    //  C1. the driver commit point — after the OCC conflict check,
    //      before the completing write (every file landed)
    //  C2. the write job mid-job — a task crashes after K of N files
    //      landed at their committed names (the messiest real-world
    //      wreckage: part of the commit's files written, the rest never
    //      started or cut mid-file, a dead driver)
    if (kills) {
      val killedInstants = scala.collection.mutable.ArrayBuffer.empty[String]
      // the crashed writer's heartbeat stops refreshing; age the file so
      // the reaper's heartbeat gate opens (the instant-age gate still
      // holds recovery until the instant itself is ttl old)
      def ageKilledHeartbeat(): Unit = {
        val pend = tbl.timeline.instants().filterNot(_.isCompleted).map(_.time).max
        killedInstants += pend
        val hb = Heartbeat.path(tbl.timeline, pend)
        if (fs.exists(hb)) {
          val old = System.currentTimeMillis() - 600000L
          fs.setTimes(hb, old, old)
        }
      }
      def causeChain(t: Throwable): Boolean =
        t != null && (Option(t.getMessage).exists(_.contains("chaos-kill")) ||
          causeChain(t.getCause))
      /** Committed-name data files stamped with a killed instant,
        * anywhere under the table tree (the wreckage census). */
      def orphansOf(times: Seq[String]): Seq[String] = {
        def walk(d: org.apache.hadoop.fs.Path): Seq[String] = {
          val es = try fs.listStatus(d).toSeq
            catch { case _: java.io.FileNotFoundException => Nil }
          es.flatMap { st =>
            if (st.isDirectory) {
              if (st.getPath.getName == Timeline.MetaDir) Nil else walk(st.getPath)
            } else Seq(st.getPath.getName)
          }
        }
        walk(new org.apache.hadoop.fs.Path(dir))
          .filter(n => times.exists(t => n.contains(s"_$t.")))
      }

      // C1: driver commit-point kill
      tbl.onBeforeComplete = () => throw new RuntimeException("chaos-kill")
      val rows1 = drawIds(rng, 10).map(i => Doc(i, "k1", 9001L, partOf(i)))
      val killed1 = try { tbl.upsert(df(rows1)); false }
        catch { case e: RuntimeException if e.getMessage == "chaos-kill" => true }
      tbl.onBeforeComplete = () => ()
      assert(killed1, "the injected driver kill must fire")
      ageKilledHeartbeat()

      // C2: write-job kill after 3 files landed (>= 5 file groups
      // written across the 5 partitions, so 3 < N)
      val landed = new java.util.concurrent.atomic.AtomicInteger(0)
      org.apache.spark.sql.graft.GroupedFileWriter.onFileLanded = _ =>
        if (landed.incrementAndGet() == 3)
          throw new RuntimeException("chaos-kill-write")
      val rows2 = drawIds(rng, 25).map(i => Doc(i, "k2", 9002L, partOf(i)))
      val killed2 = try { tbl.upsert(df(rows2)); false }
        catch { case scala.util.control.NonFatal(e) =>
          assert(causeChain(e), s"unexpected write failure: $e"); true }
      org.apache.spark.sql.graft.GroupedFileWriter.onFileLanded = _ => ()
      assert(killed2 && landed.get >= 3,
        s"the write-job kill must fire after >=3 files (landed ${landed.get})")
      ageKilledHeartbeat()
      assert(orphansOf(Seq(killedInstants.last)).nonEmpty,
        "the write-job kill must leave partial files at COMMITTED names")

      val killWall = System.currentTimeMillis()
      assert(tbl.timeline.instants().exists(i => !i.isCompleted),
        "killed writes must leave pending instants")
      // killed effects were never applied to the shadow; the table must
      // agree even while the pending wreckage is still on the timeline
      assertState(tbl, shadow, "after kills (wreckage pending)")

      // heavy single-writer traffic with the wreckage in place (no
      // compaction/clustering: their schedule guard by design waits out
      // pending writers, which is exactly what a crashed writer never
      // does). The failed-write TTL already forces a >=60 s wait, so
      // this horizon is wall-clock-free — it rides inside the wait.
      for (step <- 1 to 56) {
        val roll = rng.nextInt(100)
        if (roll < 55) doUpsert()
        else if (roll < 75) doDelete()
        else if (roll < 83) doOverwrite()
        else if (roll < 91) serviceOp(svc.clean(8))
        else serviceOp(svc.checkpoint())
        if (step % 8 == 0) assertState(tbl, shadow, s"C$step")
      }
      assertState(tbl, shadow, "end of phase C traffic (wreckage pending)")

      // wait out the failed-write ttl (heartbeatTtlMs floor: the reaper
      // refuses to presume a YOUNG instant crashed), then any write reaps
      val ttlMs = 62000L
      val waitMs = killWall + ttlMs - System.currentTimeMillis()
      if (waitMs > 0) Thread.sleep(waitMs)
      doUpsert()
      assert(tbl.timeline.instants().forall(_.isCompleted),
        "the heartbeat reaper must recover both killed writes")
      assert(tbl.timeline.completed().count(i => i.action == Action.Rollback &&
          tbl.timeline.metadataOf(i).extra.get("reason").contains("failed_write")) >= 2,
        "recovery must be audited as failed-write rollbacks")
      assert(orphansOf(killedInstants.toSeq).isEmpty,
        "the reaper must reclaim every committed-name orphan of both kills: " +
          orphansOf(killedInstants.toSeq).take(5).toString)
      assertState(tbl, shadow, "after crash recovery")
    }

    // ---- phase D: savepoint → rollback → restore → TTL --------------------
    val spTarget = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action)).last.time
    svc.savepoint(spTarget)
    val shadowAtSp = shadow
    for (_ <- 1 to 3) doUpsert()
    val beforeLast = shadow
    doUpsert()
    val lastT = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action)).last.time
    svc.rollback(lastT)
    shadow = beforeLast
    assertState(tbl, shadow, "after rollback of the latest commit")
    svc.restoreTo(spTarget)
    shadow = shadowAtSp
    assertState(tbl, shadow, "after restore to the savepoint")
    svc.deleteSavepoint(spTarget)

    val dropped = svc.partitionTtl("p2").map(_._2).getOrElse(Nil)
    assert(dropped == shadow.values.map(_.p).toSeq.distinct.filter(_ < "p2").sorted,
      "TTL must drop exactly the shadow's live partitions below the cutoff")
    shadow = fold(shadow, DropParts(dropped))
    assertState(tbl, shadow, "after partition TTL")

    // capture a historical (instant, shadow) pair: phase E archives this
    // instant away and asserts time travel into the archived gap still
    // reproduces it exactly. Safe w.r.t. cleaning: clean(8) runs once
    // below and at most ~6 newer versions land per group, so the
    // version live here stays within the retention window.
    val histT = tbl.timeline.completed()
      .filter(i => Action.dataActions(i.action)).last.time
    val histShadow = shadow

    // repopulate and close out with every service green over the final state
    for (_ <- 1 to 4) doUpsert()
    rewriteService()
    assertState(tbl, shadow, "final rewrite service")
    serviceOp(svc.clean(8))
    serviceOp(svc.archive(15, 25))
    serviceOp(svc.checkpoint())
    assertState(tbl, shadow, "final state after clean + archive + checkpoint")

    // ---- phase E: time travel into the archived gap -----------------------
    serviceOp(svc.archive(2, 4))
    assert(tbl.timeline.archivedTimes().contains(histT),
      "the captured instant must be archived by the aggressive archive")
    val rE = GraftReader(tbl)
    val gotE = rE.dataOnly(rE.snapshot(asOf = Some(histT)))
      .select("id", "v", "ts", "p").collect()
      .map(x => Doc(x.getLong(0), x.getString(1), x.getLong(2), x.getString(3)))
      .toSet
    val wantE = histShadow.values.toSet
    assert(gotE == wantE,
      s"archived-gap time travel: extra=${(gotE -- wantE).take(5)} " +
        s"missing=${(wantE -- gotE).take(5)} (got=${gotE.size}, want=${wantE.size})")
    assertState(tbl, shadow, "latest reads unaffected by the gap replay")
    val minOps = if (kills) 200 else 110
    assert(opsRun.get() >= minOps,
      s"the run must compose a long horizon (>= $minOps ops; ran ${opsRun.get()})")
  }
}
