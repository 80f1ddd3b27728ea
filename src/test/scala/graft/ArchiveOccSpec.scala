package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.GraftTable

class ArchiveOccSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  // shared in-process ZooKeeper server for the zk-provider profiles
  // (exclusion state lives outside every writer)
  lazy val zk: (String, () => Unit) = EmbeddedZk.start()
  def zkConnect: String = zk._1

  override def afterAll(): Unit = {
    spark.stop()
    ZkLockProvider.closeCached(zkConnect)
    zk._2()
  }

  def tmp(): String = Files.createTempDirectory("graft-arch").toString

  /** Event-driven wait: polls `cond` until true or the deadline (default
    * generous — the pass path returns in milliseconds; the deadline only
    * bounds a genuine failure on a loaded box). */
  def eventually(timeoutMs: Long = 30000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      ok = cond
    }
    ok
  }

  def cfg(occ: Boolean = false): TableConfig = TableConfig(
    name = "t", tableType = TableType.COW, keyFields = Seq("id"),
    orderingField = "ts", targetFileRows = 1000, occ = occ)

  def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
  }

  def state(tbl: GraftTable): Seq[Long] = {
    import spark.implicits._
    val r = GraftReader(tbl)
    r.dataOnly(r.snapshot()).select("id").as[Long].collect().sorted.toSeq
  }

  test("archive folds old instants into a checkpoint; snapshot unchanged") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg())
    tbl.bulkInsert(rows(1L, 2L))
    (3L to 9L).foreach(i => tbl.upsert(rows(i)))
    val before = state(tbl)
    val svc = TableServices(tbl)

    assert(svc.archive(keepMin = 3, keepMax = 5).isDefined)
    val active = tbl.timeline.completed()
    assert(active.size == 3)
    assert(tbl.timeline.archivedTimes().size == 5) // 8 total, keepMin=3
    assert(Checkpoint.times(tbl.timeline).size == 1)
    // snapshot resolution via checkpoint + active replay = identical state
    assert(state(tbl) == before)
    // incremental over the active range still works
    val r = GraftReader(tbl)
    assert(r.incremental(active.head.time).count() == 2)
    // below-threshold second archive is a no-op
    assert(svc.archive(keepMin = 3, keepMax = 5).isEmpty)
  }

  test("incremental read spans the archive boundary (begin archived)") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg())
    tbl.bulkInsert(rows(1L, 2L)) // c1
    val times = (3L to 9L).map(i => tbl.upsert(rows(i))) // c2..c8
    TableServices(tbl).archive(keepMin = 3, keepMax = 5) // c1..c5 archived
    val begin = times.head // c2 — now only in the archive
    assert(tbl.timeline.archivedTimes().contains(begin))
    val r = GraftReader(tbl)
    // change set of (c2, c8]: touched groups come from BOTH archived commit
    // metadata (c3..c5) and the active tail (c6..c8); per-row commit-time
    // filter drops records last written at or before `begin`
    val got = r.incremental(begin).select("id").as[Long].collect().sorted.toSeq
    assert(got == (4L to 9L))
    // begin = "" reads from the table's origin through the archive
    val all = r.incremental("").select("id").as[Long].collect().sorted.toSeq
    assert(all == (1L to 9L))
  }

  test("time travel to an archived instant replays the archive exactly") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg())
    val t1 = tbl.bulkInsert(rows(1L))
    (2L to 8L).foreach(i => tbl.upsert(rows(i)))
    TableServices(tbl).archive(keepMin = 2, keepMax = 4)
    assert(tbl.timeline.archivedTimes().contains(t1),
      "probe expects the first commit to be archived")
    // the as-of window predates every checkpoint: the resolve replays
    // the archived metadata from the archive dir and must land on the
    // exact historical state (only id 1 existed at t1). Files survive
    // because clean never ran — cleaning, not archiving, is the floor.
    import spark.implicits._
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot(asOf = Some(t1)))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L), s"archived-instant time travel must be exact: $got")
  }

  test("schema survives archiving every schema-bearing instant") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg())
    tbl.bulkInsert(rows(1L, 2L))
    (1 to 6).foreach(_ => tbl.delete(rows(99L))) // schema-less no-op commits... use deletes of absent keys
    TableServices(tbl).archive(keepMin = 2, keepMax = 4)
    // the only schemaJson-bearing commit (bulk_insert) is archived; the
    // checkpoint carries the schema
    val r = GraftReader(tbl)
    assert(r.snapshot().columns.contains("v"))
    assert(state(tbl) == Seq(1L, 2L))
  }

  test("savepointed instants never archive") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg())
    val t1 = tbl.bulkInsert(rows(1L))
    (2L to 9L).foreach(i => tbl.upsert(rows(i)))
    val svc = TableServices(tbl)
    svc.savepoint(t1)
    assert(svc.archive(keepMin = 2, keepMax = 4).isEmpty) // everything >= t1 protected
    assert(tbl.timeline.completed().exists(_.time == t1))
  }

  test("OCC: conflicting concurrent upserts -> second one aborts cleanly") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(occ = true))
    tbl.bulkInsert(rows(1L, 2L, 3L))

    // two writers plan against the same snapshot, then race the commit:
    // writer B completes first; writer A must detect the overlap.
    // We simulate A's stale planning by running B's full upsert while A
    // is "computing": A's upsert resolves its snapshot lazily at call
    // time, so interleave via threads with a handshake inside a listener
    // — simplest deterministic equivalent: run B fully, then run A from
    // a pre-raced table handle whose planned snapshot we control by
    // doing the plan-then-publish steps through the public API on a
    // COPY of the timeline state. Here we instead verify the guard
    // end-to-end with a true race: many concurrent writers on the SAME
    // key — exactly one must win per round, none may corrupt state.
    val threads = 4
    val results = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    (1 to threads).foreach { i =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try results.add(tbl.upsert(rows(1L)))
          catch {
            case _: ConcurrentWriteConflictException => () // expected loser
            case t: Throwable => errors.add(t)
          }
      })
    }
    pool.shutdown()
    pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)
    assert(errors.isEmpty, s"unexpected errors: ${errors.toArray.mkString(", ")}")
    assert(results.size >= 1, "at least one writer must win")
    // table state is consistent: the winning commits are serialized
    assert(state(tbl) == Seq(1L, 2L, 3L))
    // timeline has exactly bulk_insert + winners, no leftover inflight
    val pending = tbl.timeline.instants().filterNot(_.isCompleted)
    assert(pending.isEmpty, s"leftover pending: $pending")
  }

  test("OCC: disjoint-partition writers both succeed") {
    import spark.implicits._
    val dir = tmp()
    val c = cfg(occ = true).copy(partitionFields = Seq("p"))
    val tbl = GraftTable.create(spark, dir, c)
    tbl.bulkInsert(Seq((1L, "a", 1L, "p1"), (2L, "b", 1L, "p2")).toDF("id", "v", "ts", "p"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val fa = pool.submit(new Runnable {
      override def run(): Unit =
        try tbl.upsert(Seq((1L, "a2", 2L, "p1")).toDF("id", "v", "ts", "p"))
        catch { case t: Throwable => errors.add(t) }
    })
    val fb = pool.submit(new Runnable {
      override def run(): Unit =
        try tbl.upsert(Seq((2L, "b2", 2L, "p2")).toDF("id", "v", "ts", "p"))
        catch { case t: Throwable => errors.add(t) }
    })
    fa.get(); fb.get(); pool.shutdown()
    // disjoint file groups -> no conflict possible; both must land
    assert(errors.isEmpty, s"unexpected: ${errors.toArray.mkString(", ")}")
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot()).select("id", "v").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a2"), (2L, "b2")))
  }

  test("publishing the same instant twice fails loudly (cross-process guard)") {
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    val tl = new Timeline(dir, conf)
    tl.initTable(TableConfig(name = "dup", tableType = TableType.COW,
      keyFields = Seq("id")))
    tl.complete("20260101000000000", "commit", CommitMetadata("upsert"))
    // a second writer process minting the same instant must NOT silently
    // replace the first commit
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      tl.complete("20260101000000000", "commit", CommitMetadata("upsert"))
    }
    assert(tl.completed().map(_.time) == Seq("20260101000000000"))
  }

  // ---- CommitStore / LockProvider profiles ---------------------------------
  // the SAME lifecycle + conflict suite must hold under every storage
  // profile: rename (HDFS-like, the default), and the simulated
  // object-store profile (conditional-put instants, data moved by copy)
  // under each lock provider

  for ((store, lock) <- Seq(
      (CommitStore.Rename, TimelineLock.File),
      (CommitStore.Put, TimelineLock.File),
      (CommitStore.Put, TimelineLock.InProcess),
      // the REAL ZooKeeper provider against the in-process ZK server:
      // every commit store keeps an out-of-process lock leg ("zk"
      // resolves to the server's connect string inside pcfg)
      (CommitStore.Rename, "zk"),
      (CommitStore.Put, "zk"))) {

    def pcfg(occ: Boolean = false): TableConfig =
      cfg(occ).copy(commitStore = store,
        lockProvider = if (lock == "zk") s"zk:$zkConnect" else lock)

    test(s"[$store/$lock] MOR lifecycle + archive round-trips") {
      val tbl = GraftTable.create(spark, tmp(),
        pcfg().copy(tableType = TableType.MOR))
      tbl.bulkInsert(rows(1L to 20L: _*))
      (21L to 26L).foreach(i => tbl.upsert(rows(i)))
      tbl.delete(rows(5L, 6L))
      TableServices(tbl).compact()
      assert(TableServices(tbl).archive(keepMin = 3, keepMax = 5).isDefined)
      assert(state(tbl) == ((1L to 26L).filterNot(Set(5L, 6L))))
      // incremental across the archive boundary still exact
      val r = GraftReader(tbl)
      assert(r.incremental("").filter(!col(graft.write.Meta.Deleted))
        .count() == 24)
    }

    test(s"[$store/$lock] OCC: conflicting writers, exactly-once state") {
      val tbl = GraftTable.create(spark, tmp(), pcfg(occ = true))
      tbl.bulkInsert(rows(1L, 2L, 3L))
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      (1 to 4).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit =
            try { tbl.upsert(rows(1L)); wins.incrementAndGet(); () }
            catch {
              case _: ConcurrentWriteConflictException => ()
              case t: Throwable => errors.add(t); ()
            }
        })
      }
      pool.shutdown()
      assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(errors.isEmpty, s"unexpected: ${errors.toArray.mkString(", ")}")
      assert(wins.get() >= 1)
      assert(state(tbl) == Seq(1L, 2L, 3L))
      assert(tbl.timeline.instants().forall(_.isCompleted))
    }
  }

  test("moveFile is idempotent under task retry: completed move re-runs as a no-op") {
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    for (store <- Seq(CommitStore.Rename, CommitStore.Put)) {
      val src = new Path(dir, s"src-$store")
      val dest = new Path(dir, s"dest-$store")
      val out = fs.create(src, true); out.write("payload".getBytes); out.close()
      val cs = CommitStore.forName(store)
      cs.moveFile(fs, src, dest)
      assert(!fs.exists(src) && fs.exists(dest))
      // the retry re-executes the identical call after the move landed —
      // a distributed-publish task that died before REPORTING does this
      cs.moveFile(fs, src, dest)
      assert(fs.exists(dest) && fs.getFileStatus(dest).getLen == 7L)
      // but a move where NOTHING landed must still fail loudly (the
      // exception type is filesystem-dependent: LocalFS throws
      // FileNotFound from rename itself, the guard throws IllegalState)
      val e = intercept[Exception] {
        cs.moveFile(fs, new Path(dir, "absent"), new Path(dir, s"never-$store"))
      }
      assert(e.isInstanceOf[IllegalStateException] ||
        e.isInstanceOf[java.io.FileNotFoundException], s"unexpected: $e")
    }
  }

  for (store <- Seq(CommitStore.Rename, CommitStore.Put)) {
    test(s"[$store] mid-commit session loss: the stale writer's complete() " +
        "fails at the fence, a new writer's succeeds") {
      // a dedicated ensemble per leg, so the fault kills only this
      // test's session
      val (connect, stopZk) = EmbeddedZk.start()
      try {
        val tbl = GraftTable.create(spark, tmp(), cfg(occ = true).copy(
          commitStore = store, lockProvider = s"zk:$connect"))
        tbl.bulkInsert(rows(1L, 2L, 3L))
        // the partition hits at the worst instant: conflict check passed,
        // completing write not yet issued — exactly the window plain
        // ephemeral locks leave open. Expiring the writer's ZK session
        // server-side drops its lock and fence marker with it
        tbl.onBeforeComplete = () =>
          EmbeddedZk.killSession(ZkLockProvider.cachedClient(connect), connect)
        val ex =
          try intercept[LockSessionLostException] {
            tbl.upsert(rows(1L).withColumn("v", lit("stale")))
          } finally tbl.onBeforeComplete = () => ()
        assert(ex.getMessage.contains("rolled back"))
        // clean abort: no pending instant, no phantom data, state intact
        assert(tbl.timeline.instants().forall(_.isCompleted))
        assert(state(tbl) == Seq(1L, 2L, 3L))
        val r0 = GraftReader(tbl)
        assert(r0.dataOnly(r0.snapshot()).filter(col("v") === "stale").count() == 0)
        // the new holder (fresh session) commits, and records the fence
        // it held
        tbl.upsert(rows(4L))
        assert(state(tbl) == Seq(1L, 2L, 3L, 4L))
        val last = tbl.timeline.completed().last
        val fence = tbl.timeline.metadataOf(last).extra.get("fenceToken")
        assert(fence.exists(_.forall(_.isDigit)),
          "completed instant must record the fence token it committed under")
      } finally {
        stopZk()
        ZkLockProvider.closeCached(connect)
      }
    }
  }

  test("file lock provider: a stale-broken hold fails its fence check, " +
      "and its unlock no longer deletes the peer's lock") {
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    val tl = new Timeline(dir, conf)
    tl.initTable(TableConfig(name = "flk", tableType = TableType.COW,
      keyFields = Seq("id")))
    // A acquires with a short staleness budget, then stalls past it
    val a = new FileLockProvider(tl, staleMs = 1)
    assert(a.tryLock())
    assert(a.verifyFence(), "live holder verifies OK")
    Thread.sleep(5)
    // B breaks the stale lock (first attempt deletes, second acquires)
    val b = new FileLockProvider(tl, staleMs = 1)
    assert(eventually(5000)(b.tryLock()), "stale lock must be breakable")
    assert(!a.verifyFence(),
      "the broken holder must see a foreign token, not its own")
    assert(b.verifyFence())
    // A's unlock must NOT free B's lock out from under it
    a.unlock()
    assert(b.verifyFence(), "A's unlock deleted B's lock file")
    b.unlock()
  }

  test("file-lock fence tokens are collision-proof by construction") {
    // seeded independence, not same-millisecond luck: 63-bit SecureRandom
    // draws — many mints in one burst (same ms, same process) stay
    // distinct, and the high bits actually vary (a clock- or counter-
    // derived scheme would leave them constant within the burst)
    val n = 20000
    val mints = Array.fill(n)(FileLockProvider.mintFence())
    assert(mints.forall(_ >= 0), "tokens are digit-string safe")
    assert(mints.distinct.length == n, "same-burst mints must not collide")
    assert(mints.map(_ >>> 48).distinct.length > 100,
      "high bits must vary across a burst (not clock/counter-derived)")
    // and the token a real acquire writes IS the minted content
    val dir = tmp()
    val tl = new Timeline(dir, spark.sessionState.newHadoopConf())
    tl.initTable(TableConfig(name = "fmint", tableType = TableType.COW,
      keyFields = Seq("id")))
    val p = new FileLockProvider(tl)
    assert(p.tryLock())
    assert(p.fenceToken.exists(_ >= 0) && p.verifyFence())
    p.unlock()
  }

  test("put-store moveFile: concurrent duplicate attempts never tear the dest") {
    import org.apache.hadoop.fs.Path
    val dir = tmp()
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    val payload = Array.fill(256 * 1024)('x'.toByte) // big enough to race mid-copy
    for (round <- 1 to 8) {
      val src = new Path(dir, s"src-$round")
      val dest = new Path(dir, s"dest-$round")
      val out = fs.create(src, true); out.write(payload); out.close()
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val ts = (1 to 2).map { _ =>
        new Thread(() => {
          try { barrier.await(); ConditionalPutCommitStore.moveFile(fs, src, dest) }
          catch { case t: Throwable => errors.add(t) }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join(60000))
      // both attempts are speculative duplicates of ONE task: each must
      // either complete the move or recognize the other did — and the
      // dest must be the full payload either way, never a torn copy
      assert(errors.isEmpty, s"round $round: ${errors.toArray.mkString(", ")}")
      assert(!fs.exists(src), s"round $round: src must be consumed")
      assert(fs.getFileStatus(dest).getLen == payload.length.toLong,
        s"round $round: torn dest")
      val leftover = fs.globStatus(new Path(dir, s".dest-$round.put*"))
      assert(leftover == null || leftover.isEmpty,
        s"round $round: leaked temp files")
    }
  }

  test("put-store write: a many-group commit reads back identical to the rename store's") {
    import spark.implicits._
    // mini version of the q57/q180 write-tail probe through the
    // object-store profile: 64 file groups in one commit, each written
    // once at its committed name; content must match the rename-profile
    // table bit-for-bit
    val mk = (store: String) => {
      val t = GraftTable.create(spark, tmp(), TableConfig(
        name = s"many_$store", tableType = TableType.COW,
        keyFields = Seq("id"), partitionFields = Seq("p"),
        orderingField = "ts", targetFileRows = 4, commitStore = store))
      t.bulkInsert((1L to 256L).map(i => (i, s"v$i", 1L, s"p${i % 16}"))
        .toDF("id", "v", "ts", "p"))
      t
    }
    val a = mk(CommitStore.Rename); val b = mk(CommitStore.Put)
    assert(Snapshot.resolve(b.timeline).slices.size >= 64,
      "probe needs a many-group commit")
    val ra = GraftReader(a); val rb = GraftReader(b)
    val da = ra.dataOnly(ra.snapshot()).select("id", "v", "ts", "p")
    val db = rb.dataOnly(rb.snapshot()).select("id", "v", "ts", "p")
    assert(da.exceptAll(db).isEmpty && db.exceptAll(da).isEmpty)
    // no staging tree on either store
    Seq(a, b).foreach { t =>
      val staging = new org.apache.hadoop.fs.Path(t.basePath, ".graft/.tmp")
      assert(!t.timeline.fileSystem.exists(staging), s"staging tree under ${t.basePath}")
    }
  }
}
