package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.write.GraftTable

/** The real ZooKeeper lock binding, against a real in-process ZK server
  * (the server classes ship in the zookeeper jar): exclusion, crash
  * release via session ephemerality, fence tokens across session
  * expiry, and the full commit path aborting at the fence after an
  * ensemble loss. */
class ZkLockSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  private var connect: String = _
  private var stopZk: () => Unit = () => ()

  override def beforeAll(): Unit = {
    val (c, stop) = EmbeddedZk.start()
    connect = c
    stopZk = stop
  }

  override def afterAll(): Unit = {
    spark.stop()
    stopZk()
    ZkLockProvider.closeCached(connect)
  }

  def tmp(): String = Files.createTempDirectory("graft-zk-spec").toString

  /** Event-driven wait (session expiry and reconnects are asynchronous). */
  def eventually(timeoutMs: Long = 20000)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(25)
      ok = cond
    }
    ok
  }

  test("mutual exclusion per table path; distinct tables don't exclude") {
    val a = new ZkLockProvider(connect, "/data/tbl1")
    val b = new ZkLockProvider(connect, "/data/tbl1")
    val c = new ZkLockProvider(connect, "/data/tbl2")
    try {
      assert(a.tryLock(), "first holder must acquire")
      assert(a.fenceToken.isDefined && a.verifyFence())
      val tokenA = a.fenceToken.get
      assert(!b.tryLock(), "second holder on the same path must not")
      assert(c.tryLock(), "a different table path is a different lock")
      a.unlock()
      assert(eventually()(b.tryLock()), "released lock must be acquirable")
      // zxids are globally monotonic: the later hold carries a newer fence
      assert(b.fenceToken.get > tokenA)
      b.unlock(); c.unlock()
    } finally { a.close(); b.close(); c.close() }
  }

  test("session expiry: holder's fence fails, peer acquires with a newer token") {
    val a = new ZkLockProvider(connect, "/data/expire")
    val b = new ZkLockProvider(connect, "/data/expire")
    try {
      assert(a.tryLock())
      val tokenA = a.fenceToken.get
      assert(a.verifyFence())
      // kill A's session server-side: its ephemeral lock + marker vanish
      EmbeddedZk.killSession(a.curator, connect)
      assert(eventually()(!a.verifyFence()),
        "an expired session's fence check must fail")
      assert(eventually()(b.tryLock()),
        "the expired session's lock must be acquirable by a peer")
      assert(b.fenceToken.get > tokenA,
        "the new holder's fence (czxid) must be strictly newer")
      assert(b.verifyFence())
      b.unlock()
      // A's unlock after expiry is a harmless no-op (idempotent abort path)
      a.unlock()
    } finally { a.close(); b.close() }
  }

  test("crash release: a closed client's lock evaporates with its session") {
    val a = new ZkLockProvider(connect, "/data/crash")
    assert(a.tryLock())
    a.close() // simulated crash: no unlock — the session close frees it
    val b = new ZkLockProvider(connect, "/data/crash")
    try {
      assert(eventually()(b.tryLock()),
        "a crashed holder's ephemeral lock must be released")
      b.unlock()
    } finally b.close()
  }

  test("unreachable ensemble fails loudly, malformed config rejected") {
    val p = new ZkLockProvider("127.0.0.1:1", "/data/nowhere")
    val e = intercept[IllegalStateException] { p.tryLock() }
    assert(e.getMessage.contains("cannot reach ZooKeeper"))
    p.close()
    val dir = tmp()
    val tl = new Timeline(dir, spark.sessionState.newHadoopConf())
    tl.initTable(TableConfig(name = "zt", tableType = TableType.COW,
      keyFields = Seq("id"), lockProvider = "zk:  "))
    val e2 = intercept[IllegalArgumentException] {
      TimelineLock.providerFor(tl)
    }
    assert(e2.getMessage.contains("zk:<connectString>"))
  }

  test("unlock() by a provider that does not hold the lock leaves the holder's lock held") {
    val holder = new ZkLockProvider(connect, "/data/nonowner")
    val other = new ZkLockProvider(connect, "/data/nonowner")
    try {
      assert(holder.tryLock())
      // a provider that never acquired, then one whose acquire failed:
      // neither unlock may free the holder's lock
      other.unlock()
      assert(!other.tryLock(), "the lock must still be held after a non-owner unlock")
      other.unlock()
      assert(holder.verifyFence(), "the holder's fence must survive a non-owner unlock")
      assert(!other.tryLock())
      holder.unlock()
      assert(eventually()(other.tryLock()), "the owner's unlock frees the lock")
      other.unlock()
    } finally { holder.close(); other.close() }
  }

  test("table paths that sanitise to the same string get different locks") {
    // both keys sanitise to "_tmp_a_b"; the md5 suffix of the raw path
    // keeps their ZK lock nodes apart
    val spaced = new ZkLockProvider(connect, "/tmp/a b")
    val underscored = new ZkLockProvider(connect, "/tmp/a_b")
    val spacedPeer = new ZkLockProvider(connect, "/tmp/a b")
    try {
      assert(spaced.describe != underscored.describe)
      assert(spaced.tryLock())
      assert(underscored.tryLock(),
        "a table whose path only sanitises alike must not be excluded")
      assert(!spacedPeer.tryLock(), "the same table path still excludes")
      spaced.unlock(); underscored.unlock()
    } finally { spaced.close(); underscored.close(); spacedPeer.close() }
  }

  test("a stored lockProvider 'tcp:' fails loudly, never falls back to the file lock") {
    val dir = tmp()
    val tl = new Timeline(dir, spark.sessionState.newHadoopConf())
    tl.initTable(TableConfig(name = "ztcp", tableType = TableType.COW,
      keyFields = Seq("id"), orderingField = "ts", occ = true,
      lockProvider = "tcp:127.0.0.1:1"))
    val e = intercept[IllegalArgumentException] { TimelineLock.providerFor(tl) }
    assert(e.getMessage.contains("unknown lockProvider 'tcp:127.0.0.1:1'"))
    assert(e.getMessage.contains("zk:<connectString>"),
      s"the message must name the supported forms: ${e.getMessage}")
    // the commit-point lock refuses too, and takes no file lock on the way
    var ran = false
    intercept[IllegalArgumentException] { new TimelineLock(tl).withLock { ran = true } }
    assert(!ran, "nothing may run under a lock that was never taken")
    val lockFile = new org.apache.hadoop.fs.Path(tl.metaDir, TimelineLock.LockFile)
    assert(!tl.fileSystem.exists(lockFile), "no silent file-lock fallback")
  }

  test("create refuses a lockProvider no provider parses") {
    val cfg = TableConfig(name = "ztcpc", tableType = TableType.COW,
      keyFields = Seq("id"), orderingField = "ts", occ = true,
      lockProvider = "tcp:127.0.0.1:1")
    val dir = tmp()
    val e = intercept[IllegalArgumentException] { GraftTable.create(spark, dir, cfg) }
    assert(e.getMessage.contains("unknown lockProvider 'tcp:127.0.0.1:1'"))
    intercept[IllegalArgumentException] {
      GraftTable.create(spark, dir, cfg.copy(lockProvider = "zk:  "))
    }
    assert(!new Timeline(dir, spark.sessionState.newHadoopConf()).exists,
      "no table may be created")
  }

  test("a write on a stored 'tcp:' lockProvider fails before it mints an instant or writes a file") {
    import spark.implicits._
    val tbl = GraftTable.create(spark, tmp(), TableConfig(name = "ztcpw",
      tableType = TableType.COW, keyFields = Seq("id"), orderingField = "ts",
      occ = true))
    tbl.bulkInsert(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ts"))
    // a table.json written before the TCP provider was dropped
    tbl.timeline.updateConfig(tbl.config.copy(lockProvider = "tcp:127.0.0.1:1"))
    val fs = tbl.timeline.fileSystem
    def files(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(tbl.basePath), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toString)
        .filterNot(_.contains(s"/${Timeline.MetaDir}/")).toSet
    }
    val before = files()
    val instants = tbl.timeline.instants()
    val e = intercept[IllegalArgumentException] {
      tbl.upsert(Seq((1L, "a2", 2L)).toDF("id", "v", "ts"))
    }
    assert(e.getMessage.contains("unknown lockProvider"))
    assert(files() == before, s"new files: ${files() -- before}")
    assert(tbl.timeline.instants() == instants, "no instant may be minted")
    assert(tbl.timeline.instants().forall(_.isCompleted))
  }

  test("sequential commits share ONE long-lived zk session (no per-commit connect)") {
    import spark.implicits._
    val tbl = GraftTable.create(spark, tmp(), TableConfig(
      name = "zsess", tableType = TableType.COW, keyFields = Seq("id"),
      orderingField = "ts", occ = true, lockProvider = s"zk:$connect"))
    def sessionId: Long =
      ZkLockProvider.cachedClient(connect).getZookeeperClient.getZooKeeper.getSessionId
    tbl.bulkInsert(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
    val sid = sessionId
    assert(sid != 0L, "the cached client must hold a live session")
    (2 to 5).foreach { i =>
      tbl.upsert(Seq((i.toLong, "a", 1L)).toDF("id", "v", "ts"))
      assert(sessionId == sid,
        s"commit $i reconnected: the Curator client must be cached per " +
          "connect string, not rebuilt per commit")
    }
    assert(tbl.timeline.completed().size >= 5)
    // per-commit state (mutex + fence marker) still cleans up: nothing
    // holds the lock between commits
    val probe = ZkLockProvider.cached(connect, tbl.basePath)
    assert(probe.tryLock(), "lock must be free between commits")
    probe.unlock()
  }

  test("commit path under zk lock: OCC race, then ensemble loss aborts at the fence") {
    import spark.implicits._
    // a dedicated fixed-port server so the fault can RESTART it in place
    val (c2, stop2) = EmbeddedZk.start()
    val port = c2.split(":")(1).toInt
    var stop = stop2
    try {
      def rows(ids: Long*) =
        ids.map(i => (i, "a", 1L, "p")).toDF("id", "v", "ts", "p")
      val tbl = GraftTable.create(spark, tmp(), TableConfig(
        name = "zocc", tableType = TableType.COW, keyFields = Seq("id"),
        partitionFields = Seq("p"), orderingField = "ts", occ = true,
        lockProvider = s"zk:$c2"))
      tbl.bulkInsert(rows(1L, 2L, 3L))

      // two racing conflicting writers: exactly one wins, loser aborts
      // with the conflict exception, timeline stays clean
      val batch = rows(1L).withColumn("v", lit("race"))
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      (1 to 2).foreach { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            barrier.await()
            try { tbl.upsert(batch); wins.incrementAndGet(); () }
            catch {
              case _: ConcurrentWriteConflictException => ()
              case t: Throwable => errs.add(t); ()
            }
          }
        })
      }
      pool.shutdown()
      assert(pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(errs.isEmpty, s"losers abort cleanly: ${errs.toArray.mkString(",")}")
      assert(wins.get() >= 1)
      assert(tbl.timeline.instants().forall(_.isCompleted))

      // ensemble loss at the worst instant: conflict check passed, the
      // completing write not yet issued — restart the server (every
      // session and ephemeral node dies); the stale writer must abort
      tbl.onBeforeComplete = () => {
        stop()
        val (c3, stop3) = EmbeddedZk.start(port)
        require(c3 == c2, s"restart must rebind $c2, got $c3")
        stop = stop3
      }
      intercept[LockSessionLostException] {
        tbl.upsert(rows(1L).withColumn("v", lit("stale")))
      }
      tbl.onBeforeComplete = () => ()
      assert(tbl.timeline.instants().forall(_.isCompleted),
        "the fenced abort must roll back its pending instant")
      val r = GraftReader(tbl)
      assert(r.dataOnly(r.snapshot()).filter(col("v") === "stale").count() == 0)

      // with the (restarted) ensemble healthy, the retry lands and the
      // completed instant records the zk fence (a czxid) it held
      tbl.upsert(rows(4L))
      val last = tbl.timeline.completed().last
      val fence = tbl.timeline.metadataOf(last).extra.get("fenceToken")
      assert(fence.exists(_.forall(_.isDigit)),
        "completed instant must record the zk fence token")
    } finally {
      stop()
      ZkLockProvider.closeCached(c2)
    }
  }
}
