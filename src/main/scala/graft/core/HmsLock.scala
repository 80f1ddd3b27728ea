package graft.core

import org.apache.hadoop.hive.conf.HiveConf
import org.apache.hadoop.hive.metastore.{HiveMetaStoreClient, IMetaStoreClient}
import org.apache.hadoop.hive.metastore.api.{
  DataOperationType, LockComponent, LockLevel, LockRequest, LockState,
  LockType}

/** Hive-metastore timeline lock over the metastore's ACID lock manager
  * (reference analog:
  * hudi-sync/hudi-hive-sync/src/main/java/org/apache/hudi/hive/
  * HiveMetastoreBasedLockProvider.java:71, which drives the same
  * IMetaStoreClient.lock/checkLock/unlock API): one EXCLUSIVE
  * table-level LockComponent on a metastore table name derived from
  * the table base path, so writers from any host that reach the
  * metastore exclude each other — the lock family a Hive-centric
  * deployment already operates, no extra service.
  *
  * Selected with `lockProvider = "hms:<connect>"` where connect is
  *  - `thrift://host:port[,...]` — a remote metastore (production), or
  *  - `jdbc:derby:;databaseName=<dir>;create=true` — an EMBEDDED
  *    Derby-backed metastore in-process (the sandbox/test posture; the
  *    same Derby stack the catalog-sync tests already run). Embedded
  *    mode pins `hive.in.test` so the metastore's TxnHandler preps the
  *    Derby transaction tables (TXNS/HIVE_LOCKS/NEXT_LOCK_ID) on first
  *    touch — the schematool step a real deployment runs once.
  *
  * Fencing: the metastore mints lock ids from one global NEXT_LOCK_ID
  * sequence, so the id IS a monotonic fence token (a later holder's id
  * is strictly newer). [[verifyFence]] heartbeats the lock id at the
  * commit point: a hold the metastore no longer carries (reaped by the
  * lock timeout, or released by an operator) answers
  * NoSuchLockException and the writer aborts instead of publishing
  * blind — the same contract as the zk provider's czxid marker.
  *
  * The metastore CLIENT is long-lived (one per connect string per JVM,
  * the ZkLockProvider.cached shape); HiveMetaStoreClient is not
  * thread-safe, so every call synchronizes on the client — lock
  * traffic is a handful of tiny RPCs per commit, never data-plane. */
class HmsLockProvider(connect: String, key: String) extends LockProvider {
  import HmsLockProvider.log

  private val tableName = HmsLockProvider.lockTableName(key)
  private var lockId: Option[Long] = None
  private var keepalive: Option[Thread] = None

  override def tryLock(): Boolean = {
    val got = HmsLockProvider.withClient(connect) { c =>
      val comp = new LockComponent(LockType.EXCLUSIVE, LockLevel.TABLE,
        HmsLockProvider.LockDb)
      comp.setTablename(tableName)
      comp.setOperationType(DataOperationType.NO_TXN)
      val req = new LockRequest(
        java.util.Collections.singletonList(comp),
        System.getProperty("user.name", "graft"),
        java.net.InetAddress.getLocalHost.getHostName)
      val resp = c.lock(req)
      if (resp.getState == LockState.ACQUIRED) {
        lockId = Some(resp.getLockid)
        true
      } else {
        // single-attempt contract (retry policy lives in TimelineLock):
        // drop the enqueued WAITING entry or it blocks the real holder's
        // successor forever
        try c.unlock(resp.getLockid) catch { case _: Exception => () }
        false
      }
    }
    if (got) startKeepalive()
    got
  }

  /** Heartbeat the hold every txn-timeout/3 while held: the metastore's
    * ACID lock manager reaps holds whose last heartbeat is older than
    * `hive.txn.timeout` (default 300 s) — without a keepalive, a
    * critical section that outlives it has its hold reaped mid-section
    * and the commit systematically aborts at the fence check. Same shape as a ZooKeeper client's session
    * heartbeat. A failed beat is left to the COMMIT
    * POINT fence check — the keepalive must never unlock or abort on
    * its own (a transient blip would kill a healthy commit). */
  private def startKeepalive(): Unit = {
    val id = lockId.getOrElse(return)
    val interval = HmsLockProvider.keepaliveIntervalMs(connect)
    val t = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(interval)
          try HmsLockProvider.withClient(connect)(_.heartbeat(0L, id))
          catch {
            case _: InterruptedException => throw new InterruptedException
            case e: Exception =>
              log.warn(s"hms lock keepalive beat failed for lock $id " +
                s"(hold may be reaped; the commit-point fence check " +
                s"decides): ${e.getClass.getName}: ${e.getMessage}")
          }
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-hms-keepalive-$id")
    t.setDaemon(true)
    t.start()
    keepalive = Some(t)
  }

  private def stopKeepalive(): Unit = {
    keepalive.foreach { t => t.interrupt(); t.join(2000) }
    keepalive = None
  }

  override def unlock(): Unit = {
    stopKeepalive()
    lockId.foreach { id =>
      try HmsLockProvider.withClient(connect)(_.unlock(id))
      catch {
        // already reaped = already free (the expected abort path); any
        // OTHER failure (connectivity loss) leaves the hold to die by
        // ACID timeout — not a correctness break, but it stalls peers
        // for up to hive.txn.timeout, so it must leave a trace
        case e: Exception if !HmsLockProvider.isAlreadyReleased(e) =>
          log.warn(s"hms unlock of lock $id failed (hold will expire by " +
            s"ACID timeout; peers may wait up to hive.txn.timeout): " +
            s"${e.getClass.getName}: ${e.getMessage}")
        case _: Exception => ()
      }
    }
    lockId = None
  }

  override def fenceToken: Option[Long] = lockId

  /** Still the holder iff the metastore still carries the lock id — a
    * heartbeat doubles as the existence check and refreshes the lock's
    * ACID timeout while the commit completes. Only the metastore saying
    * "no such hold" (NoSuchLockException/NoSuchTxnException) is STALE;
    * a transport-level failure (metastore GC pause, connection reset)
    * is retried, then rethrown — a blip at the commit point must not
    * abort an otherwise-valid commit as if the hold were lost. */
  override def verifyFence(): Boolean = lockId.exists { id =>
    var attempt = 0
    while (true) {
      try { HmsLockProvider.withClient(connect)(_.heartbeat(0L, id)); return true }
      catch {
        case _: org.apache.hadoop.hive.metastore.api.NoSuchLockException => return false
        case _: org.apache.hadoop.hive.metastore.api.NoSuchTxnException  => return false
        case _: org.apache.hadoop.hive.metastore.api.TxnAbortedException => return false
        case e: Exception =>
          attempt += 1
          if (attempt >= 3) throw new IllegalStateException(
            s"cannot reach the metastore to verify lock $id at the " +
              s"commit point (transient transport failure, not a lost " +
              s"hold — retry the commit)", e)
          Thread.sleep(200L * attempt)
      }
    }
    false // unreachable
  }

  /** The client is shared per connect string; the keepalive (if any
    * survived an exceptional path) is the one per-commit resource. */
  override def close(): Unit = stopKeepalive()

  override def describe: String = s"hms:$connect/$tableName"
}

object HmsLockProvider {
  private[graft] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[HmsLockProvider])

  /** All graft lock rows live under one metastore db name; the lock
    * manager keys rows by (db, table) strings — no catalog object has
    * to exist. */
  val LockDb = "default"

  private val clients =
    new java.util.concurrent.ConcurrentHashMap[String, IMetaStoreClient]()

  /** Resolved `hive.txn.timeout` per (connect string, explicit system
    * -property override) — HiveConf construction is classloader-heavy
    * (~100 ms cold, tens of ms warm) and sat on the per-commit lock
    * path. The system property rides in the key so a test (or operator)
    * changing it mid-process still takes effect on the next acquire;
    * without an override the value is immutable for the process, so one
    * construction per connect string suffices. */
  private val timeoutCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
  /** Test probe: HiveConf constructions performed by the interval path. */
  private[graft] val hiveConfBuilds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Keepalive beat interval: a QUARTER of the metastore's ACID lock
    * timeout (`hive.txn.timeout`, 300 s default), floored so a
    * pathological conf can't busy-spin. /4 rather than /3 leaves one
    * whole beat of slack: the reaper fires on ITS schedule, so a beat
    * delayed by one GC pause or transport retry at /3 cadence could
    * land just past the server's deadline.
    *
    * The timeout is read from the CLIENT-side HiveConf: it must match
    * the metastore server's configured `hive.txn.timeout` (the value
    * the ACID reaper actually enforces). A server timeout SHORTER than
    * the client's would make beats fire too sparsely and the hold still
    * gets reaped mid-commit — deployments that tune the server must
    * ship the same value in the client conf (or the
    * `hive.txn.timeout` system property). */
  private[graft] def keepaliveIntervalMs(connect: String): Long = {
    val key = (connect, System.getProperty("hive.txn.timeout", ""))
    val timeout = timeoutCache.computeIfAbsent(key, _ => {
      hiveConfBuilds.incrementAndGet()
      new HiveConf().getTimeVar(
        HiveConf.ConfVars.HIVE_TXN_TIMEOUT,
        java.util.concurrent.TimeUnit.MILLISECONDS)
    })
    math.max(timeout / 4, 200L)
  }

  /** Metastore table name for a table's lock: readable sanitized tail
    * plus an md5 suffix so distinct base paths never collide after
    * sanitization (the ZkLockProvider.lockPath shape; lowercase because
    * the metastore lowercases identifiers). */
  private[graft] def lockTableName(key: String): String = {
    val safe = key.toLowerCase.replaceAll("[^a-z0-9_]", "_")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(8)
    s"graft_lock_${safe.takeRight(64)}_$h"
  }

  private def newClient(connect: String): IMetaStoreClient = {
    val conf = new HiveConf()
    if (connect.startsWith("thrift://")) {
      conf.set("hive.metastore.uris", connect)
    } else {
      // embedded metastore over a local JDBC store (Derby in-sandbox)
      conf.set("hive.metastore.uris", "")
      conf.set("javax.jdo.option.ConnectionURL", connect)
      // keep the handler's default-db bootstrap off any shared path
      conf.set("hive.metastore.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-hms-wh").toString)
      conf.set("datanucleus.schema.autoCreateAll", "true")
      conf.set("hive.metastore.schema.verification", "false")
      // TxnHandler's Derby path: prep the ACID transaction tables
      // (TXNS/HIVE_LOCKS/NEXT_LOCK_ID) on first touch — idempotent
      // ("already exists" is swallowed), standing in for schematool
      conf.set("hive.in.test", "true")
      // TxnHandler's default pool is BoneCP, which isn't on this
      // classpath (Spark ships HikariCP/DBCP); direct connections are
      // right for a lock path's tiny RPC volume anyway
      conf.set("datanucleus.connectionPoolingType", "NONE")
    }
    new HiveMetaStoreClient(conf)
  }

  /** One long-lived client per connect string per JVM, every call
    * serialized on it (HiveMetaStoreClient is not thread-safe). An
    * unreachable metastore throws WITHOUT caching so a later attempt
    * retries the connect. A call failing with a BROKEN TRANSPORT (the
    * remote metastore restarted; the cached client's thrift socket is
    * dead) evicts the client, rebuilds, and retries ONCE — without this
    * every lock call in the process fails until JVM restart (the ZK
    * path's closeCached equivalent, done automatically). */
  private[graft] def withClient[T](connect: String)(f: IMetaStoreClient => T): T = {
    val c = clients.computeIfAbsent(connect, newClient(_))
    try c.synchronized(f(c))
    catch {
      case e: Exception if isBrokenTransport(e) =>
        log.warn(s"hms client for $connect has a dead transport " +
          s"(${e.getClass.getName}: ${e.getMessage}); reconnecting once")
        clients.remove(connect, c)
        try c.close() catch { case _: Exception => () }
        val fresh = clients.computeIfAbsent(connect, newClient(_))
        fresh.synchronized(f(fresh))
    }
  }

  /** An unlock failure meaning the hold is ALREADY GONE (reaped by the
    * ACID timeout or released by an operator) — the silent, expected
    * abort path. Everything else is connectivity loss and must be
    * logged: the hold lives on until `hive.txn.timeout` and stalls
    * peers, which an operator can only trace through that warn. */
  private[graft] def isAlreadyReleased(e: Exception): Boolean = e match {
    case _: org.apache.hadoop.hive.metastore.api.NoSuchLockException => true
    case _: org.apache.hadoop.hive.metastore.api.NoSuchTxnException  => true
    case _ => false
  }

  /** A dead socket surfaces as TTransportException (possibly wrapped by
    * the client shim); an APPLICATION fault like NoSuchLockException
    * never matches. The retry is at-most-once-safe in the worst case: if
    * the lost failure was a RESPONSE (the server did execute), a retried
    * heartbeat/unlock is idempotent, and a retried lock() can at worst
    * orphan the first attempt's hold — the orphan blocks this same
    * requester into tryLock-false (exclusion preserved, never broken)
    * and dies by the ACID timeout since nothing heartbeats it. */
  private def isBrokenTransport(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      if (t.isInstanceOf[org.apache.thrift.transport.TTransportException] ||
          t.isInstanceOf[java.net.SocketException] ||
          t.isInstanceOf[java.net.ConnectException]) return true
      t = t.getCause
    }
    false
  }
}

/** In-process THRIFT metastore for tests and correctness gates — the
  * real server (HiveMetaStore.startMetaStore from the hive-metastore
  * jar) over a Derby store, so cross-PROCESS writers exercise the exact
  * production wire path (`hms:thrift://...`) that embedded Derby alone
  * cannot (an embedded Derby database is single-JVM by design). The
  * server loop never returns and ships no shutdown API; it runs on a
  * daemon thread and dies with the JVM. */
object EmbeddedHms {
  /** Starts a thrift metastore on a free port; returns its
    * `thrift://127.0.0.1:<port>` URI once it is actually serving. */
  def start(): String = {
    val port = {
      val s = new java.net.ServerSocket(0)
      try s.getLocalPort finally s.close()
    }
    val dbDir = java.nio.file.Files.createTempDirectory("graft-hms-srv").toString
    val conf = new HiveConf()
    conf.set("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=$dbDir/hms_db;create=true")
    conf.set("datanucleus.schema.autoCreateAll", "true")
    conf.set("hive.metastore.schema.verification", "false")
    conf.set("hive.in.test", "true") // preps Derby ACID tables on first lock
    conf.set("datanucleus.connectionPoolingType", "NONE")
    conf.set("hive.metastore.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-hms-srv-wh").toString)
    val startLock = new java.util.concurrent.locks.ReentrantLock()
    val serving = startLock.newCondition()
    val started = new java.util.concurrent.atomic.AtomicBoolean(false)
    val boot = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try org.apache.hadoop.hive.metastore.HiveMetaStore.startMetaStore(
        port,
        org.apache.hadoop.hive.shims.ShimLoader.getHadoopThriftAuthBridge,
        conf, startLock, serving, started)
      catch { case e: Throwable =>
        boot.set(e)
        startLock.lock()
        try serving.signalAll() finally startLock.unlock()
      }
    }, s"graft-embedded-hms-$port")
    t.setDaemon(true)
    t.start()
    startLock.lock()
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!started.get() && boot.get() == null && System.nanoTime() < deadline)
        serving.awaitNanos(deadline - System.nanoTime())
    } finally startLock.unlock()
    if (boot.get() != null)
      throw new IllegalStateException("embedded thrift metastore failed to boot",
        boot.get())
    if (!started.get())
      throw new IllegalStateException("embedded thrift metastore boot timed out")
    s"thrift://127.0.0.1:$port"
  }
}
