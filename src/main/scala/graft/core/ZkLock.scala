package graft.core

import java.util.concurrent.TimeUnit

import org.apache.curator.framework.{CuratorFramework, CuratorFrameworkFactory}
import org.apache.curator.framework.recipes.locks.InterProcessMutex
import org.apache.curator.retry.RetryNTimes
import org.apache.zookeeper.CreateMode

/** ZooKeeper-backed timeline lock via Curator's InterProcessMutex — the
  * REAL binding behind the reference's production multi-writer posture
  * (reference analog: transaction/lock/ZookeeperBasedLockProvider.java:55,
  * which wraps the same recipe). Selected with
  * `lockProvider = "zk:<connectString>"`; the lock node is derived from
  * the table base path, so writers from ANY process/host that reach the
  * ensemble exclude each other, and a crashed writer's ephemeral nodes
  * (lock + fence marker) evaporate with its session.
  *
  * Fencing — the piece the reference's ZK provider leaves open: each
  * acquire creates an EPHEMERAL_SEQUENTIAL marker and mints the fence
  * token from the marker's czxid (ZooKeeper's zxids are globally
  * monotonic, so a later holder's token is strictly newer).
  * [[verifyFence]] at the commit point re-reads the marker: a holder
  * whose session expired mid-critical-section (its ephemerals gone, the
  * mutex possibly in a peer's hands) sees the marker missing and aborts
  * instead of publishing blind; ZK's own session machinery carries the
  * loss signal.
  *
  * One provider instance per lock scope (TimelineLock news one per
  * commit), but the Curator CLIENT is long-lived: the production path
  * ([[ZkLockProvider.cached]]) shares one session per connect string
  * across every commit in the process — at continuous-ingest commit
  * rates a session handshake per commit is needless ensemble churn and
  * adds connect latency to every publish (the reference holds one
  * client per writer lifetime, LockManager.java). Only the mutex and
  * the fence marker are per-commit; the czxid fencing tolerates a
  * long-lived session by construction. A directly-constructed provider
  * (tests simulating a crashing writer) owns a dedicated client that
  * [[close]] really closes. An unreachable ensemble fails LOUDLY at
  * first acquire — a silent false would read as "held by a peer" and
  * break the mutual exclusion the table was configured for. */
class ZkLockProvider(connect: String, key: String,
    sessionTimeoutMs: Int = 6000,
    shared: Option[CuratorFramework] = None) extends LockProvider {

  private val lockPath = ZkLockProvider.lockPath(key)
  private val fenceDir = lockPath + "-fence"

  private val ownsClient = shared.isEmpty
  private lazy val client: CuratorFramework = shared.getOrElse(
    ZkLockProvider.newClient(connect, sessionTimeoutMs))
  private lazy val mutex = new InterProcessMutex(client, lockPath)

  private var fence: Option[Long] = None
  private var markerPath: Option[String] = None

  override def tryLock(): Boolean = {
    // a shared client may be mid-reconnect (ensemble restart between
    // commits); wait for the session rather than throwing ConnectionLoss
    // out of the acquire — on a connected client this returns immediately
    if (!client.blockUntilConnected(5, TimeUnit.SECONDS))
      throw new IllegalStateException(
        s"cannot reach ZooKeeper ensemble at $connect for timeline lock")
    if (!mutex.acquire(0, TimeUnit.MILLISECONDS)) return false
    // nothing may escape between a successful acquire and returning true:
    // an exception here would leave the mutex held with no owner to
    // release it (freed only by eventual session death)
    try {
      val path = client.create().creatingParentsIfNeeded()
        .withMode(CreateMode.EPHEMERAL_SEQUENTIAL)
        .forPath(s"$fenceDir/holder-")
      val stat = client.checkExists().forPath(path)
      if (stat == null) {
        // session expired between marker create and stat: the marker —
        // and the mutex's own ephemeral — are already gone
        try mutex.release() catch { case _: Exception => () }
        false
      } else {
        fence = Some(stat.getCzxid)
        markerPath = Some(path)
        true
      }
    } catch {
      case e: Exception =>
        try mutex.release() catch { case _: Exception => () }
        throw e
    }
  }

  override def unlock(): Unit = {
    markerPath.foreach { p =>
      try client.delete().forPath(p) catch { case _: Exception => () }
    }
    // release() after a session loss throws (the node is already gone —
    // exactly the state fencing catches); swallowing keeps unlock
    // idempotent on the abort path
    try mutex.release() catch { case _: Exception => () }
    fence = None
    markerPath = None
  }

  override def fenceToken: Option[Long] = fence

  /** Still the holder iff the session is live and the acquire-time
    * marker (same czxid) still exists — false after session expiry even
    * before the client notices the disconnect. */
  override def verifyFence(): Boolean = (fence, markerPath) match {
    case (Some(f), Some(p)) =>
      try {
        val stat = client.checkExists().forPath(p)
        stat != null && stat.getCzxid == f
      } catch { case _: Exception => false }
    case _ => false
  }

  /** Closes the client only when this provider owns it; a shared
    * (cached) client outlives every per-commit provider by design. */
  override def close(): Unit =
    if (ownsClient) try client.close() catch { case _: Exception => () }

  override def describe: String = s"zk:$connect$lockPath"

  /** Test seam: the underlying Curator client, for session-expiry fault
    * injection ([[EmbeddedZk.killSession]]). */
  private[graft] def curator: CuratorFramework = client
}

object ZkLockProvider {
  private val clientCache =
    new java.util.concurrent.ConcurrentHashMap[String, CuratorFramework]()

  private def newClient(connect: String, sessionTimeoutMs: Int): CuratorFramework = {
    val c = CuratorFrameworkFactory.builder()
      .connectString(connect)
      .sessionTimeoutMs(sessionTimeoutMs)
      .connectionTimeoutMs(5000)
      .retryPolicy(new RetryNTimes(2, 50))
      .build()
    c.start()
    if (!c.blockUntilConnected(5, TimeUnit.SECONDS)) {
      try c.close() catch { case _: Exception => () }
      throw new IllegalStateException(
        s"cannot reach ZooKeeper ensemble at $connect for timeline lock")
    }
    c
  }

  /** The process-wide Curator client for `connect` — one ZK session per
    * ensemble per JVM, shared across commits and tables (the
    * CommitStore.fcCache shape). Built on first use; an unreachable
    * ensemble throws WITHOUT caching, so a later attempt retries the
    * connect instead of reusing a dead handle. */
  private[graft] def cachedClient(connect: String,
      sessionTimeoutMs: Int = 6000): CuratorFramework =
    clientCache.computeIfAbsent(connect, c => newClient(c, sessionTimeoutMs))

  /** Production construction: a per-commit provider over the shared
    * long-lived client. */
  def cached(connect: String, key: String): ZkLockProvider =
    new ZkLockProvider(connect, key, shared = Some(cachedClient(connect)))

  /** Drop (and close) the cached client for `connect` — for tests and
    * gates that stop their embedded ensemble mid-JVM; a dangling cached
    * client would otherwise retry the dead address until process exit.
    * A later `cached()` call reconnects fresh. */
  def closeCached(connect: String): Unit = {
    val c = clientCache.remove(connect)
    if (c != null) try c.close() catch { case _: Exception => () }
  }

  /** ZK node path for a table's lock: a readable sanitized segment plus
    * an md5 suffix so distinct base paths can never collide after
    * sanitization. */
  private[core] def lockPath(key: String): String = {
    val safe = key.replaceAll("[^a-zA-Z0-9._-]", "_")
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(8)
    s"/graft/locks/${safe.takeRight(80)}-$h"
  }
}

/** In-process ZooKeeper server for tests and correctness gates — the
  * stand-in for a real ensemble inside this sandbox, exercising the
  * EXACT client stack (Curator recipe + ZK sessions + ephemeral nodes)
  * a production deployment uses. Server classes ship in the zookeeper
  * jar itself, so this is the real server, not a fake. */
object EmbeddedZk {
  /** Starts a standalone server on a 127.0.0.1 port (0 = ephemeral).
    * Returns (connectString, shutdown). tickTime 500ms keeps the
    * minimum negotiable session timeout at 1 s so expiry tests run
    * fast. A fixed `port` lets a fault test RESTART the server in
    * place — every session (and its ephemeral lock state) dies, the
    * ensemble-loss flavor of the session-expiry fault. */
  def start(port: Int = 0): (String, () => Unit) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-zk").toFile
    dir.deleteOnExit()
    val zks = new org.apache.zookeeper.server.ZooKeeperServer(dir, dir, 500)
    val factory = org.apache.zookeeper.server.ServerCnxnFactory.createFactory(
      new java.net.InetSocketAddress("127.0.0.1", port), 60)
    factory.startup(zks)
    (s"127.0.0.1:${factory.getLocalPort}", () => factory.shutdown())
  }

  /** Expires `client`'s ZK session server-side (the classic second-
    * handle trick: open a raw ZooKeeper with the victim's session id +
    * password, then close it) — the fault a fencing test injects.
    *
    * The handshake is ASYNC: closing before the killer handle actually
    * attaches to the session is a silent no-op (the victim lives on and
    * the test times out "fence still OK" — a loaded-machine flake), so
    * wait for SyncConnected before closing. */
  def killSession(client: CuratorFramework, connect: String): Unit = {
    val zkc = client.getZookeeperClient.getZooKeeper
    val connected = new java.util.concurrent.CountDownLatch(1)
    val killer = new org.apache.zookeeper.ZooKeeper(
      connect, 5000, new org.apache.zookeeper.Watcher {
        override def process(e: org.apache.zookeeper.WatchedEvent): Unit =
          if (e.getState ==
              org.apache.zookeeper.Watcher.Event.KeeperState.SyncConnected)
            connected.countDown()
      }, zkc.getSessionId, zkc.getSessionPasswd)
    if (!connected.await(15, java.util.concurrent.TimeUnit.SECONDS)) {
      killer.close()
      throw new IllegalStateException(
        "killSession: killer handle never attached to the victim session")
    }
    killer.close()
  }
}
