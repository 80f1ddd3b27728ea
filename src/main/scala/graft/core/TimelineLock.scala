package graft.core

import org.apache.hadoop.fs.Path

/** One mutual-exclusion attempt: `tryLock` is a single atomic
  * acquire-if-free; retry/timeout policy lives in [[TimelineLock]]
  * (reference analog: client/transaction/lock/LockProvider.java:33 —
  * the seam where Zookeeper/Hive/DynamoDB bindings plug in). */
trait LockProvider {
  def tryLock(): Boolean
  def unlock(): Unit
  def describe: String
  /** Fence token minted with the CURRENT hold, if the provider fences.
    * Tokens are unique per hold; the zk provider mints them from the
    * marker's czxid and the in-process provider from one monotonic
    * counter (a later holder's token is strictly newer), while the file
    * provider's are unique-but-unordered across processes —
    * [[verifyFence]] compares by EQUALITY, so correctness never depends
    * on the ordering. Recorded in the commit payload. */
  def fenceToken: Option[Long] = None
  /** True iff this holder still owns the lock under the SAME token
    * minted at acquire — called at the commit point, immediately before
    * the completing write, so a holder whose session/lease was lost (and
    * whose lock may already be in a peer's hands) aborts instead of
    * racing it. Providers whose hold cannot be lost while the process
    * lives (in-process) answer true trivially. */
  def verifyFence(): Boolean = true
  /** Release any resource the provider holds beyond the lock itself
    * (sockets, sessions). A provider is created per lock SCOPE
    * (TimelineLock instantiates one per commit), so leaking here leaks
    * once per commit — a long-running ingest writer would exhaust file
    * descriptors. Idempotent; called after the final unlock. */
  def close(): Unit = ()
}

/** Filesystem lock file: `fs.create(path, overwrite = false)` is atomic
  * on HDFS and local filesystems; stale locks (a crashed writer) expire
  * after `staleMs` (reference analog:
  * FileSystemBasedLockProvider.java:53). */
class FileLockProvider(timeline: Timeline, staleMs: Long = 60000)
    extends LockProvider {
  private val lockPath = new Path(timeline.metaDir, TimelineLock.LockFile)
  private def fs = timeline.fileSystem
  private var fence: Option[Long] = None

  override def tryLock(): Boolean =
    try {
      // atomic create-if-absent; the file CONTENT is the fence token, so
      // a holder whose stale lock was broken and re-taken by a peer sees
      // a different token at verify time instead of publishing blind.
      // Tokens are 64-bit SecureRandom draws: uniqueness needs no
      // cross-process coordination (a counter×millis scheme collides
      // when two writers' FIRST acquires share a millisecond — exactly
      // the tiny window fencing exists to close)
      val token = FileLockProvider.mintFence()
      val bytes = token.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (fs.getUri.getScheme == "file") {
        // Hadoop's LocalFileSystem create(overwrite = false) is CHECK-
        // then-create: two same-box writers can both pass the existence
        // check and both believe they hold the lock (exactly the silent
        // mutual-exclusion break the fence check later catches loudly).
        // POSIX O_CREAT|O_EXCL via NIO CREATE_NEW is atomic.
        java.nio.file.Files.write(
          java.nio.file.Paths.get(lockPath.toUri.getPath), bytes,
          java.nio.file.StandardOpenOption.CREATE_NEW)
      } else {
        // HDFS-class stores: create-if-absent is atomic server-side
        val out = fs.create(lockPath, false)
        try out.write(bytes) finally out.close()
      }
      fence = Some(token)
      true
    } catch {
      case _: java.io.IOException =>
        // held by someone else; break a stale lock for the NEXT attempt
        try {
          val st = fs.getFileStatus(lockPath)
          if (st.getModificationTime < System.currentTimeMillis() - staleMs)
            fs.delete(lockPath, false)
        } catch { case _: java.io.FileNotFoundException => () }
        false
    }

  /** Deletes the lock file only while still its owner: after a peer
    * broke this hold as stale and re-acquired, deleting would free the
    * PEER's lock out from under it. */
  override def unlock(): Unit = {
    if (verifyFence()) fs.delete(lockPath, false)
    fence = None
  }
  override def fenceToken: Option[Long] = fence

  /** Still the holder iff the lock file exists with MY token as content —
    * false when a peer broke this hold as stale and re-acquired. */
  override def verifyFence(): Boolean = fence.exists { f =>
    try {
      val in = fs.open(lockPath)
      val body = try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        if (n <= 0) "" else new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
      body == f.toString
    } catch { case _: java.io.IOException => false }
  }

  override def describe: String = lockPath.toString
}

object FileLockProvider {
  private val rng = new java.security.SecureRandom()
  /** 63-bit random fence token (non-negative: the token is recorded as
    * a digit string in the commit payload) — collision probability
    * across any plausible number of holds is birthday-bounded
    * (~n²/2⁶⁴), with no dependence on clocks or process-local
    * counters. */
  private[graft] def mintFence(): Long = rng.nextLong() & Long.MaxValue
}

/** JVM-wide lock keyed by table path — correct whenever every writer
  * shares one driver process (async compactor + ingest + services on a
  * session), standing in for an external lock service in exactly the
  * way the reference's in-process provider does (reference analog:
  * InProcessLockProvider.java:42). */
class InProcessLockProvider(key: String) extends LockProvider {
  import InProcessLockProvider._
  private var fence: Option[Long] = None

  override def tryLock(): Boolean = {
    val mine = (nextFence.getAndIncrement(): java.lang.Long)
    val cur = held.putIfAbsent(key, mine)
    if (cur == null) { fence = Some(mine); true } else false
  }
  override def unlock(): Unit = {
    fence.foreach(f => held.remove(key, (f: java.lang.Long)))
    fence = None
  }
  override def fenceToken: Option[Long] = fence
  /** An in-process hold cannot be lost while the JVM lives; still checked
    * against the table for uniformity. */
  override def verifyFence(): Boolean =
    fence.exists(f => held.get(key) == java.lang.Long.valueOf(f))
  override def describe: String = s"in-process:$key"
}

object InProcessLockProvider {
  private val held =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private val nextFence = new java.util.concurrent.atomic.AtomicLong(1L)
}

/** Mutual exclusion around commit publication (reference analog:
  * client/transaction/TransactionManager.java:35): the retry/timeout
  * loop over a pluggable [[LockProvider]], chosen by the table's
  * `lockProvider` config. */
class TimelineLock(
    timeline: Timeline,
    /** <= 0: the table's `lockAcquireTimeoutMs` (default 30 s). */
    timeoutMs: Long = 0,
    staleMs: Long = 60000) {

  private val effectiveTimeoutMs: Long =
    if (timeoutMs > 0) timeoutMs
    else if (timeline.exists && timeline.config.lockAcquireTimeoutMs > 0)
      timeline.config.lockAcquireTimeoutMs
    else 30000L

  private val provider: LockProvider =
    TimelineLock.providerFor(timeline, staleMs)

  def withLock[T](f: => T): T =
    // close() in the OUTER finally: a timed-out acquire() has still
    // opened provider resources (e.g. a dedicated zk client or an hms
    // connection) that must not leak on the failure path
    try {
      acquire()
      try f finally provider.unlock()
    } finally provider.close()

  /** Fence token of the current hold (inside withLock), when the
    * provider fences. */
  def fenceToken: Option[Long] = provider.fenceToken

  /** Commit-point fence check: still the holder under the acquire-time
    * token? See [[LockProvider.verifyFence]]. */
  def verifyFence(): Boolean = provider.verifyFence()

  private def acquire(): Unit = {
    val deadline = System.currentTimeMillis() + effectiveTimeoutMs
    while (!provider.tryLock()) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(
          s"timed out after ${effectiveTimeoutMs}ms waiting for timeline lock " +
            provider.describe)
      Thread.sleep(50)
    }
  }
}

object TimelineLock {
  val LockFile = ".lock"
  val File = "file"
  val InProcess = "inprocess"
  /** `zk:<connectString>` — the REAL ZooKeeper binding via Curator
    * ([[ZkLockProvider]]); connectString as ZooKeeper takes it
    * (host:port[,host:port...][/chroot]). */
  val ZkPrefix = "zk:"
  /** `hms:<thrift://...|jdbc:...>` — the Hive-metastore ACID lock
    * manager binding ([[HmsLockProvider]]). */
  val HmsPrefix = "hms:"

  /** The form check of a `lockProvider` value, connecting nothing:
    * returns the provider kind (`file`, `inprocess`, `zk:` or `hms:`)
    * and its connect string ("" for the first two), or throws
    * IllegalArgumentException naming the supported forms. null or empty
    * reads as `file`. Table creation and every write start run it, so a
    * bad value fails before any instant is minted or file written. */
  def parse(lockProvider: String): (String, String) = {
    val n = Option(lockProvider).map(_.trim).filter(_.nonEmpty).getOrElse(File)
    def connect(prefix: String, form: String): (String, String) = {
      val c = n.stripPrefix(prefix).trim
      if (c.isEmpty) throw new IllegalArgumentException(
        s"malformed lockProvider '$n' (expected '$prefix$form')")
      (prefix, c)
    }
    n match {
      case File | InProcess => (n, "")
      case zk if zk.startsWith(ZkPrefix) => connect(ZkPrefix, "<connectString>")
      case hms if hms.startsWith(HmsPrefix) => connect(HmsPrefix, "<thrift://...|jdbc:...>")
      case other => throw new IllegalArgumentException(
        s"unknown lockProvider '$other' " +
          s"(expected '$File', '$InProcess', '$ZkPrefix<connectString>' " +
          s"or '$HmsPrefix<connect>')")
    }
  }

  def providerFor(timeline: Timeline, staleMs: Long = 60000): LockProvider =
    // only the not-yet-initialized bootstrap may default; a config READ
    // failure on a live table must propagate — silently falling back to
    // the file provider would break mutual exclusion with peers that
    // did read 'inprocess'
    parse(if (!timeline.exists) null else timeline.config.lockProvider) match {
      case (File, _)      => new FileLockProvider(timeline, staleMs)
      case (InProcess, _) => new InProcessLockProvider(timeline.basePath)
      // shared long-lived ZK session per connect string; only the
      // mutex + fence marker are per-commit (see ZkLockProvider.cached)
      case (ZkPrefix, connect) => ZkLockProvider.cached(connect, timeline.basePath)
      case (_, connect)        => new HmsLockProvider(connect, timeline.basePath)
    }
}

/** The writer's lock session/lease was lost between acquiring the
  * timeline lock and the commit point (the fence check failed): the lock
  * may already be in a peer's hands, so completing would race it. The
  * write was rolled back — retry. This is the ZK session-expiry race the
  * reference's ZK provider leaves open
  * (ZookeeperBasedLockProvider.java:55); the fence token closes it down
  * to the one create-exclusive metadata write. */
class LockSessionLostException(instant: String, lock: String)
  extends RuntimeException(
    s"lock session lost before completing $instant (fence check failed " +
      s"on $lock); the write was rolled back — retry")

/** A concurrent writer published an overlapping commit first; this
  * write was aborted and its files removed — retry it (reference
  * analog: HoodieWriteConflictException). */
class ConcurrentWriteConflictException(mine: String, theirs: String)
  extends RuntimeException(
    s"commit $mine conflicts with concurrently-completed instant $theirs " +
      "(overlapping file groups); the write was rolled back — retry")

/** The write targets file groups pinned by a pending clustering plan;
  * mutating them would be lost when the plan's replacecommit lands
  * (reference analog: SparkRejectUpdateStrategy.java:42). Retry after
  * the clustering executes, or roll the plan back. */
class ClusteringConflictException(op: String, groups: Iterable[(String, String)])
  extends RuntimeException(
    s"$op targets file groups pinned by a pending clustering plan " +
      s"(e.g. ${groups.mkString(", ")}); wait for the clustering to " +
      "execute or roll back its plan, then retry")
