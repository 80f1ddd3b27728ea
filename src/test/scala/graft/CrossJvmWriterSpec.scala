package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.write.GraftTable

/** End-to-end multi-writer race across REAL process boundaries: a second
  * JVM ([[graft.write.WriterProbe]]) runs a genuine upsert through the
  * full publish path against the same table directory this JVM writes,
  * under the out-of-process zk lock × both commit-store profiles (plus
  * the file and hms legs) — the full production multi-writer posture
  * (reference analog: TestHoodieClientMultiWriter). It proves the
  * COMMIT PROTOCOL serializes real writers:
  * exactly-once state, no pending instants, no phantom values, whichever
  * interleaving the scheduler produces. */
class CrossJvmWriterSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  lazy val zk: (String, () => Unit) = EmbeddedZk.start()
  // real thrift metastore (daemon thread; dies with the JVM)
  lazy val hmsUri: String = EmbeddedHms.start()

  override def afterAll(): Unit = {
    spark.stop()
    ZkLockProvider.closeCached(zk._1)
    zk._2()
  }

  private def tmp(): String = Files.createTempDirectory("graft-xjvm").toString

  private def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
  }

  /** The child is a full Spark driver: it needs the same classpath and
    * JDK17 --add-opens set the forked test JVM got from build.sbt. */
  private def launchProbe(tableDir: String, id: Int): Process = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.write.WriterProbe", tableDir, id.toString))
    val pb = new ProcessBuilder(cmd: _*)
    // stderr goes to a file, NEVER a pipe this test doesn't drain: a
    // full 64 KB pipe buffer blocks the child mid-boot (Spark + ZK
    // client INFO logging overflows it) and reads as a silent hang
    pb.redirectError(
      Files.createTempFile("graft-xjvm-probe", ".stderr").toFile)
    pb.start()
  }

  private def readVerdict(child: Process, timeoutMs: Long = 180000): String = {
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(child.getInputStream))
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!in.ready() && System.currentTimeMillis() < deadline) {
      if (!child.isAlive && !in.ready())
        return s"<probe exited ${child.exitValue()} with no output>"
      Thread.sleep(50)
    }
    if (in.ready()) in.readLine() else "<timed out waiting for probe>"
  }

  // zk = the out-of-process lock service posture, on both commit
  // stores; file = the pure-FS (HDFS-class) posture, whose cross-process
  // exclusion rests on the atomic create-if-absent the NIO CREATE_NEW
  // fix guarantees on local disks
  for ((store, lock) <- Seq(
      (CommitStore.Rename, "zk"),    // real ZooKeeper across both JVMs
      (CommitStore.Put, "zk"),
      (CommitStore.Rename, TimelineLock.File),
      (CommitStore.Rename, "hms"))) { // real thrift metastore across both JVMs
    test(s"[$store/$lock] a second writer JVM races this one on a single key: " +
        "exactly-once state, clean timeline") {
      import spark.implicits._
      val dir = tmp()
      val tbl = GraftTable.create(spark, dir, TableConfig(
        name = "xjvm", tableType = TableType.COW, keyFields = Seq("id"),
        orderingField = "", targetFileRows = 1000, occ = true,
        commitStore = store,
        lockProvider = lock match {
          case "zk"  => s"zk:${zk._1}"
          case "hms" => s"hms:$hmsUri"
          case other => other
        }))
      tbl.bulkInsert(rows(1L, 2L, 3L))

      val child = launchProbe(dir, id = 7)
      // race the foreign writer from this JVM: several upserts of the
      // SAME key while the probe boots and commits — whatever
      // interleaving lands, OCC must serialize them
      var localWins = 0
      var localConflicts = 0
      try {
        (1 to 4).foreach { i =>
          try {
            tbl.upsert(Seq((1L, s"local$i", 2000L + i)).toDF("id", "v", "ts"))
            localWins += 1
          } catch {
            case _: ConcurrentWriteConflictException => localConflicts += 1
            case _: LockSessionLostException => localConflicts += 1
          }
          Thread.sleep(500)
        }
        val verdict = readVerdict(child)
        assert(verdict == "CONFLICT" || verdict.startsWith("COMMITTED"),
          s"foreign writer must commit or lose cleanly, got: $verdict")
        assert(localWins + (if (verdict.startsWith("COMMITTED")) 1 else 0) >= 1,
          "at least one writer must land")

        // exactly-once state: ids unchanged, key 1 carries EXACTLY the
        // last completed writer's value — never a phantom or a mix
        val r = GraftReader(tbl)
        val got = r.dataOnly(r.snapshot()).select("id", "v")
          .as[(Long, String)].collect().sortBy(_._1).toMap
        assert(got.keySet == Set(1L, 2L, 3L))
        assert(got(2L) == "v2" && got(3L) == "v3")
        val valid = (1 to 4).map(i => s"local$i").toSet + "probe7"
        assert(valid.contains(got(1L)),
          s"key 1 must hold a committed writer's value, got ${got(1L)}")
        // the visible value belongs to the LAST completed data commit
        val lastData = tbl.timeline.completed()
          .filter(i => Action.dataActions(i.action)).last
        val lastFiles = tbl.timeline.metadataOf(lastData).stats.map(_.path).toSet
        assert(lastFiles.nonEmpty)
        // no pending instants left by either JVM
        assert(tbl.timeline.instants().forall(_.isCompleted),
          "a loser (either JVM) left a pending instant")
      } finally {
        if (child.isAlive) { child.destroyForcibly(); child.waitFor() }
      }
    }
  }
}
