package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.write.GraftTable

/** Write-tail scale probe: a commit's write must do the same WORK per
  * file group at any group count — one Spark write job whatever the
  * group count, each group's file written once at its committed name, no
  * staging tree and no second (publish) phase (reference contract: the
  * write handles write each base file in place and the completed instant
  * is the only publish point, io/HoodieCreateHandle.java:52-210).
  *
  * Asserted as counts, not wall-clock bounds (timings go to `info`).
  * Tiny one-row groups keep the probe cheap — the cost under test is
  * per-FILE, so near-empty files exercise it at full fidelity. */
class PublishScaleSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-pubscale").toString

  private def df(n: Int): DataFrame = {
    import spark.implicits._
    (1 to n).map(i => (i.toLong, s"p$i", s"v$i", i.toLong))
      .toDF("id", "p", "v", "ts")
  }

  // one row per partition -> EXACTLY one file group per row (bucket
  // packing never crosses partitions), giving the probe a precise group
  // count without depending on bin-packer internals
  private def cfg(store: String, format: String = "parquet"): TableConfig =
    TableConfig(
      name = "pubscale", tableType = TableType.COW, keyFields = Seq("id"),
      partitionFields = Seq("p"), orderingField = "ts",
      targetFileRows = 1000, statsColumns = Seq("v"), commitStore = store,
      baseFormat = format)

  private def jobDescriptions(body: => Unit): Seq[String] =
    SparkJobs.descriptions(spark)(body)._2

  /** Data files under the table (everything outside `.graft`). */
  private def dataFiles(tbl: GraftTable): Seq[String] = {
    val fs = tbl.timeline.fileSystem
    val it = fs.listFiles(new Path(tbl.basePath), true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath.toUri.getPath)
      .filterNot(_.contains(s"/${Timeline.MetaDir}/")).toSeq
  }

  /** One bulk_insert producing exactly `groups` file groups: asserts it
    * leaves one file per group at its committed name and no staging
    * tree, and returns the descriptions of the Spark jobs it ran. */
  private def commitJobs(groups: Int, store: String, format: String = "parquet"): Seq[String] = {
    val tbl = GraftTable.create(spark, tmp(), cfg(store, format))
    val t0 = System.nanoTime()
    val jobs = jobDescriptions(tbl.bulkInsert(df(groups)))
    info(f"$store/$format: $groups groups in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    val files = Snapshot.resolve(tbl.timeline).slices.flatMap(_.allFiles)
    assert(files.size == groups, s"probe expects one group per row: ${files.size} vs $groups")
    val onDisk = dataFiles(tbl)
    assert(onDisk.size == groups, s"one file per group: ${onDisk.size} files for $groups groups")
    assert(onDisk.toSet == files.map(st => new Path(tbl.absPath(st)).toUri.getPath).toSet,
      "every file on disk is one the commit lists, at its committed name")
    val fs = tbl.timeline.fileSystem
    assert(!fs.exists(new Path(tbl.timeline.metaDir, ".tmp")), "no staging tree")
    jobs
  }

  /** 64 and 2,000 groups run the same Spark jobs, none of them a publish. */
  private def assertFlatJobs(store: String, format: String): Unit = {
    commitJobs(8, store, format) // warm codegen + writer classes
    val small = commitJobs(64, store, format)
    val big = commitJobs(2000, store, format)
    assert(small.exists(_.startsWith("graft: stage")), s"the write job is described: $small")
    assert(!(small ++ big).exists(_.startsWith("graft: publish")),
      s"no publish job: ${(small ++ big).distinct}")
    assert(small.size == big.size,
      s"$store/$format: 64 groups ran ${small.size} jobs, 2000 ran ${big.size}:\n" +
        s"${small.sorted}\n${big.sorted}")
  }

  test("a 64-group and a 2,000-group commit run the same Spark jobs and leave one file per group (both profiles)") {
    Seq(CommitStore.Rename, CommitStore.Put).foreach(assertFlatJobs(_, "parquet"))
  }

  test("ORC: a 64-group and a 2,000-group commit run the same Spark jobs and leave one file per group") {
    assertFlatJobs(CommitStore.Rename, "orc")
    // and the ORC column stats actually made it into the metadata
    val tbl = GraftTable.create(spark, tmp(), cfg(CommitStore.Rename, "orc"))
    tbl.bulkInsert(df(8))
    val stats = Snapshot.resolve(tbl.timeline).slices.flatMap(_.baseFile)
    assert(stats.forall(st => st.rows == 1L && st.columnStats.contains("v")))
  }

  test("a table.json that still carries publishMode loads and commits") {
    import spark.implicits._
    val dir = tmp()
    GraftTable.create(spark, dir, cfg(CommitStore.Rename))
    // a table written before the option was removed: the stored config
    // still names a publish vehicle (written through the filesystem so
    // its checksum stays valid)
    val tl = new Timeline(dir, spark.sessionState.newHadoopConf())
    val conf = new Path(tl.metaDir, Timeline.ConfigFile)
    val fs = tl.fileSystem
    val json = { val in = fs.open(conf); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
    assert(json.startsWith("{") && !json.contains("publishMode"))
    val out = fs.create(conf, true)
    try out.write(("{\"publishMode\":\"driver\"," + json.drop(1)).getBytes("UTF-8"))
    finally out.close()
    assert(tl.config.name == "pubscale")
    val tbl = GraftTable.load(spark, dir)
    tbl.bulkInsert(df(64))
    tbl.bulkInsert(
      (101 to 105).map(i => (i.toLong, s"p$i", s"v$i", i.toLong)).toDF("id", "p", "v", "ts"))
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).count() == 69)
    assert(dataFiles(tbl).size == 69, "one file per group")
  }
}
