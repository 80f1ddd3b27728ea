package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.write.{GraftTable, Meta}

/** ORC base-file format (`TableConfig.baseFormat = "orc"`) — reference
  * analog: hoodie.table.base.file.format ORC,
  * common/model/HoodieFileFormat.java:29-43 +
  * io/storage/HoodieOrcWriter.java. The format choice must be invisible
  * to every table-level semantic: COW/MOR lifecycle, incremental reads,
  * per-file column stats (data skipping), bloom sidecars,
  * compaction — only the bytes on disk differ. */
class OrcFormatSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  def tmp(): String = Files.createTempDirectory("graft-orc").toString

  def orders: DataFrame = spark.read.parquet(s"$sf/orders.parquet")

  def batch1: DataFrame = orders.filter(col("o_orderkey") % 4 < 3)
  def batch2: DataFrame = orders.filter(col("o_orderkey") % 4 >= 2)
    .withColumn("o_totalprice", col("o_totalprice") + 1000)

  def expectedMerged: DataFrame = orders.withColumn("o_totalprice",
    when(col("o_orderkey") % 4 >= 2, col("o_totalprice") + 1000)
      .otherwise(col("o_totalprice")))

  def assertSameRows(got: DataFrame, want: DataFrame, hint: String): Unit = {
    val g = got.select(want.columns.map(col): _*)
    val extra = g.exceptAll(want).count()
    val missing = want.exceptAll(g).count()
    assert(extra == 0 && missing == 0,
      s"$hint: extra=$extra missing=$missing (got=${g.count()}, want=${want.count()})")
  }

  def cfg(tt: String): TableConfig = TableConfig(
    name = "orders", tableType = tt, keyFields = Seq("o_orderkey"),
    partitionFields = Seq("o_orderpriority"), orderingField = "o_orderdate",
    targetFileRows = 500, baseFormat = "orc",
    statsColumns = Seq("o_orderkey", "o_orderstatus"))

  /** every data file under the table (outside .graft) */
  private def dataFiles(dir: String): Seq[String] = {
    def walk(p: java.io.File): Seq[java.io.File] =
      if (p.isDirectory) {
        if (p.getName == Timeline.MetaDir) Nil
        else Option(p.listFiles()).toSeq.flatten.flatMap(walk)
      } else Seq(p)
    walk(new java.io.File(dir)).map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
  }

  test("COW lifecycle on ORC: bulk_insert + upsert + delete + time travel") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val t1 = tbl.bulkInsert(batch1)
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.snapshot()), batch1, "after bulk_insert")
    tbl.upsert(batch2)
    assertSameRows(r.dataOnly(r.snapshot()), expectedMerged, "after upsert")

    // storage is ORC only: no parquet data file anywhere, no bare files
    val names = dataFiles(dir)
    assert(names.nonEmpty && names.forall(_.endsWith(".orc")),
      s"expected only .orc data files, got: ${names.take(5)}")

    tbl.delete(batch2.select("o_orderkey", "o_orderpriority"))
    assertSameRows(r.dataOnly(r.snapshot()),
      expectedMerged.filter(col("o_orderkey") % 4 < 2), "after delete")
    assertSameRows(r.dataOnly(r.snapshot(asOf = Some(t1))), batch1,
      "time travel to t1")
  }

  test("MOR on ORC: delta files, merged snapshot, compaction") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.MOR))
    tbl.bulkInsert(batch1)
    tbl.upsert(batch2)
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.snapshot()), expectedMerged, "MOR snapshot")
    val names = dataFiles(dir)
    assert(names.exists(_.endsWith(".delta.orc")),
      s"MOR upsert must land .delta.orc files, got: ${names.take(5)}")
    assert(names.forall(_.endsWith(".orc")))

    graft.services.TableServices(tbl).compact()
    val afterNames = dataFiles(dir)
    assert(afterNames.forall(_.endsWith(".orc")))
    assertSameRows(r.dataOnly(r.snapshot()), expectedMerged,
      "MOR snapshot after compaction")
    assertSameRows(r.dataOnly(r.readOptimized()), expectedMerged,
      "read-optimized after compaction")
  }

  test("incremental read on ORC") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    val t1 = tbl.bulkInsert(batch1)
    tbl.upsert(batch2)
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.incremental(t1)), batch2, "incremental t1->t2")
  }

  test("ORC footer stats power key-range and column pruning like parquet") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    tbl.bulkInsert(batch1)
    val snap = Snapshot.resolve(tbl.timeline)
    val stats = snap.slices.flatMap(_.baseFile)
    assert(stats.nonEmpty)
    // key range recorded from ORC string statistics
    assert(stats.forall(st => st.minKey.nonEmpty && st.maxKey.nonEmpty),
      "every ORC file must carry a key range")
    // configured stats columns decoded (long + string)
    assert(stats.forall(st => st.columnStats.contains("o_orderkey")),
      "o_orderkey (long) stats missing")
    assert(stats.forall(st => st.columnStats.contains("o_orderstatus")),
      "o_clerk (string) stats missing")
    // the bounds are true bounds: global min/max across files == data min/max
    val loHi = batch1.agg(min("o_orderkey"), max("o_orderkey")).head()
    val statLo = stats.map(_.columnStats("o_orderkey").min.toLong).min
    val statHi = stats.map(_.columnStats("o_orderkey").max.toLong).max
    assert(statLo == loHi.getLong(0) && statHi == loHi.getLong(1),
      s"ORC bounds [$statLo,$statHi] != data [${loHi.getLong(0)},${loHi.getLong(1)}]")
  }

  test("ORC scan keeps Catalyst pushdown: FileScan orc with PushedFilters") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg(TableType.COW))
    tbl.bulkInsert(batch1)
    val r = GraftReader(tbl)
    val q = r.snapshot().filter(col("o_orderkey") === 42L)
      .select("o_orderkey", "o_totalprice")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan orc"), s"expected an ORC file scan:\n$plan")
    assert(plan.contains("Batched: true"),
      s"ORC scan must stay vectorized:\n$plan")
    // the key predicate (and the tombstone filter) reach the reader;
    // exact order varies and the plan string truncates the list
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("EqualTo(o_orderkey,"),
      s"filter not pushed to the ORC reader:\n$plan")
  }

  test("bloom sidecar + point membership on ORC") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir,
      cfg(TableType.COW).copy(bloomIndex = true))
    tbl.bulkInsert(batch1)
    val fs = tbl.timeline.fileSystem
    val snap = Snapshot.resolve(tbl.timeline)
    val withBloom = snap.slices.flatMap(_.baseFile).count { st =>
      fs.exists(graft.write.KeyBloom.sidecar(
        new Path(s"${tbl.basePath}/${st.path}")))
    }
    assert(withBloom > 0, "ORC files must still get bloom sidecars")
    // filterExists keeps the NOT-yet-present rows: existing keys drop,
    // unseen keys (k%4==3, never in batch1) pass through
    val r = GraftReader(tbl)
    val present = batch1.select("o_orderkey", "o_orderpriority").limit(10)
    assert(r.filterExists(present).count() == 0)
    val absent = orders.filter(col("o_orderkey") % 4 === 3)
      .select("o_orderkey", "o_orderpriority")
    assert(r.filterExists(absent).count() == absent.count())
  }

  test("ORC x dropPartitionColumns: fields shed from storage, restored at read") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir,
      cfg(TableType.COW).copy(dropPartitionColumns = true,
        urlEncodePartitioning = true))
    tbl.bulkInsert(batch1)
    val r = GraftReader(tbl)
    // the partition column reads back although absent from the files
    assertSameRows(r.dataOnly(r.snapshot()), batch1, "dropPartCols roundtrip")
    // physically absent from storage: read one .orc file raw
    val f = dataFiles(dir).find(_.endsWith(".orc")).get
    val raw = spark.read.format("orc")
      .load(new java.io.File(dir).listFiles().filter(_.isDirectory)
        .flatMap(d => Option(d.listFiles()).toSeq.flatten)
        .find(_.getName == f).get.getAbsolutePath)
    assert(!raw.columns.contains("o_orderpriority"),
      s"partition column must be shed from ORC storage: ${raw.columns.mkString(",")}")
  }

  test("ORC x virtualKeys: zero meta columns stored, stamped at read") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir,
      cfg(TableType.COW).copy(virtualKeys = true))
    tbl.bulkInsert(batch1)
    val r = GraftReader(tbl)
    assertSameRows(r.dataOnly(r.snapshot()), batch1, "virtualKeys roundtrip")
    val snap = r.snapshot()
    assert(snap.columns.contains(Meta.Key) && snap.columns.contains(Meta.CommitTime))
    // raw file holds ONLY data columns
    val fName = dataFiles(dir).find(_.endsWith(".orc")).get
    def findFile(d: java.io.File): Option[java.io.File] =
      if (d.isFile) Some(d).filter(_.getName == fName)
      else Option(d.listFiles()).toSeq.flatten.flatMap(findFile).headOption
    val raw = spark.read.format("orc")
      .load(findFile(new java.io.File(dir)).get.getAbsolutePath)
    assert(Meta.all.forall(m => !raw.columns.contains(m)),
      s"virtualKeys ORC file must store zero meta columns: ${raw.columns.mkString(",")}")
  }

  test("ORC x clustering: Z-order rewrite keeps .orc files and the answer") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir,
      cfg(TableType.COW).copy(targetFileRows = 100))
    tbl.bulkInsert(batch1)
    val r = GraftReader(tbl)
    val done = graft.services.TableServices(tbl).cluster(
      Seq("o_orderkey", "o_custkey"), layout = "zorder",
      targetFileRows = 2000)
    assert(done.nonEmpty, "clustering must produce a replacecommit")
    assert(dataFiles(dir).forall(_.endsWith(".orc")))
    assertSameRows(r.dataOnly(r.snapshot()), batch1, "post-clustering state")
  }

  test("ORC x CDC: inserts, pre-image updates and deletes over ORC files") {
    val tbl = GraftTable.create(spark, tmp(), cfg(TableType.COW))
    val t1 = tbl.bulkInsert(batch1)
    tbl.upsert(batch2)
    tbl.delete(orders.filter(col("o_orderkey") % 4 === 0).limit(5)
      .select("o_orderkey", "o_orderpriority"))
    val r = GraftReader(tbl)
    val cdc = r.incrementalCdc(t1, preImage = true)
    val ops = cdc.groupBy("_g_operation").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(ops.contains("I") && ops.contains("+U") && ops.contains("-U") &&
      ops.contains("D"), s"CDC op mix incomplete over ORC: $ops")
    assert(ops("+U") == ops("-U"), "every update needs both images")
  }

  test("stats decoders agree across formats: parquet vs ORC ColStats") {
    import spark.implicits._
    // one frame covering every stats encoding both formats share:
    // long, string, double, boolean, decimal, date, timestamps — plus
    // nulls, so null counts are compared too
    import org.apache.spark.sql.types._
    def ntz(s: String) = java.time.LocalDateTime.parse(s)
    def ltz(s: String) = java.time.Instant.parse(s)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, "p", "alpha", 1.5d, true,
          new java.math.BigDecimal("12.340"), java.sql.Date.valueOf("2020-01-02"),
          ntz("2021-03-05T07:08:09.123456"), ltz("2021-03-05T07:08:09.123456Z"), 10L),
        org.apache.spark.sql.Row(2L, "p", null, -2.25d, false,
          new java.math.BigDecimal("-3.100"), java.sql.Date.valueOf("2021-06-30"),
          ntz("2022-11-30T23:59:58.5"), ltz("2022-11-30T23:59:58.5Z"), 20L),
        org.apache.spark.sql.Row(3L, "p", "omega", 0.0d, true,
          null, null, null, null, 30L))),
      StructType(Seq(
        StructField("id", LongType),
        StructField("p", StringType),
        StructField("s", StringType),
        StructField("d", DoubleType),
        StructField("b", BooleanType),
        StructField("dec", DecimalType(10, 3)),
        StructField("dt", DateType),
        StructField("tn", TimestampNTZType),
        StructField("tl", TimestampType),
        StructField("ts", LongType))))
    def statsOf(format: String): Map[String, ColStat] = {
      val c = TableConfig(name = "parity", tableType = TableType.COW,
        keyFields = Seq("id"), partitionFields = Seq("p"), orderingField = "ts",
        baseFormat = format,
        statsColumns = Seq("s", "d", "b", "dec", "dt", "tn", "tl"))
      val tbl = GraftTable.create(spark, tmp(), c)
      tbl.bulkInsert(df)
      val files = Snapshot.resolve(tbl.timeline).slices.flatMap(_.baseFile)
      assert(files.size == 1)
      files.head.columnStats
    }
    val pq = statsOf("parquet")
    val orc = statsOf("orc")
    for (c <- Seq("s", "d", "b", "dec", "dt", "tn", "tl")) {
      assert(pq.contains(c), s"parquet stats missing for $c")
      assert(orc.contains(c), s"orc stats missing for $c")
      assert(pq(c) == orc(c),
        s"stats divergence on $c: parquet=${pq(c)} orc=${orc(c)}")
    }
  }

  test("format(\"graft\") honors base.format=orc end-to-end") {
    val dir = tmp() + "/t"
    batch1.write.format("graft")
      .option("key.fields", "o_orderkey")
      .option("partition.fields", "o_orderpriority")
      .option("ordering.field", "o_orderdate")
      .option("base.format", "orc")
      .save(dir)
    val names = dataFiles(dir)
    assert(names.nonEmpty && names.forall(_.endsWith(".orc")),
      s"DataSource write must land ORC files, got: ${names.take(5)}")
    val back = spark.read.format("graft").load(dir)
    assertSameRows(back.drop(graft.write.Meta.all: _*), batch1,
      "DataSource read-back over ORC")
  }

  test("unknown baseFormat is rejected loudly") {
    val e = intercept[IllegalArgumentException] {
      GraftTable.create(spark, tmp(), cfg(TableType.COW).copy(baseFormat = "hfile"))
    }
    assert(e.getMessage.contains("baseFormat"))
  }

  override def afterAll(): Unit = spark.stop()
}
