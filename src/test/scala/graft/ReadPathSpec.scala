package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.{GraftFileIndex, GraftReader}
import graft.services.TableServices
import graft.sql.GraftDdl
import graft.write.GraftTable

/** Commit-listed files have ONE read path: `GraftTable.readStatsDf` scans
  * them through `GraftFileIndex` relations — no storage listing and no
  * path globbing — whatever the caller (snapshot, merge, compaction,
  * upsert/delete re-read, bloom build) and whatever the layout (native,
  * virtual keys, dropped partition columns, bootstrapped files). */
class ReadPathSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  def tmp(): String = Files.createTempDirectory("graft-readpath").toString

  type Row4 = (Long, String, String, Long)

  def toDf(rows: Seq[Row4]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "p", "v", "ts")
  }

  def collected(df: DataFrame): Seq[Row4] = {
    import spark.implicits._
    df.select("id", "p", "v", "ts").as[Row4].collect().toSeq.sortBy(_._1)
  }

  // ---------------------------------------------------------------------
  // glob characters in partition values
  // ---------------------------------------------------------------------

  // `a[1]` is a glob matching the sibling `a1`, `x{y,z}` one matching
  // `xy` / `xz`: a path-globbing read resolves neither to its own file
  val globParts = Seq("a[1]", "x{y,z}", "a1")

  def globRow(i: Int, tag: String, ts: Long): Row4 =
    (i.toLong, globParts(i % 3), s"$tag$i", ts)

  for ((tt, bloom) <- Seq((TableType.COW, false), (TableType.MOR, false), (TableType.MOR, true)))
    test(s"$tt${if (bloom) " + bloom index" else ""}: partition values with glob " +
        "characters survive upsert, delete, incremental and compaction") {
      val tbl = GraftTable.create(spark, tmp(), TableConfig(
        name = "glob", tableType = tt, keyFields = Seq("id"),
        partitionFields = Seq("p"), orderingField = "ts",
        targetFileRows = 1000, bloomIndex = bloom))
      val r = GraftReader(tbl)
      val base = (1 to 30).map(globRow(_, "v", 1L))
      val t1 = tbl.bulkInsert(toDf(base))
      assert(collected(r.dataOnly(r.snapshot())) == base)
      assert(Snapshot.resolve(tbl.timeline).slices.map(_.partition).toSet == globParts.toSet)

      val ups = (21 to 40).map(globRow(_, "u", 2L))
      tbl.upsert(toDf(ups))
      val dels = (5 to 40 by 5).map(globRow(_, "", 0L))
      tbl.delete(toDf(dels).select("id", "p"))

      val deleted = dels.map(_._1).toSet
      val want = ((1 to 20).map(globRow(_, "v", 1L)) ++ ups).filterNot(x => deleted(x._1))
      val changed = ups.filterNot(x => deleted(x._1))
      assert(collected(r.dataOnly(r.snapshot())) == want, "snapshot")
      assert(collected(r.dataOnly(r.incremental(t1))) == changed, "incremental")
      if (tt == TableType.MOR) {
        assert(TableServices(tbl).compact().isDefined)
        assert(Snapshot.resolve(tbl.timeline).slices.forall(_.deltas.isEmpty))
        assert(collected(r.dataOnly(r.snapshot())) == want, "snapshot after compaction")
        assert(collected(r.dataOnly(r.incremental(t1))) == changed,
          "incremental after compaction")
      }
    }

  // ---------------------------------------------------------------------
  // structure: one relation type, no listing job
  // ---------------------------------------------------------------------

  /** Every file-scan location in `df`'s optimized plan. */
  def scanLocations(df: DataFrame): Seq[FileIndex] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location
    }

  def assertGraftScansOnly(df: DataFrame, hint: String): Unit = {
    val locs = scanLocations(df)
    assert(locs.nonEmpty, s"$hint: no file scan in the plan")
    assert(!locs.exists(_.isInstanceOf[InMemoryFileIndex]), s"$hint: storage-listed scan")
    assert(locs.forall(_.isInstanceOf[GraftFileIndex]),
      s"$hint: scans ${locs.map(_.getClass.getSimpleName)}")
  }

  def jobDescriptions[T](body: => T): (T, Seq[String]) = SparkJobs.descriptions(spark)(body)

  /** 400 rows over 4 partitions in groups of at most 10 rows. */
  def wide(tag: String, ts: Long): DataFrame =
    toDf((0 until 400).map(i => (i.toLong, s"p${i % 4}", s"$tag$i", ts)))

  def allFilesRead(tbl: GraftTable): (DataFrame, Int) = {
    val snap = Snapshot.resolve(tbl.timeline)
    val files = snap.slices.flatMap(_.allFiles)
    (tbl.readStatsDf(tbl.readSchema(snap), files), files.size)
  }

  for (dropCols <- Seq(false, true))
    test(s"MOR${if (dropCols) " + dropPartitionColumns" else ""}: merge reads and " +
        "compaction of >32 delta-bearing groups scan GraftFileIndex only, no listing job") {
      val tbl = GraftTable.create(spark, tmp(), TableConfig(
        name = "wide", tableType = TableType.MOR, keyFields = Seq("id"),
        partitionFields = Seq("p"), orderingField = "ts", targetFileRows = 10,
        dropPartitionColumns = dropCols))
      tbl.bulkInsert(wide("v", 1L))
      tbl.upsert(wide("u", 2L))
      val dirty = Snapshot.resolve(tbl.timeline).slices.count(_.deltas.nonEmpty)
      assert(dirty > 32, s"only $dirty delta-bearing groups")

      val (raw, nFiles) = allFilesRead(tbl)
      assert(nFiles > 64)
      assertGraftScansOnly(raw, "raw group read")
      assert(raw.count() == 800)
      val r = GraftReader(tbl)
      assertGraftScansOnly(r.snapshot(), "merged snapshot")

      val (compacted, descs) = jobDescriptions(TableServices(tbl).compact())
      assert(compacted.isDefined)
      assert(descs.exists(_.startsWith("graft: stage")), s"jobs seen: $descs")
      assert(descs.count(_.startsWith("Listing leaf files")) == 0, s"jobs seen: $descs")
      assert(collected(r.dataOnly(r.snapshot())) ==
        (0 until 400).map(i => (i.toLong, s"p${i % 4}", s"u$i", 2L)))
    }

  test("virtual keys: a >32-file read scans GraftFileIndex only") {
    val tbl = GraftTable.create(spark, tmp(), TableConfig(
      name = "vk", tableType = TableType.COW, keyFields = Seq("id"),
      partitionFields = Seq("p"), targetFileRows = 10, virtualKeys = true,
      dropPartitionColumns = true))
    tbl.bulkInsert(wide("v", 1L))
    val (df, nFiles) = allFilesRead(tbl)
    assert(nFiles > 32)
    assertGraftScansOnly(df, "virtual-keys read")
    assert(collected(df) == (0 until 400).map(i => (i.toLong, s"p${i % 4}", s"v$i", 1L)))
    assert(df.select(graft.write.Meta.Key).distinct().count() == 400)
  }

  test("bootstrapped + native files: one read, GraftFileIndex scans only") {
    val src = s"${tmp()}/src"
    // 36 single-partition source files
    (0 until 36).foreach { f =>
      toDf((0 until 5).map(j => ((f * 5 + j).toLong, s"p${f % 4}", s"b${f * 5 + j}", 1L)))
        .coalesce(1).write.mode("append").parquet(src)
    }
    val tbl = GraftDdl.bootstrap(spark, tmp(), TableConfig(
      name = "boot", tableType = TableType.COW, keyFields = Seq("id"),
      partitionFields = Seq("p"), orderingField = "ts", targetFileRows = 1000), src)
    assert(Snapshot.resolve(tbl.timeline).slices.count(_.baseFile.exists(_.external)) == 36)
    // a fresh key lands in a native group beside the external ones
    tbl.upsert(toDf(Seq((1000L, "p0", "n1000", 2L))))
    val snap = Snapshot.resolve(tbl.timeline)
    val files = snap.slices.flatMap(_.allFiles)
    assert(files.exists(_.external) && files.exists(!_.external))
    val (df, _) = allFilesRead(tbl)
    assert(scanLocations(df).size == 2, "one external + one native relation")
    assertGraftScansOnly(df, "bootstrapped read")
    assert(df.count() == 181)
  }

  // ---------------------------------------------------------------------
  // partition-only predicates over a partition path shared by values
  // ---------------------------------------------------------------------

  for (tt <- Seq(TableType.COW, TableType.MOR))
    test(s"$tt: partition predicates keep every value sanitised into one path") {
      import org.apache.spark.sql.functions.col
      // `a/b` and `a_b` both sanitise to the partition path `a_b`
      val tbl = GraftTable.create(spark, tmp(), TableConfig(
        name = "shared", tableType = tt, keyFields = Seq("id"),
        partitionFields = Seq("p"), orderingField = "ts", targetFileRows = 4,
        statsColumns = Seq("p")))
      val first = (1 to 6).map(i => (i.toLong, if (i % 2 == 0) "a/b" else "c", s"v$i", 1L))
      val second = (7 to 12).map(i => (i.toLong, if (i % 2 == 0) "a_b" else "b", s"v$i", 1L))
      tbl.bulkInsert(toDf(first))
      tbl.upsert(toDf(second))
      val paths = Snapshot.resolve(tbl.timeline).slices.map(_.partition).toSet
      assert(paths == Set("a_b", "b", "c"), s"partition paths: $paths")
      val r = GraftReader(tbl)
      val all = first ++ second
      for ((pred, keep) <- Seq[(org.apache.spark.sql.Column, String => Boolean)](
          (col("p") === "a_b", _ == "a_b"),
          (col("p") === "a/b", _ == "a/b"),
          (col("p").isin("a_b", "c"), Set("a_b", "c")),
          (col("p") > "a0", _ > "a0"),
          (col("p") < "a_", _ < "a_"))) {
        assert(collected(r.dataOnly(r.snapshot()).filter(pred)) ==
          all.filter(x => keep(x._2)).sortBy(_._1), s"rows under $pred")
      }
    }

  // ---------------------------------------------------------------------
  // string bounds are compared in the order they are written in
  // ---------------------------------------------------------------------

  // U+FF21 sorts BELOW U+1F600 by code point (= UTF-8 bytes, the order
  // RowStats and Spark record bounds in) but ABOVE it by UTF-16 code
  // unit (String.compareTo): one file holding both has min "Ａ" and max
  // "😀", which a UTF-16 reader takes for an empty range
  val (fullwidth, emoji) = ("Ａ", "😀")

  def stringTable(): GraftTable = {
    import spark.implicits._
    val tbl = GraftTable.create(spark, tmp(), TableConfig(
      name = "cp", tableType = TableType.COW, keyFields = Seq("k"),
      orderingField = "ts", targetFileRows = 1000, smallFileRows = 0,
      statsColumns = Seq("s")))
    tbl.bulkInsert(Seq((fullwidth, fullwidth, 1L), (emoji, emoji, 1L)).toDF("k", "s", "ts"))
    val files = Snapshot.resolve(tbl.timeline).slices.flatMap(_.allFiles)
    assert(files.size == 1, "both rows in one file")
    assert(files.head.minKey == fullwidth && files.head.maxKey == emoji)
    tbl
  }

  test("string bounds in code-point order: stats skipping, startsWith and point lookup") {
    import org.apache.spark.sql.functions.col
    val r = GraftReader(stringTable())
    assert(r.snapshot().filter(col("s") === fullwidth).count() == 1, "equality skipped the file")
    assert(r.snapshot().filter(col("s").startsWith(fullwidth)).count() == 1,
      "startsWith skipped the file")
    assert(r.pointLookup(Seq(fullwidth)).count() == 1, "point lookup pruned the file")
  }

  test("string bounds in code-point order: an upsert finds the existing key's file") {
    import spark.implicits._
    val tbl = stringTable()
    tbl.upsert(Seq((fullwidth, "updated", 2L)).toDF("k", "s", "ts"))
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot()).select("k", "s").as[(String, String)].collect().sorted.toSeq
    assert(got == Seq(fullwidth -> "updated", emoji -> emoji).sorted,
      s"the upsert must update, not duplicate: $got")
  }
}
