package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.sql.{GraftDdl, GraftSql}
import graft.write.GraftTable

class DdlSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("graft-ddl").toString

  def rows: DataFrame = {
    import spark.implicits._
    Seq((1L, "a", "p1", 1L), (2L, "b", "p2", 1L), (3L, "c", "p1", 1L))
      .toDF("id", "v", "p", "ts")
  }

  def cfg: TableConfig = TableConfig(
    name = "t", tableType = TableType.COW, keyFields = Seq("id"),
    partitionFields = Seq("p"), orderingField = "ts", targetFileRows = 1000)

  test("CTAS creates and loads in one step") {
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).count() == 3)
  }

  test("SHOW PARTITIONS lists live partitions; drop removes them") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    assert(GraftDdl.showPartitions(tbl).as[String].collect().toSeq == Seq("p1", "p2"))
    tbl.deletePartitions(Seq("p2"))
    assert(GraftSql.sql(spark, s"SHOW PARTITIONS '$dir'")
      .as[String].collect().toSeq == Seq("p1"))
  }

  test("ALTER ADD COLUMNS evolves schema; old files read as null; writes fill") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    GraftDdl.addColumns(tbl, Seq(StructField("score", LongType)))
    val r = GraftReader(tbl)
    val afterAlter = r.dataOnly(r.snapshot())
    assert(afterAlter.columns.contains("score"))
    assert(afterAlter.filter(col("score").isNull).count() == 3)
    // a post-evolution upsert writes the new column; untouched rows stay null
    tbl.upsert(Seq((2L, "b2", "p2", 2L, 77L)).toDF("id", "v", "p", "ts", "score"))
    val got = r.dataOnly(r.snapshot()).select("id", "score")
      .as[(Long, Option[Long])].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, None), (2L, Some(77L)), (3L, None)))
    // duplicate column rejected
    intercept[IllegalArgumentException] {
      GraftDdl.addColumns(tbl, Seq(StructField("v", StringType)))
    }
  }

  test("ALTER via SQL string form") {
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    GraftSql.sql(spark, s"ALTER TABLE '$dir' ADD COLUMNS (score bigint, note string)")
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).columns.toSet
      .intersect(Set("score", "note")).size == 2)
  }

  test("TRUNCATE empties the table but keeps schema; history preserved") {
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    val t1 = tbl.timeline.completed().last.time
    GraftSql.sql(spark, s"TRUNCATE TABLE '$dir'")
    val r = GraftReader(tbl)
    assert(r.snapshot().count() == 0)
    assert(r.snapshot().columns.contains("v")) // schema survives
    assert(r.snapshot(asOf = Some(t1)).count() == 3) // time travel pre-truncate
    // and the table accepts new data afterwards
    tbl.upsert(rows)
    assert(r.dataOnly(r.snapshot()).count() == 3)
  }

  test("TRUNCATE runs the write protocol: a rejecting validator aborts it") {
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    val before = tbl.timeline.instants()
    // the after-snapshot of a truncate is empty: this validator rejects it
    tbl.withValidators(Seq(new graft.write.SqlQuerySingleResultValidator(Seq(
      "SELECT count(*) > 0 FROM <TABLE_NAME>#true"))))
    intercept[graft.write.PreCommitValidationException](GraftDdl.truncate(tbl))
    assert(tbl.timeline.instants() == before, "no instant, pending or completed, is left")
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).count() == 3)
  }

  test("ALTER RENAME TO updates the stored table name") {
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    GraftDdl.renameTable(tbl, "t_renamed")
    assert(GraftTable.load(spark, dir).config.name == "t_renamed")
    // SQL form
    GraftSql.sql(spark, s"ALTER TABLE '$dir' RENAME TO t2").collect()
    assert(GraftTable.load(spark, dir).config.name == "t2")
  }

  test("ALTER COLUMN TYPE widens; pre-change files up-cast at read") {
    import spark.implicits._
    val dir = tmp()
    val intRows = Seq((1L, 10, "p1", 1L), (2L, 20, "p2", 1L)).toDF("id", "n", "p", "ts")
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, intRows)
    // SQL form: int -> bigint
    GraftSql.sql(spark, s"ALTER TABLE '$dir' ALTER COLUMN n TYPE bigint").collect()
    val r = GraftReader(tbl)
    val got = r.dataOnly(r.snapshot())
    assert(got.schema("n").dataType == LongType)
    assert(got.select(sum(col("n"))).as[Long].head() == 30L)
    // post-change writes carry the widened type; both generations coexist
    tbl.upsert(Seq((3L, 3000000000L, "p1", 2L)).toDF("id", "n", "p", "ts"))
    assert(GraftReader(tbl).dataOnly(GraftReader(tbl).snapshot())
      .select(sum(col("n"))).as[Long].head() == 3000000030L)
    // narrowing / non-promotable changes are rejected
    intercept[IllegalArgumentException] {
      GraftDdl.changeColumnType(tbl, "n", org.apache.spark.sql.types.IntegerType)
    }
    intercept[IllegalArgumentException] { // long -> double is not readable
      GraftDdl.changeColumnType(tbl, "n", org.apache.spark.sql.types.DoubleType)
    }
  }

  test("ALTER DROP PARTITION drops via replacecommit") {
    import spark.implicits._
    val dir = tmp()
    val tbl = GraftDdl.createTableAs(spark, dir, cfg, rows)
    GraftSql.sql(spark, s"ALTER TABLE '$dir' DROP PARTITION (p = 'p1')").collect()
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).select("p").distinct().as[String].collect().toSeq
      == Seq("p2"))
    // spec must cover the partition fields
    intercept[IllegalArgumentException] {
      GraftDdl.dropPartition(tbl, Map("zzz" -> "p2"))
    }
  }

  test("timestamp key generator: formatted nested partitions, hive-style") {
    import spark.implicits._
    val dir = tmp()
    val c = TableConfig(
      name = "t2", tableType = TableType.COW, keyFields = Seq("id"),
      partitionFields = Seq("d"), orderingField = "",
      partitionTimestampFormat = Map("d" -> "yyyy/MM/dd"),
      targetFileRows = 1000)
    val tbl = GraftTable.create(spark, dir, c)
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-05 10:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-03-06 11:00:00"))
    ).toDF("id", "d")
    tbl.bulkInsert(df)
    assert(GraftDdl.showPartitions(tbl).as[String].collect().toSeq ==
      Seq("2024/03/05", "2024/03/06"))
    // files physically land in the nested dirs
    assert(new java.io.File(s"$dir/2024/03/05").exists())

    val dir2 = tmp()
    val c2 = c.copy(partitionFields = Seq("p"), partitionTimestampFormat = Map.empty,
      hiveStylePartitioning = true)
    val tbl2 = GraftTable.create(spark, dir2, c2)
    tbl2.bulkInsert(Seq((1L, "x")).toDF("id", "p"))
    assert(GraftDdl.showPartitions(tbl2).as[String].collect().toSeq == Seq("p=x"))
  }
}
