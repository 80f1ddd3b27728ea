package graft

import java.nio.file.Files

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DataSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("graft-ds").toString

  test("format(graft) write creates table, read round-trips, upsert merges") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ts")
      .write.format("graft")
      .option("path", dir)
      .option("key.fields", "id")
      .option("ordering.field", "ts")
      .option("operation", "bulk_insert")
      .mode(SaveMode.Append)
      .save()

    val t1 = graft.write.GraftTable.load(spark, dir).timeline.completed().last.time

    Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("id", "v", "ts")
      .write.format("graft").option("path", dir).mode(SaveMode.Append).save()

    val snap = spark.read.format("graft").option("path", dir).load()
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(snap.toSeq == Seq((1L, "a"), (2L, "b2"), (3L, "c")))

    // time travel through the option surface
    val tt = spark.read.format("graft").option("path", dir)
      .option("as.of.instant", t1).load()
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(tt.toSeq == Seq((1L, "a"), (2L, "b")))

    // incremental pull of the second commit only
    val inc = spark.read.format("graft").option("path", dir)
      .option("query.type", "incremental").option("begin.instant", t1).load()
      .select("id", "v").as[(Long, String)].collect().sortBy(_._1)
    assert(inc.toSeq == Seq((2L, "b2"), (3L, "c")))

    // column pruning path (PrunedScan)
    assert(spark.read.format("graft").option("path", dir).load()
      .select("id").count() == 3)
  }

  test("pushed filters translate into the wrapped plan (PrunedFilteredScan)") {
    import graft.spark.GraftRelation.filterToColumn
    import org.apache.spark.sql.sources._
    // every common pushed shape translates; exotic ones fall through safely
    assert(filterToColumn(EqualTo("a", 1)).isDefined)
    assert(filterToColumn(In("a", Array(1, 2))).isDefined)
    assert(filterToColumn(And(IsNotNull("a"), GreaterThan("a", 0))).isDefined)
    // one-sided AND still prunes
    assert(filterToColumn(And(EqualTo("a", 1), AlwaysTrue)).isDefined)
    // OR needs both sides; half-translated OR must NOT prune
    assert(filterToColumn(Or(EqualTo("a", 1), AlwaysTrue)).isEmpty)
    assert(filterToColumn(Not(LessThan("a", 5))).isDefined)

    // behavioral: filtered + pruned DataSource read is correct
    import spark.implicits._
    val dir = tmp()
    (1L to 100L).map(i => (i, s"v$i", i % 7)).toDF("id", "v", "m")
      .write.format("graft").option("path", dir)
      .option("key.fields", "id").option("operation", "bulk_insert")
      .mode(SaveMode.Append).save()
    val got = spark.read.format("graft").option("path", dir).load()
      .filter(col("id") > 90L && col("m") === 0L)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == (91L to 100L).filter(_ % 7 == 0))
  }

  test("ErrorIfExists mode refuses an existing table") {
    import spark.implicits._
    val dir = tmp()
    val df = Seq((1L, "a", 1L)).toDF("id", "v", "ts")
    df.write.format("graft").option("path", dir)
      .option("key.fields", "id").mode(SaveMode.Append).save()
    intercept[Exception] {
      df.write.format("graft").option("path", dir)
        .mode(SaveMode.ErrorIfExists).save()
    }
  }

  test("Not pushdown refuses a widened (partial) child translation") {
    import org.apache.spark.sql.sources._
    import graft.spark.GraftRelation.filterToColumn
    val partial = And(EqualTo("a", 1), AlwaysTrue()) // AlwaysTrue is untranslatable
    assert(filterToColumn(partial).isDefined, "partial And may widen for pruning")
    // !widened would be a SUBSET -> physically drops rows; must not push
    assert(filterToColumn(Not(partial)).isEmpty)
    assert(filterToColumn(Not(Or(partial, EqualTo("b", 2)))).isEmpty)
    // fully-translatable children still push under Not
    assert(filterToColumn(Not(EqualTo("a", 1))).isDefined)
    assert(filterToColumn(Not(And(EqualTo("a", 1), EqualTo("b", 2)))).isDefined)
  }

  test("Overwrite mode maps to insert_overwrite_table") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ts")
      .write.format("graft").option("path", dir)
      .option("key.fields", "id").mode(SaveMode.Append).save()
    Seq((9L, "z", 9L)).toDF("id", "v", "ts")
      .write.format("graft").option("path", dir).mode(SaveMode.Overwrite).save()
    val got = spark.read.format("graft").option("path", dir).load()
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == Seq(9L))
  }

  test("incr.path.glob prunes incremental reads by partition path") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a", "2021-01"), (2L, "b", "2021-02"), (3L, "c", "2022-01"))
      .toDF("id", "v", "p")
      .write.format("graft").option("path", dir)
      .option("key.fields", "id").option("partition.fields", "p")
      .option("operation", "bulk_insert").mode(SaveMode.Append).save()
    Seq((4L, "d", "2021-03"), (5L, "e", "2022-02")).toDF("id", "v", "p")
      .write.format("graft").option("path", dir).mode(SaveMode.Append).save()
    val inc = spark.read.format("graft").option("path", dir)
      .option("query.type", "incremental")
      .option("begin.instant", "")
      .option("incr.path.glob", "2021*")
      .load().select("id").as[Long].collect().sorted
    assert(inc.toSeq == Seq(1L, 2L, 4L))
  }

  test("query.type=cdc surfaces the change stream through the option surface") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ts")
      .write.format("graft").option("path", dir)
      .option("key.fields", "id").option("ordering.field", "ts")
      .option("operation", "bulk_insert").mode(SaveMode.Append).save()
    val t1 = graft.write.GraftTable.load(spark, dir).timeline.completed().last.time
    Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("id", "v", "ts")
      .write.format("graft").option("path", dir).mode(SaveMode.Append).save()
    val cdc = spark.read.format("graft").option("path", dir)
      .option("query.type", "cdc").option("begin.instant", t1).load()
    val ops = cdc.select(col("_g_operation"), col("id"))
      .as[(String, Long)].collect().sortBy(_._2)
    assert(ops.map(_._2).toSeq == Seq(2L, 3L), ops.mkString(","))
    assert(ops.toSeq == Seq(("U", 2L), ("I", 3L)), ops.mkString(","))
  }

  test("concurrency + durability options map into the table config") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, "a", 1L)).toDF("id", "v", "ts")
      .write.format("graft")
      .option("path", dir)
      .option("key.fields", "id")
      .option("ordering.field", "ts")
      .option("occ", "true")
      .option("commit.store", "put")
      .option("lock.provider", "inprocess")
      .option("heartbeat.ttl.ms", "90000")
      .mode(SaveMode.Append)
      .save()
    val cfg = graft.write.GraftTable.load(spark, dir).config
    assert(cfg.occ)
    assert(cfg.commitStore == "put")
    assert(cfg.lockProvider == "inprocess")
    assert(cfg.heartbeatTtlMs == 90000L)
    // the options only apply at creation; later writes just use them
    Seq((2L, "b", 2L)).toDF("id", "v", "ts")
      .write.format("graft").option("path", dir).mode(SaveMode.Append).save()
    assert(spark.read.format("graft").option("path", dir).load().count() == 2)
  }
}
