package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{TableConfig, TableType}
import graft.read.GraftReader
import graft.write.{GraftTable, MergeStrategies, MergeStrategy}

/** The pluggable merge-strategy seam (reference analog: user payload
  * classes via hoodie.datasource.write.payload.class): a custom
  * registered strategy must drive COW rewrites, MOR merges, AND
  * compaction identically, and unknown names must fail loudly. */
class MergeStrategySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Tables.configure(
    SparkSession.builder()
      .master("local[4]")
      .appName("merge-strategy-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-ms").toString

  /** arrival-order-wins: IGNORES the event-time column entirely — the
    * newest commit always wins, even against a higher event time. */
  private object ArrivalOrder extends MergeStrategy {
    override def priority(ordering: Column, commitTime: Column, seqno: Column) =
      Seq(commitTime.desc, seqno.desc)
  }

  private def cfg(tt: String) = TableConfig(
    name = "ms", tableType = tt, keyFields = Seq("id"),
    orderingField = "ts", mergeStrategy = "arrival_order",
    targetFileRows = 1000)

  test("a registered custom strategy drives COW, MOR, and compaction") {
    import spark.implicits._
    MergeStrategies.register("arrival_order", ArrivalOrder)

    Seq(TableType.COW, TableType.MOR).foreach { tt =>
      val tbl = GraftTable.create(spark, tmp(), cfg(tt))
      // first write carries the HIGHER event time...
      tbl.bulkInsert(Seq((1L, "first", 100L), (2L, "keep", 50L)).toDF("id", "v", "ts"))
      // ...but the later-arriving lower-ts update must still win
      tbl.upsert(Seq((1L, "second", 10L)).toDF("id", "v", "ts"))
      val read = (t: GraftTable) => {
        val r = GraftReader(t)
        r.dataOnly(r.snapshot()).orderBy("id").collect()
          .map(x => x.getAs[Long]("id") -> x.getAs[String]("v")).toSeq
      }
      assert(read(tbl) == Seq(1L -> "second", 2L -> "keep"),
        s"$tt: arrival order must beat event time")
      if (tt == TableType.MOR) {
        graft.services.TableServices(tbl).compact()
        assert(read(tbl) == Seq(1L -> "second", 2L -> "keep"),
          "compaction must apply the same custom strategy")
        // the built-in event_time strategy would have kept "first":
        // prove the custom seam actually changed the outcome
        val ref = GraftTable.create(spark, tmp(), cfg(tt).copy(
          mergeStrategy = "event_time"))
        ref.bulkInsert(Seq((1L, "first", 100L)).toDF("id", "v", "ts"))
        ref.upsert(Seq((1L, "second", 10L)).toDF("id", "v", "ts"))
        assert(read(ref) == Seq(1L -> "first"))
      }
    }
  }

  test("a custom projection strategy sees every retained version") {
    import spark.implicits._
    // running_max: v takes the MAX across versions (projection seam),
    // winner row still by overwrite_latest ranking
    MergeStrategies.register("running_max", new MergeStrategy {
      override def priority(ordering: Column, commitTime: Column, seqno: Column) =
        Seq(ordering.desc_nulls_last, commitTime.desc, seqno.desc)
      override def project(
          df: org.apache.spark.sql.DataFrame,
          frame: org.apache.spark.sql.expressions.WindowSpec,
          dataCols: Seq[String],
          deleted: Column, live: Column) =
        df.withColumn("amt",
          max(when(live && !deleted, col("amt"))).over(frame))
    })
    val tbl = GraftTable.create(spark, tmp(), TableConfig(
      name = "rm", tableType = TableType.COW, keyFields = Seq("id"),
      orderingField = "ts", mergeStrategy = "running_max",
      targetFileRows = 1000))
    tbl.bulkInsert(Seq((1L, 500L, 1L)).toDF("id", "amt", "ts"))
    tbl.upsert(Seq((1L, 200L, 2L)).toDF("id", "amt", "ts")) // newer, smaller
    val r = GraftReader(tbl)
    val row = r.dataOnly(r.snapshot()).head()
    assert(row.getAs[Long]("ts") == 2L, "winner row is the latest version")
    assert(row.getAs[Long]("amt") == 500L, "amt inherits the max across versions")
  }

  test("AdditiveStrategy sums counters across COW, MOR deltas, compaction, and tombstone reset") {
    import spark.implicits._
    MergeStrategies.register("add_n",
      new graft.write.AdditiveStrategy(Set("n")))
    Seq(TableType.COW, TableType.MOR).foreach { tt =>
      val tbl = GraftTable.create(spark, tmp(), TableConfig(
        name = "add", tableType = tt, keyFields = Seq("id"),
        mergeStrategy = "add_n", targetFileRows = 1000))
      tbl.bulkInsert(Seq((1L, 10L, "a"), (2L, 5L, "x")).toDF("id", "n", "tag"))
      tbl.upsert(Seq((1L, 7L, "b")).toDF("id", "n", "tag"))
      tbl.upsert(Seq((1L, 3L, "c"), (2L, 1L, "y")).toDF("id", "n", "tag"))
      val read = () => {
        val r = GraftReader(tbl)
        r.dataOnly(r.snapshot()).orderBy("id").collect()
          .map(x => (x.getAs[Long]("id"), x.getAs[Long]("n"),
            x.getAs[String]("tag"))).toSeq
      }
      // counters sum across versions; the non-counter column keeps
      // latest-wins semantics
      assert(read() == Seq((1L, 20L, "c"), (2L, 6L, "y")), s"$tt pre-compact")
      if (tt == TableType.MOR) {
        graft.services.TableServices(tbl).compact()
        assert(read() == Seq((1L, 20L, "c"), (2L, 6L, "y")),
          "compaction folds partial sums without changing the answer")
        // post-compaction deltas add onto the folded base
        tbl.upsert(Seq((1L, 5L, "d")).toDF("id", "n", "tag"))
        assert(read() == Seq((1L, 25L, "d"), (2L, 6L, "y")))
      }
      // a delete resets the counter: versions at or below the tombstone
      // are dead, a re-insert starts the sum over
      tbl.delete(Seq(Tuple1(2L)).toDF("id"))
      tbl.upsert(Seq((2L, 100L, "z")).toDF("id", "n", "tag"))
      assert(read().find(_._1 == 2L).contains((2L, 100L, "z")),
        s"$tt: tombstone must reset the running sum")
    }
  }

  test("AdditiveStrategy rejects counter columns absent from the table") {
    import spark.implicits._
    // a misspelled counter column must fail loudly, not silently degrade
    // the rollup to overwrite-latest (last delta stored as the "total")
    MergeStrategies.register("add_nDocs",
      new graft.write.AdditiveStrategy(Set("nDocs")))
    val tbl = GraftTable.create(spark, tmp(), TableConfig(
      name = "addbad", tableType = TableType.COW, keyFields = Seq("id"),
      mergeStrategy = "add_nDocs", targetFileRows = 1000))
    tbl.bulkInsert(Seq((1L, 10L, "a")).toDF("id", "n_docs", "tag"))
    val err = intercept[IllegalArgumentException] {
      tbl.upsert(Seq((1L, 7L, "b")).toDF("id", "n_docs", "tag"))
    }
    assert(err.getMessage.contains("nDocs"))
    assert(err.getMessage.contains("n_docs"))
  }

  test("MOR CDC merges through the table's strategy, like COW CDC and the snapshot") {
    import spark.implicits._
    def run(tt: String, strategy: String)
        : (Seq[(String, Long, Option[Long], String, String)], Map[Long, (Option[Long], String, String)]) = {
      val tbl = GraftTable.create(spark, tmp(), TableConfig(
        name = "cdc", tableType = tt, keyFields = Seq("id"), orderingField = "ts",
        mergeStrategy = strategy, targetFileRows = 1000))
      tbl.bulkInsert(Seq((1L, 10L, "a", "x"), (2L, 10L, "b", "y"), (3L, 10L, "c", "z"))
        .toDF("id", "ts", "v", "w"))
      val begin = tbl.timeline.completed().last.time
      // 1: a late update (lower ts); 2: a newer update whose v is null
      // (partial_update inherits "b"); 4: an insert; then 3 is deleted
      tbl.upsert(Seq[(Long, Long, String, String)]((1L, 5L, "late", "x5"),
        (2L, 20L, null, "y2"), (4L, 1L, "d", "w")).toDF("id", "ts", "v", "w"))
      tbl.delete(Seq(Tuple1(3L)).toDF("id"))
      val r = GraftReader(tbl)
      val cdc = r.incrementalCdc(begin)
        .select(col("_g_operation"), col("id"), col("ts"), col("v"), col("w"))
        .as[(String, Long, Option[Long], String, String)].collect().sortBy(_._2).toSeq
      val snap = r.dataOnly(r.snapshot()).select("id", "ts", "v", "w")
        .as[(Long, Option[Long], String, String)].collect()
        .map(x => x._1 -> (x._2, x._3, x._4)).toMap
      (cdc, snap)
    }
    Seq("overwrite_latest", "event_time", "partial_update").foreach { strategy =>
      val (cow, cowSnap) = run(TableType.COW, strategy)
      val (mor, morSnap) = run(TableType.MOR, strategy)
      assert(morSnap == cowSnap, s"$strategy: snapshots differ")
      assert(mor == cow, s"$strategy: MOR CDC $mor != COW CDC $cow")
      // every emitted after image is the snapshot's row
      mor.filter(_._1 != "D").foreach { case (op, id, ts, v, w) =>
        assert(morSnap.get(id).contains((ts, v, w)), s"$strategy: $op row of $id")
      }
      assert(mor.exists(r => r._1 == "D" && r._2 == 3L), s"$strategy: delete emitted")
    }
  }

  test("unknown strategy names fail loudly at merge time") {
    import spark.implicits._
    val tbl = GraftTable.create(spark, tmp(), cfg(TableType.COW).copy(
      mergeStrategy = "never_registered"))
    val err = intercept[IllegalArgumentException] {
      tbl.bulkInsert(Seq((1L, "a", 1L)).toDF("id", "v", "ts"))
      tbl.upsert(Seq((1L, "b", 2L)).toDF("id", "v", "ts"))
    }
    assert(err.getMessage.contains("never_registered"))
    assert(err.getMessage.contains("register"))
  }
}
