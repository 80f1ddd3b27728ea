package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.GraftTable

/** Compiled query code survives from one graft operation to the next:
  * a session built by `Tables.configure` sizes Spark's JVM-wide codegen
  * cache above graft's working set, so an operation repeated after other
  * graft work reuses its generated classes instead of recompiling them.
  * Counted (classes compiled), never timed. */
class CodegenReuseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  /** Classes Spark's CodeGenerator has compiled in this JVM (a cache hit
    * compiles nothing). */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def compiledBy(body: => Unit): Long = {
    val before = compiles
    body
    compiles - before
  }

  test("a repeated MOR upsert compiles nothing after > 100 other compiles") {
    assert(spark.conf.get(Tables.CodegenCacheKey) == Tables.CodegenCacheEntries.toString)
    import spark.implicits._
    def batch(ids: Range, tag: String, ts: Long): DataFrame =
      ids.map(i => (i.toLong, s"p${i % 4}", s"$tag$i", ts)).toDF("id", "p", "v", "ts")

    val tbl = GraftTable.create(spark, Files.createTempDirectory("graft-codegen").toString,
      TableConfig(name = "cg", tableType = TableType.MOR, keyFields = Seq("id"),
        partitionFields = Seq("p"), orderingField = "ts", targetFileRows = 1000))
    val r = GraftReader(tbl)
    val t0 = tbl.bulkInsert(batch(1 to 200, "v", 1L))

    // 1. one MOR upsert over base-only groups
    val first = compiledBy(tbl.upsert(batch(1 to 200 by 3, "u", 2L)))

    // 2. other graft work: compaction (the groups are base-only again,
    //    as before step 1), then snapshot, incremental and CDC reads, and
    //    pruned snapshot reads (each Long bound is inlined into its
    //    generated code, so each is a new class) until the work has
    //    compiled more classes than Spark's default cache holds
    val other = compiledBy {
      val start = compiles
      TableServices(tbl).compact()
      r.snapshot().count()
      r.incremental(t0).count()
      r.incrementalCdc(t0).count()
      var k = 0L
      while (compiles - start <= 150 && k < 1000) {
        r.snapshot().filter(col("ts") > k).count()
        k += 1
      }
    }
    assert(other > 150, s"step 2 must compile over 150 classes, compiled $other")

    // 3. the same-shaped upsert again: every class is a cache hit
    val again = compiledBy(tbl.upsert(batch(2 to 200 by 3, "w", 3L)))
    info(s"classes compiled: first upsert $first, other work $other, repeat $again")
    assert(again == 0,
      s"a repeated upsert recompiled $again classes (the first compiled $first)")
    assert(r.dataOnly(r.snapshot()).count() == 200)
  }

  test("sessions with a codegen cache below graft's working set get one warning") {
    // the value a session built by Tables.configure carries: no warning
    assert(Tables.codegenCacheWarning(Some(Tables.CodegenCacheEntries.toString)).isEmpty)
    assert(Tables.codegenCacheWarning(Some("4096")).isEmpty)
    // unset (Spark's default of 100), explicitly small, or disabled
    for (v <- Seq(None, Some("100"), Some(" 1023 "), Some("0"))) {
      val w = Tables.codegenCacheWarning(v)
      assert(w.exists(_.contains(
        s"--conf ${Tables.CodegenCacheKey}=${Tables.CodegenCacheEntries}")), s"$v: $w")
    }
  }
}
