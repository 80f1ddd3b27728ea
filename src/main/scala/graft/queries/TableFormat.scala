package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Action, TableConfig, TableType}
import graft.read.GraftReader
import graft.services.TableServices
import graft.sql.GraftDml
import graft.streaming.GraftStreamSink
import graft.write.GraftTable

/** Table-format round-trip queries: each builds a graft table from the
  * test data, mutates it through the write path (upsert / delete /
  * compaction), reads it back, and aggregates — while the DuckDB oracle
  * reproduces the same final state directly from the source parquet
  * with CASE/filter logic. This puts the ENGINE CORE (timeline, merge
  * semantics, MOR read, compaction) under the hash-match gate, the
  * rebuild analog of the reference's write-then-read functional suites
  * (TestCOWDataSource.scala / TestMORDataSource.scala).
  *
  * Mutation recipe (same for COW and MOR, deterministic):
  *  - load = orders with o_orderkey % 10 < 8       (80%)
  *  - upsert: keys % 10 in [6,8) get price + 1000  (half update, half insert)
  *  - delete: keys % 10 == 7
  * Final state = keys % 10 < 7: untouched except %10==6 repriced.
  */
object TableFormat {

  type QFn = (SparkSession, String) => DataFrame

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-q").toFile
    d.deleteOnExit()
    d.toString
  }

  private def cfg(name: String, tt: String): TableConfig = TableConfig(
    name = name, tableType = tt, keyFields = Seq("o_orderkey"),
    partitionFields = Seq("o_orderpriority"), orderingField = "o_orderdate",
    targetFileRows = 100000)

  /** bulk_insert + upsert + delete, then snapshot read. */
  private def mutated(s: SparkSession, d: String, tt: String): GraftTable = {
    val orders = graft.Tables.t(s, d, "orders")
    val tbl = GraftTable.create(s, freshDir(), cfg("orders_rt", tt))
    tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
    tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
      .withColumn("o_totalprice", col("o_totalprice") + 1000))
    tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
      .select("o_orderkey", "o_orderpriority"))
    tbl
  }

  /** The oracle's view of the same final state. */
  private val FinalStateSql = """
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                ELSE o_totalprice END AS price
    FROM orders
    WHERE o_orderkey % 10 < 7 OR o_orderkey % 10 IN (8, 9)"""

  private def summarize(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_orderkey")).as("key_sum"),
        sum(floor(col("price") * 100)).cast("long").as("price_c"))
      .orderBy(col("o_orderpriority"))

  private val SummarySql = s"""
    WITH final_state AS ($FinalStateSql)
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
    FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  val all: Map[String, (QFn, Option[String])] = Map(

    // ---- COW: upsert rewrite + anti-join delete, snapshot read
    "q32_cow_roundtrip" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.COW)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- MOR: delta files + merge-on-read, then compaction must not
    //      change the answer (the query reads POST-compaction)
    "q33_mor_compaction_roundtrip" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.MOR)
        TableServices(tbl).compact()
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- incremental pull: exactly the rows changed by the upsert
    //      commit (inserts + updates), none of the bulk-load rows
    "q34_incremental_read" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_inc", TableType.COW))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val r = GraftReader(tbl)
        r.dataOnly(r.incremental(t1))
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey,
               CAST(floor((o_totalprice + 1000) * 100) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey % 10 >= 6
        ORDER BY o_orderkey"""))),

    // ---- clustering: a zorder rewrite (+ tombstone purge) must not
    //      change the snapshot answer (reference analog:
    //      TestTableLayoutOptimization.scala:42 — query-equivalence
    //      across OPTIMIZE)
    "q40_clustering_roundtrip" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.COW)
        TableServices(tbl).cluster(
          sortCols = Seq("o_orderkey", "o_totalprice"),
          layout = "zorder", rankMode = "map",
          targetFileRows = 2000, purgeTombstones = true)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- rollback of the latest commit + restore across two commits:
    //      final state must equal the pre-mutation oracle (reference
    //      analog: TestHoodieClientOnCopyOnWriteStorage rollback cases)
    "q41_rollback_restore" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_rb", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val t2 = tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val t3 = tbl.upsert(orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 777))
        val svc = TableServices(tbl)
        svc.rollback(t3)
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 2)
          .withColumn("o_totalprice", col("o_totalprice") + 333))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 3)
          .withColumn("o_totalprice", col("o_totalprice") + 555))
        svc.restoreTo(t2)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(CASE WHEN o_orderkey % 10 >= 6
                 THEN o_totalprice + 1000 ELSE o_totalprice END * 100)) AS BIGINT) AS price_c
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- savepoint + clean: cleaning must not disturb the latest
    //      snapshot, and time travel to the savepointed load must still
    //      resolve after intermediate files are physically deleted
    //      (reference analog: table/TestCleaner.java savepoint cases)
    "q42_savepoint_clean" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_sp", TableType.COW))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val svc = TableServices(tbl)
        svc.savepoint(t1)
        svc.clean(retainCommits = 1)
        val r = GraftReader(tbl)
        val latest = summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
          .withColumn("which", lit("latest"))
        val atSavepoint = summarize(r.dataOnly(r.snapshot(asOf = Some(t1)))
          .withColumnRenamed("o_totalprice", "price"))
          .withColumn("which", lit("savepoint"))
        latest.unionByName(atSavepoint)
          .orderBy(col("which"), col("o_orderpriority"))
      },
      Some(s"""
        WITH final_state AS ($FinalStateSql),
        latest AS (
          SELECT 'latest' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
          FROM final_state GROUP BY o_orderpriority),
        at_savepoint AS (
          SELECT 'savepoint' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
          FROM orders WHERE o_orderkey % 10 < 8 GROUP BY o_orderpriority)
        SELECT * FROM latest UNION ALL SELECT * FROM at_savepoint
        ORDER BY which, o_orderpriority"""))),

    // ---- insert_overwrite of one partition + delete_partition of
    //      another, via replacecommits (reference analog:
    //      TestCOWDataSource.scala overwrite cases)
    "q43_overwrite_partitions" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_ow", TableType.COW))
        tbl.bulkInsert(orders)
        tbl.insertOverwrite(orders
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 < 5)
          .withColumn("o_totalprice", col("o_totalprice") * 2))
        tbl.deletePartitions(Seq("2-HIGH"))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
                      ELSE o_totalprice END AS price
          FROM orders
          WHERE o_orderpriority <> '2-HIGH'
            AND (o_orderpriority <> '1-URGENT' OR o_orderkey % 10 < 5))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- streaming-sink idempotency: a replayed batchId (with
    //      poisoned data) must be skipped; later batches apply
    //      (reference analog: TestStructuredStreaming.scala:330 —
    //      exactly-once table state over at-least-once delivery)
    "q44_streaming_sink" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_ss", TableType.COW))
        val qid = "q44-query"
        GraftStreamSink.writeBatch(tbl, qid, "bulk_insert",
          orders.filter(col("o_orderkey") % 10 < 8), 0L)
        GraftStreamSink.writeBatch(tbl, qid, "upsert",
          orders.filter(col("o_orderkey") % 10 >= 6)
            .withColumn("o_totalprice", col("o_totalprice") + 1000), 1L)
        // replay of batch 1 with poisoned prices — must be a no-op
        GraftStreamSink.writeBatch(tbl, qid, "upsert",
          orders.withColumn("o_totalprice", lit(0.0)), 1L)
        GraftStreamSink.writeBatch(tbl, qid, "upsert",
          orders.filter(col("o_orderkey") % 10 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 500), 2L)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 500
                      WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- MERGE INTO with mixed WHEN clauses in ONE commit: conditional
    //      delete + conditional update + insert-all (reference analog:
    //      TestMergeIntoTable.scala:735)
    "q45_merge_mixed" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_mg", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val source = orders.filter(col("o_orderkey") % 10 >= 4)
        GraftDml(tbl).merge(source,
            col("s.o_orderkey") === col("t.o_orderkey") &&
              col("s.o_orderpriority") === col("t.o_orderpriority"))
          .whenMatchedDelete(Some(col("s.o_orderkey") % 10 === 5))
          .whenMatchedUpdate(
            Map("o_totalprice" -> (col("t.o_totalprice") + 2000)),
            Some(col("s.o_orderkey") % 10 === 6))
          .whenNotMatchedInsertAll()
          .execute()
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 2000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 <> 5)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- stats-skipping read: key-clustered files + min/max column
    //      stats; a selective filter through GraftFileIndex prunes file
    //      groups before IO and must lose no rows (reference analog:
    //      the .zindex data-skipping path, DataSkippingUtils.scala:49)
    "q48_stats_skipping_read" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_skip", TableType.COW)
          .copy(statsColumns = Seq("o_orderkey"), targetFileRows = 2000)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders)
        // linear clustering on the key -> tight per-file key ranges
        TableServices(tbl).cluster(sortCols = Seq("o_orderkey"), targetFileRows = 2000)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot()
            .filter(col("o_orderkey") % 2 === 0 && col("o_orderkey") < 30000))
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice AS price
          FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey < 30000)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- changelog CDC: updates emit -U before image + +U after image
    //      (reference analog: HoodieOperation.java:26-43)
    "q46_cdc_preimage" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.COW)
        val r = GraftReader(tbl)
        val t1 = tbl.timeline.completed().head.time // the bulk load
        r.incrementalCdc(t1, preImage = true)
          .select(col("o_orderkey"),
            col("_g_operation").as("op"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"), col("op"))
      },
      Some("""
        SELECT o_orderkey, op, price_c FROM (
          SELECT o_orderkey, '+U' AS op,
                 CAST(floor((o_totalprice + 1000) * 100) AS BIGINT) AS price_c
          FROM orders WHERE o_orderkey % 10 = 6
          UNION ALL
          SELECT o_orderkey, '-U',
                 CAST(floor(o_totalprice * 100) AS BIGINT)
          FROM orders WHERE o_orderkey % 10 = 6
          UNION ALL
          SELECT o_orderkey, 'D', NULL
          FROM orders WHERE o_orderkey % 10 = 7
          UNION ALL
          SELECT o_orderkey, 'I',
                 CAST(floor((o_totalprice + 1000) * 100) AS BIGINT)
          FROM orders WHERE o_orderkey % 10 >= 8)
        ORDER BY o_orderkey, op"""))),

    // ---- CDC pull: I/U/D operations across upsert + delete commits
    "q35_incremental_cdc" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.COW)
        val r = GraftReader(tbl)
        val t1 = tbl.timeline.completed().head.time // the bulk load
        r.incrementalCdc(t1)
          .select(col("o_orderkey"),
            col("_g_operation").as("op"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 7 THEN 'D'
                    WHEN o_orderkey % 10 >= 8 THEN 'I'
                    ELSE 'U' END AS op,
               CASE WHEN o_orderkey % 10 = 7 THEN NULL
                    ELSE CAST(floor((o_totalprice + 1000) * 100) AS BIGINT) END AS price_c
        FROM orders WHERE o_orderkey % 10 >= 6
        ORDER BY o_orderkey"""))),

    // ---- insert path with small-file bin packing + filterExists:
    //      the second insert fills the first batch's under-sized groups,
    //      and filterExists drops the keys that already exist (a wrong
    //      membership check would double them and break the hash)
    //      (reference analog: UpsertPartitioner small-file assignment +
    //      HoodieReadClient.filterExists)
    "q49_insert_fill" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_fill", TableType.COW).copy(targetFileRows = 3000)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.insert(orders.filter(col("o_orderkey") % 10 < 4))
        val candidates = orders.filter(col("o_orderkey") % 10 < 8) // overlaps batch 1
        tbl.insert(GraftReader(tbl).filterExists(candidates))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- point lookup: key-range-pruned slice read; only files whose
    //      [minKey,maxKey] may contain a probed key are opened
    "q50_point_lookup" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_pt", TableType.COW))
        tbl.bulkInsert(orders)
        val r = GraftReader(tbl)
        r.dataOnly(r.pointLookup((1 to 64).map(_.toString)))
          .select(col("o_orderkey"), col("o_orderpriority"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey BETWEEN 1 AND 64
        ORDER BY o_orderkey"""))),

    // ---- KEEP_LATEST_FILE_VERSIONS cleaning: physical deletion of old
    //      file versions must not disturb the latest snapshot
    "q51_clean_file_versions" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.COW)
        TableServices(tbl).cleanFileVersions(retainVersions = 1)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- timeline archiving: instants beyond the active window move to
    //      the archive with a snapshot checkpoint; reads resolve from the
    //      checkpoint and the answer is unchanged
    "q52_archive_read" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = mutated(s, d, TableType.COW) // 3 data commits
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 333))
        TableServices(tbl).archive(keepMin = 1, keepMax = 2)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 333
                      WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders
          WHERE o_orderkey % 10 < 7 OR o_orderkey % 10 IN (8, 9))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- the checkpoint spine made visible (and exact): archiving
    //      writes a PARQUET v2 checkpoint whose manifest-declared entry
    //      count must equal the resolved snapshot's file-entry count;
    //      SHOW CHECKPOINTS answers from the manifest alone, and reads
    //      through the checkpoint stay bit-identical to the pre-archive
    //      state
    "q204_show_checkpoints" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = mutated(s, d, TableType.COW) // 3 data commits
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 333))
        TableServices(tbl).archive(keepMin = 1, keepMax = 2)
        val cps = graft.sql.GraftSql
          .sql(s, s"SHOW CHECKPOINTS '${tbl.basePath}'").collect()
        require(cps.length == 1, s"archive must leave one checkpoint, got ${cps.length}")
        require(cps(0).getString(1) == graft.core.Checkpoint.FormatV2,
          s"new checkpoints must be columnar: ${cps(0).getString(1)}")
        val snap = graft.core.Snapshot.resolve(tbl.timeline)
        val expected = snap.slices
          .map(sl => sl.allFiles.size.max(1)).sum.toLong
        require(cps(0).getLong(2) == expected,
          s"manifest entries ${cps(0).getLong(2)} != resolved file entries $expected")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 333
                      WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders
          WHERE o_orderkey % 10 < 7 OR o_orderkey % 10 IN (8, 9))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- on-demand checkpoint (RUN CHECKPOINT): fold state now without
    //      archiving — the cold-start accelerator between archive
    //      windows. Idempotent at the same instant; later commits replay
    //      as a Δ tail on top; instants stay active so time travel to
    //      BEFORE the checkpoint still resolves
    "q205_run_checkpoint" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = mutated(s, d, TableType.COW) // 3 data commits
        val ck = graft.sql.GraftSql
          .sql(s, s"RUN CHECKPOINT ON '${tbl.basePath}'").collect()
        require(ck.length == 1, "checkpoint must mint one instant")
        require(graft.sql.GraftSql
          .sql(s, s"RUN CHECKPOINT ON '${tbl.basePath}'").isEmpty,
          "re-checkpointing the same instant must be a no-op")
        val cps = graft.sql.GraftSql
          .sql(s, s"SHOW CHECKPOINTS '${tbl.basePath}'").collect()
        require(cps.length == 1 &&
          cps(0).getString(1) == graft.core.Checkpoint.FormatV2,
          "one columnar checkpoint expected")
        // Δ commit on top of the checkpoint
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 333))
        // time travel BEFORE the checkpoint still resolves (nothing
        // was archived)
        val first = tbl.timeline.completed()
          .filter(i => graft.core.Action.dataActions(i.action)).head.time
        val r = GraftReader(tbl)
        require(r.dataOnly(r.snapshot(asOf = Some(first))).count() > 0,
          "pre-checkpoint time travel must stay resolvable")
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 333
                      WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders
          WHERE o_orderkey % 10 < 7 OR o_orderkey % 10 IN (8, 9))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- q207: time travel ACROSS the archive boundary — the as-of
    //      replay window crosses instants whose commit metadata lives
    //      only in the archive; the resolve loads it back and replays
    //      the gap exactly (round 11 refused this read; a naive
    //      resolver would silently return the checkpoint's state). The
    //      target sits BETWEEN archived batches, so an off-by-one in
    //      the gap fold — missing the target batch or leaking the next
    //      one — hash-mismatches the oracle.
    "q207_timetravel_archived_gap" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_ttgap", TableType.COW))
        // batch 1: keys %10 in 0..4 at base price
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 5))
        // batch 2: +111 on %10 in {1,2} — the time-travel target state
        tbl.upsert(orders
          .filter(col("o_orderkey") % 10 === 1 || col("o_orderkey") % 10 === 2)
          .withColumn("o_totalprice", col("o_totalprice") + 111))
        val at = tbl.timeline.completed()
          .filter(i => graft.core.Action.dataActions(i.action)).last.time
        // churn ABOVE the target, then archive it away with the target
        (6 to 9).foreach(i =>
          tbl.upsert(orders.filter(col("o_orderkey") % 10 === i)
            .withColumn("o_totalprice", col("o_totalprice") + 1000)))
        TableServices(tbl).archive(keepMin = 2, keepMax = 3)
        require(tbl.timeline.archivedTimes().contains(at),
          "the time-travel target must be archived")
        require(graft.core.Checkpoint.times(tbl.timeline).forall(_ > at),
          "every retained checkpoint must postdate the target (gap replay, " +
            "not checkpoint load, answers this read)")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot(asOf = Some(at)))
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH state_at AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 IN (1, 2) THEN o_totalprice + 111
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 5)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM state_at GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- q206: long-horizon chaos sequence — a deterministic 13-step
    //      mixed-operation run (the gate-sized cousin of ChaosSpec's
    //      seeded randomized suite, reference analog: the hudi-integ-test
    //      DAG suites): bulk load → upsert → delete → partition
    //      overwrite → savepoint → detour commit → rollback → drop
    //      partition → compact → clean → RUN CHECKPOINT → archive →
    //      final upsert across dropped partitions. The DuckDB oracle
    //      replays the same logical sequence as pure CASE/filter algebra
    //      and hash-matches the final state.
    "q206_chaos_sequence" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_chaos", TableType.MOR))
        val svc = TableServices(tbl)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        // update keys %10 in {6,7}, insert {8}, all at price+1000
        tbl.upsert(orders
          .filter(col("o_orderkey") % 10 >= 6 && col("o_orderkey") % 10 <= 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        // replace the 1-URGENT partition wholesale with its %10<5 slice
        tbl.insertOverwrite(orders
          .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 < 5)
          .withColumn("o_totalprice", col("o_totalprice") + 55))
        // a savepointed detour that is fully undone: net-zero by contract
        val sp = tbl.timeline.completed()
          .filter(i => Action.dataActions(i.action)).last.time
        svc.savepoint(sp)
        val detour = tbl.upsert(orders.filter(col("o_orderkey") % 10 === 2)
          .withColumn("o_totalprice", col("o_totalprice") + 777777))
        svc.rollback(detour)
        tbl.deletePartitions(Seq("5-LOW"))
        // services are state-identity: fold deltas, reap dead files,
        // fold the snapshot on demand, bound the timeline
        svc.compact()
        svc.clean(3)
        // through the INJECTED spark.sql parser (the extension path users
        // hit), not GraftSql directly — Verify's session carries it
        require(s.sql(s"RUN CHECKPOINT ON '${tbl.basePath}'").count() == 1,
          "the chaos sequence must mint an on-demand checkpoint")
        svc.deleteSavepoint(sp)
        svc.archive(4, 6)
        require(tbl.timeline.archivedTimes().nonEmpty,
          "the chaos sequence must archive its early instants")
        // final upsert lands ON TOP of checkpoint + archive and reaches
        // across dropped partitions (reinserting %10==0 everywhere)
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 9))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 9
                      WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 55
                      WHEN o_orderkey % 10 IN (6, 8) THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders
          WHERE o_orderkey % 10 = 0
             OR (o_orderpriority = '1-URGENT' AND o_orderkey % 10 BETWEEN 1 AND 4)
             OR (o_orderpriority NOT IN ('5-LOW', '1-URGENT')
                 AND o_orderkey % 10 IN (1, 2, 3, 4, 5, 6, 8)))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- zero-copy bootstrap over pre-existing parquet, then normal
    //      upsert/delete on top: externally-owned base files serve reads
    //      until their group is first rewritten
    "q53_bootstrap_roundtrip" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val extDir = freshDir() + "/ext"
        // zero-copy bootstrap adopts each source file as a file group, so
        // every file must hold a single partition's rows (the reference's
        // partitioned-bootstrap layout contract)
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").foreach { p =>
          orders.filter(col("o_orderkey") % 10 < 8 && col("o_orderpriority") === p)
            .coalesce(1).write.mode("append").parquet(extDir)
        }
        val tbl = graft.sql.GraftDdl.bootstrap(
          s, freshDir(), cfg("orders_bs", TableType.COW), extDir)
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- FULL_RECORD bootstrap: the source is REWRITTEN through the
    //      normal bulk_insert path (meta columns stored, layout rebuilt)
    //      — so mixed-partition source files, which the zero-copy mode
    //      rejects by contract, bootstrap fine here; the mutated table
    //      then behaves like any native one (reference analog:
    //      FULL_RECORD, SparkBootstrapCommitActionExecutor.java:84)
    "q183_bootstrap_full_record" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val extDir = freshDir() + "/ext"
        // deliberately partition-mixed source files
        orders.filter(col("o_orderkey") % 10 < 8)
          .coalesce(2).write.mode("overwrite").parquet(extDir)
        val tbl = graft.sql.GraftDdl.bootstrap(
          s, freshDir(), cfg("orders_bsf", TableType.COW), extDir,
          mode = "full")
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- ORC base format: the full MOR lifecycle (bulk_insert + upsert
    //      deltas + delete + compaction + merged snapshot) over ORC data
    //      files — the format choice must be answer-invisible (reference
    //      analog: hoodie.table.base.file.format ORC,
    //      HoodieFileFormat.java:29-43 + io/storage/HoodieOrcWriter.java)
    "q184_orc_mor_roundtrip" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_orc", TableType.MOR).copy(baseFormat = "orc"))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        TableServices(tbl).compact()
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- schema reconciliation: an upsert batch MISSING columns
    //      (o_custkey, o_orderstatus) must not narrow them out of the
    //      read view — untouched rows keep their values, rewritten rows
    //      read null (latest-wins replaces the whole row; reference
    //      analog: hoodie.datasource.write.reconcile.schema,
    //      DataSourceOptions.scala:366)
    "q185_schema_reconcile" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_sch", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .select(col("o_orderkey"), col("o_orderpriority"),
            // strictly newer ordering value so every update wins the merge
            (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("o_orderdate"),
            (col("o_totalprice") + 1000).as("o_totalprice")))
        val r = GraftReader(tbl)
        r.dataOnly(r.snapshot())
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            (count(lit(1)) - count(col("o_custkey"))).as("cust_nulls"),
            sum(col("o_custkey")).cast("long").as("cust_sum"),
            sum(floor(col("o_totalprice") * 100)).cast("long").as("price_c"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        WITH st AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 >= 6 THEN NULL
                      ELSE o_custkey END AS o_custkey,
                 CASE WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(count(*) - count(o_custkey) AS BIGINT) AS cust_nulls,
               CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM st GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- insert_overwrite_table: one replacecommit swaps the whole
    //      table for the incoming frame
    "q54_overwrite_table" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_owt", TableType.COW))
        tbl.bulkInsert(orders)
        tbl.insertOverwriteTable(orders.filter(col("o_orderkey") % 10 < 3)
          .withColumn("o_totalprice", col("o_totalprice") * 3))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice * 3 AS price
          FROM orders WHERE o_orderkey % 10 < 3)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- Structured Streaming SOURCE: offsets = instants; the memory
    //      sink accumulates per-commit incremental batches
    "q55_stream_source" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_strm", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val sinkName = s"q55_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = s.readStream
          .format(classOf[org.apache.spark.sql.graft.streaming.GraftStreamProvider].getName)
          .option("path", tbl.basePath)
          .load()
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("append")
          .option("checkpointLocation", freshDir() + "/ckpt")
          .start()
        q.processAllAvailable() // batch 1: the bulk load
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        q.processAllAvailable() // batch 2: the upsert's change rows
        q.stop()
        s.table(sinkName)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100)).cast("long").as("price_c"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        WITH stream AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM orders WHERE o_orderkey % 10 < 8
          UNION ALL
          SELECT o_orderkey, o_orderpriority, o_totalprice + 1000
          FROM orders WHERE o_orderkey % 10 >= 6)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM stream GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- streaming admission control: three commits are already
    //      pending when the stream starts; maxInstantsPerTrigger=1 must
    //      serve them as THREE one-instant micro-batches (not one giant
    //      catch-up batch), then a live commit lands as a fourth —
    //      reference analog: HoodieIncrSource.num_instants; the content
    //      gate proves the throttled batches still cover every change row
    "q197_stream_throttle" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_thr", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 9)
          .withColumn("o_totalprice", col("o_totalprice") + 500))
        val sinkName = s"q197_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = s.readStream
          .format(classOf[org.apache.spark.sql.graft.streaming.GraftStreamProvider].getName)
          .option("path", tbl.basePath)
          .option("maxInstantsPerTrigger", "1")
          .load()
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("append")
          .option("checkpointLocation", freshDir() + "/ckpt")
          .start()
        q.processAllAvailable() // drains the 3-commit backlog, throttled
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("o_totalprice", col("o_totalprice") + 9))
        q.processAllAvailable() // the live commit
        val batches = q.recentProgress.count(_.numInputRows > 0)
        q.stop()
        require(batches == 4,
          s"1-instant throttle over 3 backlog commits + 1 live commit " +
            s"must yield exactly 4 data batches, got $batches")
        s.table(sinkName)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100)).cast("long").as("price_c"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        WITH stream AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice
          FROM orders WHERE o_orderkey % 10 < 8
          UNION ALL
          SELECT o_orderkey, o_orderpriority, o_totalprice + 1000
          FROM orders WHERE o_orderkey % 10 = 6
          UNION ALL
          SELECT o_orderkey, o_orderpriority, o_totalprice + 500
          FROM orders WHERE o_orderkey % 10 = 9
          UNION ALL
          SELECT o_orderkey, o_orderpriority, o_totalprice + 9
          FROM orders WHERE o_orderkey % 10 = 7)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM stream GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- GLOBAL index: an upsert that changes the partition value must
    //      MOVE the record (delete from the old partition, write to the
    //      new) instead of duplicating it
    "q56_global_index_move" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_gl", TableType.COW).copy(globalIndex = true)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 2)
          .withColumn("o_orderpriority", lit("9-MOVED"))
          .withColumn("o_totalprice", col("o_totalprice") + 50))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 10 = 2 THEN '9-MOVED'
                      ELSE o_orderpriority END AS o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 2 THEN o_totalprice + 50
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- write tail at many file groups: a tiny file target forces
    //      ~2000 groups (sf0.1) through the per-group write in ONE
    //      commit, each file written once at its committed name (the
    //      bench's write-tail scale probe)
    "q57_publish_many_groups" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_pub", TableType.COW).copy(targetFileRows = 75)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- q57 under the OBJECT-STORE commit profile: same many-group
    //      bulk_insert, with exclusivity from a conditional write and no
    //      rename-as-move anywhere in the commit — this is the profile's
    //      perf gate next to q118's sf0.01 correctness gate
    "q180_publish_put_profile" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_pubput", TableType.COW)
          .copy(targetFileRows = 75, commitStore = graft.core.CommitStore.Put)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- MERGE INTO through Spark's OWN SQL grammar on a catalog table
    //      (q45 gates the builder API; this gates the resolution rule)
    "q58_sql_merge" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = GraftTable.create(s, dir, cfg("orders_sqlmg", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        orders.filter(col("o_orderkey") % 10 >= 4).createOrReplaceTempView("q58_src")
        s.catalog.createTable("q58_tbl", "graft", Map("path" -> dir))
        s.sql("""
          MERGE INTO q58_tbl t USING q58_src s
          ON t.o_orderkey = s.o_orderkey
             AND t.o_orderpriority = s.o_orderpriority
          WHEN MATCHED AND s.o_orderkey % 10 = 5 THEN DELETE
          WHEN MATCHED AND s.o_orderkey % 10 = 6 THEN
            UPDATE SET o_totalprice = t.o_totalprice + 2000
          WHEN NOT MATCHED THEN INSERT *""")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 2000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 <> 5)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- schema evolution: ADD COLUMNS + widening type change, then an
    //      upsert writing the evolved schema; old rows read back padded
    "q59_schema_evolution" -> ((
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.types._
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_evo", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8)
          .withColumn("flag", lit(1).cast("int")))
        graft.sql.GraftDdl.addColumns(tbl, Seq(StructField("bonus", DoubleType)))
        graft.sql.GraftDdl.changeColumnType(tbl, "flag", LongType)
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("flag", lit(2L))
          .withColumn("bonus", lit(12.5)))
        val r = GraftReader(tbl)
        r.dataOnly(r.snapshot())
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("flag")).cast("long").as("flag_sum"),
            sum(floor(coalesce(col("bonus"), lit(0.0)) * 100)).cast("long").as("bonus_c"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 6 THEN 2 ELSE 1 END AS flag,
                 CASE WHEN o_orderkey % 10 = 6 THEN 12.5 ELSE 0.0 END AS bonus
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(flag) AS BIGINT) AS flag_sum,
               CAST(sum(floor(bonus * 100)) AS BIGINT) AS bonus_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- SQL time travel (VERSION AS OF) on a catalog table, against
    //      the live snapshot after further mutations
    "q60_sql_time_travel" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.COW)
        s.catalog.createTable("q60_tbl", "graft", Map("path" -> tbl.basePath))
        val t1 = tbl.timeline.completed()
          .filter(i => graft.core.Action.dataActions(i.action)).head.time
        val latest = summarize(
          GraftReader(tbl).dataOnly(GraftReader(tbl).snapshot())
            .withColumnRenamed("o_totalprice", "price"))
          .withColumn("which", lit("latest"))
        val asOf = summarize(
          s.sql(s"SELECT * FROM q60_tbl VERSION AS OF '$t1'")
            .drop(graft.write.Meta.all: _*)
            .withColumnRenamed("o_totalprice", "price"))
          .withColumn("which", lit("asof"))
        latest.unionByName(asOf).orderBy(col("which"), col("o_orderpriority"))
      },
      Some(s"""
        WITH final_state AS ($FinalStateSql),
        latest AS (
          SELECT 'latest' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
          FROM final_state GROUP BY o_orderpriority),
        at_version AS (
          SELECT 'asof' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
          FROM orders WHERE o_orderkey % 10 < 8 GROUP BY o_orderpriority)
        SELECT * FROM at_version UNION ALL SELECT * FROM latest
        ORDER BY which, o_orderpriority"""))),

    // ---- event_time merge: a LATE update (older ordering value) must
    //      lose to the stored row; a fresh one wins
    "q61_event_time_merge" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_evt", TableType.COW).copy(mergeStrategy = "event_time")
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        // stale: ordering a year older -> ignored
        tbl.upsert(orders.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_totalprice", lit(0.0))
          .withColumn("o_orderdate", expr("o_orderdate - INTERVAL 365 DAYS")))
        // fresh: ordering newer -> applies
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 111)
          .withColumn("o_orderdate", expr("o_orderdate + INTERVAL 1 DAY")))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 111
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- partial_update merge: null fields in the update inherit the
    //      stored values (OverwriteNonDefaults payload analog)
    "q62_partial_update" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_pu", TableType.COW).copy(mergeStrategy = "partial_update")
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        // update ONLY the price; custkey/status arrive null -> inherited
        tbl.upsert(orders.filter(col("o_orderkey") % 10 < 3)
          .withColumn("o_totalprice", col("o_totalprice") + 500)
          .withColumn("o_custkey", lit(null).cast("long"))
          .withColumn("o_orderstatus", lit(null).cast("string")))
        val r = GraftReader(tbl)
        r.dataOnly(r.snapshot())
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(col("o_custkey")).cast("long").as("cust_sum"),
            sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L)).as("null_status"),
            sum(floor(col("o_totalprice") * 100)).cast("long").as("price_c"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_custkey, o_orderstatus,
                 CASE WHEN o_orderkey % 10 < 3 THEN o_totalprice + 500
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(o_custkey) AS BIGINT) AS cust_sum,
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS null_status,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- Debezium envelope ingest: u events upsert, d events ride the
    //      same batch as tombstones, ordering column resolves races
    "q63_debezium_ingest" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_dbz", TableType.COW).copy(orderingField = "ord")
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8)
          .withColumn("ord", lit(1L)))
        val dataCols = orders.columns.toSeq
        val img = struct(dataCols.map(col): _*)
        val imgType = orders.select(img.as("s")).schema("s").dataType
        val uEv = orders.filter(col("o_orderkey") % 10 === 6 || col("o_orderkey") % 10 === 7)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .select(lit("u").as("op"), struct(dataCols.map(col): _*).as("after"),
            lit(null).cast(imgType).as("before"), lit(2L).as("ord"))
        val dEv = orders.filter(col("o_orderkey") % 10 === 7)
          .select(lit("d").as("op"), lit(null).cast(imgType).as("after"),
            struct(dataCols.map(col): _*).as("before"), lit(3L).as("ord"))
        tbl.upsert(graft.streaming.Transformers.debezium()(uEv.unionByName(dEv)))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 7)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- OCC: two concurrent writers on DISJOINT partitions both land
    //      (file-group intersection check finds no conflict)
    "q64_occ_disjoint_writers" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_occ", TableType.COW).copy(occ = true)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val fa = pool.submit(new java.util.concurrent.Callable[String] {
            override def call(): String =
              tbl.upsert(orders.filter(col("o_orderpriority") === "1-URGENT")
                .withColumn("o_totalprice", col("o_totalprice") + 100))
          })
          val fb = pool.submit(new java.util.concurrent.Callable[String] {
            override def call(): String =
              tbl.upsert(orders.filter(col("o_orderpriority") === "5-LOW")
                .withColumn("o_totalprice", col("o_totalprice") + 200))
          })
          fa.get(); fb.get() // either failure propagates -> query fails
        } finally pool.shutdown()
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 100
                      WHEN o_orderpriority = '5-LOW' THEN o_totalprice + 200
                      ELSE o_totalprice END AS price
          FROM orders)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- UPDATE through Spark's OWN SQL grammar on a catalog table
    //      (the path grammar is gated by DmlSpec; this gates the
    //      UpdateTable resolution rule — reference analog:
    //      TestUpdateTable.scala)
    "q66_sql_update" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = GraftTable.create(s, dir, cfg("orders_squ", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        s.catalog.createTable("q66_tbl", "graft", Map("path" -> dir))
        s.sql("""UPDATE q66_tbl SET o_totalprice = o_totalprice + 1000
                 WHERE o_orderkey % 10 >= 6""")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- DELETE through Spark's OWN SQL grammar on a catalog table
    //      (reference analog: TestDeleteTable.scala)
    "q67_sql_delete" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = GraftTable.create(s, dir, cfg("orders_sqd", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        s.catalog.createTable("q67_tbl", "graft", Map("path" -> dir))
        s.sql("DELETE FROM q67_tbl WHERE o_orderkey % 10 = 7")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice AS price
          FROM orders WHERE o_orderkey % 10 < 7)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- async compaction schedule/run split: a writer lands BETWEEN
    //      schedule and run; its later-time delta must survive on top of
    //      the compacted base (reference analog:
    //      ScheduleCompactionActionExecutor.java:50-197 + AsyncCompactService)
    "q68_async_compaction" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_async", TableType.MOR))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val svc = TableServices(tbl)
        val ts = svc.scheduleCompaction().getOrElse(sys.error("nothing to schedule"))
        // post-schedule writer: this delete is NOT in the pinned plan
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        svc.runScheduledCompaction(ts)
        require(svc.pendingCompactions().isEmpty, "plan must be consumed")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- CTAS + TRUNCATE + insert: create-table-as-select state, then
    //      a truncate replacecommit empties it, then a fresh insert
    //      (reference analog: TestCreateTable.scala:586 + TestTruncateTable.scala)
    "q69_ctas_truncate" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = graft.sql.GraftDdl.createTableAs(
          s, dir, cfg("orders_ctas", TableType.COW),
          orders.filter(col("o_orderkey") % 10 < 8))
        val r = GraftReader(tbl)
        val before = summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
          .withColumn("which", lit("ctas"))
        graft.sql.GraftSql.sql(s, s"TRUNCATE TABLE '$dir'")
        tbl.insert(orders.filter(col("o_orderkey") % 10 < 3))
        val after = summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
          .withColumn("which", lit("truncated"))
        before.unionByName(after).orderBy(col("which"), col("o_orderpriority"))
      },
      Some("""
        WITH ctas AS (
          SELECT 'ctas' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
          FROM orders WHERE o_orderkey % 10 < 8 GROUP BY o_orderpriority),
        truncated AS (
          SELECT 'truncated' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
          FROM orders WHERE o_orderkey % 10 < 3 GROUP BY o_orderpriority)
        SELECT * FROM ctas UNION ALL SELECT * FROM truncated
        ORDER BY which, o_orderpriority"""))),

    // ---- compaction DDL: SCHEDULE COMPACTION / RUN COMPACTION through
    //      the SQL statement surface must converge to the same state as
    //      the API path (reference analog: the CALL/compaction SQL
    //      procedures, HoodieCommonSqlParser.scala:33)
    "q70_compaction_sql" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.MOR)
        val planned = graft.sql.GraftSql.sql(
          s, s"SCHEDULE COMPACTION ON '${tbl.basePath}'")
        require(planned.count() > 0, "schedule must pin a nonempty plan")
        graft.sql.GraftSql.sql(s, s"RUN COMPACTION ON '${tbl.basePath}'")
        require(
          TableServices(tbl).pendingCompactions().isEmpty,
          "RUN must consume the scheduled plan")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- byte-based file sizing: on an empty table the rows-per-file
    //      target derives from targetFileBytes via the 1024 B seed, so
    //      the per-partition group count is exactly ceil(rows/target)
    //      (reference analog: UpsertPartitioner.averageBytesPerRecord +
    //      HoodieStorageConfig hoodie.parquet.max.file.size)
    "q71_byte_sizing" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_bytes", TableType.COW)
          .copy(targetFileRows = 0L, targetFileBytes = 512L * 1024L) // seed -> 512 rows
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders)
        val snap = graft.core.Snapshot.resolve(tbl.timeline)
        val groupsPerPart = snap.slices.groupBy(_.partition)
          .map { case (p, ss) => p -> ss.size.toLong }
        val rowsPerPart = snap.slices.groupBy(_.partition)
          .map { case (p, ss) => p -> ss.flatMap(_.baseFile).map(_.rows).sum }
        rowsPerPart.foreach { case (p, rows) =>
          val expected = (rows + 511) / 512
          require(groupsPerPart(p) == expected,
            s"partition $p: ${groupsPerPart(p)} groups, expected $expected " +
              s"(byte sizing must derive a 512-row target from the 1024 B seed)")
        }
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- format upgrade/downgrade lifecycle: v0 table upgrades to v1
    //      (unlocking archiving), then downgrade REFUSES while archived
    //      instants exist — their state would become unreadable
    //      (reference analog: table/upgrade/UpgradeDowngrade.java:40)
    "q72_upgrade_downgrade" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_ver", TableType.COW))
        tbl.timeline.updateConfig(tbl.timeline.config.copy(version = 0))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val svc = TableServices(tbl)
        require(svc.upgradeTable().isDefined, "v0 -> v1 must migrate")
        svc.archive(keepMin = 1, keepMax = 2)
        require(tbl.timeline.archivedTimes().nonEmpty, "archive must move instants")
        val refused =
          try { svc.downgradeTable(0); false }
          catch { case _: IllegalArgumentException => true }
        require(refused, "downgrade must refuse while archived instants exist")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- JDBC incremental ingest end-to-end: the continuous-ingest loop
    //      drains a backlog through bounded ORDER BY/LIMIT batches with
    //      checkpoint-in-commit; insert semantics must produce no dups
    //      (reference analog: sources/JdbcSource.java:57-343)
    "q73_jdbc_ingest" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        def loader(q: graft.streaming.JdbcQuery): DataFrame = {
          val f = q.predicate.fold(orders)(p => orders.where(expr(p)))
          q.orderLimit.fold(f) { case (c2, n) => f.orderBy(col(c2)).limit(n.toInt) }
        }
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_jdbc", TableType.COW))
        val ingest = new graft.streaming.ContinuousIngest(tbl,
          new graft.streaming.JdbcIncrementalSource(loader, "o_orderkey", limit = 6000L),
          operation = "insert")
        ingest.runContinuous(maxRounds = 1)
        require(ingest.checkpoint.isDefined, "checkpoint must ride the commits")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- DFS-directory ingest: parquet files appear in a landing dir;
    //      the ingest loop picks up everything past the checkpoint
    //      (reference analog: sources/ParquetDFSSource.java:35 + DFSPathSelector)
    "q74_dfs_ingest" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val srcDir = freshDir() + "/landing"
        val conf = s.sessionState.newHadoopConf()
        val fsys = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
        fsys.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
        (0 until 3).foreach { i =>
          val tmpOut = freshDir() + s"/chunk$i"
          orders.filter(col("o_orderkey") % 3 === i).coalesce(1).write.parquet(tmpOut)
          val part = fsys.globStatus(
            new org.apache.hadoop.fs.Path(tmpOut, "part-*.parquet")).head.getPath
          fsys.rename(part, new org.apache.hadoop.fs.Path(srcDir, s"chunk-$i.parquet"))
        }
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_dfs", TableType.COW))
        val ingest = new graft.streaming.ContinuousIngest(tbl,
          new graft.streaming.ParquetDirSource(s, srcDir), operation = "insert")
        ingest.runContinuous(maxRounds = 1)
        require(ingest.checkpoint.exists(_.endsWith("chunk-2.parquet")),
          "checkpoint must record the last ingested file")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- incremental read ACROSS the archive boundary: `begin` and the
    //      commits after it are archived; commitsInRange loads the
    //      archived metadata back, so the consumer gets an exact answer
    //      instead of a silent gap (reference analog:
    //      HoodieArchivedTimeline.java:61 + InstantRange.java:33)
    "q75_incremental_archived" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_ainc", TableType.COW))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 333))
        TableServices(tbl).archive(keepMin = 1, keepMax = 2)
        require(tbl.timeline.archivedTimes().exists(_ > t1),
          "commits inside the incremental range must actually be archived")
        val r = GraftReader(tbl)
        r.dataOnly(r.incremental(t1))
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, price_c FROM (
          SELECT o_orderkey,
                 CAST(floor((o_totalprice + 333) * 100) AS BIGINT) AS price_c
          FROM orders WHERE o_orderkey % 10 = 1
          UNION ALL
          SELECT o_orderkey,
                 CAST(floor((o_totalprice + 1000) * 100) AS BIGINT)
          FROM orders WHERE o_orderkey % 10 IN (6, 8, 9))
        ORDER BY o_orderkey"""))),

    // ---- async clustering schedule/run split with the reject-update
    //      strategy: inserts of new keys ride through while the plan is
    //      pending, updates to pinned groups are rejected, and the
    //      executed rewrite changes no answers (reference analog:
    //      AsyncClusteringService.java:41 + SparkRejectUpdateStrategy.java:42)
    "q76_async_clustering" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_aclu", TableType.COW).copy(targetFileRows = 2000)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val svc = TableServices(tbl)
        val ts = svc.scheduleClustering(Seq("o_orderkey"), targetFileRows = 5000)
          .getOrElse(sys.error("nothing to cluster"))
        // new keys ride through while the plan is pinned
        tbl.insert(orders.filter(col("o_orderkey") % 10 === 8))
        // an update to a pinned group must be rejected, not silently lost
        val rejected =
          try { tbl.upsert(orders.filter(col("o_orderkey") % 10 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 999)); false }
          catch { case _: graft.core.ClusteringConflictException => true }
        require(rejected, "update to a pinned group must raise")
        svc.runScheduledClustering(ts)
        require(svc.pendingClusterings().isEmpty, "plan must be consumed")
        // unpinned again: the update applies now
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 222))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice + 222
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 9)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- SHOW PARTITIONS statement: the live partition list after a
    //      drop, through the SQL surface (reference analog:
    //      ShowHoodieTablePartitionsCommand.scala:36)
    "q78_show_partitions" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = GraftTable.create(s, dir, cfg("orders_shp", TableType.COW))
        tbl.bulkInsert(orders)
        graft.sql.GraftSql.sql(s,
          s"ALTER TABLE '$dir' DROP PARTITION (o_orderpriority = '3-MEDIUM')")
        graft.sql.GraftSql.sql(s, s"SHOW PARTITIONS '$dir'")
          .withColumnRenamed("partition", "p").orderBy(col("p"))
      },
      Some("""
        SELECT DISTINCT o_orderpriority AS p FROM orders
        WHERE o_orderpriority <> '3-MEDIUM' ORDER BY p"""))),

    // ---- hive-style + url-encoded partition layout: values with spaces
    //      round-trip through encoded directory names; answers unchanged
    "q65_hive_url_partitions" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val c = cfg("orders_hive", TableType.COW).copy(
          hiveStylePartitioning = true, urlEncodePartitioning = true)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- pre-commit validators: the standard mutation recipe runs with
    //      invariant/effect validators armed on every commit; then a
    //      deliberately unsatisfiable validator must ABORT its write —
    //      the final state (and so the hash) matches the plain recipe
    //      (reference analog: SparkPreCommitValidator.java:72 +
    //      SqlQuery{Equality,Inequality,SingleResult}PreCommitValidator)
    "q79_precommit_validators" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_val", TableType.COW))
        tbl.withValidators(Seq(
          new graft.write.SqlQueryEqualityValidator(Seq(
            "SELECT count(*) FROM <TABLE_NAME> WHERE o_totalprice < 0")),
          new graft.write.SqlQueryInequalityValidator(Seq(
            "SELECT count(*), sum(o_orderkey), sum(floor(o_totalprice * 100)) FROM <TABLE_NAME>"))))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        // this write violates the no-negative-price invariant: it must
        // abort and leave the table exactly as the recipe built it
        try {
          tbl.upsert(orders.filter(col("o_orderkey") % 10 === 1)
            .withColumn("o_totalprice", lit(-1.0)))
          throw new IllegalStateException("validator should have aborted the commit")
        } catch { case _: graft.write.PreCommitValidationException => () }
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- BLOOM index: the standard mutation recipe on a table with
    //      per-file key blooms armed — upsert/delete tagging goes
    //      through the bloom probe (range prune → bloom prune → key
    //      join) and must produce the identical final state
    //      (reference analog: HoodieBloomIndex.java, the default index)
    "q80_bloom_index" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_bloom", TableType.COW).copy(bloomIndex = true))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- admin surface: SHOW COMMITS write accounting must equal the
    //      source-side row counts — bulk load rows = 80% of orders,
    //      pure-update MOR upsert delta rows = exactly the updated keys
    //      (reference analog: hudi-cli CommitsCommand.java:72)
    "q81_show_commits" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = GraftTable.create(s, dir, cfg("orders_cli", TableType.MOR))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        // every key exists -> no inserts, delta rows == updated keys
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        graft.sql.GraftSql.sql(s, s"SHOW COMMITS '$dir'")
          .select(col("action"), col("rows").as("n_rows")).orderBy(col("action"))
      },
      Some("""
        SELECT 'commit' AS action, count(*) AS n_rows
        FROM orders WHERE o_orderkey % 10 < 8
        UNION ALL
        SELECT 'deltacommit' AS action, count(*) AS n_rows
        FROM orders WHERE o_orderkey % 10 = 6
        ORDER BY action"""))),

    // ---- snapshot export: the mutated table exported to PLAIN parquet
    //      (partition layout preserved, meta columns stripped) reads
    //      back to the same answer (reference analog:
    //      HoodieSnapshotExporter.java:103)
    "q82_snapshot_export" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.COW)
        val out = freshDir()
        graft.sql.GraftSql.sql(s,
          s"EXPORT TABLE '${tbl.basePath}' TO '$out' FORMAT parquet")
        summarize(s.read.parquet(out)
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- filter-dupes ingest: two overlapping landing files under
    //      `insert` + filterDupes — re-delivered keys are DROPPED (first
    //      version wins), never merged (reference analog: DeltaStreamer
    //      --filter-dupes, DeltaSync.java:441)
    "q83_filter_dupes_ingest" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val srcDir = freshDir() + "/landing"
        val conf = s.sessionState.newHadoopConf()
        val fsys = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
        fsys.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
        // chunk 0: keys %10<6 at original price; chunk 1: keys %10<8
        // REPRICED — the %10<6 overlap must be dropped by the dedupe
        val chunks = Seq(
          orders.filter(col("o_orderkey") % 10 < 6),
          orders.filter(col("o_orderkey") % 10 < 8)
            .withColumn("o_totalprice", col("o_totalprice") + 1000))
        chunks.zipWithIndex.foreach { case (df, i) =>
          val tmpOut = freshDir() + s"/chunk$i"
          df.coalesce(1).write.parquet(tmpOut)
          val part = fsys.globStatus(
            new org.apache.hadoop.fs.Path(tmpOut, "part-*.parquet")).head.getPath
          fsys.rename(part, new org.apache.hadoop.fs.Path(srcDir, s"chunk-$i.parquet"))
        }
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_fd", TableType.COW))
        val ingest = new graft.streaming.ContinuousIngest(tbl,
          // 1-byte budget -> exactly one landing file per sync: chunk-0
          // commits before chunk-1's overlap arrives
          new graft.streaming.ParquetDirSource(s, srcDir, maxBytesPerBatch = 1L),
          operation = "insert", filterDupes = true)
        ingest.runContinuous(maxRounds = 1)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 < 6 THEN o_totalprice
                      ELSE o_totalprice + 1000 END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- incremental partition glob: change stream restricted to the
    //      URGENT partitions by path pattern (reference analog:
    //      hoodie.datasource.read.incr.path.glob)
    "q84_incremental_glob" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_glob", TableType.COW))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val r = GraftReader(tbl)
        r.dataOnly(r.incremental(t1, partitionGlob = Some("*URGENT")))
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey,
               CAST(floor((o_totalprice + 1000) * 100) AS BIGINT) AS price_c
        FROM orders
        WHERE o_orderkey % 10 >= 6 AND o_orderpriority LIKE '%URGENT'
        ORDER BY o_orderkey"""))),

    // ---- COPY TABLE backup: the copy is a real graft table whose
    //      snapshot answers match the source's recipe state
    //      (reference analog: HoodieSnapshotCopier.java:56)
    "q85_copy_table" -> ((
      (s: SparkSession, d: String) => {
        val tbl = mutated(s, d, TableType.MOR) // deltas exercise slice copy
        val dest = freshDir() + "/backup"
        graft.sql.GraftSql.sql(s, s"COPY TABLE '${tbl.basePath}' TO '$dest'")
        val copy = GraftTable.load(s, dest)
        val r = GraftReader(copy)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- inline auto-services: a MOR table configured to compact every
    //      2 delta commits, auto-clean to 2 retained commits, and
    //      auto-archive at a 4/6 window runs a 5-commit lifecycle with
    //      NO explicit service calls; the query require()s that each
    //      service actually fired (so the gate covers the trigger logic,
    //      not just the data), then hash-matches the final state
    //      (reference analog: postCommit-driven inline compaction +
    //      auto clean + archiveIfRequired, SparkRDDWriteClient.java:512)
    "q86_inline_services" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val conf = cfg("orders_auto", TableType.MOR).copy(
          inlineCompactDeltaCommits = 2, autoCleanRetainCommits = 2,
          autoArchiveMinCommits = 4, autoArchiveMaxCommits = 6)
        val tbl = GraftTable.create(s, freshDir(), conf)
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        // four updating upserts = four delta commits -> two inline
        // compactions (after the 2nd and 4th); the LAST write's values
        // are the final state (arrival order, incoming wins on ties)
        (1 to 4).foreach { i =>
          tbl.upsert(orders.filter(col("o_orderkey") % 10 === 6)
            .withColumn("o_totalprice", col("o_totalprice") + 1000 * i))
        }
        val tl = tbl.timeline
        // earlier service instants may already be ARCHIVED by the later
        // auto-archive runs — count across active + archived
        val compactions =
          tl.completed().count(_.action == graft.core.Action.Compaction) +
            tl.archivedInstants().count(_._1.action == graft.core.Action.Compaction)
        require(compactions == 2,
          s"expected 2 inline compactions, saw $compactions")
        require(tl.completed().exists(_.action == graft.core.Action.Clean) ||
            tl.archivedInstants().exists(_._1.action == graft.core.Action.Clean),
          "auto clean never fired")
        require(tl.archivedTimes().nonEmpty, "auto archive never fired")
        require(tl.completed().size <= 6,
          s"active timeline not bounded: ${tl.completed().size}")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 4000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- AWS DMS change-record ingest (reference analog:
    //      AWSDmsAvroPayload.java:44): full-load batch carries NO Op
    //      column; CDC batch carries full row images inline with
    //      Op=I/U/D — D rows (sent lowercase here to exercise the
    //      reference's case-insensitive match) become tombstones riding
    //      the same upsert
    "q107_dms_ingest" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dms = graft.streaming.Transformers.dms()
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_dms", TableType.COW))
        // full load: no Op column at all -> plain inserts
        tbl.bulkInsert(dms(orders.filter(col("o_orderkey") % 10 < 8)))
        // one CDC batch: inserts (%10 in 8..9), updates (%10 == 6,
        // repriced), deletes (%10 == 7, before image)
        val iEv = orders.filter(col("o_orderkey") % 10 >= 8)
          .withColumn("Op", lit("I"))
        val uEv = orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
          .withColumn("Op", lit("U"))
        val dEv = orders.filter(col("o_orderkey") % 10 === 7)
          .withColumn("Op", lit("d"))
        tbl.upsert(dms(iEv.unionByName(uEv).unionByName(dEv)))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 <> 7)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- dropPartitionColumns lifecycle (reference analog:
    //      hoodie.datasource.write.drop.partition.columns): the
    //      partition field exists ONLY in the hive-style path; the
    //      summary groups by the reconstituted column and the delete
    //      round-trips through it
    "q108_drop_partition_cols" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_dpc", TableType.COW).copy(
            dropPartitionColumns = true, hiveStylePartitioning = true))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- virtual keys + dropped partition columns (reference analog:
    //      hoodie.populate.meta.fields=false, HoodieTableConfig.java:159):
    //      files store PURE data columns — zero meta, no partition field;
    //      the append-only lifecycle (bulk load, insert fill,
    //      insert_overwrite of one partition) reads back exact
    "q109_virtual_keys" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_vk", TableType.COW).copy(
            virtualKeys = true, dropPartitionColumns = true))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 6))
        tbl.insert(orders.filter(col("o_orderkey") % 10 === 6))
        // replace one partition wholesale with repriced rows
        tbl.insertOverwrite(orders
          .filter(col("o_orderpriority") === "3-MEDIUM" &&
            col("o_orderkey") % 10 <= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderpriority = '3-MEDIUM'
                      THEN o_totalprice + 1000 ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 <= 6)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- repair deduplicate (reference analog: hudi-cli `repair
    //      deduplicate`, RepairsCommand.java:60): two bulk_inserts skip
    //      the tag join and plant duplicate (partition,key) pairs; the
    //      repair collapses each to its upsert-merge winner (tie on
    //      ordering -> newer commit, i.e. the repriced copy)
    "q110_repair_dedup" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_rep", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 3)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val (surplusDry, _, dryInstant) = tbl.repairDeduplicate(dryRun = true)
        require(surplusDry > 0 && dryInstant.isEmpty,
          s"dry run must report surplus without committing: $surplusDry")
        val (surplus, groups, instant) = tbl.repairDeduplicate()
        require(surplus == surplusDry && groups > 0 && instant.isDefined,
          s"repair must rewrite: surplus=$surplus groups=$groups")
        require(tbl.repairDeduplicate(dryRun = true)._1 == 0,
          "table must be duplicate-free after repair")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 < 3 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- write-amplification stats (reference analog: hudi-cli `stats
    //      wa`, StatsCommand.java:58 — total written / records upserted
    //      on the RAW batch): single-group COW so rows_written is exact;
    //      the upsert batch carries intra-batch duplicates to pin the
    //      denominator to pre-precombine rows
    "q111_wa_stats" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), TableConfig(
          name = "orders_wa", tableType = TableType.COW,
          keyFields = Seq("o_orderkey"), orderingField = "o_orderdate",
          targetFileRows = 10000000L))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val batch = orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        tbl.upsert(batch.unionByName(batch)) // doubled: raw-batch denominator
        graft.sql.GraftSql.sql(s, s"SHOW WRITE AMPLIFICATION '${tbl.basePath}'")
          .select(
            when(col("operation") === "", "total").otherwise(col("operation"))
              .as("operation"),
            col("rows_written"),
            coalesce(col("incoming_rows"), lit(-1L)).as("incoming_rows"),
            coalesce(floor(col("wa") * 1000).cast("long"), lit(-1L)).as("wa_m"))
          .orderBy(col("operation"))
      },
      Some("""
        WITH c AS (
          SELECT (SELECT count(*) FROM orders WHERE o_orderkey % 10 < 8) AS w,
                 (SELECT 2 * count(*) FROM orders WHERE o_orderkey % 10 = 6) AS i)
        SELECT 'bulk_insert' AS operation, CAST(w AS BIGINT) AS rows_written,
               CAST(-1 AS BIGINT) AS incoming_rows, CAST(-1 AS BIGINT) AS wa_m
        FROM c
        UNION ALL
        SELECT 'total', CAST(w AS BIGINT), CAST(i AS BIGINT),
               CAST(floor(CAST(w AS DOUBLE) / i * 1000) AS BIGINT) FROM c
        UNION ALL
        SELECT 'upsert', CAST(w AS BIGINT), CAST(i AS BIGINT),
               CAST(floor(CAST(w AS DOUBLE) / i * 1000) AS BIGINT) FROM c
        ORDER BY operation"""))),

    // ---- multi-table ingest (reference analog:
    //      HoodieMultiTableDeltaStreamer.java:60): one service round-robins
    //      two tables, each advancing its own checkpoint-in-commit; the
    //      byte budget forces one source file per sync round
    "q112_multi_table_ingest" -> ((
      (s: SparkSession, d: String) => {
        val conf = s.sessionState.newHadoopConf()
        def landing(src: DataFrame, splitCol: String, chunks: Int): String = {
          val dir = freshDir() + "/landing"
          val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
          fsys.mkdirs(new org.apache.hadoop.fs.Path(dir))
          (0 until chunks).foreach { i =>
            val tmpOut = freshDir() + s"/chunk$i"
            src.filter(col(splitCol) % chunks === i).coalesce(1)
              .write.parquet(tmpOut)
            val part = fsys.globStatus(
              new org.apache.hadoop.fs.Path(tmpOut, "part-*.parquet")).head.getPath
            fsys.rename(part, new org.apache.hadoop.fs.Path(dir, s"chunk-$i.parquet"))
          }
          dir
        }
        val orders = graft.Tables.t(s, d, "orders")
          .filter(col("o_orderkey") % 10 < 5)
        val lineitem = graft.Tables.t(s, d, "lineitem")
          .filter(col("l_orderkey") % 10 < 5)
          .select("l_orderkey", "l_linenumber", "l_quantity")
        val ta = GraftTable.create(s, freshDir(), cfg("orders_mt", TableType.COW))
        val tb = GraftTable.create(s, freshDir(), TableConfig(
          name = "lineitem_mt", tableType = TableType.COW,
          keyFields = Seq("l_orderkey", "l_linenumber"),
          orderingField = "l_quantity", targetFileRows = 100000))
        val ia = new graft.streaming.ContinuousIngest(ta,
          new graft.streaming.ParquetDirSource(s,
            landing(orders, "o_orderkey", 2), maxBytesPerBatch = 1L),
          operation = "insert")
        val ib = new graft.streaming.ContinuousIngest(tb,
          new graft.streaming.ParquetDirSource(s,
            landing(lineitem, "l_orderkey", 2), maxBytesPerBatch = 1L),
          operation = "insert")
        val svc = new graft.streaming.MultiTableIngest(Seq(ia, ib))
        // round 1: chunk-0 of each; round 2: chunk-1; round 3: caught up
        require(svc.syncOnce().forall(_.isDefined), "round 1 must commit both")
        require(svc.syncOnce().forall(_.isDefined), "round 2 must commit both")
        require(svc.syncOnce().forall(_.isEmpty), "round 3 must be caught up")
        val ra = GraftReader(ta); val rb = GraftReader(tb)
        ra.dataOnly(ra.snapshot())
          .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
          .select(lit("orders").as("tbl"), col("n"), col("key_sum"))
          .unionByName(rb.dataOnly(rb.snapshot())
            .agg(count(lit(1)).as("n"),
              sum(col("l_orderkey") * 10 + col("l_linenumber")).as("key_sum"))
            .select(lit("lineitem").as("tbl"), col("n"), col("key_sum")))
          .orderBy(col("tbl"))
      },
      Some("""
        -- the synthetic lineitem carries duplicate (l_orderkey,
        -- l_linenumber) pairs; insert's precombine keeps one row per key,
        -- so the oracle counts DISTINCT keys (key-only aggregates stay
        -- independent of which duplicate wins)
        SELECT 'lineitem' AS tbl, count(*) AS n,
               CAST(sum(l_orderkey * 10 + l_linenumber) AS BIGINT) AS key_sum
        FROM (SELECT DISTINCT l_orderkey, l_linenumber
              FROM lineitem WHERE l_orderkey % 10 < 5)
        UNION ALL
        SELECT 'orders', count(*),
               CAST(sum(o_orderkey) AS BIGINT)
        FROM orders WHERE o_orderkey % 10 < 5
        ORDER BY tbl"""))),

    // ---- file-based schema provider feeding an untyped source
    //      (reference analog: FilebasedSchemaProvider.java:37 + the CSV
    //      DFS source): headerless CSV has NO types of its own — every
    //      typed value in the result exists only because the provided
    //      DDL schema was applied at ingest
    "q113_schema_provider" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
          .filter(col("o_orderkey") % 10 < 8)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val conf = s.sessionState.newHadoopConf()
        val dir = freshDir() + "/landing"
        val fsys = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
        fsys.mkdirs(new org.apache.hadoop.fs.Path(dir))
        val tmpOut = freshDir() + "/csv"
        orders.coalesce(1).write.option("header", "false").csv(tmpOut)
        val part = fsys.globStatus(
          new org.apache.hadoop.fs.Path(tmpOut, "part-*.csv")).head.getPath
        fsys.rename(part, new org.apache.hadoop.fs.Path(dir, "chunk-0.csv"))
        val ddlFile = freshDir() + "/schema.ddl"
        val out = fsys.create(new org.apache.hadoop.fs.Path(ddlFile))
        out.write("o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        out.close()
        val provider = new graft.streaming.FileBasedSchemaProvider(s, ddlFile)
        val tbl = GraftTable.create(s, freshDir(), TableConfig(
          name = "orders_sp", tableType = TableType.COW,
          keyFields = Seq("o_orderkey"), partitionFields = Seq("o_orderpriority"),
          orderingField = "o_totalprice", targetFileRows = 100000))
        val ingest = new graft.streaming.ContinuousIngest(tbl,
          new graft.streaming.CsvDirSource(s, dir,
            options = Map("header" -> "false"),
            schema = Some(provider.sourceSchema)),
          operation = "insert")
        require(ingest.syncOnce().isDefined && ingest.syncOnce().isEmpty,
          "one batch then caught up")
        val r = GraftReader(tbl)
        val got = r.dataOnly(r.snapshot())
        require(got.schema("o_orderkey").dataType.typeName == "long" &&
          got.schema("o_totalprice").dataType.typeName == "double",
          "provided schema must type the untyped CSV")
        summarize(got.withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey % 10 < 8
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- commit callbacks (reference analog:
    //      HoodieWriteCommitCallback.java:29): a registered callback sees
    //      every published instant with its action/operation/row counts —
    //      the oracle recomputes those counts from the source data
    "q114_commit_callbacks" -> ((
      (s: SparkSession, d: String) => {
        import s.implicits._
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_cb", TableType.MOR))
        val seen =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        tbl.timeline.register(new graft.core.CommitCallback {
          override def onCommit(i: graft.core.Instant,
              m: graft.core.CommitMetadata): Unit =
            seen.synchronized {
              seen += ((i.action, m.operation, m.stats.map(_.rows).sum))
            }
        })
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        // the callback stream IS the result — and it must cover exactly
        // the timeline's completed data instants
        require(seen.size == tbl.timeline.completed()
          .count(i => graft.core.Action.dataActions(i.action)),
          s"callback must fire once per published instant: $seen")
        seen.toSeq.toDF("action", "operation", "total_rows")
          .orderBy(col("operation"))
      },
      Some("""
        SELECT 'commit' AS action, 'bulk_insert' AS operation,
               (SELECT count(*) FROM orders WHERE o_orderkey % 10 < 8)
                 AS total_rows
        UNION ALL
        SELECT 'deltacommit', 'delete',
               (SELECT count(*) FROM orders WHERE o_orderkey % 10 = 7)
        UNION ALL
        SELECT 'deltacommit', 'upsert',
               (SELECT count(*) FROM orders WHERE o_orderkey % 10 >= 6)
        ORDER BY operation"""))),

    // ---- SQL-backed ingest source (reference analog:
    //      sources/SqlSource.java:52 — backfills riding the ingest
    //      harness): fetches the query result ONCE, then reports caught
    //      up forever; checkpoint-in-commit makes the one-shot durable
    "q115_sql_source_ingest" -> ((
      (s: SparkSession, d: String) => {
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_sql", TableType.COW))
        val ingest = new graft.streaming.ContinuousIngest(tbl,
          new graft.streaming.SqlSource(s,
            s"""SELECT * FROM parquet.`$d/orders.parquet`
                WHERE o_orderkey % 10 < 8"""),
          operation = "insert")
        require(ingest.syncOnce().isDefined, "one-shot fetch must commit")
        require(ingest.syncOnce().isEmpty && ingest.syncOnce().isEmpty,
          "SqlSource must report caught-up forever after the one shot")
        require(ingest.checkpoint.contains("done"),
          "checkpoint must record the one-shot completion")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey % 10 < 8
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- watermark composition on the stream source: event-time
    //      watermark + tumbling window in append mode — closed windows
    //      emit once, late rows below the watermark drop; the oracle
    //      replays the two-batch watermark algebra in SQL
    "q116_stream_watermark" -> ((
      (s: SparkSession, d: String) => {
        val ev = graft.Tables.t(s, d, "events")
          .filter(col("event_id") % 17 === 0)
          .withColumn("event_time", timestamp_seconds(
            floor(unix_micros(col("ts").cast("timestamp")) / 1000000L)))
          .select("event_id", "event_time")
        val tbl = GraftTable.create(s, freshDir(), TableConfig(
          name = "events_wm", tableType = TableType.COW,
          keyFields = Seq("event_id"), orderingField = "",
          targetFileRows = 100000))
        tbl.bulkInsert(ev.filter(col("event_id") % 2 === 0))
        val sinkName =
          s"q116_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = s.readStream
          .format(classOf[org.apache.spark.sql.graft.streaming.GraftStreamProvider].getName)
          .option("path", tbl.basePath)
          .load()
          .withWatermark("event_time", "1 hour")
          .groupBy(window(col("event_time"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("long").as("w"), col("n"))
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("append")
          .option("checkpointLocation", freshDir() + "/ckpt")
          .start()
        q.processAllAvailable() // batch 1 advances the watermark
        tbl.upsert(ev.filter(col("event_id") % 2 =!= 0))
        q.processAllAvailable() // batch 2: late rows drop, closed windows emit
        q.stop()
        s.table(sinkName).orderBy(col("w"))
      },
      Some("""
        WITH ev AS (
          SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                 CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS b
          FROM events WHERE event_id % 17 = 0),
        wm AS (
          SELECT max(CASE WHEN b = 1 THEN sec END) - 3600 AS w1,
                 greatest(max(CASE WHEN b = 1 THEN sec END), max(sec)) - 3600
                   AS w2
          FROM ev),
        kept AS (
          SELECT (ev.sec // 3600) * 3600 AS w FROM ev, wm
          WHERE ev.b = 1 OR (ev.sec // 3600) * 3600 + 3600 > wm.w1)
        SELECT w, count(*) AS n FROM kept, wm
        WHERE w + 3600 <= wm.w2
        GROUP BY w ORDER BY w"""))),

    // ---- OCC conflict abort (reference analog:
    //      SimpleConcurrentFileWritesConflictResolutionStrategy.java:73):
    //      concurrent writers race the SAME file group; losers abort with
    //      the conflict exception and leave NO pending instants — the
    //      final state hash-matches the winner's write either way
    "q117_occ_conflict_race" -> ((
      (s: SparkSession, d: String) => occRace(s, d, identity),
      Some(OccRaceSql))),

    // ---- the same OCC race through the simulated OBJECT-STORE commit
    //      protocol: conditional-put instant publication, data files
    //      moved by copy (never atomic rename), and the in-process lock
    //      provider standing in for ZK (reference analogs:
    //      HoodieActiveTimeline.java:525-641, InProcessLockProvider.java)
    "q118_occ_conflict_put_store" -> ((
      (s: SparkSession, d: String) => occRace(s, d,
        c => c.copy(commitStore = "put", lockProvider = "inprocess")),
      Some(OccRaceSql))),

    // ---- incremental pull over an ORC MOR table: the change-stream
    //      primitive must be format-blind — deltas are .delta.orc files
    //      and the commit-range filter reads them through the same
    //      readStatsDf funnel (complements q184's snapshot gate)
    "q188_orc_incremental" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_oinc", TableType.MOR).copy(baseFormat = "orc"))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val r = GraftReader(tbl)
        r.dataOnly(r.incremental(t1))
          .select(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey,
               CAST(floor((o_totalprice + 1000) * 100) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey % 10 >= 6
        ORDER BY o_orderkey"""))),

    // ---- streaming sink exactly-once into an ORC MOR table, then
    //      compaction: the sink's batch-id replay guard, the ORC delta
    //      write path, and the compactor must compose — a poisoned
    //      replay of batch 1 is a no-op, and the query reads
    //      POST-compaction (the streaming analog of q188's pin)
    "q192_stream_sink_orc_mor" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_sso", TableType.MOR).copy(baseFormat = "orc"))
        val qid = "q192-query"
        GraftStreamSink.writeBatch(tbl, qid, "bulk_insert",
          orders.filter(col("o_orderkey") % 10 < 8), 0L)
        GraftStreamSink.writeBatch(tbl, qid, "upsert",
          orders.filter(col("o_orderkey") % 10 >= 6)
            .withColumn("o_totalprice", col("o_totalprice") + 1000), 1L)
        // replay of batch 1 with poisoned prices — must be a no-op
        GraftStreamSink.writeBatch(tbl, qid, "upsert",
          orders.withColumn("o_totalprice", lit(0.0)), 1L)
        GraftStreamSink.writeBatch(tbl, qid, "upsert",
          orders.filter(col("o_orderkey") % 10 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 500), 2L)
        TableServices(tbl).compact()
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 500
                      WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- OCC under the REAL ZooKeeper lock provider (Curator
    //      InterProcessMutex + fence markers against an in-process ZK
    //      server — the server classes ship in the zookeeper jar): the
    //      same three-writer race as q64 through an out-of-process lock
    //      service, object-store commit profile
    "q199_occ_conflict_zk_lock" -> ((
      (s: SparkSession, d: String) => {
        val (connect, stop) = graft.core.EmbeddedZk.start()
        try occRace(s, d, c => c.copy(
          commitStore = graft.core.CommitStore.Put,
          lockProvider = s"zk:$connect"))
        finally {
          stop()
          // drop the shared client too, or it retries the dead
          // ensemble (log spam) until the verify JVM exits
          graft.core.ZkLockProvider.closeCached(connect)
        }
      },
      Some(OccRaceSql))),

    // ---- multi-writer OCC arbitrated by the HIVE METASTORE's ACID lock
    //      manager (reference analog:
    //      HiveMetastoreBasedLockProvider.java:71): an EXCLUSIVE
    //      table-level lock in a real embedded Derby-backed HMS — the
    //      lock family a Hive-centric deployment already operates.
    //      Parameterized over BOTH commit stores (rename and
    //      conditional-put), same race, same final state; the lock id
    //      doubles as a monotonic fence (see HmsLockSpec for the
    //      reaped-hold abort)
    "q201_occ_conflict_hms_lock" -> ((
      (s: SparkSession, d: String) => {
        val dbDir = freshDir()
        val connect = s"jdbc:derby:;databaseName=$dbDir/hms_db;create=true"
        val byRename = occRace(s, d, c => c.copy(
          commitStore = graft.core.CommitStore.Rename,
          lockProvider = s"hms:$connect"))
        val byPut = occRace(s, d, c => c.copy(
          commitStore = graft.core.CommitStore.Put,
          lockProvider = s"hms:$connect"))
        require(byRename.collect().toSeq == byPut.collect().toSeq,
          "both commit stores must converge to the same final state " +
            "under the hms lock")
        byPut
      },
      Some(OccRaceSql))),

    // ---- fenced commit under lock-session loss: the ZK session-expiry
    //      race (a writer's lock session drops mid-critical-section and a
    //      peer may take the lock before it notices) is closed by the
    //      fence token minted at ACQUIRE and verified at the commit point
    //      — the stale writer ABORTS with a clean rollback, a fresh
    //      writer lands the same change, and the completed instant
    //      records the fence it committed under. Runs under the real
    //      ZooKeeper provider against an in-process ZK server. The
    //      reference's ZK provider leaves this window open
    //      (ZookeeperBasedLockProvider.java:55).
    "q189_fenced_commit_session_loss" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val (connect, stop) = graft.core.EmbeddedZk.start()
        try {
          val tbl = GraftTable.create(s, freshDir(),
            cfg("orders_fence", TableType.COW).copy(
              occ = true, commitStore = graft.core.CommitStore.Put,
              lockProvider = s"zk:$connect"))
          tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
          val batch = orders.filter(col("o_orderkey") % 10 === 6)
            .withColumn("o_totalprice", col("o_totalprice") + 1000)
          // fault injection: the writer's ZK session is expired
          // server-side at the commit point, AFTER its conflict check
          // passed — its lock and fence marker vanish with the session
          tbl.onBeforeComplete = () => graft.core.EmbeddedZk.killSession(
            graft.core.ZkLockProvider.cachedClient(connect), connect)
          val staleAborted =
            try { tbl.upsert(batch); false }
            catch { case _: graft.core.LockSessionLostException => true }
          finally tbl.onBeforeComplete = () => ()
          require(staleAborted,
            "a writer whose lock session dropped mid-commit must abort " +
              "at the fence check, not complete")
          require(tbl.timeline.instants().forall(_.isCompleted),
            "the fenced abort must roll back its pending instant")
          // the NEW holder (fresh session, newer fence) lands the change
          tbl.upsert(batch)
          val last = tbl.timeline.completed().last
          require(tbl.timeline.metadataOf(last).extra.contains("fenceToken"),
            "a fenced commit must record its token in the instant payload")
          val r = GraftReader(tbl)
          summarize(r.dataOnly(r.snapshot())
            .withColumnRenamed("o_totalprice", "price"))
        } finally {
          stop()
          graft.core.ZkLockProvider.closeCached(connect)
        }
      },
      Some(OccRaceSql))),

    // ---- the FILE-lock (HDFS-posture) complement of q189: a peer
    //      breaks this writer's lock as stale mid-commit and re-acquires
    //      it; the broken holder's fence check reads a foreign token and
    //      aborts cleanly instead of completing into the peer's critical
    //      section — the exact failure mode of every mtime-based stale
    //      policy (reference analog: FileSystemBasedLockProvider.java:53,
    //      which has no fence and publishes blind)
    "q193_fenced_commit_file_lock" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_ffence", TableType.COW).copy(occ = true)) // file lock
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val batch = orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        // fault injection at the commit point: a peer judges this
        // writer's lock stale, deletes it, and takes it over — exactly
        // what FileLockProvider's staleMs policy does to a stalled writer
        var peer: graft.core.FileLockProvider = null
        tbl.onBeforeComplete = () => {
          val lockPath = new org.apache.hadoop.fs.Path(
            tbl.timeline.metaDir, graft.core.TimelineLock.LockFile)
          tbl.timeline.fileSystem.delete(lockPath, false)
          peer = new graft.core.FileLockProvider(tbl.timeline)
          require(peer.tryLock(), "peer must take the broken lock")
        }
        val staleAborted =
          try { tbl.upsert(batch); false }
          catch { case _: graft.core.LockSessionLostException => true }
        tbl.onBeforeComplete = () => ()
        require(staleAborted,
          "a writer whose file lock was stale-broken mid-commit must " +
            "abort at the fence check, not complete")
        require(tbl.timeline.instants().forall(_.isCompleted),
          "the fenced abort must roll back its pending instant")
        peer.unlock()
        // with the lock free again the retry lands the same change
        tbl.upsert(batch)
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(OccRaceSql))),

    // ---- partition TTL: the retention policy wired to delete_partition
    //      — `RUN TTL ... EXPIRE BELOW '3'` drops the lexicographically
    //      older priority partitions (1-URGENT, 2-HIGH) in one
    //      replacecommit; files stay until clean, snapshot reads flip
    //      immediately. A second run is a no-op (nothing left below the
    //      cutoff); a later insert into a dropped partition resurrects it
    "q195_partition_ttl" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_ttl", TableType.COW))
        tbl.bulkInsert(orders)
        val dropped = graft.sql.GraftSql
          .sql(s, s"RUN TTL ON '${tbl.basePath}' EXPIRE BELOW '3'")
          .collect().map(_.getString(0)).toSeq
        require(dropped == Seq("1-URGENT", "2-HIGH"),
          s"TTL must drop exactly the partitions below the cutoff: $dropped")
        require(graft.sql.GraftSql
          .sql(s, s"RUN TTL ON '${tbl.basePath}' EXPIRE BELOW '3'")
          .isEmpty, "a repeated TTL run must be a no-op")
        // late data for an expired partition re-creates it (the drop is
        // logical, not a schema constraint)
        tbl.upsert(orders.filter(
          col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 === 0))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice AS price
          FROM orders
          WHERE o_orderpriority >= '3'
             OR (o_orderpriority = '1-URGENT' AND o_orderkey % 10 = 0))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- duration-based TTL (the typed form a retention schedule
    //      actually runs): `RUN TTL ... EXPIRE OLDER THAN <n> DAYS` on a
    //      date-partitioned table computes the cutoff from today's date
    //      and drops only partitions carrying an ISO date older than it —
    //      no hand-rolled cutoff string, and non-date layouts refuse
    //      loudly (see ServicesSpec) instead of guessing. Fixture dates
    //      sit decades on either side of today±10y, so the wall-clock
    //      arithmetic is deterministic for this gate
    "q202_partition_ttl_typed" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dated = orders.withColumn("dt",
          when(col("o_orderpriority") === "1-URGENT", lit("1998-01-05"))
            .when(col("o_orderpriority") === "2-HIGH", lit("2001-06-30"))
            .when(col("o_orderpriority") === "3-MEDIUM", lit("2098-01-01"))
            .when(col("o_orderpriority") === "4-NOT SPECIFIED", lit("2098-06-01"))
            .otherwise(lit("2099-01-01")))
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_ttl_typed", TableType.COW).copy(
            partitionFields = Seq("dt")))
        tbl.bulkInsert(dated)
        val dry = graft.sql.GraftSql
          .sql(s, s"RUN TTL ON '${tbl.basePath}' EXPIRE OLDER THAN 3650 DAYS DRY RUN")
          .collect().map(_.getString(0)).toSeq
        require(dry == Seq("1998-01-05", "2001-06-30"),
          s"DRY RUN must list exactly the decades-old partitions: $dry")
        require(tbl.timeline.completed().count(_.action == Action.ReplaceCommit) == 0,
          "DRY RUN must commit nothing")
        val dropped = graft.sql.GraftSql
          .sql(s, s"RUN TTL ON '${tbl.basePath}' EXPIRE OLDER THAN 3650 DAYS")
          .collect().map(_.getString(0)).toSeq
        require(dropped == dry, s"the drop must realize the audited plan: $dropped")
        require(graft.sql.GraftSql
          .sql(s, s"RUN TTL ON '${tbl.basePath}' EXPIRE OLDER THAN 3650 DAYS")
          .isEmpty, "a repeated duration TTL run must be a no-op")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice AS price
          FROM orders
          WHERE o_orderpriority IN ('3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- schema-evolving MERGE INTO: a star action whose source
    //      carries a genuinely NEW column reconciles-by-union exactly
    //      like the raw write path — post-MERGE `SELECT *` sees the
    //      stable existing field order with the new column APPENDED,
    //      old rows read it as null; under strictSchema the same merge
    //      refuses loudly (reference analog: TestMergeIntoTable2's
    //      evolved-schema cases + TableSchemaResolver.isSchemaCompatible)
    "q203_merge_schema_evolution" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_mgevo", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val origCols = {
          val r0 = GraftReader(tbl)
          r0.dataOnly(r0.snapshot()).columns.toSeq
        }
        val src = orders.filter(col("o_orderkey") % 10 >= 4)
          .withColumn("discount", (col("o_orderkey") % 7).cast("double"))
        val committed = graft.sql.GraftDml(tbl)
          .merge(src, col("t.o_orderkey") === col("s.o_orderkey") &&
            col("t.o_orderpriority") === col("s.o_orderpriority"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
        require(committed.nonEmpty, "the evolving merge must commit")
        val r = GraftReader(tbl)
        val after = r.dataOnly(r.snapshot())
        require(after.columns.toSeq == origCols :+ "discount",
          s"post-MERGE SELECT * must keep the stable field order with " +
            s"the new column appended, got ${after.columns.mkString(",")}")
        // the same star merge under strictSchema refuses loudly
        val strict = GraftTable.create(s, freshDir(),
          cfg("orders_mgstrict", TableType.COW).copy(strictSchema = true))
        strict.bulkInsert(orders.filter(col("o_orderkey") % 10 < 2))
        val refused =
          try {
            graft.sql.GraftDml(strict)
              .merge(src, col("t.o_orderkey") === col("s.o_orderkey") &&
                col("t.o_orderpriority") === col("s.o_orderpriority"))
              .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
            false
          } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("strictSchema") }
        require(refused, "strictSchema must reject a schema-evolving merge")
        after
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100)).cast("long").as("price_c"),
            sum(when(col("discount").isNull, lit(-1L))
              .otherwise(col("discount").cast("long"))).cast("long").as("disc_sum"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority, o_totalprice AS price,
                 CASE WHEN o_orderkey % 10 >= 4
                      THEN CAST(o_orderkey % 7 AS DOUBLE) END AS discount
          FROM orders)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c,
               CAST(sum(CASE WHEN discount IS NULL THEN -1
                             ELSE CAST(discount AS BIGINT) END) AS BIGINT) AS disc_sum
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- cross-format full-record bootstrap: a PARQUET lake rewrites
    //      into an ORC table through bulk_insert (sourceFormat decouples
    //      the lake's format from the table's; reference analog:
    //      FULL_RECORD bootstrap + hoodie.table.base.file.format)
    "q187_bootstrap_cross_format" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val extDir = freshDir() + "/lake"
        orders.filter(col("o_orderkey") % 10 < 8)
          .coalesce(2).write.mode("overwrite").parquet(extDir)
        val tbl = graft.sql.GraftDdl.bootstrap(
          s, freshDir(),
          cfg("orders_xfmt", TableType.COW).copy(baseFormat = "orc"),
          extDir, mode = "full", sourceFormat = "parquet")
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql))),

    // ---- object-storage event-notification ingest (reference analog:
    //      S3EventsSource.java:44 / S3EventsHoodieIncrSource.java:62):
    //      new data objects arrive via an event feed naming them — the
    //      source reads exactly the named objects, never LISTs the data
    //      "bucket", and checkpoints at event-file granularity
    "q119_object_events_ingest" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val conf = s.sessionState.newHadoopConf()
        val dataDir = freshDir() + "/objects"
        val eventsDir = freshDir() + "/events"
        val fsys = new org.apache.hadoop.fs.Path(dataDir).getFileSystem(conf)
        fsys.mkdirs(new org.apache.hadoop.fs.Path(dataDir))
        fsys.mkdirs(new org.apache.hadoop.fs.Path(eventsDir))
        def landObject(i: Int): String = {
          val tmpOut = freshDir() + s"/chunk$i"
          orders.filter(col("o_orderkey") % 3 === i).coalesce(1)
            .write.parquet(tmpOut)
          val part = fsys.globStatus(
            new org.apache.hadoop.fs.Path(tmpOut, "part-*.parquet")).head.getPath
          val dest = new org.apache.hadoop.fs.Path(dataDir, s"obj-$i.parquet")
          fsys.rename(part, dest)
          dest.toString
        }
        def notify(name: String, keys: Seq[String]): Unit = {
          val out = fsys.create(
            new org.apache.hadoop.fs.Path(eventsDir, s"$name.json"))
          out.write(keys.map(k => s"""{"key": "$k"}""").mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.close()
        }
        // event 1 names two objects; event 2 is a keyless (delete-only)
        // notification the source must skip past; event 3 names the last
        notify("000-batch", Seq(landObject(0), landObject(1)))
        notify("001-empty", Nil)
        notify("002-batch", Seq(landObject(2)))
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_s3e", TableType.COW))
        val ingest = new graft.streaming.ContinuousIngest(tbl,
          new graft.streaming.ObjectEventsSource(s, eventsDir,
            maxEventFilesPerBatch = 1),
          operation = "insert")
        require(ingest.syncOnce().isDefined, "round 1: event 000")
        require(ingest.syncOnce().isDefined, "round 2: skip 001, ingest 002")
        require(ingest.syncOnce().isEmpty, "round 3: caught up")
        require(ingest.checkpoint.exists(_.endsWith("002-batch.json")),
          s"checkpoint must land on the last event file: ${ingest.checkpoint}")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- failed-write cleanup (reference analog:
    //      hoodie.cleaner.policy.failed.writes,
    //      HoodieCompactionConfig.java:214 + rollbackFailedWrites,
    //      AbstractHoodieWriteClient.java:916): a writer crashed mid-
    //      write, leaving a pending inflight instant, one data file at
    //      its final (uncommitted) name and a `.graft/.tmp` staging tree
    //      (what a crash under an older, staging build left behind). The next write rolls it all back automatically; the
    //      table state is exactly as if the crash never happened
    // ---- streaming CDC: the change-stream mode of the stream source
    //      (query.type=cdc). Three commits -> three micro-batches: the
    //      opening batch tags everything I, the upsert batch splits
    //      U (existing keys) / I (new keys), the delete batch emits D
    //      rows that keep the KEY but null the payload
    "q133_stream_cdc" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_scdc", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val sinkName =
          s"q133_sink_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        val q = s.readStream
          .format(classOf[org.apache.spark.sql.graft.streaming.GraftStreamProvider].getName)
          .option("path", tbl.basePath)
          .option("query.type", "cdc")
          .load()
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("append")
          .option("checkpointLocation", freshDir() + "/ckpt")
          .start()
        q.processAllAvailable() // batch 1: the bulk load, all I
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        q.processAllAvailable() // batch 2: U for %10 in (6,7), I for (8,9)
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 0)
          .select("o_orderkey", "o_orderpriority"))
        q.processAllAvailable() // batch 3: D for %10 = 0
        q.stop()
        s.table(sinkName)
          .groupBy(col("_g_operation").as("op"))
          .agg(count(lit(1)).as("n"),
            sum(col("o_orderkey")).as("key_sum"),
            sum(floor(col("o_totalprice") * 100)).cast("long").as("price_c"))
          .orderBy(col("op"))
      },
      Some("""
        WITH stream AS (
          SELECT o_orderkey, 'I' AS op, floor(o_totalprice * 100) AS pc
          FROM orders WHERE o_orderkey % 10 < 8
          UNION ALL
          SELECT o_orderkey, 'I', floor((o_totalprice + 1000) * 100)
          FROM orders WHERE o_orderkey % 10 IN (8, 9)
          UNION ALL
          SELECT o_orderkey, 'U', floor((o_totalprice + 1000) * 100)
          FROM orders WHERE o_orderkey % 10 IN (6, 7)
          UNION ALL
          SELECT o_orderkey, 'D', NULL
          FROM orders WHERE o_orderkey % 10 = 0)
        SELECT op, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(pc) AS BIGINT) AS price_c
        FROM stream GROUP BY op ORDER BY op"""))),

    // ---- the lifecycle SQL verbs end to end (hudi-cli savepoint /
    //      clean / restore analogs): savepoint the load, mutate, clean
    //      (savepoint-aware — the pinned files must survive), then
    //      RESTORE back to the savepointed instant. The final state must
    //      be bit-identical to the original load: if clean had eaten the
    //      pinned files or restore missed an instant, the hash breaks
    "q134_lifecycle_sql" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_lc", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val t1 = tbl.timeline.completed().last.time
        graft.sql.GraftSql.sql(s, s"CREATE SAVEPOINT ON '${tbl.basePath}'")
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 0)
          .select("o_orderkey", "o_orderpriority"))
        graft.sql.GraftSql.sql(s, s"RUN CLEAN ON '${tbl.basePath}' RETAIN 1")
        graft.sql.GraftSql.sql(s, s"RESTORE TABLE '${tbl.basePath}' TO '$t1'")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey % 10 < 8
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- the data-skipping index inspection surface: SHOW COLUMN
    //      STATS must expose exactly the per-file min/max the skipping
    //      logic consumes (one file group per partition here, so the
    //      oracle recomputes the same stats from raw data)
    "q135_column_stats" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          cfg("orders_cs", TableType.COW).copy(statsColumns = Seq("o_orderkey")))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        // aggregate per partition: with more rows than targetFileRows a
        // partition holds several file groups, each with partial stats —
        // folding them (typed, not lexicographic) keeps the oracle exact
        // at ANY scale factor
        graft.sql.GraftSql.sql(s, s"SHOW COLUMN STATS '${tbl.basePath}'")
          .filter(col("column") === "o_orderkey")
          .groupBy(col("partition"), col("column"))
          .agg(min(col("min").cast("long")).cast("string").as("min"),
            max(col("max").cast("long")).cast("string").as("max"),
            sum(col("null_count")).as("null_count"),
            sum(col("rows")).as("rows"))
          .orderBy(col("partition"))
      },
      Some("""
        SELECT o_orderpriority AS "partition",
               'o_orderkey' AS "column",
               CAST(min(o_orderkey) AS VARCHAR) AS "min",
               CAST(max(o_orderkey) AS VARCHAR) AS "max",
               CAST(0 AS BIGINT) AS "null_count",
               count(*) AS "rows"
        FROM orders WHERE o_orderkey % 10 < 8
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- catalog sync (HiveSyncTool analog): register a MOR table's
    //      `_ro`/`_rt` pair in the Spark catalog and query both through
    //      engine-agnostic SQL — pre-compaction, `_rt` merges the delta
    //      batch while `_ro` reads base files only, so the two views
    //      MUST disagree exactly on the updated keys
    "q140_catalog_sync" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = GraftTable.create(s, dir, cfg("orders_sync", TableType.MOR))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        // pure-update batch: every key already exists, so the whole
        // batch lands in delta logs and _ro provably lags it
        tbl.upsert(orders
          .filter(col("o_orderkey") % 10 >= 6 && col("o_orderkey") % 10 < 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        val name =
          s"q140_sync_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        graft.sync.CatalogSyncTool(s, dir).sync(name)
        def view(suffix: String): DataFrame = summarize(
          s.sql(s"SELECT o_orderpriority, o_orderkey, o_totalprice AS price " +
            s"FROM ${name}_$suffix"))
        view("rt").withColumn("which", lit("rt"))
          .unionByName(view("ro").withColumn("which", lit("ro")))
          .orderBy(col("which"), col("o_orderpriority"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderpriority, o_orderkey, o_totalprice
          FROM orders WHERE o_orderkey % 10 < 8),
        rt AS (
          SELECT 'rt' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor((CASE WHEN o_orderkey % 10 >= 6
                                      THEN o_totalprice + 1000
                                      ELSE o_totalprice END) * 100))
                      AS BIGINT) AS price_c
          FROM base GROUP BY o_orderpriority),
        ro AS (
          SELECT 'ro' AS which, o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS price_c
          FROM base GROUP BY o_orderpriority)
        SELECT which, o_orderpriority, n, key_sum, price_c FROM rt
        UNION ALL
        SELECT which, o_orderpriority, n, key_sum, price_c FROM ro
        ORDER BY which, o_orderpriority"""))),

    // ---- clean-on-ingest: the DeltaStreamer loop running an LLM
    //      quality filter as its SQL transformer (the graft-registered
    //      `repetition_keep` UDF-free function), landing the kept docs
    //      in a lang-partitioned graft table — the table format and the
    //      training-data family composing across the SQL surface
    "q147_clean_ingest" -> ((
      (s: SparkSession, d: String) => {
        val docs = graft.Tables.t(s, d, "documents")
        val srcDir = freshDir() + "/landing"
        val conf = s.sessionState.newHadoopConf()
        val fsys = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
        fsys.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
        (0 until 2).foreach { i =>
          val tmpOut = freshDir() + s"/chunk$i"
          docs.filter(col("doc_id") % 2 === i).coalesce(1).write.parquet(tmpOut)
          val part = fsys.globStatus(
            new org.apache.hadoop.fs.Path(tmpOut, "part-*.parquet")).head.getPath
          fsys.rename(part, new org.apache.hadoop.fs.Path(srcDir, s"chunk-$i.parquet"))
        }
        val c = TableConfig(name = "docs_clean", tableType = TableType.COW,
          keyFields = Seq("doc_id"), partitionFields = Seq("lang"),
          orderingField = "doc_id", targetFileRows = 100000)
        val tbl = GraftTable.create(s, freshDir(), c)
        val clean = graft.streaming.Transformers.sqlQuery("""
          SELECT doc_id, lang, source, text,
                 CAST(size(split(text, ' ')) AS BIGINT) AS n_tokens
          FROM <SRC>
          WHERE repetition_keep(split(text, ' '))""")
        new graft.streaming.ContinuousIngest(tbl,
          new graft.streaming.ParquetDirSource(s, srcDir),
          transform = clean, operation = "insert")
          .runContinuous(maxRounds = 1)
        val r = GraftReader(tbl)
        r.dataOnly(r.snapshot())
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok_sum"))
          .orderBy(col("lang"))
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        top AS (
          SELECT doc_id, max(c) AS top_cnt FROM (
            SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
          GROUP BY doc_id),
        base AS (
          SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
        grams AS (
          SELECT doc_id,
                 list_transform(generate_series(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1]) AS g2
          FROM base),
        m AS (
          SELECT b.doc_id, b.lang, len(tk) AS n_tokens,
                 CASE WHEN len(tk) > 0
                      THEN 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                      ELSE 0.0 END AS dtf,
                 CASE WHEN len(g.g2) > 0
                      THEN 1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE) / len(g.g2)
                      ELSE 0.0 END AS d2f,
                 t.top_cnt
          FROM base b
          JOIN grams g ON b.doc_id = g.doc_id
          JOIN top t ON b.doc_id = t.doc_id),
        kept AS (
          SELECT lang, n_tokens FROM m
          WHERE dtf <= 0.85 AND d2f <= 0.65
            AND (n_tokens = 0 OR CAST(top_cnt AS DOUBLE) / n_tokens <= 0.30))
        SELECT lang, count(*) AS n, CAST(sum(n_tokens) AS BIGINT) AS tok_sum
        FROM kept GROUP BY lang ORDER BY lang"""))),

    // ---- multimodal blobs through the table format: a BINARY payload
    //      column survives bulk insert, a MOR delta upsert, and the
    //      merge-on-read path byte-exact (decode(upsert(encode(x))) == x)
    //      — the storage story for image/audio columns, read BEFORE
    //      compaction so the delta-merge path is the one under gate
    "q148_binary_payloads" -> ((
      (s: SparkSession, d: String) => {
        val docs = graft.Tables.t(s, d, "documents")
        val c = TableConfig(name = "docs_blob", tableType = TableType.MOR,
          keyFields = Seq("doc_id"), partitionFields = Seq("lang"),
          orderingField = "ver", targetFileRows = 100000)
        val tbl = GraftTable.create(s, freshDir(), c)
        tbl.bulkInsert(docs.select(col("doc_id"), col("lang"),
          encode(col("text"), "UTF-8").as("payload"), lit(1L).as("ver")))
        tbl.upsert(docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("lang"),
            encode(concat(lit("v2:"), col("text")), "UTF-8").as("payload"),
            lit(2L).as("ver")))
        val r = GraftReader(tbl)
        r.dataOnly(r.snapshot())
          .select(col("doc_id"),
            length(col("payload")).cast("long").as("n_bytes"),
            decode(col("payload"), "UTF-8").as("txt"),
            col("ver"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH fin AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 3 = 0 THEN 'v2:' || text ELSE text END AS txt,
                 CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS ver
          FROM documents)
        SELECT doc_id,
               CAST(octet_length(encode(txt)) AS BIGINT) AS n_bytes,
               txt,
               CAST(ver AS BIGINT) AS ver
        FROM fin ORDER BY doc_id"""))),

    // ---- incremental read SPANNING a clustering replacecommit: the
    //      rewrite moves every row into new file groups mid-range, but
    //      rows keep their original commit times and replaced groups
    //      drop out at snapshot resolution — so the pull must surface
    //      exactly the two upserts' rows, never the clustering's
    //      rewrites (the classic incremental-vs-replacecommit trap)
    "q149_incremental_clustered" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_incl", TableType.COW))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders
          .filter(col("o_orderkey") % 10 >= 6 && col("o_orderkey") % 10 < 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        TableServices(tbl).cluster(
          sortCols = Seq("o_orderkey"), layout = "linear", rankMode = "map",
          targetFileRows = 2000, purgeTombstones = true)
        tbl.upsert(orders.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_totalprice", col("o_totalprice") + 5000))
        val r = GraftReader(tbl)
        summarize(r.incremental(begin = t1)
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH changed AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 >= 6 THEN o_totalprice + 1000
                      ELSE o_totalprice + 5000 END AS price
          FROM orders
          WHERE o_orderkey % 10 IN (0, 1, 6, 7))
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM changed GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- CDC pull SPANNING a compaction: the fold rewrites every
    //      delta into new base files mid-range; updated and inserted
    //      keys must still surface with their own ops (U/I) and never
    //      as compaction rewrites, while keys whose tombstone the fold
    //      PURGED lose their D rows — the documented purge contract
    //      (mergeLatestKeepTombstones scaladoc; the reference applies
    //      delete blocks physically at compaction the same way)
    "q150_cdc_compacted" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_cdcc", TableType.MOR))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        tbl.upsert(orders
          .filter(col("o_orderkey") % 10 >= 6 && col("o_orderkey") % 10 < 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        TableServices(tbl).compact()
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        GraftReader(tbl).incrementalCdc(t1)
          .select(col("o_orderkey"),
            col("_g_operation").as("op"),
            floor(col("o_totalprice") * 100).cast("long").as("price_c"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 >= 8 THEN 'I' ELSE 'U' END AS op,
               CAST(floor((o_totalprice + 1000) * 100) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey % 10 IN (6, 8, 9)
        ORDER BY o_orderkey"""))),

    // ---- time travel ACROSS schema evolution: VERSION AS OF a commit
    //      before ALTER ADD COLUMNS must present that commit's schema
    //      (no later column) and its rows, while the latest snapshot
    //      carries the evolved one
    "q151_timetravel_schema" -> ((
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.types._
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_tts", TableType.COW))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8)
          .withColumn("flag", lit(1L)))
        graft.sql.GraftDdl.addColumns(tbl, Seq(StructField("bonus", DoubleType)))
        tbl.upsert(orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("flag", lit(2L)).withColumn("bonus", lit(12.5)))
        val r = GraftReader(tbl)
        def census(df: DataFrame, which: String): DataFrame =
          df.groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n"),
              sum(col("o_orderkey")).as("key_sum"),
              sum(col("flag")).cast("long").as("flag_sum"))
            .withColumn("which", lit(which))
            .withColumn("has_bonus", lit(df.columns.contains("bonus")))
        val asof = r.dataOnly(r.snapshot(asOf = Some(t1)))
        val latest = r.dataOnly(r.snapshot())
        census(asof, "asof").unionByName(census(latest, "latest"))
          .orderBy(col("which"), col("o_orderpriority"))
      },
      Some("""
        WITH base AS (
          SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderkey % 10 < 8),
        at_t1 AS (
          SELECT o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 count(*) AS flag_sum,
                 'asof' AS which, false AS has_bonus
          FROM base GROUP BY o_orderpriority),
        latest AS (
          SELECT o_orderpriority, count(*) AS n,
                 CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
                 CAST(sum(CASE WHEN o_orderkey % 10 = 6 THEN 2 ELSE 1 END)
                      AS BIGINT) AS flag_sum,
                 'latest' AS which, true AS has_bonus
          FROM base GROUP BY o_orderpriority)
        SELECT o_orderpriority, n, key_sum, flag_sum, which, has_bonus
        FROM at_t1
        UNION ALL
        SELECT o_orderpriority, n, key_sum, flag_sum, which, has_bonus
        FROM latest
        ORDER BY which, o_orderpriority"""))),

    // ---- incremental read whose BEGIN checkpoint was erased by a
    //      RESTORE: the consumer's instant no longer exists, but begin
    //      is an exclusive timestamp bound, post-restore commits mint
    //      strictly later instants, and the restored-away commit's rows
    //      are physically gone — so the pull surfaces exactly the
    //      post-restore batch, never phantom rows from the erased
    //      commit (same contract as the reference: restore invalidates
    //      downstream state, the timeline itself stays consistent)
    "q176_incremental_restored" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_irst", TableType.COW))
        val t1 = tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val t2 = tbl.upsert(orders
          .filter(col("o_orderkey") % 10 >= 6 && col("o_orderkey") % 10 < 8)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        TableServices(tbl).restoreTo(t1)
        tbl.upsert(orders.filter(col("o_orderkey") % 10 < 2)
          .withColumn("o_totalprice", col("o_totalprice") + 5000))
        val r = GraftReader(tbl)
        summarize(r.incremental(begin = t2)
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor((o_totalprice + 5000) * 100)) AS BIGINT) AS price_c
        FROM orders WHERE o_orderkey % 10 IN (0, 1)
        GROUP BY o_orderpriority ORDER BY o_orderpriority"""))),

    // ---- content dedup AT INGEST: the table is keyed by md5(text)
    //      (stamped by the SQL transformer) and filter-dupes insert
    //      drops every content hash the table already holds — so a
    //      re-crawl arriving in a later sync inserts only its genuinely
    //      new texts. First crawl: even doc_ids; re-crawl: ALL docs
    //      re-keyed +100000 — the winner per text is the original for
    //      evens, the re-crawl id for odds
    "q155_content_dedup_ingest" -> ((
      (s: SparkSession, d: String) => {
        val docs = graft.Tables.t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val srcDir = freshDir() + "/landing"
        val conf = s.sessionState.newHadoopConf()
        val fsys = new org.apache.hadoop.fs.Path(srcDir).getFileSystem(conf)
        fsys.mkdirs(new org.apache.hadoop.fs.Path(srcDir))
        def land(df: DataFrame, name: String): Unit = {
          val tmpOut = freshDir() + s"/$name"
          df.coalesce(1).write.parquet(tmpOut)
          val part = fsys.globStatus(
            new org.apache.hadoop.fs.Path(tmpOut, "part-*.parquet")).head.getPath
          fsys.rename(part, new org.apache.hadoop.fs.Path(srcDir, s"$name.parquet"))
        }
        // content dedup is GLOBAL by nature: the same text in two langs
        // is still one text, so the index (and with it precombine and
        // filter-dupes membership) must scope by key alone
        val c = TableConfig(name = "docs_cdi", tableType = TableType.COW,
          keyFields = Seq("content_hash"), partitionFields = Seq("lang"),
          orderingField = "doc_id", targetFileRows = 100000,
          globalIndex = true)
        val tbl = GraftTable.create(s, freshDir(), c)
        val ingest = new graft.streaming.ContinuousIngest(tbl,
          new graft.streaming.ParquetDirSource(s, srcDir),
          transform = graft.streaming.Transformers.sqlQuery(
            "SELECT doc_id, lang, text, md5(text) AS content_hash FROM <SRC>"),
          operation = "insert", filterDupes = true)
        land(docs.filter(col("doc_id") % 2 === 0), "chunk-0")
        ingest.runContinuous(maxRounds = 1)
        land(docs.withColumn("doc_id", col("doc_id") + 100000), "chunk-1")
        ingest.runContinuous(maxRounds = 1)
        val r = GraftReader(tbl)
        r.dataOnly(r.snapshot())
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("key_sum"))
          .orderBy(col("lang"))
      },
      Some("""
        -- per distinct TEXT: if any even doc holds it, chunk-0's
        -- intra-batch precombine keeps the max even doc; otherwise the
        -- text arrives only in chunk-1 and the max (all-odd) member
        -- wins re-keyed +100000. The winner ROW's lang counts — at
        -- larger scale factors duplicate texts cross languages, so a
        -- unique-text shortcut would diverge
        WITH g AS (
          SELECT text,
                 max(CASE WHEN doc_id % 2 = 0 THEN doc_id END) AS even_max,
                 max(doc_id) AS all_max
          FROM documents GROUP BY text),
        winner AS (
          SELECT CASE WHEN even_max IS NOT NULL THEN even_max
                      ELSE all_max + 100000 END AS wid,
                 coalesce(even_max, all_max) AS src_doc
          FROM g),
        final AS (
          SELECT w.wid AS doc_id, d.lang
          FROM winner w JOIN documents d ON d.doc_id = w.src_doc)
        SELECT lang, count(*) AS n,
               CAST(sum(doc_id) AS BIGINT) AS key_sum
        FROM final GROUP BY lang ORDER BY lang"""))),

    // ---- MERGE with the full modern clause set, including WHEN NOT
    //      MATCHED BY SOURCE (the "sync target to snapshot" idiom —
    //      beyond the reference's 0.10 surface, in Spark's own grammar):
    //      target-only rows are repriced or deleted via a target-side
    //      anti-join, in the SAME single commit as the matched/insert
    //      actions
    "q156_merge_not_matched_by_source" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val dir = freshDir()
        val tbl = GraftTable.create(s, dir, cfg("orders_nbs", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        orders.filter(col("o_orderkey") % 10 >= 4)
          .createOrReplaceTempView("q156_src")
        s.catalog.createTable("q156_tbl", "graft", Map("path" -> dir))
        s.sql("""
          MERGE INTO q156_tbl t USING q156_src s
          ON t.o_orderkey = s.o_orderkey
             AND t.o_orderpriority = s.o_orderpriority
          WHEN MATCHED AND s.o_orderkey % 10 = 6 THEN
            UPDATE SET o_totalprice = t.o_totalprice + 2000
          WHEN NOT MATCHED THEN INSERT *
          WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 10 = 0 THEN DELETE
          WHEN NOT MATCHED BY SOURCE THEN
            UPDATE SET o_totalprice = t.o_totalprice + 7000""")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some("""
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 IN (1, 2, 3)
                        THEN o_totalprice + 7000
                      WHEN o_orderkey % 10 = 6 THEN o_totalprice + 2000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 <> 0)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority
        ORDER BY o_orderpriority"""))),

    // ---- incrementally-maintained aggregate table: an additive-counter
    //      merge strategy (the counter-payload idiom of the reference's
    //      pluggable HoodieRecordPayload seam) keyed by lang consumes
    //      each ingest batch's INCREMENTAL read as a delta; after three
    //      batches — with a mid-stream compaction folding the partial
    //      sums into the base — the rollup table must equal a full
    //      recompute over the source. Exercises incremental cursors ×
    //      custom merge registry × MOR delta merge × compaction
    //      invariance in one gate.
    "q169_incr_stats_maintenance" -> ((
      (s: SparkSession, d: String) => {
        graft.write.MergeStrategies.register("additive_counts",
          new graft.write.AdditiveStrategy(Set("n_docs", "n_tokens")))
        val docs = graft.Tables.t(s, d, "documents")
        val src = GraftTable.create(s, freshDir(), TableConfig(
          name = "docs_src", tableType = TableType.COW,
          keyFields = Seq("doc_id"), targetFileRows = 500000))
        val stats = GraftTable.create(s, freshDir(), TableConfig(
          name = "lang_stats", tableType = TableType.MOR,
          keyFields = Seq("lang"), mergeStrategy = "additive_counts",
          targetFileRows = 500000))
        var cursor = ""
        for (m <- 0 to 2) {
          val instant = src.upsert(docs.filter(pmod(col("doc_id"), lit(3)) === m))
          val rs = GraftReader(src)
          val delta = rs.dataOnly(rs.incremental(cursor))
          cursor = instant
          stats.upsert(delta.groupBy(col("lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(size(graft.llm.TextFunctions.wsTokens(col("text")))
              .cast("long")).as("n_tokens")))
          if (m == 1) TableServices(stats).compact()
        }
        val r = GraftReader(stats)
        r.dataOnly(r.snapshot())
          .select(col("lang"), col("n_docs"), col("n_tokens"))
          .orderBy(col("lang"))
      },
      Some("""
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang ORDER BY lang"""))),

    "q122_failed_write_cleanup" -> ((
      (s: SparkSession, d: String) => {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(), cfg("orders_fw", TableType.COW))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val fsys = tbl.timeline.fileSystem
        val metaDir = tbl.timeline.metaDir
        val crashT = "19990101000000000" // long-dead wall clock
        def touch(p: org.apache.hadoop.fs.Path, bytes: String): Unit = {
          val out = fsys.create(p, true)
          out.write(bytes.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          out.close()
        }
        touch(new org.apache.hadoop.fs.Path(metaDir, s"$crashT.commit.inflight"), "{}")
        val staged = new org.apache.hadoop.fs.Path(metaDir, s".tmp/$crashT/part-junk")
        touch(staged, "staged-bytes")
        // the orphan lands in a REAL partition dir, as a mid-write
        // crash would leave it
        val partDir = fsys.listStatus(new org.apache.hadoop.fs.Path(tbl.basePath))
          .filter(_.isDirectory).map(_.getPath)
          .filterNot(_.getName == graft.core.Timeline.MetaDir).head
        val orphan = new org.apache.hadoop.fs.Path(partDir, s"deadbeef-0_$crashT.parquet")
        touch(orphan, "orphan-bytes")
        // the next writes trigger the cleanup (eager on this
        // single-writer, non-occ table), then apply the usual mutations
        tbl.upsert(orders.filter(col("o_orderkey") % 10 >= 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000))
        tbl.delete(orders.filter(col("o_orderkey") % 10 === 7)
          .select("o_orderkey", "o_orderpriority"))
        require(tbl.timeline.instants().forall(_.isCompleted),
          "the crashed instant must be gone from the pending timeline")
        require(!fsys.exists(staged) && !fsys.exists(orphan),
          "staged + orphan files of the crashed write must be deleted")
        require(tbl.timeline.completed().exists(i =>
          i.action == graft.core.Action.Rollback &&
            tbl.timeline.metadataOf(i).extra.get("target").contains(crashT)),
          "cleanup must record a rollback instant naming the crashed write")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
      },
      Some(SummarySql)))
  )

  // def, not val: referenced from `all`'s initializer above (a val here
  // would still be null at that point)
  private def OccRaceSql = """
        WITH final_state AS (
          SELECT o_orderkey, o_orderpriority,
                 CASE WHEN o_orderkey % 10 = 6 THEN o_totalprice + 1000
                      ELSE o_totalprice END AS price
          FROM orders WHERE o_orderkey % 10 < 8)
        SELECT o_orderpriority, count(*) AS n,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(floor(price * 100)) AS BIGINT) AS price_c
        FROM final_state GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Three writers race identical upserts of the SAME file groups:
    * losers must abort with the conflict exception and leave no pending
    * instants; the final state is the winner's write either way. */
  private def occRace(
      s: SparkSession, d: String,
      tweak: TableConfig => TableConfig): DataFrame = {
    {
        val orders = graft.Tables.t(s, d, "orders")
        val tbl = GraftTable.create(s, freshDir(),
          tweak(cfg("orders_occ", TableType.COW).copy(occ = true)))
        tbl.bulkInsert(orders.filter(col("o_orderkey") % 10 < 8))
        val batch = orders.filter(col("o_orderkey") % 10 === 6)
          .withColumn("o_totalprice", col("o_totalprice") + 1000)
        batch.persist(); batch.count()
        val errors =
          new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val wins = new java.util.concurrent.atomic.AtomicInteger(0)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        try {
          val barrier = new java.util.concurrent.CyclicBarrier(3)
          (1 to 3).foreach { _ =>
            pool.submit(new Runnable {
              override def run(): Unit = {
                barrier.await()
                // all writers carry IDENTICAL content: whichever commit
                // order the race produces, the final state is the same
                try { tbl.upsert(batch); wins.incrementAndGet(); () }
                catch {
                  case _: graft.core.ConcurrentWriteConflictException => ()
                  case t: Throwable => errors.add(t); ()
                }
              }
            })
          }
          pool.shutdown()
          require(pool.awaitTermination(
            300, java.util.concurrent.TimeUnit.SECONDS), "race timed out")
        } finally batch.unpersist()
        require(errors.isEmpty, s"losers must abort with the conflict " +
          s"exception only: ${errors.toArray.mkString(", ")}")
        require(wins.get() >= 1, "at least one writer must win")
        require(tbl.timeline.instants().forall(_.isCompleted),
          "a loser left a pending instant behind")
        val r = GraftReader(tbl)
        summarize(r.dataOnly(r.snapshot())
          .withColumnRenamed("o_totalprice", "price"))
    }
  }
}
