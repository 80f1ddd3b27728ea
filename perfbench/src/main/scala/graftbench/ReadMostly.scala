package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Snapshot, TableConfig, TableType}
import graft.read.GraftReader
import graft.write.GraftTable

/** Passes of read query families over two graft tables, each pass ended
  * by one small narrow upsert: into the MOR table in one pass of a round,
  * into the COW table in the other.
  *
  * `lineitem` is MOR and is never compacted, so its delta files keep
  * growing; `orders` is COW with column stats and key bloom filters. The
  * query answers are kept and checked after the run against the same
  * queries evaluated over the reference model in plain Scala. */
final class ReadMostly(ctx: Ctx) extends Workload {
  import ReadMostly._
  private val spark: SparkSession = ctx.spark
  import spark.implicits._

  val li: LineGen = LineGen(ctx.seed, LineRows)
  val od: OrderGen = OrderGen(ctx.seed, OrderRows)
  private val rng = new Gen.Rng(ctx.seed * 17 + 3)
  private val liModel = new TableModel(li.fingerprint)
  private val odModel = new TableModel((k, v) => Gen.hash(k, v, 11))
  private var liTable: GraftTable = _
  private var odTable: GraftTable = _
  private var liPath = ""
  private var odPath = ""
  private var ver = 0L
  private var passNo = 0
  /** (commit time, model state after it, keys it changed) per lineitem commit */
  private val commits = mutable.ArrayBuffer.empty[(String, Map[Long, Long], Set[Long])]
  /** answers to check after the run: (what, got, expected model state) */
  private val answers = mutable.ArrayBuffer.empty[Answer]

  // traced-pass records
  private val planMs = new Samples
  private val scanStats = mutable.ArrayBuffer.empty[(Double, Double)]
  private val rowsPerReturned = mutable.ArrayBuffer.empty[Double]
  private val deltaFiles = mutable.ArrayBuffer.empty[Double]
  private val snapshotOps = mutable.ArrayBuffer.empty[Int]
  private val upsertOps = mutable.ArrayBuffer.empty[Int]
  private val probeCore = new CoreProbe(ctx.trace)
  private val commitFiles = new CommitFiles(ctx.trace)

  def setup(): Unit = {
    liPath = ctx.workDir.resolve("lineitem").toString
    odPath = ctx.workDir.resolve("orders").toString
    liTable = GraftTable.create(spark, liPath, TableConfig(
      name = "lineitem", tableType = TableType.MOR, keyFields = Seq("l_key"),
      partitionFields = Seq("l_shipyear"), targetFileRows = LineFileRows))
    odTable = GraftTable.create(spark, odPath, TableConfig(
      name = "orders", tableType = TableType.COW, keyFields = Seq("o_orderkey"),
      partitionFields = Seq("o_year"), targetFileRows = OrderFileRows,
      statsColumns = Seq("o_orderday", "o_total_c"), bloomIndex = true))
    val (l, o) = (li, od)
    liTable.bulkInsert(spark.range(0, LineRows).as[Long].map(k => l.row(k, 0L)).toDF())
    ctx.mark("lineitem inserted")
    odTable.bulkInsert(spark.range(0, OrderRows).as[Long].map(k => o.row(k, 0L)).toDF())
    (0L until LineRows).foreach(liModel.put(_, 0L))
    (0L until OrderRows).foreach(odModel.put(_, 0L))
    ctx.mark("orders inserted")
    // deltas over every file group, which no compaction will fold, and
    // enough lineitem commits for incremental reads and time travel to
    // reach back `IncrementalCommits` from the first timed pass
    (0 until SetupDeltaCommits).foreach { _ =>
      upsertLines((0 until WideSetupUpdates).map(_ => rng.nextInt(LineRows.toInt).toLong).distinct)
    }
    // the warm-up pass upserts lineitem; this warms the COW upsert
    upsertOrders(recentKeys(OrderUpdates, od.lastYearFrom, OrderRows))
    ctx.mark("tables built")
    pass() // warm-up: every query family once, untimed
  }

  /** A round is two passes over the query families, so each family's
    * median in a run rests on two samples. */
  def round(): Unit = (1 to PassesPerRound).foreach(_ => pass())

  private def upsertLines(keys: Seq[Long]): String = {
    ver += 1
    val v = ver
    val t = liTable.upsert(spark.createDataset(keys.map(li.row(_, v))).toDF())
    keys.foreach(liModel.put(_, v))
    commits += ((t, liModel.copy(), keys.toSet))
    t
  }

  private def upsertOrders(keys: Seq[Long]): String = {
    ver += 1
    val v = ver
    val t = odTable.upsert(spark.createDataset(keys.map(od.row(_, v))).toDF())
    keys.foreach(odModel.put(_, v))
    t
  }

  /** One read: the DataFrame-building call is the `read.<family>` span;
    * running it is a child span in `op`. */
  private def query[T](family: String, table: GraftTable)(plan: => DataFrame)(run: DataFrame => T): Option[T] = {
    probeCore(table)
    ctx.op(family) {
      val (df, ms) = ctx.trace.timed(s"read.$family")(plan)
      if (ctx.trace.active) planMs.add(family, ms)
      run(df)
    }
  }

  private def sumsOf(rows: Array[Row]): Seq[(String, Long, Long, Long)] =
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sortBy(_._1)

  private def pass(): Unit = {
    passNo += 1
    val latest = liModel.copy()
    val orders = odModel.copy()
    val rLi = GraftReader(liTable)
    val rOd = GraftReader(odTable)

    // MOR snapshot: a Q1-style aggregate over the merged view
    query("snapshot_mor", liTable)(rLi.snapshot())(df => sumsOf(q1(df).collect()))
      .foreach(got => answers += Answer("snapshot_mor", got, latest, orders, None))
    if (ctx.trace.active) {
      snapshotOps += ctx.trace.currentOp
      deltaFiles += Snapshot.resolve(liTable.timeline).slices.map(_.deltas.size).sum
    }

    // selective range predicate over the stats-skipping COW table
    val day0 = PrunedFromMonth * 30 + rng.nextInt(30 * 4)
    query("pruned_scan", odTable)(
      rOd.snapshot().filter(col("o_orderday").between(day0, day0 + PrunedDays))) { df =>
      val r = df.agg(count(lit(1)), coalesce(sum(col("o_total_c")), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }.foreach { got =>
      answers += Answer("pruned_scan", got, latest, orders, Some(day0))
      if (ctx.trace.active) scanRecord(got._1.toDouble, odTable)
    }

    // point lookups through bloom sidecars: some keys present, some not
    val present = (0 until LookupPresent).map(_ => rng.nextInt(OrderRows.toInt).toLong)
    val absent = (0 until LookupAbsent).map(i => OrderRows + 1000 + i * 7L)
    val keys = (present ++ absent).distinct.map(_.toString)
    query("point_lookup", odTable)(rOd.pointLookup(keys)) { df =>
      df.select("o_orderkey", "o_ver").as[(Long, Long)].collect().toSeq.sorted
    }.foreach { got =>
      answers += Answer("point_lookup", (got, keys.map(_.toLong).toSet), latest, orders, None)
      if (ctx.trace.active) scanRecord(got.size.toDouble, odTable)
    }

    // changes over the last k lineitem commits (fewer only in the warm-up)
    val k = math.min(IncrementalCommits, commits.size - 1)
    val begin = commits(commits.size - 1 - k)._1
    val changed = commits.takeRight(k).flatMap(_._3).toSet
    query("incremental", liTable)(rLi.incremental(begin)) { df =>
      df.select("l_key", "l_ver").as[(Long, Long)].collect().toSeq.sorted
    }.foreach(got => answers += Answer("incremental", got, latest, orders, Some(changed)))

    // time travel to the lineitem state k commits before the latest
    val (asOf, then, _) = commits(commits.size - 1 - k)
    query("time_travel", liTable)(rLi.snapshot(asOf = Some(asOf)))(df => sumsOf(q1(df).collect()))
      .foreach(got => answers += Answer("time_travel", got, then, orders, None))

    // TPC-H-style join + aggregate over both tables through the data source
    val cutoff = JoinBeforeMonth * 30
    query("sql_join", liTable)({
      spark.read.format("graft").load(liPath).createOrReplaceTempView("bench_lineitem")
      spark.read.format("graft").load(odPath).createOrReplaceTempView("bench_orders")
      spark.sql(s"""
        SELECT o.o_priority, count(*) AS n, sum(l.l_quantity) AS qty, sum(l.l_price_c) AS rev
        FROM bench_lineitem l JOIN bench_orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderday < $cutoff
        GROUP BY o.o_priority""")
    })(df => sumsOf(df.collect()))
      .foreach(got => answers += Answer("sql_join", got, latest, orders, Some(cutoff)))

    // one small narrow upsert: state moves, lineitem deltas grow
    val (kind, table, upd) =
      if (passNo % 2 == 1) ("upsert_mor", liTable, recentKeys(RoundUpdates, li.lastYearFrom, LineRows))
      else ("upsert_cow", odTable, recentKeys(OrderUpdates, od.lastYearFrom, OrderRows))
    probeCore(table)
    ctx.op(kind)(ctx.trace.span("write.upsert")(if (table eq liTable) upsertLines(upd) else upsertOrders(upd)))
      .foreach { t =>
        if (ctx.trace.active) upsertOps += ctx.trace.currentOp
        commitFiles(table, t)
      }
    if (passNo == 2) ctx.digest = answers.takeRight(6).map(_.got.hashCode).mkString(":")
  }

  /** Up to `n` distinct keys of the most recent year: few file groups. */
  private def recentKeys(n: Int, from: Long, until: Long): Seq[Long] =
    (0 until n).map(_ => from + rng.nextInt((until - from).toInt).toLong).distinct

  private def q1(df: DataFrame): DataFrame =
    df.groupBy(concat_ws("|", col("l_returnflag"), col("l_linestatus")).as("g"))
      .agg(count(lit(1)).cast("long"), sum(col("l_quantity")).cast("long"), sum(col("l_price_c")).cast("long"))

  private def scanRecord(returned: Double, t: GraftTable): Unit = {
    val op = ctx.trace.currentOp
    val ps = ctx.trace.phases.filter(p => p.op == op && p.phase == "planning")
    val files = ps.map(_.scanFiles).sum.toDouble
    val rows = ps.map(_.scanRows).sum.toDouble
    val inSnap = Snapshot.resolve(t.timeline).slices.map(_.allFiles.size).sum.toDouble
    scanStats += ((files, inSnap))
    if (returned > 0) rowsPerReturned += rows / returned
  }

  // ---- the reference model's answers ------------------------------------

  def modelQ1(state: Map[Long, Long]): Seq[(String, Long, Long, Long)] = {
    val acc = mutable.Map.empty[String, (Long, Long, Long)]
    state.foreach { case (k, v) =>
      val r = li.row(k, v)
      val g = s"${r.l_returnflag}|${r.l_linestatus}"
      val (n, q, p) = acc.getOrElse(g, (0L, 0L, 0L))
      acc(g) = (n + 1, q + r.l_quantity, p + r.l_price_c)
    }
    acc.toSeq.map { case (g, (n, q, p)) => (g, n, q, p) }.sortBy(_._1)
  }

  def modelJoin(state: Map[Long, Long], orders: Map[Long, Long], cutoff: Int): Seq[(String, Long, Long, Long)] = {
    val acc = mutable.Map.empty[String, (Long, Long, Long)]
    state.foreach { case (k, v) =>
      val r = li.row(k, v)
      orders.get(r.l_orderkey).map(od.row(r.l_orderkey, _)).filter(_.o_orderday < cutoff).foreach { o =>
        val (n, q, p) = acc.getOrElse(o.o_priority, (0L, 0L, 0L))
        acc(o.o_priority) = (n + 1, q + r.l_quantity, p + r.l_price_c)
      }
    }
    acc.toSeq.map { case (g, (n, q, p)) => (g, n, q, p) }.sortBy(_._1)
  }

  def finish(): Unit = answers.foreach { a =>
    val expected: Any = a.family match {
      case "snapshot_mor" | "time_travel" => modelQ1(a.lines)
      case "sql_join" => modelJoin(a.lines, a.orders, a.arg.get.asInstanceOf[Int])
      case "pruned_scan" =>
        val d0 = a.arg.get.asInstanceOf[Int]
        val hit = a.orders.toSeq.map { case (k, v) => od.row(k, v) }
          .filter(o => o.o_orderday >= d0 && o.o_orderday <= d0 + PrunedDays)
        (hit.size.toLong, hit.map(_.o_total_c).sum)
      case "point_lookup" =>
        val (_, asked) = a.got.asInstanceOf[(Seq[(Long, Long)], Set[Long])]
        (a.orders.filter { case (k, _) => asked(k) }.toSeq.sorted, asked)
      case "incremental" =>
        val changed = a.arg.get.asInstanceOf[Set[Long]]
        a.lines.filter { case (k, _) => changed(k) }.toSeq.sorted
    }
    ctx.problems ++= Checks.same(a.family, a.got, expected)
  }

  def layerMetrics(): Map[String, Double] = {
    import LayerMetrics.medianOr0
    val t = ctx.trace
    val snapJobs = t.jobs.filter(j => snapshotOps.contains(j.op))
    LayerMetrics.commits(t, upsertOps.toSeq) ++ commitFiles.metrics ++ probeCore.metrics ++ Map(
      "read.plan_ms" -> medianOr0(planMs.names.flatMap(planMs(_))),
      "read.files_read" -> medianOr0(scanStats.map(_._1).toSeq),
      "read.files_in_snapshot" -> medianOr0(scanStats.map(_._2).toSeq),
      "read.skip_ratio" -> medianOr0(scanStats.filter(_._2 > 0).map { case (r, n) => 1 - r / n }.toSeq),
      "read.rows_scanned_per_row_returned" -> medianOr0(rowsPerReturned.toSeq),
      "read.delta_files_merged" -> medianOr0(deltaFiles.toSeq),
      "read.shuffle_mb" -> (if (snapshotOps.isEmpty) 0.0
        else snapJobs.map(_.shuffleBytes).sum / 1e6 / snapshotOps.size),
      "write.table_mb" -> (Main.dirBytes(ctx.workDir.resolve("lineitem")) +
        Main.dirBytes(ctx.workDir.resolve("orders"))) / 1e6)
  }
}

/** A query's answer with the model states it saw: lineitem and orders. */
final case class Answer(family: String, got: Any, lines: Map[Long, Long], orders: Map[Long, Long],
    arg: Option[Any])

object ReadMostly {
  val PassesPerRound = 2
  val LineRows = 40000L
  val OrderRows: Long = LineRows / 4
  val LineFileRows = 2000L
  val OrderFileRows = 500L
  val SetupDeltaCommits = 3
  val WideSetupUpdates = 400
  val RoundUpdates = 100
  val OrderUpdates = 50
  val PrunedFromMonth = 40
  val PrunedDays = 20
  val LookupPresent = 15
  val LookupAbsent = 5
  /** commits back for incremental reads and time travel */
  val IncrementalCommits = 3
  val JoinBeforeMonth = 24
}
