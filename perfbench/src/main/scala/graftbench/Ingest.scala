package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.core.{Instant, Snapshot, State, TableConfig, TableType}
import graft.services.TableServices
import graft.write.GraftTable

/** Reference model of a keyed table: key -> version, with the content
  * checksum (count, wrapping fingerprint sum) kept up to date. It never
  * touches graft. */
final class TableModel(fp: (Long, Long) => Long) {
  val versions = mutable.LongMap.empty[Long]
  var sum = 0L

  def put(key: Long, ver: Long): Unit = {
    versions.get(key).foreach(v => sum -= fp(key, v))
    versions(key) = ver
    sum += fp(key, ver)
  }

  def remove(key: Long): Unit =
    versions.remove(key).foreach(v => sum -= fp(key, v))

  def checksum: (Long, Long) = (versions.size.toLong, sum)
  def copy(): Map[Long, Long] = versions.toMap
}

/** Checksum of a table state read back from graft, computed by the
  * benchmark's own code: row count, fingerprint sum, and the number of
  * rows whose content differs from the generator's row for their
  * (key, version). */
final case class ReadSum(count: Long, sum: Long, bad: Long) {
  def +(o: ReadSum): ReadSum = ReadSum(count + o.count, sum + o.sum, bad + o.bad)
}

object ReadSum {
  def of(rows: Iterator[LineRow], gen: LineGen): ReadSum = {
    var c = 0L; var s = 0L; var bad = 0L
    rows.foreach { r =>
      c += 1
      s += gen.fingerprint(r.l_key, r.l_ver)
      if (r != gen.row(r.l_key, r.l_ver)) bad += 1
    }
    ReadSum(c, s, bad)
  }

  /** [[of]] over a Dataset, each partition summed where it lives. */
  def lines(ds: Dataset[LineRow], gen: LineGen): ReadSum = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val r = of(it, gen)
      Iterator((r.count, r.sum, r.bad))
    }.collect().foldLeft(ReadSum(0, 0, 0)) { case (a, (c, s, b)) => a + ReadSum(c, s, b) }
  }
}

/** Sequential seeded commits into a MOR lineitem-shaped table, with
  * compaction, clean and archive once per round.
  *
  * Each round is: a narrow upsert (updates and inserts in the most recent
  * year: few file groups), a wide upsert (updates spread over
  * every file group), a delete batch, then compact, clean and archive.
  * Inserts equal deletes per round, so the table keeps its size however
  * many rounds a run fits. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark: SparkSession = ctx.spark
  import spark.implicits._

  val gen: LineGen = LineGen(ctx.seed, BaseRows)
  private val rng = new Gen.Rng(ctx.seed * 31 + 7)
  val model = new TableModel(gen.fingerprint)
  private var table: GraftTable = _
  private var ver = 0L
  private var nextKey = BaseRows
  private var inserted = 0L
  private var deleted = 0L
  /** live keys, for uniform draws; `slot` finds a key's position */
  private val live = mutable.ArrayBuffer.empty[Long]
  private val slot = mutable.LongMap.empty[Int]
  private val recentFrom = gen.lastYearFrom
  private var roundNo = 0

  // traced-pass records
  private val commitOps = mutable.ArrayBuffer.empty[Int]
  private val probeCore = new CoreProbe(ctx.trace)
  private val commitFiles = new CommitFiles(ctx.trace)
  private val compactStats = mutable.ArrayBuffer.empty[(Double, Double, Double)]
  private val cleanMs = mutable.ArrayBuffer.empty[Double]
  private val filesCleaned = mutable.ArrayBuffer.empty[Double]
  private val archiveMs = mutable.ArrayBuffer.empty[Double]

  private def addLive(k: Long): Unit = { slot(k) = live.size; live += k }
  private def dropLive(k: Long): Unit = {
    val i = slot.remove(k).get
    val last = live.remove(live.size - 1)
    if (last != k) { live(i) = last; slot(last) = i }
  }

  def setup(): Unit = {
    val dir = ctx.workDir.resolve("ingest").toString
    table = GraftTable.create(spark, dir, TableConfig(
      name = "lineitem", tableType = TableType.MOR, keyFields = Seq("l_key"),
      partitionFields = Seq("l_shipyear"), targetFileRows = TargetFileRows))
    val g = gen
    table.bulkInsert(spark.range(0, BaseRows).as[Long].map(k => g.row(k, 0L)).toDF())
    (0L until BaseRows).foreach { k => model.put(k, 0L); addLive(k) }
    ctx.mark("table built")
    round() // warm-up: every operation once, untimed
  }

  private def batch(keys: Seq[Long]): DataFrame = {
    ver += 1
    val v = ver
    keys.foreach(k => model.put(k, v))
    spark.createDataset(keys.map(gen.row(_, v))).toDF()
  }

  /** `n` distinct live keys; `recentOnly` draws from the most recent year. */
  private def drawLive(n: Int, recentOnly: Boolean): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val k =
        if (!recentOnly) live(rng.nextInt(live.size))
        else recentFrom + rng.nextInt((BaseRows - recentFrom).toInt)
      if (slot.contains(k)) out += k
    }
    out.toSeq
  }

  private def commit(kind: String)(body: => String): Unit = {
    probeCore(table)
    ctx.op(kind)(ctx.trace.span(s"write.$kind")(body)).foreach { t =>
      if (ctx.trace.active) commitOps += ctx.trace.currentOp
      commitFiles(table, t)
    }
  }

  def round(): Unit = {
    roundNo += 1
    // narrow: updates and inserts in the most recent year
    val upd = drawLive(NarrowUpdates, recentOnly = true)
    val ins = (0 until Inserts).map(i => nextKey + i)
    nextKey += Inserts
    inserted += Inserts
    ins.foreach(addLive)
    val narrow = batch(upd ++ ins)
    commit("upsert_narrow")(table.upsert(narrow))
    // wide: updates over every file group
    val wide = batch(drawLive(WideUpdates, recentOnly = false))
    commit("upsert_wide")(table.upsert(wide))
    // delete batch
    val del = drawLive(Deletes, recentOnly = false)
    del.foreach { k => model.remove(k); dropLive(k) }
    deleted += Deletes
    val g = gen
    val delDf = spark.createDataset(del.map(k => (k, g.row(k, 0L).l_shipyear)))
      .toDF("l_key", "l_shipyear")
    commit("delete")(table.delete(delDf))
    // services; in a timed round each of them has work to do
    val svc = TableServices(table)
    def didWork(what: String, t: Option[String]): Unit =
      if (ctx.timing) ctx.check(t.isDefined, s"round $roundNo: $what found nothing to do")
    probeCore(table)
    val before = if (ctx.trace.active) Some(Snapshot.resolve(table.timeline)) else None
    ctx.op("compact")(ctx.trace.span("services.compact")(svc.compact())).foreach { t =>
      didWork("compact", t)
      for (b <- before; c <- t) {
        val meta = metaOf(c)
        val rewritten = meta.stats.map(_.bytes).sum.toDouble
        val groups = meta.stats.map(s => (s.partition, s.fileId)).toSet
        val filesIn = b.slices.filter(s => groups((s.partition, s.fileId))).map(_.allFiles.size).sum
        compactStats += ((rewritten, filesIn.toDouble, meta.stats.size.toDouble))
      }
    }
    // compaction must leave the snapshot equal to the model (untimed)
    val after = snapshotSum()
    if (roundNo == 2) ctx.digest = f"${after.count}%d:${after.sum}%016x"
    ctx.problems ++= Checks.tableState(s"round $roundNo: snapshot after compaction", after, model)
    probeCore(table)
    val t0 = System.nanoTime()
    ctx.op("clean")(ctx.trace.span("services.clean")(svc.clean(retainCommits = RetainCommits)))
      .foreach { t =>
        didWork("clean", t)
        if (ctx.trace.active) {
          cleanMs += (System.nanoTime() - t0) / 1e6
          // "deleted" holds a JSON array of paths: two quotes per path
          filesCleaned += t.map(i => metaOf(i, graft.core.Action.Clean).extra
            .get("deleted").map(_.count(_ == '"') / 2).getOrElse(0)).getOrElse(0).toDouble
        }
      }
    probeCore(table)
    val t1 = System.nanoTime()
    ctx.op("archive")(ctx.trace.span("services.archive")(
      svc.archive(keepMin = ArchiveMin, keepMax = ArchiveMax))).foreach { t =>
      didWork("archive", t)
      if (ctx.trace.active) archiveMs += (System.nanoTime() - t1) / 1e6
    }
  }

  private def metaOf(time: String, action: String = ""): graft.core.CommitMetadata = {
    val i = table.timeline.completed().find(i => i.time == time && (action.isEmpty || i.action == action))
      .getOrElse(Instant(time, action, State.Completed))
    table.timeline.metadataOf(i)
  }

  private def snapshotSum(): ReadSum = {
    val r = graft.read.GraftReader(table)
    ReadSum.lines(r.dataOnly(r.snapshot()).as[LineRow], gen)
  }

  def finish(): Unit = {
    val s = snapshotSum()
    ctx.problems ++= Checks.tableState("final snapshot", s, model)
    ctx.problems ++= Checks.rowCount(s.count, BaseRows, inserted, deleted)
    val pending = table.timeline.instants().filterNot(_.isCompleted)
    ctx.check(pending.isEmpty, s"pending instants at end: ${pending.mkString(", ")}")
  }

  def layerMetrics(): Map[String, Double] = {
    import LayerMetrics.medianOr0
    val t = ctx.trace
    LayerMetrics.commits(t, commitOps.toSeq) ++ commitFiles.metrics ++ probeCore.metrics ++ Map(
      "write.table_mb" -> Main.dirBytes(ctx.workDir.resolve("ingest")) / 1e6,
      "services.compact_bytes_rewritten" -> medianOr0(compactStats.map(_._1).toSeq),
      "services.compact_files_in" -> medianOr0(compactStats.map(_._2).toSeq),
      "services.compact_files_out" -> medianOr0(compactStats.map(_._3).toSeq),
      "services.clean_ms" -> medianOr0(cleanMs.toSeq),
      "services.files_cleaned" -> medianOr0(filesCleaned.toSeq),
      "services.archive_ms" -> medianOr0(archiveMs.toSeq))
  }
}

object Ingest {
  val BaseRows = 100000L
  val TargetFileRows = 2500L
  val NarrowUpdates = 300
  val Inserts = 100
  val WideUpdates = 800
  val Deletes = 100
  /** Sized to the instants one round adds (three data commits, a
    * compaction and a clean), so that every round's clean and archive
    * have work to do. */
  val RetainCommits = 4
  val ArchiveMin = 2
  val ArchiveMax = 4
}
