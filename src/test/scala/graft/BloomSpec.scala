package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.read.GraftReader
import graft.services.TableServices
import graft.write.{GraftTable, KeyBloom, Meta}

class BloomSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  def tmp(): String = Files.createTempDirectory("graft-bloom").toString

  def cfg(tt: String = TableType.COW): TableConfig = TableConfig(
    name = "t", tableType = tt, keyFields = Seq("id"),
    orderingField = "ts", targetFileRows = 250, bloomIndex = true)

  def rows(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
  }

  test("KeyBloom: no false negatives; fpp in the right ballpark") {
    val bloom = KeyBloom.sized(1000, 0.01)
    val present = (0 until 1000).map(i => s"key-$i")
    present.foreach(bloom.add)
    assert(present.forall(bloom.mightContain), "bloom filters never have false negatives")
    val absentHits = (0 until 10000).count(i => bloom.mightContain(s"other-$i"))
    assert(absentHits < 300, s"fpp blow-up: $absentHits/10000 false positives at fpp=0.01")
    // serialization round-trip preserves both
    val back = KeyBloom.deserialize(bloom.serialize())
    assert(present.forall(back.mightContain))
    assert((0 until 1000).forall(i => back.mightContain(s"other-$i") == bloom.mightContain(s"other-$i")))
  }

  test("sidecars are written per data file and prune the tag join") {
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, cfg())
    // hash bucketing spreads consecutive ids over all groups, so every
    // file's [minKey, maxKey] spans ~the whole keyspace: range pruning
    // alone keeps everything, and any pruning observed below is the
    // bloom's doing
    tbl.bulkInsert(rows(1L to 2000L))
    val snap = Snapshot.resolve(tbl.timeline)
    val files = snap.slices.flatMap(_.allFiles)
    assert(files.size > 4, s"need several file groups, got ${files.size}")
    val fs = tbl.timeline.fileSystem
    files.foreach { st =>
      assert(fs.exists(KeyBloom.sidecar(new Path(tbl.absPath(st)))),
        s"missing bloom sidecar for ${st.path}")
    }
    // string keys: "150" < "2000" is false lexicographically, so pick
    // probe keys by their stored string form; 3 existing keys live in
    // at most 3 files — the probe must keep at most those + fp slack
    tbl.upsert(rows(Seq(150L, 151L, 152L)))
    val (cand, kept) = tbl.lastBloomProbe.get
    assert(cand == files.size, s"expected all $cand files as range candidates")
    assert(kept <= 3, s"bloom kept $kept of $cand files for 3 keys")
    // and the write is still correct
    import spark.implicits._
    val r = GraftReader(tbl)
    assert(r.dataOnly(r.snapshot()).count() == 2000)
  }

  test("bloom-pruned upsert/delete roundtrip matches plain-table results") {
    import spark.implicits._
    def runWith(bloom: Boolean): Seq[(Long, String)] = {
      val tbl = GraftTable.create(spark, tmp(),
        cfg().copy(bloomIndex = bloom))
      tbl.bulkInsert(rows(1L to 500L))
      tbl.upsert((1L to 500L by 7).map(i => (i, s"u$i", 2L)).toDF("id", "v", "ts"))
      tbl.delete((1L to 500L by 13).map(i => Tuple1(i)).toDF("id"))
      val r = GraftReader(tbl)
      r.dataOnly(r.snapshot()).select("id", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
    }
    assert(runWith(bloom = true) == runWith(bloom = false))
  }

  test("MOR deltas carry blooms; compaction rebuilds them; clean removes sidecars") {
    val tbl = GraftTable.create(spark, tmp(), cfg(TableType.MOR))
    tbl.bulkInsert(rows(1L to 1000L))
    tbl.upsert(rows(Seq(5L, 6L)))
    val fs = tbl.timeline.fileSystem
    val deltas = Snapshot.resolve(tbl.timeline).slices.flatMap(_.deltas)
    assert(deltas.nonEmpty)
    deltas.foreach(st =>
      assert(fs.exists(KeyBloom.sidecar(new Path(tbl.absPath(st)))),
        s"delta file ${st.path} lacks a bloom sidecar"))
    val svc = TableServices(tbl)
    svc.compact()
    val after = Snapshot.resolve(tbl.timeline).slices.flatMap(_.allFiles)
    after.foreach(st =>
      assert(fs.exists(KeyBloom.sidecar(new Path(tbl.absPath(st)))),
        s"compacted file ${st.path} lacks a bloom sidecar"))
    // clean old slices: a sidecar must never outlive its data file
    val sidecarsBefore = fs.globStatus(new Path(tbl.basePath, "*.bloom")).length
    svc.clean(retainCommits = 1)
    val orphans = fs.globStatus(new Path(tbl.basePath, "*.bloom")).toSeq
      .map(_.getPath)
      .filterNot(p => fs.exists(new Path(p.getParent,
        p.getName.stripSuffix(".bloom"))))
    assert(orphans.isEmpty, s"orphaned sidecars after clean: $orphans")
    assert(fs.globStatus(new Path(tbl.basePath, "*.bloom")).length < sidecarsBefore,
      "clean should have removed the doomed files' sidecars")
  }

  test("point lookup consults blooms") {
    val tbl = GraftTable.create(spark, tmp(), cfg())
    tbl.bulkInsert(rows(1L to 1000L))
    import spark.implicits._
    val r = GraftReader(tbl)
    val hit = r.dataOnly(r.pointLookup(Seq("500"))).select("id").as[Long].collect()
    assert(hit.toSeq == Seq(500L))
    assert(r.pointLookup(Seq("nope")).count() == 0)
  }

  test("blooms are built in the write job: no extra Spark job; sidecars sized and complete") {
    import spark.implicits._
    // Spark jobs per operation, bloom probes aside (the tag join's
    // index pruning reads sidecars; it is not part of writing them)
    def run(tt: String, bloom: Boolean): (GraftTable, Seq[Int]) = {
      val tbl = GraftTable.create(spark, tmp(), cfg(tt).copy(bloomIndex = bloom))
      // updates and deletes hit every file group, so bloom pruning keeps
      // the same index files as the plain table's range pruning
      val ops: Seq[() => Any] = Seq(
        () => tbl.bulkInsert(rows(1L to 1000L)),
        () => tbl.upsert((1L to 1000L by 7).map(i => (i, s"u$i", 2L)).toDF("id", "v", "ts")),
        () => tbl.delete((1L to 1000L by 13).map(i => Tuple1(i)).toDF("id"))) ++
        (if (tt == TableType.MOR) Seq(() => TableServices(tbl).compact()) else Nil)
      tbl -> ops.map(op => SparkJobs.descriptions(spark)(op())._2.count(_ != "graft: bloom probe"))
    }
    for (tt <- Seq(TableType.COW, TableType.MOR)) {
      val (tbl, withBloom) = run(tt, bloom = true)
      val (_, plain) = run(tt, bloom = false)
      assert(withBloom == plain, s"$tt: jobs per operation, bloom $withBloom vs plain $plain")

      val fs = tbl.timeline.fileSystem
      val written = tbl.timeline.completed()
        .flatMap(i => tbl.timeline.metadataOf(i).stats)
      assert(written.size > 8, s"$tt: several files per commit")
      val sidecars = fs.globStatus(new Path(tbl.basePath, "*.bloom")).map(_.getPath)
      assert(sidecars.map(_.getName).toSet == written.map(st => s"${st.path}.bloom").toSet,
        s"$tt: one sidecar per written file")
      written.foreach { st =>
        val data = new Path(tbl.absPath(st))
        val b = KeyBloom.read(fs, data).get
        val want = KeyBloom.sized(st.rows)
        assert((b.numBits, b.numHashes) == (want.numBits, want.numHashes),
          s"$tt: ${st.path} bloom shape for ${st.rows} rows")
        val keys = spark.read.parquet(data.toString).select(Meta.Key).as[String].collect()
        assert(keys.length == st.rows && keys.forall(b.mightContain),
          s"$tt: ${st.path} bloom misses keys of its file")
      }
    }
  }
}
