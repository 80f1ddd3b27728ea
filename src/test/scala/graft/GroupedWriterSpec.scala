package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Focused tests for the write-path internals: the direct per-group
  * writer (org.apache.spark.sql.graft.GroupedFileWriter — replaced
  * DataFrameWriter.partitionBy on the write path) and the fork-free
  * local filesystem (graft.core.NioLocalFileSystem). Both must be
  * drop-in: each group's file at exactly the name it is given, same
  * on-disk permissions, same data. */
class GroupedWriterSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Tables.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmp(): String = Files.createTempDirectory("graft-gw").toString

  /** The layout `DataFrameWriter.partitionBy("gp", "gf")` produces, as
    * the writer's relative-path function: one `part-00000` file per
    * group directory, named the way partitionBy escapes its values. */
  private def partitionByLayout(ext: String): Seq[String] => String = { g =>
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def seg(c: String, v: String): String =
      if (v == null || v.isEmpty) s"$c=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
      else s"$c=${ExternalCatalogUtils.escapePathName(v)}"
    s"${seg("gp", g(0))}/${seg("gf", g(1))}/part-00000.$ext"
  }

  /** Parquet-writes `df` grouped by `gp`/`gf` in partitionBy's layout,
    * returning the manifest of (group values, (rows, bytes, stats)). */
  private def stage(df: org.apache.spark.sql.DataFrame, dest: String) = {
    val types = df.schema.fields.filterNot(f => f.name == "gp" || f.name == "gf")
      .map(f => f.name -> f.dataType).toMap
    org.apache.spark.sql.graft.GroupedFileWriter.write(
      spark, df, Seq("gp", "gf"), dest, "parquet", partitionByLayout("parquet"),
      (dataSchema: org.apache.spark.sql.types.StructType) =>
        new graft.write.RowStats.Collector(types, false, false, dataSchema))
  }

  test("direct writer reproduces partitionBy's directory layout, escaping and data") {
    import spark.implicits._
    // group values exercise the escaping corners partitionBy handles:
    // spaces, '=', ':', '%'. (Non-ASCII values are excluded: under this
    // JVM's POSIX sun.jnu.encoding, Spark's OWN partitionBy write throws
    // InvalidPathException for them too — an environment limit, not a
    // writer difference.)
    val parts = Seq("plain", "has space", "a=b", "x:y", "p%25c")
    val df = (1 to 500).map { i =>
      (i.toLong, parts(i % parts.size), s"g${i % 7}", s"v$i")
    }.toDF("id", "gp", "gf", "v")
      .repartition(4, col("gp"), col("gf"))
      .sortWithinPartitions(col("gp"), col("gf"), col("id"))

    val viaSpark = tmp()
    df.write.mode("overwrite").partitionBy("gp", "gf")
      .format("parquet").save(viaSpark)
    val viaDirect = tmp()
    val manifest = stage(df, viaDirect)
    assert(manifest.map(_._2._1).sum == 500L, "the manifest counts every row")
    // the manifest names each group by its values, never by a path
    assert(manifest.map(_._1).toSet ==
      (1 to 500).map(i => Seq(parts(i % parts.size), s"g${i % 7}")).toSet)
    assert(manifest.size == manifest.map(_._1).distinct.size, "one file per group")

    val fs = new Path(viaDirect).getFileSystem(
      spark.sessionState.newHadoopConf())
    def groupDirs(base: String): Set[String] =
      fs.globStatus(new Path(base, "gp=*/gf=*")).map { st =>
        val p = st.getPath
        s"${p.getParent.getName}/${p.getName}"
      }.toSet
    assert(groupDirs(viaDirect) == groupDirs(viaSpark),
      "each group must land at exactly the name it was given")
    // exactly the one named file per group dir
    fs.globStatus(new Path(viaDirect, "gp=*/gf=*")).foreach { d =>
      val names = fs.listStatus(d.getPath).map(_.getPath.getName).toSeq
      assert(names == Seq("part-00000.parquet"), s"files in ${d.getPath}: $names")
      assert(!new java.io.File(d.getPath.toUri.getPath).list().exists(_.contains(".tmp-")),
        "no temp file may survive a successful write")
    }
    // identical rows, group columns re-derived from the directory names
    val back = spark.read.parquet(s"$viaDirect/gp=*/gf=*")
    val expect = spark.read.parquet(s"$viaSpark/gp=*/gf=*")
    assert(back.schema.fieldNames.sorted.sameElements(
      expect.schema.fieldNames.sorted))
    assert(back.orderBy("id").collect().toSeq ==
      expect.orderBy("id").collect().toSeq)
  }

  test("empty input stages nothing and publish treats it as a no-op") {
    import spark.implicits._
    val dest = tmp()
    val df = Seq.empty[(Long, String, String)].toDF("id", "gp", "gf")
    assert(stage(df, dest).isEmpty)
    assert(new java.io.File(dest).list().isEmpty, "no directory or file is written")
  }

  test("NioLocalFileSystem sets the same permissions as the shell path, without forking") {
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.get("fs.file.impl") == classOf[graft.core.NioLocalFileSystem].getName)
    val fs = new Path("/tmp").getFileSystem(conf)
    assert(fs.isInstanceOf[graft.core.NioLocalFileSystem])
    val dir = tmp()
    val p = new Path(dir, "permtest")
    val out = fs.create(p)
    out.write(42); out.close()
    import org.apache.hadoop.fs.permission.FsPermission
    fs.setPermission(p, new FsPermission("640"))
    val posix = java.nio.file.Files.getPosixFilePermissions(
      java.nio.file.Paths.get(dir, "permtest"))
    import java.nio.file.attribute.PosixFilePermission._
    assert(posix.contains(OWNER_READ) && posix.contains(OWNER_WRITE) &&
      posix.contains(GROUP_READ) && !posix.contains(OTHERS_READ) &&
      !posix.contains(OWNER_EXECUTE))
  }

  test("MOR mixed staged write routes delta and base groups through one job (layout intact)") {
    import graft.core._
    import graft.read.GraftReader
    import graft.write.GraftTable
    val dir = tmp()
    val tbl = GraftTable.create(spark, dir, TableConfig(
      name = "gwmor", tableType = TableType.MOR, keyFields = Seq("id"),
      partitionFields = Seq("p"), orderingField = "ts", targetFileRows = 50))
    import spark.implicits._
    val load = (1 to 200).map(i => (i.toLong, s"p${i % 3}", i.toLong, s"v$i"))
      .toDF("id", "p", "ts", "v")
    tbl.bulkInsert(load)
    // updates (deltas on existing groups) + inserts (fresh base groups) in one upsert
    tbl.upsert((1 to 60).map(i => (i.toLong, s"p${i % 3}", i + 1000L, s"u$i"))
      .toDF("id", "p", "ts", "v")
      .unionByName((301 to 340).map(i => (i.toLong, s"p${i % 3}", i.toLong, s"n$i"))
        .toDF("id", "p", "ts", "v")))
    val r = GraftReader(tbl)
    val out = r.dataOnly(r.snapshot())
    assert(out.count() == 240)
    assert(out.filter(col("v").startsWith("u")).count() == 60)
    // compaction folds the written deltas — proves the delta suffix routing
    graft.services.TableServices(tbl).compact()
    val out2 = r.dataOnly(r.snapshot())
    assert(out2.filter(col("v").startsWith("u")).count() == 60)
    assert(out2.count() == 240)
  }

  // ---------------------------------------------------------------------
  // RowStats fuzz: the manifest's per-file stats against Spark's own
  // reader and aggregates over the file just written (independent of
  // RowStats): every recorded bound equals the column's min/max by typed
  // comparison, counts match, and an entry is missing exactly where
  // RowStats' rules drop it (NaN in a float/double column, a string
  // bound over MaxStringBoundBytes).
  // ---------------------------------------------------------------------

  private def assertRowStatsMatchSpark(format: String, seed: Long): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(seed)
    val maxBound = graft.write.RowStats.MaxStringBoundBytes
    val longStr = "L" * (maxBound + 76)      // just over the bound rule
    val hugeStr = "H" * 3000
    val edgeStr = "E" * maxBound             // exactly at the bound: kept
    def str(group: String): String =
      // group g0 holds only long values, so some files' bounds are long
      if (group == "g0") Seq(longStr, hugeStr, edgeStr)(rnd.nextInt(3))
      else rnd.nextInt(6) match {
        case 0 => ""                         // empty-string bound
        case 1 => "zαβ✓" + rnd.nextInt(100)  // non-ASCII (UTF-8 byte order)
        case 2 => longStr
        case 3 => "Ａ" + rnd.nextInt(10)     // U+FF21: UTF-16 order differs
        case 4 => "😀" + rnd.nextInt(10)     // supplementary code point
        case _ => "s" + rnd.nextInt(1000)
      }
    val rows = (1 to 400).map { i =>
      def nl[T](v: T): Any = if (rnd.nextInt(5) == 0) null else v
      val gp = s"p${i % 3}"
      val gf = s"g${i % 7}"
      Row(
        gp, gf,
        nl(str(gf)),
        nl(rnd.nextLong()),
        nl(rnd.nextInt()),
        // NaN only in p0's files, so p1/p2 files keep double bounds
        nl(rnd.nextInt(4) match {
          case 0 => -0.0
          case 1 if gp == "p0" => Double.NaN
          case _ => rnd.nextDouble() * 1e6 - 5e5
        }),
        nl(if (gp == "p1" && rnd.nextInt(4) == 0) Float.NaN
          else rnd.nextFloat() * 100f - 50f),
        nl(rnd.nextBoolean()),
        nl(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(20000).toLong))),
        nl(java.time.LocalDateTime.ofEpochSecond(
          rnd.nextInt(1600000000).toLong, rnd.nextInt(1000) * 1000, java.time.ZoneOffset.UTC)),
        nl(new java.math.BigDecimal(java.math.BigInteger.valueOf(rnd.nextInt(1000000).toLong - 500000), 2)),
        nl(Array.fill(4)(rnd.nextInt(256).toByte)),
        null: String)                        // all-null column
    }
    val schema = StructType(Seq(
      StructField("gp", StringType), StructField("gf", StringType),
      StructField("s", StringType), StructField("l", LongType),
      StructField("i", IntegerType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampNTZType),
      StructField("dec", DecimalType(10, 2)), StructField("bin", BinaryType),
      StructField("allnull", StringType)))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val df = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .repartition(4, col("gp"), col("gf"))
      .sortWithinPartitions(col("gp"), col("gf"))
    val dataFields = schema.fields.filterNot(f => f.name == "gp" || f.name == "gf")
    val types: Map[String, DataType] = dataFields.map(f => f.name -> f.dataType).toMap
    val dest = tmp()
    val layout = partitionByLayout(format)
    val manifest = org.apache.spark.sql.graft.GroupedFileWriter.write(
      spark, df, Seq("gp", "gf"), dest, format, layout,
      (dataSchema: StructType) =>
        new graft.write.RowStats.Collector(types, format == "orc", false, dataSchema))
    assert(manifest.size == 21, "one file per (gp, gf) group")

    // the reference: Spark's reader + aggregates, one row per file
    val aggs = count(lit(1)) +: dataFields.toSeq.flatMap { f =>
      val c = col(f.name)
      Seq(count(c), min(c), max(c)) ++
        (if (f.dataType == DoubleType || f.dataType == FloatType)
          Seq(max(when(isnan(c), 1).otherwise(0)))
        else Nil)
    }
    val ref: Map[String, Row] = spark.read.schema(StructType(dataFields)).format(format)
      .load(s"$dest/gp=*/gf=*/part-00000.$format")
      .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => new Path(r.getString(0)).toUri.getPath -> r).toMap

    def utf8Len(s: String): Int = s.getBytes("UTF-8").length
    // typed equality of a recorded bound with Spark's aggregate value
    def sameValue(dt: DataType, bound: String, v: Any): Boolean = dt match {
      case StringType  => bound == v
      case LongType    => bound.toLong == v.asInstanceOf[Long]
      case IntegerType => bound.toInt == v.asInstanceOf[Int]
      case DoubleType  => bound.toDouble == v.asInstanceOf[Double] // -0.0 == 0.0
      case FloatType   => java.lang.Float.parseFloat(bound) == v.asInstanceOf[Float]
      case BooleanType => bound.toBoolean == v.asInstanceOf[Boolean]
      case DateType    => java.time.LocalDate.parse(bound) == (v match {
        case d: java.sql.Date => d.toLocalDate
        case d                => d
      })
      case TimestampNTZType => java.time.LocalDateTime.parse(bound) == v
      case _: DecimalType =>
        new java.math.BigDecimal(bound).compareTo(v.asInstanceOf[java.math.BigDecimal]) == 0
      case other => fail(s"no typed comparison for $other")
    }
    var dropped = Set.empty[String] // columns some file dropped, by rule
    var kept = Set.empty[String]    // valued columns some file recorded
    manifest.foreach { case (group, (rowsGot, bytesGot, statsGot)) =>
      val p = new Path(new Path(dest), layout(group))
      val where = s"$p ($format)"
      val r = ref.getOrElse(p.toUri.getPath, fail(s"Spark read no rows from $where"))
      assert(rowsGot == r.getLong(1), s"rows for $where")
      assert(bytesGot == p.getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(p).getLen, s"bytes for $where")
      var at = 2 // after the file name and count(1)
      dataFields.foreach { f =>
        val nonNull = r.getLong(at)
        val (lo, hi) = (r.get(at + 1), r.get(at + 2))
        at += 3
        val hasNaN = f.dataType match {
          case DoubleType | FloatType => at += 1; r.getInt(at - 1) == 1
          case _ => false
        }
        val got = statsGot.get(f.name)
        val expectEntry =
          if (nonNull == 0L) true
          else f.dataType match {
            case BinaryType => false
            case DoubleType | FloatType => !hasNaN
            case StringType =>
              utf8Len(lo.asInstanceOf[String]) <= maxBound &&
                utf8Len(hi.asInstanceOf[String]) <= maxBound
            case _ => true
          }
        assert(got.isDefined == expectEntry,
          s"${f.name} of $where: entry ${if (expectEntry) "missing" else "present"}: $got")
        if (nonNull > 0 && !expectEntry && f.dataType != BinaryType) dropped += f.name
        got.foreach { cs =>
          assert(cs.nullCount == rowsGot - nonNull, s"${f.name} null count of $where")
          if (nonNull == 0L) assert(cs.min == null && cs.max == null, s"${f.name} of $where")
          else {
            kept += f.name
            assert(sameValue(f.dataType, cs.min, lo), s"${f.name} min of $where: $cs vs $lo")
            assert(sameValue(f.dataType, cs.max, hi), s"${f.name} max of $where: $cs vs $hi")
          }
        }
      }
    }
    // the fuzz reaches every rule and every recorded type
    assert(Set("s", "d", "f").subsetOf(dropped), s"dropped by rule: $dropped")
    assert(Set("s", "l", "i", "d", "f", "b", "dt", "ts", "dec").subsetOf(kept),
      s"recorded: $kept")
  }

  test("row-accumulated manifest stats match Spark's aggregates (parquet)") {
    (1L to 3L).foreach(assertRowStatsMatchSpark("parquet", _))
  }

  test("row-accumulated manifest stats match Spark's aggregates (ORC)") {
    (1L to 3L).foreach(assertRowStatsMatchSpark("orc", _))
  }
}
