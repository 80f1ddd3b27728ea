package graft.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ColStat

/** Per-file metadata of a data file — rows, bytes, column stats and, on
  * a `bloomIndex` table, the key bloom sidecar — built from the rows AS
  * THE WRITING TASK STREAMS THEM into the file. Nothing re-opens the
  * just-written file and no second job reads it back. The reference
  * populates HoodieWriteStat, the key range and the bloom the same way,
  * inside its write handle (io/HoodieCreateHandle.java:52-210,
  * avro/HoodieAvroWriteSupport.java).
  *
  * This object DEFINES graft's column stats. ColStat strings feed
  * StatsSkipping.compare and surface verbatim in SHOW COLUMN STATS
  * (q135), and they are stored in every commit's JSON and checkpoint.
  * Per type, the bounds are the column's min and max, encoded as:
  *  - string: the value itself, ordered by UTF-8 bytes
  *    (UTF8String.compareTo, = code-point order, [[graft.core.CodePointOrder]])
  *  - integral: decimal digits
  *  - float/double: java.lang.Float/Double.toString of the value; on an
  *    ORC table a float prints as its exact double widening
  *    (Double.toString), the form ORC tables' commits have always held
  *  - boolean: "false"/"true" (false < true)
  *  - date: LocalDate ISO of the epoch day
  *  - timestamp/ntz: micros → [[GraftTable.microsToWallIso]]
  *  - decimal: BigDecimal at declared scale, toPlainString
  *  - all-null column: ColStat(null, null, nullCount)
  *  - binary: null count only when all-null, else no entry; nested types:
  *    no entry
  *
  * A missing entry means "cannot skip", so dropping one is always sound.
  * Two cases drop it:
  *  - a string column whose min or max exceeds [[MaxStringBoundBytes]]
  *    (bounds ride in every commit's metadata);
  *  - a float/double column holding a NaN: Spark orders NaN above every
  *    value, so bounds that left it out would wrongly skip `d > x`.
  * -0.0 needs no rule: StatsSkipping parses bounds as BigDecimal, where
  * -0.0 equals 0.0. */
object RowStats {

  /** Longest string bound, in UTF-8 bytes, a file's stats record. */
  private[graft] val MaxStringBoundBytes = 1024

  private sealed trait Acc extends Serializable {
    var nulls: Long = 0L
    var seen: Boolean = false
    def reset0(): Unit
    final def reset(): Unit = { nulls = 0L; seen = false; reset0() }
    def update(row: InternalRow, ord: Int): Unit
    /** None = no entry for a valued column; all-null is handled by the
      * caller via `seen`. */
    def bounds(): Option[(String, String)]
  }

  private final class StringAcc extends Acc {
    private var mn: UTF8String = null
    private var mx: UTF8String = null
    override def reset0(): Unit = { mn = null; mx = null }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getUTF8String(ord)
      if (!seen) { seen = true; mn = v.copy(); mx = mn }
      else if (v.compareTo(mn) < 0) mn = v.copy()
      else if (v.compareTo(mx) > 0) mx = v.copy()
    }
    override def bounds(): Option[(String, String)] =
      if (mn.numBytes > MaxStringBoundBytes || mx.numBytes > MaxStringBoundBytes) None
      else Some((mn.toString, mx.toString))
  }

  private class LongAcc extends Acc {
    private var mn = 0L; private var mx = 0L
    override def reset0(): Unit = { mn = 0L; mx = 0L }
    def get(row: InternalRow, ord: Int): Long = row.getLong(ord)
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = get(row, ord)
      if (!seen) { seen = true; mn = v; mx = v }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    override def bounds(): Option[(String, String)] = Some((mn.toString, mx.toString))
  }
  private final class IntAcc extends LongAcc {
    override def get(row: InternalRow, ord: Int): Long = row.getInt(ord).toLong
  }
  private final class ShortAcc extends LongAcc {
    override def get(row: InternalRow, ord: Int): Long = row.getShort(ord).toLong
  }
  private final class ByteAcc extends LongAcc {
    override def get(row: InternalRow, ord: Int): Long = row.getByte(ord).toLong
  }

  private final class DoubleAcc extends Acc {
    private var mn = 0.0; private var mx = 0.0
    override def reset0(): Unit = { mn = 0.0; mx = 0.0 }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getDouble(ord)
      if (!seen) { seen = true; mn = v; mx = v }
      else {
        if (java.lang.Double.compare(v, mn) < 0) mn = v
        if (java.lang.Double.compare(v, mx) > 0) mx = v
      }
    }
    // Double.compare orders NaN above every value: a NaN max means the
    // column holds one
    override def bounds(): Option[(String, String)] =
      if (mx.isNaN) None
      else Some((java.lang.Double.toString(mn), java.lang.Double.toString(mx)))
  }

  private final class FloatAcc(orc: Boolean) extends Acc {
    private var mn = 0.0f; private var mx = 0.0f
    override def reset0(): Unit = { mn = 0.0f; mx = 0.0f }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getFloat(ord)
      if (!seen) { seen = true; mn = v; mx = v }
      else {
        if (java.lang.Float.compare(v, mn) < 0) mn = v
        if (java.lang.Float.compare(v, mx) > 0) mx = v
      }
    }
    // a NaN max means the column holds one (see DoubleAcc); ORC tables
    // print a float bound as its value-exact double widening
    override def bounds(): Option[(String, String)] =
      if (mx.isNaN) None
      else if (orc) Some((java.lang.Double.toString(mn.toDouble),
        java.lang.Double.toString(mx.toDouble)))
      else Some((java.lang.Float.toString(mn), java.lang.Float.toString(mx)))
  }

  private final class BoolAcc extends Acc {
    private var seenTrue = false; private var seenFalse = false
    override def reset0(): Unit = { seenTrue = false; seenFalse = false }
    override def update(row: InternalRow, ord: Int): Unit = {
      seen = true
      if (row.getBoolean(ord)) seenTrue = true else seenFalse = true
    }
    override def bounds(): Option[(String, String)] =
      Some((if (seenFalse) "false" else "true", if (seenTrue) "true" else "false"))
  }

  private final class DateAcc extends Acc {
    private var mn = 0; private var mx = 0
    override def reset0(): Unit = { mn = 0; mx = 0 }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getInt(ord)
      if (!seen) { seen = true; mn = v; mx = v }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    override def bounds(): Option[(String, String)] = Some((
      java.time.LocalDate.ofEpochDay(mn.toLong).toString,
      java.time.LocalDate.ofEpochDay(mx.toLong).toString))
  }

  private final class TsAcc extends Acc {
    private var mn = 0L; private var mx = 0L
    override def reset0(): Unit = { mn = 0L; mx = 0L }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getLong(ord)
      if (!seen) { seen = true; mn = v; mx = v }
      else { if (v < mn) mn = v; if (v > mx) mx = v }
    }
    override def bounds(): Option[(String, String)] = Some((
      GraftTable.microsToWallIso(mn), GraftTable.microsToWallIso(mx)))
  }

  private final class DecimalAcc(precision: Int, scale: Int) extends Acc {
    private var mn: java.math.BigDecimal = null
    private var mx: java.math.BigDecimal = null
    override def reset0(): Unit = { mn = null; mx = null }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getDecimal(ord, precision, scale).toJavaBigDecimal
      if (!seen) { seen = true; mn = v; mx = v }
      else {
        if (v.compareTo(mn) < 0) mn = v
        if (v.compareTo(mx) > 0) mx = v
      }
    }
    override def bounds(): Option[(String, String)] = Some((
      mn.setScale(scale).toPlainString, mx.setScale(scale).toPlainString))
  }

  /** Binary: no order worth recording, but nulls are still counted, so
    * an all-null file gets ColStat(null, null, n) like any column. */
  private final class NoneAcc extends Acc {
    override def reset0(): Unit = ()
    override def update(row: InternalRow, ord: Int): Unit = { seen = true }
    override def bounds(): Option[(String, String)] = None
  }

  /** None = the column never gets an entry (nested types). */
  private def accFor(dt: DataType, orc: Boolean): Option[Acc] = dt match {
    case StringType          => Some(new StringAcc)
    case LongType            => Some(new LongAcc)
    case IntegerType         => Some(new IntAcc)
    case ShortType           => Some(new ShortAcc)
    case ByteType            => Some(new ByteAcc)
    case DoubleType          => Some(new DoubleAcc)
    case FloatType           => Some(new FloatAcc(orc))
    case BooleanType         => Some(new BoolAcc)
    case DateType            => Some(new DateAcc)
    case _: TimestampType    => Some(new TsAcc)
    case _: TimestampNTZType => Some(new TsAcc)
    case d: DecimalType      => Some(new DecimalAcc(d.precision, d.scale))
    case BinaryType          => Some(new NoneAcc)
    case _                   => None
  }

  /** The manifest collector for [[GraftTable.writeGroups]]: builds
    * per-column accumulators over the writer's data schema (only the
    * columns in `types`) and emits (rows, bytes, colStats) per file.
    * With `bloom`, it also hashes each row's record key as the row
    * streams in (two longs per row, see [[KeyBloom]]) and writes the
    * file's `<file>.bloom` sidecar in `finish`, which runs after the
    * file has landed at its committed name. */
  final class Collector(
      types: Map[String, DataType], orc: Boolean, bloom: Boolean, schema: StructType)
      extends org.apache.spark.sql.graft.GroupedFileWriter.RowFileCollector[(Long, Long, Map[String, ColStat])] {
    private val cols: Array[(String, Int, Acc)] = types.toArray.flatMap {
      case (name, dt) =>
        val i = schema.fieldNames.indexOf(name)
        if (i < 0) None else accFor(dt, orc).map(a => (name, i, a))
    }
    private val keyOrd = if (bloom) schema.fieldIndex(Meta.Key) else -1
    @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")
    // (h1, h2) of every key of the current file, appended pairwise
    private var hashes = new Array[Long](if (bloom) 1024 else 0)
    private var nHashes = 0
    private var rows = 0L

    override def reset(): Unit = {
      rows = 0L
      nHashes = 0
      var i = 0
      while (i < cols.length) { cols(i)._3.reset(); i += 1 }
    }

    override def update(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < cols.length) {
        val (_, ord, acc) = cols(i)
        if (row.isNullAt(ord)) acc.nulls += 1 else acc.update(row, ord)
        i += 1
      }
      if (keyOrd >= 0 && !row.isNullAt(keyOrd)) {
        if (nHashes + 2 > hashes.length)
          hashes = java.util.Arrays.copyOf(hashes, hashes.length * 2)
        val d = KeyBloom.digest(md5, row.getUTF8String(keyOrd).getBytes)
        hashes(nHashes) = d.getLong
        hashes(nHashes + 1) = d.getLong
        nHashes += 2
      }
    }

    override def finish(path: Path, conf: Configuration): (Long, Long, Map[String, ColStat]) = {
      val fs = path.getFileSystem(conf)
      val bytes = fs.getFileStatus(path).getLen
      if (keyOrd >= 0) {
        val b = KeyBloom.sized(rows)
        var i = 0
        while (i < nHashes) { b.addHash(hashes(i), hashes(i + 1)); i += 2 }
        KeyBloom.write(fs, path, b)
      }
      val stats = cols.flatMap { case (name, _, acc) =>
        if (!acc.seen) Some(name -> ColStat(null, null, acc.nulls))
        else acc.bounds().map { case (lo, hi) => name -> ColStat(lo, hi, acc.nulls) }
      }.toMap
      (rows, bytes, stats)
    }
  }
}
