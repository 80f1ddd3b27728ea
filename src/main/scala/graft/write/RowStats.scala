package graft.write

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ColStat

/** Per-file (rows, bytes, column stats) accumulated from the rows AS THE
  * STAGED WRITE STREAMS THEM — replacing a per-file footer re-open that
  * measured ~6-9 ms/file (6× the parquet write itself at tiny file
  * sizes; see OPTIMIZATION_r13.md). The reference populates
  * HoodieWriteStat the same way, from the write handle's own row stream
  * (io/HoodieCreateHandle.java:52-210).
  *
  * CONTRACT: output must be byte-identical to what
  * [[GraftTable.footerStats]] decodes from the file the writer just
  * produced — ColStat strings feed StatsSkipping.compare and surface
  * verbatim in SHOW COLUMN STATS (q135). The per-type encodings below
  * mirror the two footer decoders exactly (pinned by the parity fuzz in
  * GroupedWriterSpec):
  *  - string: value itself (parquet stats compare unsigned
  *    byte-lexicographic = UTF8String.compareTo)
  *  - integral: decimal digits (Long.toString == the footer's boxed
  *    Integer/Long toString)
  *  - float/double: java.lang.Float/Double.toString of the value —
  *    EXCEPT under ORC, whose footer holds doubles for float columns
  *    (a float's exact double widening, so Double.toString of the
  *    widened value)
  *  - boolean: "false"/"true" (false < true)
  *  - date: LocalDate ISO of the epoch day
  *  - timestamp/ntz: micros → [[GraftTable.microsToWallIso]]
  *  - decimal: BigDecimal at declared scale, toPlainString
  *  - any other type: untracked (both footer decoders drop it)
  *  - all-null column: ColStat(null, null, nullCount) (both decoders)
  *
  * Corner cases where the two FORMATS' footers genuinely diverge from
  * simple accumulation (oversized string bounds — parquet drops stats at
  * min+max ≥ 4096 B, ORC nulls them past its own truncation threshold;
  * float/double NaN and mixed-sign zero, where parquet's total-order
  * comparator and ORC's primitive compares disagree) FALL BACK to the
  * footer read for that file, so the output is identical by construction
  * and only pathological files pay the re-open. */
object RowStats {

  private val StringFallbackBytes = 1000 // < min(parquet 4096-pair, ORC 1024)/2

  private sealed trait Acc extends Serializable {
    var nulls: Long = 0L
    var seen: Boolean = false
    var fallback: Boolean = false
    def reset0(): Unit
    final def reset(): Unit = { nulls = 0L; seen = false; fallback = false; reset0() }
    def update(row: InternalRow, ord: Int): Unit
    /** None = column untracked; Some((null, null)) impossible — all-null
      * is handled by the caller via `seen`. */
    def bounds(): Option[(String, String)]
  }

  private final class StringAcc extends Acc {
    private var mn: UTF8String = null
    private var mx: UTF8String = null
    override def reset0(): Unit = { mn = null; mx = null }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getUTF8String(ord)
      if (v.numBytes > StringFallbackBytes) fallback = true
      if (!seen) { seen = true; mn = v.copy(); mx = mn }
      else if (v.compareTo(mn) < 0) mn = v.copy()
      else if (v.compareTo(mx) > 0) mx = v.copy()
    }
    override def bounds(): Option[(String, String)] = Some((mn.toString, mx.toString))
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
      if (java.lang.Double.isNaN(v) ||
        java.lang.Double.doubleToRawLongBits(v) == NegZeroD) fallback = true
      if (!seen) { seen = true; mn = v; mx = v }
      else {
        if (java.lang.Double.compare(v, mn) < 0) mn = v
        if (java.lang.Double.compare(v, mx) > 0) mx = v
      }
    }
    override def bounds(): Option[(String, String)] =
      Some((java.lang.Double.toString(mn), java.lang.Double.toString(mx)))
  }
  private val NegZeroD = java.lang.Double.doubleToRawLongBits(-0.0)
  private val NegZeroF = java.lang.Float.floatToRawIntBits(-0.0f)

  private final class FloatAcc(orc: Boolean) extends Acc {
    private var mn = 0.0f; private var mx = 0.0f
    override def reset0(): Unit = { mn = 0.0f; mx = 0.0f }
    override def update(row: InternalRow, ord: Int): Unit = {
      val v = row.getFloat(ord)
      if (java.lang.Float.isNaN(v) ||
        java.lang.Float.floatToRawIntBits(v) == NegZeroF) fallback = true
      if (!seen) { seen = true; mn = v; mx = v }
      else {
        if (java.lang.Float.compare(v, mn) < 0) mn = v
        if (java.lang.Float.compare(v, mx) > 0) mx = v
      }
    }
    // ORC holds doubles for float columns; parquet holds floats — the
    // widening is value-exact, only the printed form differs
    override def bounds(): Option[(String, String)] =
      if (orc) Some((java.lang.Double.toString(mn.toDouble),
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

  /** Primitive type whose bounds neither footer decoder encodes (binary):
    * nulls still counted, so an all-null file yields the same
    * ColStat(null, null, n) both decoders produce, and a valued file
    * yields nothing — exactly like the footer paths. */
  private final class NoneAcc extends Acc {
    override def reset0(): Unit = ()
    override def update(row: InternalRow, ord: Int): Unit = { seen = true }
    override def bounds(): Option[(String, String)] = None
  }

  /** None = the column can never have a footer-stats entry at all (nested
    * paths: the parquet decoder only reads path-size-1 chunks, so even an
    * all-null struct/array/map column stays absent). */
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
    * columns in `types`), emits (rows, bytes, colStats) per file, and
    * re-reads the footer instead whenever a corner case would make
    * accumulation diverge from it. */
  final class Collector(
      types: Map[String, DataType], orc: Boolean, schema: StructType)
      extends org.apache.spark.sql.graft.GroupedFileWriter.RowFileCollector[(Long, Long, Map[String, ColStat])] {
    private val cols: Array[(String, Int, Acc)] = types.toArray.flatMap {
      case (name, dt) =>
        val i = schema.fieldNames.indexOf(name)
        if (i < 0) None else accFor(dt, orc).map(a => (name, i, a))
    }
    private var rows = 0L

    override def reset(): Unit = {
      rows = 0L
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
    }

    override def finish(path: Path, conf: Configuration): (Long, Long, Map[String, ColStat]) = {
      val bytes = path.getFileSystem(conf).getFileStatus(path).getLen
      if (cols.exists(_._3.fallback)) {
        val (r, stats) = GraftTable.footerStats(path, conf, types)
        (r, bytes, stats)
      } else {
        val stats = cols.flatMap { case (name, _, acc) =>
          if (!acc.seen) Some(name -> ColStat(null, null, acc.nulls))
          else acc.bounds().map { case (lo, hi) => name -> ColStat(lo, hi, acc.nulls) }
        }.toMap
        (rows, bytes, stats)
      }
    }
  }
}
