package graft.read

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

import graft.core.{CodePointOrder, ColStat, WriteStat}
import graft.write.Meta

/** The one custom Spark-API class the read path needs (reference analog:
  * HoodieFileIndex.scala:74): a [[FileIndex]] whose file list comes from
  * commit metadata — never a storage listing — and which prunes files
  * against per-file stats (record-key range + configured column
  * min/max/nullCount) when Catalyst hands down data filters.
  *
  * Partition schema is empty BY DEFAULT on purpose: partition values are
  * stored IN the files (so schema evolution and repartitioning stay
  * trivial), and predicates on the partition column arrive as data
  * filters, pruned here via the per-file stats instead of directory
  * layout. Tables written with `dropPartitionColumns` flip that: the
  * fields exist ONLY in the partition path, so the index declares a real
  * partition schema, hands Spark per-group values from commit metadata
  * (the scan appends the columns natively — no per-row decode), and
  * evaluates Catalyst's partitionFilters per file group for EXACT
  * zero-IO pruning. */
class GraftFileIndex(
    basePath: String,
    files: Seq[WriteStat],
    schema: StructType,
    override val partitionSchema: StructType = new StructType(),
    /** partition path → typed partition values (one row per distinct
      * path); required when partitionSchema is non-empty */
    partValues: Map[String, InternalRow] = Map.empty,
    /** names of the table's partition fields when partitionSchema is
      * EMPTY (the default layout: partition values also live in the
      * files, partition predicates arrive as data filters). Lets
      * [[listFiles]] evaluate a partition-only predicate ONCE PER
      * PARTITION instead of once per file — the planning-cost lever at
      * 1M file slices, where a selective query must not walk a million
      * stats entries (probed in FileIndexScaleSpec). */
    partitionFields: Seq[String] = Nil) extends FileIndex {

  private val rootPath = new Path(basePath)

  /** FileStatus built from commit metadata — no driver FS round-trip —
    * and built LAZILY, only for files a query actually keeps: Path/URI
    * parsing per entry is the dominant relation-construction cost at 1M
    * slices (~1.3 µs each), and a selective query must not pay it for
    * the million files it prunes away. */
  private def status(st: WriteStat): FileStatus =
    new FileStatus(st.bytes, false, 1, 128L * 1024 * 1024, 0L,
      new Path(rootPath, st.path))

  /** Entries bucketed by partition path, built once per index (list
    * order preserved inside a bucket). */
  private lazy val byPartition: Seq[(String, Seq[WriteStat])] = {
    // snapshot slices arrive partition-SORTED (Snapshot.resolve sorts by
    // (partition, fileId) and the read path's filters preserve order),
    // so buckets are contiguous runs: a linear scan groups a million
    // entries without hashing a million partition strings. A revisited
    // partition (caller passed an unsorted list) falls back to hash
    // grouping — correctness never depends on the order.
    val runs = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[WriteStat])]
    val seen = scala.collection.mutable.HashSet.empty[String]
    var sorted = true
    var buf = scala.collection.mutable.ArrayBuffer.empty[WriteStat]
    var cur: String = null
    files.foreach { st =>
      if (cur == null || st.partition != cur) {
        if (cur != null) runs += ((cur, buf.toSeq))
        if (!seen.add(st.partition)) sorted = false
        cur = st.partition
        buf = scala.collection.mutable.ArrayBuffer.empty[WriteStat]
      }
      buf += st
    }
    if (cur != null) runs += ((cur, buf.toSeq))
    if (sorted) runs.toSeq
    else {
      val m = scala.collection.mutable.LinkedHashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[WriteStat]]
      files.foreach(st =>
        m.getOrElseUpdate(st.partition, scala.collection.mutable.ArrayBuffer.empty) += st)
      m.iterator.map { case (p, b) => (p, b.toSeq) }.toSeq
    }
  }

  /** Per bucket, one stats entry covering EVERY file in it: each
    * partition field's [min, max] and null count over all the bucket's
    * files. One file's stats do not cover its bucket: sanitising can map
    * several partition values to one path (`a/b` and `a_b` both land in
    * `a_b`). Built once per index, so a query still decides a bucket
    * with one evaluation. */
  private lazy val bucketCovers: Seq[(WriteStat, Seq[WriteStat])] =
    byPartition.map { case (_, es) => (StatsSkipping.cover(es, partitionFields, schema), es) }

  private val partitionFieldSet = partitionFields.toSet

  /** A filter decidable per PARTITION: deterministic and touching only
    * partition fields, so the bucket's covering stats decide it. */
  private def partitionOnly(f: Expression): Boolean = {
    val refs = f.references.map(_.name).toSet
    refs.nonEmpty && refs.subsetOf(partitionFieldSet) && f.deterministic &&
      !f.exists(e => e.isInstanceOf[PlanExpression[_]])
  }

  override def rootPaths: Seq[Path] = Seq(new Path(basePath))

  /** Bind a partition-filter expression's attributes to partitionSchema
    * ordinals and evaluate it against one group's values.
    *
    * Exactness contract: Spark REMOVES partition-only filters from
    * post-scan evaluation (FileSourceStrategy's afterScanFilters), so
    * for a deterministic filter this evaluation is the only application
    * it gets — "keep on failure" here would return unfiltered rows, not
    * merely over-scan. Deterministic filters therefore evaluate with
    * errors PROPAGATED (an ANSI cast error on a partition value is the
    * query's defined behavior). Filters we cannot evaluate exactly
    * (nondeterministic, or carrying subquery/dynamic-pruning plans whose
    * originating join still filters rows downstream) keep the group —
    * sound for those shapes only. */
  private def partMatch(filters: Seq[Expression], row: InternalRow): Boolean =
    filters.forall { f =>
      val evaluable = f.deterministic &&
        !f.exists(e => e.isInstanceOf[PlanExpression[_]])
      if (!evaluable) true
      else {
        val bound = f.transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }
        bound.eval(row) == true
      }
    }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    if (partitionSchema.isEmpty) {
      val filters = partitionFilters ++ dataFilters
      // two-tier prune: partition-only predicates decide whole BUCKETS
      // (one stats evaluation per partition — O(#partitions)); only the
      // surviving buckets' files see the remaining per-file predicates.
      // A selective query over a million-slice table therefore touches
      // O(#partitions + matching files) entries, never all of them.
      val (partPreds, filePreds) = filters.partition(partitionOnly)
      val candidates =
        if (partPreds.isEmpty) files
        else bucketCovers.withFilter { case (cover, _) =>
          partPreds.forall(f => StatsSkipping.mayMatch(f, cover, schema))
        }.flatMap(_._2)
      val kept = candidates.filter { st =>
        filePreds.forall(f => StatsSkipping.mayMatch(f, st, schema))
      }
      Seq(PartitionDirectory(InternalRow.empty, kept.map(status).toArray))
    } else {
      byPartition.flatMap { case (p, es) =>
        val row = partValues.getOrElse(p, InternalRow.empty)
        if (!partMatch(partitionFilters, row)) None
        else {
          val kept = es.filter { st =>
            dataFilters.forall(f => StatsSkipping.mayMatch(f, st, schema))
          }
          if (kept.isEmpty) None
          else Some(PartitionDirectory(row, kept.map(status).toArray))
        }
      }
    }
  }

  override def inputFiles: Array[String] =
    files.map(st => new Path(rootPath, st.path).toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.bytes).sum
}

object GraftFileIndex {
  /** DataFrame over `files` with stats-pruning + full Catalyst pushdown.
    * `partitionSchema` fields (with `partValues` rows) are appended by
    * the scan itself; `schema` is what is physically in the files. */
  def relation(
      spark: SparkSession,
      basePath: String,
      files: Seq[WriteStat],
      schema: StructType,
      partitionSchema: StructType = new StructType(),
      partValues: Map[String, InternalRow] = Map.empty,
      /** data-file format of `files` (TableConfig.dataFormat) — picks
        * the matching vectorized FileFormat for the scan */
      fileFormat: String = "parquet",
      /** see [[GraftFileIndex.partitionFields]] */
      partitionFields: Seq[String] = Nil): DataFrame = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val idx = new GraftFileIndex(basePath, files, schema, partitionSchema,
      partValues, partitionFields)
    val fmt: org.apache.spark.sql.execution.datasources.FileFormat =
      if (fileFormat == "orc")
        new org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
      else new ParquetFileFormat
    val rel = HadoopFsRelation(
      idx, partitionSchema, schema, None, fmt, Map.empty[String, String])(cs)
    cs.baseRelationToDataFrame(rel)
  }
}

/** Conservative file-level predicate evaluation over WriteStat
  * (reference analog: sql/hudi/DataSkippingUtils.scala:49 — filters are
  * rewritten into min/max interval checks; anything unrecognized keeps
  * the file). `mayMatch == false` means the file PROVABLY holds no
  * matching row. */
object StatsSkipping {

  /** Test probe (null in production — the null check is free): counts
    * (expression, file-stats) evaluations so scale specs can assert the
    * STRUCTURAL planning claim — a selective query touches
    * O(#partitions + matching files) stats entries — instead of flaking
    * on wall-clock (FileIndexScaleSpec). */
  @volatile private[graft] var evalProbe: java.util.concurrent.atomic.AtomicLong = null

  def mayMatch(e: Expression, st: WriteStat, schema: StructType): Boolean = {
    val p = evalProbe
    if (p ne null) p.incrementAndGet()
    mayMatchImpl(e, st, schema)
  }

  private def mayMatchImpl(e: Expression, st: WriteStat, schema: StructType): Boolean = e match {
    case And(l, r) => mayMatchImpl(l, st, schema) && mayMatchImpl(r, st, schema)
    case Or(l, r)  => mayMatchImpl(l, st, schema) || mayMatchImpl(r, st, schema)

    case EqualTo(a, Literal(v, _)) => rangeContains(a, v, st, schema)
    case EqualTo(Literal(v, _), a) => rangeContains(a, v, st, schema)
    case EqualNullSafe(a, Literal(v, _)) if v != null => rangeContains(a, v, st, schema)
    case EqualNullSafe(Literal(v, _), a) if v != null => rangeContains(a, v, st, schema)

    case LessThan(a, Literal(v, _))           => cmpMin(a, v, st, schema).forall(_ < 0)
    case LessThanOrEqual(a, Literal(v, _))    => cmpMin(a, v, st, schema).forall(_ <= 0)
    case GreaterThan(a, Literal(v, _))        => cmpMax(a, v, st, schema).forall(_ > 0)
    case GreaterThanOrEqual(a, Literal(v, _)) => cmpMax(a, v, st, schema).forall(_ >= 0)
    // literal-first orientations mirror
    case LessThan(Literal(v, _), a)           => cmpMax(a, v, st, schema).forall(_ > 0)
    case LessThanOrEqual(Literal(v, _), a)    => cmpMax(a, v, st, schema).forall(_ >= 0)
    case GreaterThan(Literal(v, _), a)        => cmpMin(a, v, st, schema).forall(_ < 0)
    case GreaterThanOrEqual(Literal(v, _), a) => cmpMin(a, v, st, schema).forall(_ <= 0)

    case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) => rangeContains(a, v, st, schema) }
    case InSet(a, vs) =>
      vs.exists(v => rangeContains(a, v, st, schema))

    case IsNull(a) =>
      statOf(a, st) match {
        case Some(cs) => cs.nullCount > 0
        case None     => true
      }
    case IsNotNull(a) =>
      statOf(a, st) match {
        case Some(cs) => cs.nullCount < st.rows || cs.min != null
        case None     => true
      }

    case StartsWith(a, Literal(p, StringType)) if p != null =>
      statOf(a, st) match {
        case Some(cs) if cs.min != null =>
          // strings starting with `pre` form the code-point interval
          // [pre, ...): it meets [min, max] iff max >= pre and min is
          // at or below pre or already starts with it
          val pre = p.toString
          CodePointOrder.compare(cs.max, pre) >= 0 &&
            (CodePointOrder.compare(cs.min, pre) <= 0 || cs.min.startsWith(pre))
        case _ => true
      }

    // NOT: rewrite comparisons/boolean structure (De Morgan) and
    // re-evaluate; a not-equal only prunes a single-valued file
    // (reference analog: DataSkippingUtils' Not cases)
    case Not(EqualTo(a, Literal(v, _))) => mayContainOther(a, v, st, schema)
    case Not(EqualTo(Literal(v, _), a)) => mayContainOther(a, v, st, schema)
    // NOT IN skips only a single-valued file whose one value is in the
    // excluded set (i.e. some member v has mayContainOther(v) == false)
    case Not(In(a, vs)) if vs.forall(_.isInstanceOf[Literal]) =>
      vs.forall { case Literal(v, _) => mayContainOther(a, v, st, schema) }
    case Not(child) =>
      negate(child).map(mayMatchImpl(_, st, schema)).getOrElse(true)

    case _ => true // unrecognized shape: keep the file
  }

  /** Logical negation where a sound rewrite exists. */
  private def negate(e: Expression): Option[Expression] = e match {
    case LessThan(a, b)           => Some(GreaterThanOrEqual(a, b))
    case LessThanOrEqual(a, b)    => Some(GreaterThan(a, b))
    case GreaterThan(a, b)        => Some(LessThanOrEqual(a, b))
    case GreaterThanOrEqual(a, b) => Some(LessThan(a, b))
    case IsNull(a)                => Some(IsNotNull(a))
    case IsNotNull(a)             => Some(IsNull(a))
    case Not(x)                   => Some(x)
    case And(l, r)                => Some(Or(Not(l), Not(r)))
    case Or(l, r)                 => Some(And(Not(l), Not(r)))
    case _                        => None
  }

  /** May the file contain a non-null row with value ≠ v? False only for
    * a provably single-valued file whose one value IS v (null rows never
    * satisfy `col != v` either, so they don't block the skip). */
  private def mayContainOther(a: Expression, v: Any, st: WriteStat, schema: StructType): Boolean =
    if (v == null) true
    else (cmpMin(a, v, st, schema), cmpMax(a, v, st, schema)) match {
      case (Some(0), Some(0)) => false
      case _                  => true
    }

  /** One stats entry whose `fields` stats cover every file of `files`
    * (min of mins, max of maxes, summed null and row counts). A field
    * some file has no stats for, or whose type has no order here, is
    * left out: the bucket is then kept, never pruned. */
  private[read] def cover(files: Seq[WriteStat], fields: Seq[String],
      schema: StructType): WriteStat = {
    // x or y, whichever is the lower (upper) bound; None when unordered
    def pick(dt: DataType, x: String, y: String, takeLower: Boolean): Option[String] =
      if (x == null || x == y) Some(y)
      else if (y == null) Some(x)
      else scala.util.Try(internal(dt, y)).toOption
        .flatMap(compare(dt, x, _))
        .map(c => if ((c <= 0) == takeLower) x else y)
    val covered = fields.flatMap { f =>
      schema.fields.find(_.name == f).flatMap { sf =>
        // one pass, allocation-free while files repeat the bounds so far
        // (the common case: one value per partition path)
        val it = files.iterator
        var lo, hi: String = null
        var nulls = 0L
        var ok = true
        while (ok && it.hasNext) {
          val cs = it.next().columnStats.getOrElse(f, null)
          if (cs == null) ok = false
          else {
            nulls += cs.nullCount
            if (cs.min != lo || cs.max != hi) {
              val l = pick(sf.dataType, lo, cs.min, takeLower = true)
              val h = pick(sf.dataType, hi, cs.max, takeLower = false)
              ok = l.isDefined && h.isDefined
              lo = l.orNull; hi = h.orNull
            }
          }
        }
        Option.when(ok)(f -> ColStat(lo, hi, nulls))
      }
    }
    var rows = 0L
    files.foreach(rows += _.rows)
    files.head.copy(rows = rows, columnStats = covered.toMap)
  }

  /** A stat bound string as the Catalyst internal value [[compare]]
    * takes for a literal of type `dt`. */
  private def internal(dt: DataType, s: String): Any = dt match {
    case _: TimestampType | _: TimestampNTZType => micros(s)
    case DateType    => java.time.LocalDate.parse(s).toEpochDay.toInt
    case BooleanType => s.toBoolean
    case _           => s
  }

  /** Micros since epoch of a session-formatted "yyyy-MM-dd HH:mm:ss[.f]". */
  private def micros(s: String): Long = {
    val ldt = java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
  }

  /** Column name behind an attribute in either resolved or parsed form. */
  private def attrName(e: Expression): Option[String] = e match {
    case a: AttributeReference  => Some(a.name)
    case u: UnresolvedAttribute => Some(u.name)
    case _                      => None
  }

  /** The [min,max,nulls] stat for the referenced column, if tracked. */
  private def statOf(e: Expression, st: WriteStat): Option[ColStat] =
    attrName(e).flatMap {
      case Meta.Key => Some(ColStat(
        if (st.minKey.isEmpty) null else st.minKey,
        if (st.maxKey.isEmpty) null else st.maxKey, 0L))
      case Meta.Partition => Some(ColStat(st.partition, st.partition, 0L))
      case c => st.columnStats.get(c)
    }

  private def rangeContains(a: Expression, v: Any, st: WriteStat, schema: StructType): Boolean =
    if (v == null) false
    else (cmpMin(a, v, st, schema), cmpMax(a, v, st, schema)) match {
      case (Some(lo), Some(hi)) => lo <= 0 && hi >= 0
      case _                    => true
    }

  /** sign of (file min - literal); None = unknown (don't skip). A file
    * whose tracked column is entirely null can't match any comparison. */
  private def cmpMin(a: Expression, v: Any, st: WriteStat, schema: StructType): Option[Int] =
    boundCmp(a, v, st, schema, isMin = true)
  private def cmpMax(a: Expression, v: Any, st: WriteStat, schema: StructType): Option[Int] =
    boundCmp(a, v, st, schema, isMin = false)

  private def boundCmp(
      a: Expression, v: Any, st: WriteStat, schema: StructType,
      isMin: Boolean): Option[Int] = {
    val name = attrName(a).getOrElse(return None)
    val cs = statOf(a, st).getOrElse(return None)
    val bound = if (isMin) cs.min else cs.max
    if (bound == null) return Some(if (isMin) 1 else -1) // all-null: empty range
    val dt: DataType = name match {
      case Meta.Key | Meta.Partition => StringType
      case _ => schema.fields.find(_.name == name).map(_.dataType).getOrElse(return None)
    }
    compare(dt, bound, v)
  }

  /** Typed compare of a string-encoded stat bound against a Catalyst
    * literal's internal value. None when the type isn't comparable here. */
  private[read] def compare(dt: DataType, statStr: String, lit: Any): Option[Int] =
    try dt match {
      case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
           _: FloatType | _: DoubleType | _: DecimalType =>
        val l = lit match {
          case d: Decimal => d.toBigDecimal
          case o          => BigDecimal(o.toString)
        }
        Some(BigDecimal(statStr).compare(l))
      case StringType =>
        Some(CodePointOrder.compare(statStr, lit.toString))
      case _: TimestampType | _: TimestampNTZType =>
        Some(java.lang.Long.compare(micros(statStr), lit.asInstanceOf[Long]))
      case DateType =>
        val days = java.time.LocalDate.parse(statStr).toEpochDay
        Some(java.lang.Long.compare(days, lit.asInstanceOf[Int].toLong))
      case BooleanType =>
        Some(java.lang.Boolean.compare(statStr.toBoolean, lit.asInstanceOf[Boolean]))
      case _ => None
    } catch { case _: Exception => None }
}
