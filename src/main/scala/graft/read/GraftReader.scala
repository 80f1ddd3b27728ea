package graft.read

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core._
import graft.write.{GraftTable, Meta}

/** Read-side operators over a graft table (reference analog: the
  * DefaultSource relation zoo, DefaultSource.scala:72-137 — snapshot /
  * read_optimized / incremental / time-travel / point lookup).
  *
  * Scale posture: every file list comes from commit metadata and is
  * scanned through [[GraftTable.readStatsDf]]'s [[GraftFileIndex]]
  * relation (never a storage listing); delta-bearing file groups are
  * merged with a window that shuffles ONLY those groups' rows —
  * delta-free groups stream straight from Parquet with full pushdown.
  * Partition pruning happens before any file is opened by filtering
  * slices on the partition-path column.
  */
class GraftReader(table: GraftTable) {
  import Meta._

  private def spark: SparkSession = table.spark
  private def timeline: Timeline = table.timeline
  private def abs(st: WriteStat): String = table.absPath(st)

  private def emptyWith(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      if (schema.isEmpty) StructType(Nil) else schema)

  /** Latest version of every row in `slices`: delta-free groups stream
    * straight from their base files, delta-bearing groups are merged.
    * `pre` runs on both reads before the merge (a key filter belongs
    * below the merge window). Tombstones are not filtered here. */
  private def latest(
      schema: StructType,
      slices: Seq[FileSlice],
      pre: DataFrame => DataFrame = identity): DataFrame = {
    val (dirty, clean) = slices.partition(_.deltas.nonEmpty)
    val cleanDf = pre(table.readStatsDf(schema, clean.flatMap(_.baseFile)))
    if (dirty.isEmpty) cleanDf
    else cleanDf.unionByName(
      table.mergeLatest(pre(table.readStatsDf(schema, dirty.flatMap(_.allFiles)))))
  }

  /** Snapshot at `asOf` (None = latest). `partitionFilter` prunes file
    * groups before any IO — pass e.g. `Some(Set("p1","p2"))`. */
  def snapshot(
      asOf: Option[String] = None,
      partitions: Option[Set[String]] = None): DataFrame = {
    val snap = Snapshot.resolve(timeline, asOf)
    snapshotOf(snap, table.readSchema(snap), partitions)
  }

  /** Snapshot read over an EXPLICIT resolution — lets callers view table
    * states the timeline does not (yet) expose, e.g. the hypothetical
    * post-commit view handed to pre-commit validators
    * ([[graft.core.Snapshot.applied]]). */
  def snapshotOf(
      snap: Snapshot,
      schema: StructType,
      partitions: Option[Set[String]] = None): DataFrame = {
    if (snap.isEmpty || schema.isEmpty) return emptyWith(schema)
    val slices = partitions match {
      case Some(ps) => snap.slices.filter(s => ps.contains(s.partition))
      case None     => snap.slices
    }
    latest(schema, slices).filter(!col(Deleted))
  }

  /** Read-optimized view: base files only, ignoring pending deltas
    * (reference analog: read_optimized query type). */
  def readOptimized(asOf: Option[String] = None): DataFrame = {
    val snap = Snapshot.resolve(timeline, asOf)
    val schema = table.readSchema(snap)
    if (snap.isEmpty || schema.isEmpty) return emptyWith(schema)
    table.readStatsDf(schema, snap.slices.flatMap(_.baseFile)).filter(!col(Deleted))
  }

  /** Change stream: latest state of every record changed in
    * `(begin, end]` (reference analog: IncrementalRelation.scala:101 —
    * touched file groups from commit metadata, then a commit-time row
    * filter; replaced groups excluded by snapshot resolution). `begin=""`
    * reads from the table's origin. */
  def incremental(
      begin: String,
      end: Option[String] = None,
      /** glob over partition paths (star and ? wildcards) — prunes the touched
        * file groups BEFORE any IO (reference analog:
        * hoodie.datasource.read.incr.path.glob,
        * DataSourceOptions.scala INCR_PATH_GLOB + IncrementalRelation's
        * globPattern filter) */
      partitionGlob: Option[String] = None): DataFrame = {
    require(!table.config.virtualKeys,
      "incremental queries are not functional on a virtualKeys table: row " +
        "commit lineage is file-level and small-file fills rewrite rows " +
        "(reference contract: hoodie.populate.meta.fields=false)")
    val snap = Snapshot.resolve(timeline, end)
    val schema = table.readSchema(snap)
    if (snap.isEmpty || schema.isEmpty) return emptyWith(schema)
    val endT = snap.asOf
    val touched = Snapshot.commitsInRange(timeline, begin, endT)
      .flatMap(_._2.stats).map(s => (s.partition, s.fileId)).toSet
    val globMatch: String => Boolean = partitionGlob match {
      case None    => _ => true
      case Some(g) =>
        // glob → regex: only * and ? are wildcards, everything else literal
        val rx = ("^" + g.flatMap {
          case '*' => ".*"
          case '?' => "."
          case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
          case c => c.toString
        } + "$").r
        p => rx.findFirstIn(p).isDefined
    }
    val slices = snap.slices.filter(s =>
      touched.contains((s.partition, s.fileId)) && globMatch(s.partition))
    latest(schema, slices)
      .filter(col(CommitTime) > begin && col(CommitTime) <= endT && !col(Deleted))
  }

  /** CDC view of `(begin, end]`: the latest version of every key changed
    * in the range, INCLUDING deletes, with a `_g_operation` column —
    * I (key absent at `begin`), U (existed), D (tombstoned) (reference
    * analog: the `_hoodie_operation` meta column,
    * model/HoodieOperation.java:26).
    *
    * Shape: one pruned incremental scan for the changes + one key-only
    * projection of the pre-range snapshot, joined broadcast-ish on key —
    * no full-table rewrite, no driver state. */
  /** `preImage = true` switches to full changelog mode (reference
    * analog: HoodieOperation.UPDATE_BEFORE/-U, UPDATE_AFTER/+U,
    * model/HoodieOperation.java:26-43): updates emit TWO rows — the
    * before image as `-U` (the key's state at `begin`, read from the
    * touched groups' pre-range snapshot) and the after image as `+U`. */
  def incrementalCdc(begin: String, end: Option[String] = None,
      preImage: Boolean = false): DataFrame = {
    require(!table.config.virtualKeys,
      "CDC is not functional on a virtualKeys table (no stored row lineage)")
    val snap = Snapshot.resolve(timeline, end)
    val schema = table.readSchema(snap)
    if (snap.isEmpty || schema.isEmpty)
      return emptyWith(schema).withColumn("_g_operation", lit(""))
    val endT = snap.asOf
    val touched = Snapshot.commitsInRange(timeline, begin, endT)
      .flatMap(_._2.stats).map(s => (s.partition, s.fileId)).toSet
    val slices = snap.slices.filter(s => touched.contains((s.partition, s.fileId)))
    // latest version per key over the touched groups through the table's
    // merge strategy, as the snapshot merges it, but keeping a key's
    // winning tombstone (mergeLatest drops tombstoned keys entirely)
    val latest = table.mergeLatestKeepTombstones(
        table.readStatsDf(schema, slices.flatMap(_.allFiles)))
      .filter(col(CommitTime) > begin && col(CommitTime) <= endT)
    // keys that already existed before the range start -> U, else I
    val prior =
      if (begin.isEmpty) emptyWith(StructType(Seq(
        org.apache.spark.sql.types.StructField("_g_prior_key",
          org.apache.spark.sql.types.StringType))))
      else snapshot(asOf = Some(begin)).select(col(Key).as("_g_prior_key")).distinct()
    val updateOp = if (preImage) "+U" else "U"
    val tagged = latest
      .join(prior, col(Key) === col("_g_prior_key"), "left")
      .withColumn("_g_operation",
        when(col(Deleted), lit("D"))
          .when(col("_g_prior_key").isNotNull, lit(updateOp))
          .otherwise(lit("I")))
      .drop("_g_prior_key")
    if (!preImage || begin.isEmpty) tagged
    else {
      // before images: the updated keys' state at `begin`, read from the
      // pre-range snapshot pruned to the touched partitions
      val updatedKeys = tagged.filter(col("_g_operation") === "+U")
        .select(col(Key).as("_g_uk")).distinct()
      val before = snapshot(asOf = Some(begin),
          partitions = Some(touched.map(_._1)))
        .join(updatedKeys, col(Key) === col("_g_uk"), "left_semi")
        .withColumn("_g_operation", lit("-U"))
      tagged.unionByName(before)
    }
  }

  /** Point lookup by record key: slices pruned by per-file [minKey,maxKey]
    * ranges from commit metadata before any IO (reference analog:
    * HoodieReadClient.readROView :173 + bloom key-range pruning). */
  def pointLookup(keys: Seq[String], asOf: Option[String] = None): DataFrame = {
    val snap = Snapshot.resolve(timeline, asOf)
    val schema = table.readSchema(snap)
    if (snap.isEmpty || schema.isEmpty || keys.isEmpty) return emptyWith(schema)
    val ks = keys.sorted
    // driver-side bloom probe on top of range pruning: a point lookup
    // touches few candidate files, so loading their sidecars on the
    // driver is metadata-scale work that can rule out range-overlapping
    // files entirely (reference analog: bloom check before file read,
    // HoodieBloomIndexCheckFunction.java:57)
    val bloomCache = scala.collection.mutable.Map.empty[String, Option[graft.write.KeyBloom]]
    def bloomMay(st: WriteStat): Boolean =
      !table.config.bloomIndex || st.external || {
        val p = new org.apache.hadoop.fs.Path(abs(st))
        bloomCache.getOrElseUpdate(st.path,
          graft.write.KeyBloom.read(timeline.fileSystem, p)) match {
          case None    => true
          case Some(b) => ks.exists(b.mightContain)
        }
      }
    def mayContain(st: WriteStat): Boolean =
      (st.minKey.isEmpty || ks.exists(k => CodePointOrder.compare(k, st.minKey) >= 0 &&
        CodePointOrder.compare(k, st.maxKey) <= 0)) &&
        bloomMay(st)
    val slices = snap.slices.filter(s =>
      s.baseFile.exists(mayContain) || s.deltas.exists(mayContain))
    latest(schema, slices, _.filter(col(Key).isin(ks: _*))).filter(!col(Deleted))
  }

  /** Filter `incoming` down to rows whose key does NOT yet exist in the
    * table — the dedupe-before-insert primitive (reference analog:
    * SparkRDDWriteClient.filterExists :135 / HoodieReadClient.checkExists
    * :173). One anti-join against the key projection of the live files;
    * only the key/partition columns are read (Parquet column pruning). */
  def filterExists(incoming: DataFrame): DataFrame = {
    val snap = Snapshot.resolve(timeline)
    if (snap.isEmpty) return incoming
    val keyCols = table.config.keyFields
    // membership scope follows the configured INDEX, like the
    // reference's HoodieReadClient.filterExists: (key, partition) under
    // SIMPLE, key alone under GLOBAL — a SIMPLE-index table treats the
    // same key in another partition as a different record
    val global = table.config.partitionFields.isEmpty || table.config.globalIndex
    // the snapshot view applies merge + tombstone semantics (a MOR key
    // deleted by a pending tombstone must count as absent); Catalyst
    // prunes the scan to the key/merge columns
    val existing = snapshot()
      .select(col(Key).as("_existing_key") +:
        (if (global) Nil else Seq(col(Partition).as("_existing_part"))): _*)
      .distinct()
    val keyExpr =
      if (keyCols.size == 1) col(keyCols.head).cast("string")
      else concat_ws(":", keyCols.map(f => col(f).cast("string")): _*)
    val cond =
      if (global) keyExpr === col("_existing_key")
      else keyExpr === col("_existing_key") &&
        table.partitionExpr === col("_existing_part")
    incoming.join(existing, cond, "left_anti")
  }

  /** Data columns only (drop engine meta columns). */
  def dataOnly(df: DataFrame): DataFrame =
    df.drop(Meta.all: _*)
}

object GraftReader {
  def apply(table: GraftTable): GraftReader = new GraftReader(table)
}
