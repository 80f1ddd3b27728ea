package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md). */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Static SQL conf sizing Spark's JVM-wide cache of compiled
    * generated classes (Spark's default: 100 entries). */
  val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** Entries graft's working set needs. Distinct classes compiled over
    * one whole benchmark run (seed 11) with an unbounded cache: `ingest`
    * 165, `read_mostly` 221, `llm_pipeline` 137, so a JVM running all
    * three needs about 525. At 100 the LRU evicts the working set every
    * round and each operation recompiles its plans (≈0.2–0.6 s of
    * `catalyst.codegen_ms` per operation); 1024 leaves ~2× headroom. */
  val CodegenCacheEntries = 1024

  /** The warning a session whose codegen cache is smaller than graft's
    * working set deserves, or None. `configured` is the session's value
    * of [[CodegenCacheKey]] (None: unset, i.e. Spark's default of 100). */
  def codegenCacheWarning(configured: Option[String]): Option[String] = {
    val entries = configured.flatMap(_.trim.toIntOption).getOrElse(100)
    Option.when(entries < CodegenCacheEntries)(
      s"$CodegenCacheKey is $entries, below graft's working set of " +
        s"generated classes: every operation recompiles its query code. " +
        s"Start the session with --conf $CodegenCacheKey=$CodegenCacheEntries " +
        "(a static conf: it cannot be changed once the session exists).")
  }

  private val codegenCacheChecked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Log [[codegenCacheWarning]] once per JVM (the cache is JVM-wide),
    * on the first graft table opened in a session that `configure` did
    * not build. */
  private[graft] def warnIfCodegenCacheSmall(spark: SparkSession): Unit =
    if (codegenCacheChecked.compareAndSet(false, true))
      codegenCacheWarning(spark.conf.getOption(CodegenCacheKey))
        .foreach(org.slf4j.LoggerFactory.getLogger(getClass).warn(_))

  /** Standard session config every graft session needs. Current testdata
    * stores events.ts as parquet timestamp[us] (read as timestamp_ntz);
    * the nanosAsLong flag is kept so older TIMESTAMP(NANOS) drops of the
    * same table still load (as long nanos) instead of crashing the scan.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.compression.codec", "snappy")
    .config("spark.sql.adaptive.enabled", "true")
    // fork-free local FS: without libhadoop, stock RawLocalFileSystem
    // forks a `chmod` process per created file (sampled at ~75% of a
    // many-group commit's write wall time) — see
    // graft.core.NioLocalFileSystem. Identical semantics, no forks.
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.core.NioLocalFileSystem].getName)
    // keep compiled query code across operations (see
    // CodegenCacheEntries). Static: CodeGenerator reads it once, when
    // its class initializes, so it must be set when the session is built.
    .config(CodegenCacheKey, CodegenCacheEntries.toString)
}
