package graft.write

/** Minimal foreign-WRITER stand-in for cross-JVM multi-writer tests: a
  * real second process that opens the table at `tableDir`, runs one real
  * upsert through the full OCC publish path (lock provider + commit
  * store come from the stored table config), and reports the verdict on
  * stdout:
  *
  *  - `COMMITTED <instant>` — the write landed
  *  - `CONFLICT`            — lost the OCC race, rolled back cleanly
  *  - `ERROR <class>: <msg>` — anything else (a test failure)
  *
  * It proves the whole commit protocol serializes real writers across
  * process boundaries (reference analog: TestHoodieClientMultiWriter's
  * two-writer scenarios). Test code: `CrossJvmWriterSpec` launches it on
  * the forked test JVM's classpath, which carries the test classes.
  * Usage: `WriterProbe <tableDir> <id>` — upserts key 1 with value
  * `probe<id>`. */
object WriterProbe {
  def main(args: Array[String]): Unit = {
    val Array(tableDir, id) = args
    val spark = graft.Tables.configure(
      org.apache.spark.sql.SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName(s"graft-writer-probe-$id"))
      .getOrCreate()
    try {
      import spark.implicits._
      val tbl = GraftTable.load(spark, tableDir)
      val batch = Seq((1L, s"probe$id", 1000L + id.toLong)).toDF("id", "v", "ts")
      val t = tbl.upsert(batch)
      println(s"COMMITTED $t")
    } catch {
      case _: graft.core.ConcurrentWriteConflictException => println("CONFLICT")
      case e: Throwable => println(s"ERROR ${e.getClass.getName}: ${e.getMessage}")
    } finally spark.stop()
    System.exit(0) // don't let lingering non-daemon threads wedge the probe
  }
}
