package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Optimization-round tooling: dump `.explain("formatted")` for named
  * bench queries to `plans/<tag>/<query>_<suffix>.txt` so plan-shape
  * claims (Exchange count, join strategy, PushedFilters) are auditable
  * without running Spark. Usage:
  *   sbt "runMain graft.PlanDump <outDir> <suffix> [q1,q2,...]"
  * Defaults to every bench query when no list is given. Write-path
  * queries build their table first (same code path as Bench), so the
  * dumped plan is the final read, not the staged write.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r12")
    val suffix = if (args.length > 1) args(1) else "before"
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else SparkEntry.benchQueries
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch {
            case t: Throwable =>
              System.err.println(s"[plandump] $name failed: ${t.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
