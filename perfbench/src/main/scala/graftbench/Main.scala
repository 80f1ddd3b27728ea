package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the trace, the timed
  * samples and the outcome of every check. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long, val workDir: Path,
    startMs: Long) {
  /** Progress note on stderr, in seconds since the run started. */
  def mark(what: String): Unit = System.err.println(
    f"[perfbench] $what at ${(System.currentTimeMillis() - startMs) / 1000.0}%.1f s")

  val samples = new Samples
  var attempted = 0
  var failed = 0
  /** false while the workload sets up and warms up: those operations
    * count to `setup_s`, not to the samples. */
  var timing = false
  val problems = mutable.ArrayBuffer.empty[String]
  /** Digest of the first timed round's outputs; equal between the traced
    * and the untraced pass of one seed. */
  var digest = ""

  /** Run one operation of kind `kind`. A failure is counted and recorded;
    * the run goes on. */
  def op[T](kind: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = trace.op(kind)(body)
      val s = (System.nanoTime() - t0) / 1e9
      if (timing) {
        attempted += 1
        samples.add(kind, s)
      }
      Some(r)
    } catch {
      case NonFatal(e) =>
        if (timing) { attempted += 1; failed += 1 }
        problems += s"$kind failed: $e"
        e.printStackTrace()
        None
    }
  }

  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) problems += msg
}

/** One workload: it builds its inputs, then runs whole rounds of the same
  * operations until the run's time is up, then checks what it produced. */
trait Workload {
  /** Inputs, tables and one untimed warm-up round. */
  def setup(): Unit
  def round(): Unit
  /** End-of-run checks; failures go to `ctx.problems`. */
  def finish(): Unit
  /** Per-layer metrics only this workload can compute (traced pass). */
  def layerMetrics(): Map[String, Double]
}

object Main {
  /** `startMs`: when the benchmark command started (epoch ms); set-up is
    * timed from there. */
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: Path, outDir: Path, startMs: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      workDir = Paths.get(need("work-dir")),
      outDir = Paths.get(need("out-dir")),
      startMs = need("start-ms").toLong)
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "ingest"       => new Ingest(ctx)
    case "read_mostly"  => new ReadMostly(ctx)
    case "llm_pipeline" => new LlmPipeline(ctx)
    case other          => sys.error(s"unknown workload: $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val threads = math.min(4, Runtime.getRuntime.availableProcessors())
    Files.createDirectories(a.workDir)
    var spark: SparkSession = null
    var code = 1
    try {
      spark = graft.Tables.configure(SparkSession.builder()
        .master(s"local[$threads]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", threads.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", a.workDir.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", a.workDir.resolve("warehouse").toString))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val trace = new Trace(spark, a.trace)
      val ctx = new Ctx(spark, trace, a.seed, a.workDir, a.startMs)
      import ctx.mark
      mark("session ready")
      val w = workload(a.workload, ctx)
      w.setup()
      val setupS = (System.currentTimeMillis() - a.startMs) / 1000.0
      mark("set-up done")
      ctx.timing = true
      trace.startRecording()
      val t0 = System.nanoTime()
      var rounds = 0
      while (rounds == 0 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        w.round()
        rounds += 1
      }
      val measuredS = (System.nanoTime() - t0) / 1e9
      mark(s"$rounds rounds measured")
      w.finish()
      trace.close()
      mark("checks done")

      val correct = ctx.problems.isEmpty
      ctx.problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
      val kinds = ctx.samples.names
      println(Json.obj(Seq(
        "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "traced" -> a.trace.toString, "rounds" -> rounds.toString,
        "measured_s" -> Json.num(measuredS), "digest" -> Json.str(ctx.digest),
        "ops" -> Json.obj(kinds.map { k =>
          val xs = ctx.samples(k)
          k -> Json.obj(Seq("n" -> xs.size.toString, "p50_s" -> Json.num(Stats.median(xs))) ++
            Stats.tail(xs).map { case (p, v) => s"p${p}_s" -> Json.num(v) })
        }))))
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) {
          val values = Map(
            "round_s" -> kinds.map(k => Stats.median(ctx.samples(k))).sum,
            "setup_s" -> setupS)
          Layers.EndToEnd.map { case (name, unit) => (name, values(name), unit) }
        } else {
          trace.dump(a.outDir.resolve(s"trace-${a.workload}-seed${a.seed}.jsonl"))
          val self = trace.selfTimeByLayer
          System.err.println("[perfbench] self time per layer (ms per operation): " +
            Layers.SelfLayers.map(l => f"$l=${self.getOrElse(l, 0.0) / ctx.attempted}%.1f").mkString(" "))
          val values = LayerMetrics.common(trace) ++ w.layerMetrics()
          Layers.All.map { case (name, unit) => (name, values.getOrElse(name, 0.0), unit) }
        }
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> ctx.attempted.toString,
        "failed" -> ctx.failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
      code = if (correct) 0 else 1
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        code = 2
    } finally {
      if (spark != null) spark.stop()
      deleteTree(a.workDir)
    }
    System.out.flush()
    sys.exit(code)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
