package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.SparkBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory tracing for the benchmark's traced pass.
  *
  * Spans are opened by the benchmark's own code around each call into a
  * graft layer; the layer is the span name's prefix (`write.upsert` is in
  * `write`). Spark jobs are attached to the innermost open span through a
  * thread-local job property, Catalyst phases to the innermost span whose
  * interval holds them. With `enabled = false` every method is a plain
  * pass-through, so the untraced pass runs the same code with no
  * listener registered. */
final class Trace(spark: SparkSession, enabled: Boolean) {
  import Trace._

  /** Epoch offset of System.nanoTime, so span times compare with the
    * millisecond timestamps Spark's listener events carry. */
  private val epochNs0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nowMs: Double = (System.nanoTime() + epochNs0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  private var stack: List[Span] = Nil
  private var opId = 0
  private var inOp = false
  private var recording = false

  /** True in the traced pass once set-up is over. */
  def active: Boolean = enabled && recording
  /** Id of the latest operation recorded. */
  def currentOp: Int = opId

  /** Start recording: the set-up's events are dropped. */
  def startRecording(): Unit = if (enabled) {
    SparkBus.drain(spark.sparkContext)
    listener.jobs.clear()
    listener.phases.clear()
    recording = true
  }
  private val listener = new Listener
  private var codegenAtStart = 0L

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.qeListener)
  }

  /** Run `body` as one operation: a root span, with its Spark jobs and
    * Catalyst phases drained into the trace before this returns. */
  def op[T](kind: String)(body: => T): T =
    if (!active) body
    else {
      // events of work between operations (checks, batch building) are
      // not any operation's
      SparkBus.drain(spark.sparkContext)
      listener.jobs.clear()
      listener.phases.clear()
      opId += 1
      inOp = true
      codegenAtStart = CodeGenerator.compileTime
      try span(s"op.$kind")(body)
      finally {
        inOp = false
        SparkBus.drain(spark.sparkContext)
        collect()
        codegen(opId) = (CodeGenerator.compileTime - codegenAtStart) / 1e6
      }
    }

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0)
      // spans outside any operation (the core probes) carry op 0
      val s = Span(spans.size + 1, parent, if (inOp) opId else 0, name, nowMs)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Time `body` as a span and also return its wall milliseconds, so the
    * traced pass can keep per-call samples (e.g. the median resolve). */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Codegen compile milliseconds per operation id. */
  private val codegen = mutable.LinkedHashMap.empty[Int, Double]

  private def collect(): Unit = {
    var j = listener.jobs.poll()
    while (j != null) { j.op = opId; jobs += j; j = listener.jobs.poll() }
    var p = listener.phases.poll()
    while (p != null) { p.op = opId; phases += p; p = listener.phases.poll() }
  }

  def codegenMs(op: Int): Double = codegen.getOrElse(op, 0.0)
  def opIds: Seq[Int] = codegen.keys.toSeq

  /** Self time per layer over all operations: each span's duration less
    * the part of it that its children (spans, Spark jobs, Catalyst
    * phases) cover. Jobs count to `spark`, phases to `catalyst`. */
  def selfTimeByLayer: Map[String, Double] = {
    val children = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    def addChild(parent: Int, iv: (Double, Double)): Unit =
      children.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += iv
    spans.foreach(s => if (s.parent != 0) addChild(s.parent, (s.start, s.end)))
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    jobs.foreach { j =>
      j.span.foreach(id => addChild(id, (j.start, j.end)))
      self("spark") += j.end - j.start
    }
    phases.foreach { p =>
      innermost(p.op, p.start, p.end).foreach(s => addChild(s.id, (p.start, p.end)))
      self("catalyst") += p.end - p.start
    }
    spans.foreach { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil).toSeq, s.start, s.end)
      self(layerOf(s.name)) += (s.end - s.start) - covered
    }
    self.toMap
  }

  private def innermost(op: Int, start: Double, end: Double): Option[Span] =
    spans.filter(s => s.op == op && s.start <= start + 1 && s.end >= end - 1)
      .maxByOption(s => (depth(s), s.start))

  private def depth(s: Span): Int = {
    var d = 0; var p = s.parent
    while (p != 0) { d += 1; p = spans(p - 1).parent }
    d
  }

  /** One JSON object per line: spans, then jobs, then Catalyst phases. */
  def dump(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map(s => Json.obj(Seq(
        "type" -> Json.str("span"), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end)))) ++
      jobs.map(j => Json.obj(Seq(
        "type" -> Json.str("job"), "op" -> j.op.toString,
        "span" -> j.span.map(_.toString).getOrElse("null"), "desc" -> Json.str(j.desc),
        "start_ms" -> Json.num(j.start), "end_ms" -> Json.num(j.end),
        "tasks" -> j.tasks.toString, "gc_ms" -> j.gcMs.toString,
        "shuffle_bytes" -> j.shuffleBytes.toString))) ++
      phases.map(p => Json.obj(Seq(
        "type" -> Json.str("phase"), "op" -> p.op.toString, "phase" -> Json.str(p.phase),
        "start_ms" -> Json.num(p.start), "end_ms" -> Json.num(p.end),
        "plan_nodes" -> p.planNodes.toString)))
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit =
    if (enabled) {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener.qeListener)
    }
}

object Trace {
  val SpanProp = "graftbench.span"

  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double) {
    var end: Double = start
  }

  final class JobRec(val id: Int, val span: Option[Int], val desc: String,
      val start: Double, val stages: Set[Int]) {
    var op = 0
    @volatile var end: Double = start
    @volatile var tasks = 0
    @volatile var gcMs = 0L
    @volatile var shuffleBytes = 0L
  }

  final class PhaseRec(val phase: String, val start: Double, val end: Double,
      val planNodes: Int, val scanFiles: Long, val scanRows: Long) {
    var op = 0
  }

  def layerOf(spanName: String): String = spanName.takeWhile(_ != '.')

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Every operator of an executed plan, looking through adaptive
    * execution's wrappers to the final plan. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec        => planNodes(q.plan)
    case other => other +: (other.children.flatMap(planNodes) ++
      other.subqueries.flatMap(planNodes))
  }

  /** Collects jobs (with their tasks, GC and shuffle bytes) and the
    * Catalyst phases of every Dataset action. Events arrive on Spark's
    * listener thread and are handed over through queues. */
  private final class Listener extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[JobRec]()
    val phases = new ConcurrentLinkedQueue[PhaseRec]()
    private val live = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt)
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val j = new JobRec(e.jobId, span, desc, e.time.toDouble, e.stageIds.toSet)
      live.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j != null && e.taskMetrics != null) {
        j.tasks += 1
        j.gcMs += e.taskMetrics.jvmGCTime
        j.shuffleBytes += e.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = live.remove(e.jobId)
      if (j != null) {
        j.end = e.time.toDouble
        j.stages.foreach(stageJob.remove)
        jobs.add(j)
      }
    }

    val qeListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val nodes = planNodes(qe.executedPlan)
        val scans = nodes.filter(_.nodeName.startsWith("Scan"))
        def metric(p: SparkPlan, name: String): Long =
          p.metrics.get(name).map(_.value).getOrElse(0L)
        val files = scans.map(metric(_, "numFiles")).sum
        val rows = scans.map(metric(_, "numOutputRows")).sum
        qe.tracker.phases.foreach { case (name, ph) =>
          // the plan counts ride on the planning phase only
          val planning = name == "planning"
          phases.add(new PhaseRec(name, ph.startTimeMs.toDouble, ph.endTimeMs.toDouble,
            if (planning) nodes.size else 0,
            if (planning) files else 0L, if (planning) rows else 0L))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
  }
}
