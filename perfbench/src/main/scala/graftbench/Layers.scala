package graftbench

import scala.collection.mutable

import graft.core.Snapshot
import graft.write.GraftTable

/** The metrics a run prints. `EndToEnd` are the untraced pass's; `All`
  * are the traced pass's per-layer metrics. Every traced run prints all
  * of them; a layer a workload does not exercise reads 0. Both lists equal
  * the ones in BENCHMARK.json (LayersSpec checks it). */
object Layers {
  val EndToEnd: Seq[(String, String)] =
    Seq("round_s" -> "s", "setup_s" -> "s")

  val SelfLayers: Seq[String] =
    Seq("op", "core", "write", "read", "services", "llm", "catalyst", "spark")

  val All: Seq[(String, String)] = Seq(
    "core.timeline_ms" -> "ms",
    "core.resolve_ms" -> "ms",
    "core.instants" -> "count",
    "core.slices" -> "count",
    "write.index_probe_ms" -> "ms",
    "write.affected_groups_ms" -> "ms",
    "write.group_plan_ms" -> "ms",
    "write.stage_ms" -> "ms",
    "write.publish_ms" -> "ms",
    "write.undescribed_jobs_ms" -> "ms",
    "write.driver_gap_ms" -> "ms",
    "write.files_per_commit" -> "count",
    "write.groups_touched" -> "count",
    "write.tasks_per_commit" -> "count",
    "write.shuffle_mb_per_commit" -> "MB",
    "write.bytes_per_row" -> "B",
    "write.table_mb" -> "MB",
    "services.compact_bytes_rewritten" -> "B",
    "services.compact_files_in" -> "count",
    "services.compact_files_out" -> "count",
    "services.clean_ms" -> "ms",
    "services.files_cleaned" -> "count",
    "services.archive_ms" -> "ms",
    "read.plan_ms" -> "ms",
    "read.files_read" -> "count",
    "read.files_in_snapshot" -> "count",
    "read.skip_ratio" -> "ratio",
    "read.rows_scanned_per_row_returned" -> "ratio",
    "read.delta_files_merged" -> "count",
    "read.shuffle_mb" -> "MB",
    "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "catalyst.codegen_ms" -> "ms",
    "catalyst.plan_nodes" -> "count",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.gc_ms" -> "ms",
    "llm.normalize_ms" -> "ms",
    "llm.exact_ms" -> "ms",
    "llm.minhash_ms" -> "ms",
    "llm.lsh_candidates" -> "count",
    "llm.lsh_confirmed" -> "count",
    "llm.lsh_useful_ratio" -> "ratio",
    "llm.pq_train_ms" -> "ms",
    "llm.ann_search_ms" -> "ms",
    "llm.tokenize_ms" -> "ms",
    "llm.pack_ms" -> "ms",
    "llm.pack_fill" -> "ratio",
  ) ++ SelfLayers.map(l => s"self.${l}_ms" -> "ms")
}

/** Timeline listing and snapshot resolution of a table, probed before
  * each operation of the traced pass: the core layer's figures. */
final class CoreProbe(trace: Trace) {
  private val samples = new Samples

  def apply(table: GraftTable): Unit = if (trace.active) {
    val tl = table.timeline
    val (inst, tMs) = trace.timed("core.timeline")(tl.instants())
    val (snap, rMs) = trace.timed("core.resolve")(Snapshot.resolve(tl))
    samples.add("timeline", tMs)
    samples.add("resolve", rMs)
    samples.add("instants", inst.size.toDouble)
    samples.add("slices", snap.slices.size.toDouble)
  }

  def metrics: Map[String, Double] = Map(
    "core.timeline_ms" -> LayerMetrics.medianOr0(samples("timeline")),
    "core.resolve_ms" -> LayerMetrics.medianOr0(samples("resolve")),
    "core.instants" -> LayerMetrics.medianOr0(samples("instants")),
    "core.slices" -> LayerMetrics.medianOr0(samples("slices")))
}

/** Files, file groups and bytes per row written by each commit of the
  * traced pass, from its commit metadata; medians over the commits. A
  * commit is read right after it lands, before an archive can move it off
  * the active timeline. */
final class CommitFiles(trace: Trace) {
  private val perCommit = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  def apply(table: GraftTable, time: String): Unit = if (trace.active) {
    table.timeline.completed().find(_.time == time).map(table.timeline.metadataOf).foreach { m =>
      val rows = m.stats.map(_.rows).sum
      perCommit += ((m.stats.size.toDouble, m.stats.map(s => (s.partition, s.fileId)).distinct.size.toDouble,
        if (rows == 0) 0.0 else m.stats.map(_.bytes).sum.toDouble / rows))
    }
  }

  def metrics: Map[String, Double] = Map(
    "write.files_per_commit" -> LayerMetrics.medianOr0(perCommit.map(_._1).toSeq),
    "write.groups_touched" -> LayerMetrics.medianOr0(perCommit.map(_._2).toSeq),
    "write.bytes_per_row" -> LayerMetrics.medianOr0(perCommit.map(_._3).toSeq))
}

/** Per-layer figures derived from the trace alone. */
object LayerMetrics {
  private def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Spark and Catalyst figures per operation, and self time per layer. */
  def common(t: Trace): Map[String, Double] = {
    val ops = t.opIds
    val jobsByOp = t.jobs.groupBy(_.op)
    val phasesByOp = t.phases.groupBy(_.op)
    def perOp(f: Int => Double): Double = mean(ops.map(f))
    def phaseMs(op: Int, phase: String): Double =
      phasesByOp.getOrElse(op, Nil).filter(_.phase == phase).map(p => p.end - p.start).sum
    val self = t.selfTimeByLayer
    Map(
      "spark.jobs" -> perOp(o => jobsByOp.getOrElse(o, Nil).size.toDouble),
      "spark.tasks" -> perOp(o => jobsByOp.getOrElse(o, Nil).map(_.tasks).sum.toDouble),
      "spark.gc_ms" -> perOp(o => jobsByOp.getOrElse(o, Nil).map(_.gcMs).sum.toDouble),
      "catalyst.analysis_ms" -> perOp(phaseMs(_, "analysis")),
      "catalyst.optimization_ms" -> perOp(phaseMs(_, "optimization")),
      "catalyst.planning_ms" -> perOp(phaseMs(_, "planning")),
      "catalyst.codegen_ms" -> perOp(t.codegenMs),
      "catalyst.plan_nodes" -> perOp(o => phasesByOp.getOrElse(o, Nil).map(_.planNodes).sum.toDouble),
    ) ++ Layers.SelfLayers.map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0) / math.max(1, ops.size))
  }

  /** Job time per graft job description, driver gap, tasks and shuffle
    * of each commit operation; means over the commits. */
  def commits(t: Trace, commitOps: Seq[Int]): Map[String, Double] = {
    if (commitOps.isEmpty) return Map.empty
    val jobsByOp = t.jobs.groupBy(_.op)
    val rootOf = t.spans.filter(_.parent == 0).map(s => s.op -> s).toMap
    val rows = commitOps.map { op =>
      val js = jobsByOp.getOrElse(op, mutable.ArrayBuffer.empty)
      def ms(p: String => Boolean) = js.filter(j => p(j.desc)).map(j => j.end - j.start).sum
      val described = Seq("index probe", "affected groups", "group plan", "stage", "publish")
      val root = rootOf(op)
      Map(
        "write.index_probe_ms" -> ms(_.startsWith("graft: index probe")),
        "write.affected_groups_ms" -> ms(_.startsWith("graft: affected groups")),
        "write.group_plan_ms" -> ms(_.startsWith("graft: group plan")),
        "write.stage_ms" -> ms(_.startsWith("graft: stage")),
        "write.publish_ms" -> ms(_.startsWith("graft: publish")),
        "write.undescribed_jobs_ms" -> ms(d => !described.exists(x => d.startsWith(s"graft: $x"))),
        "write.driver_gap_ms" -> ((root.end - root.start) -
          Trace.unionLength(js.map(j => (j.start, j.end)).toSeq, root.start, root.end)),
        "write.tasks_per_commit" -> js.map(_.tasks).sum.toDouble,
        "write.shuffle_mb_per_commit" -> js.map(_.shuffleBytes).sum / 1e6)
    }
    rows.head.keys.map(k => k -> mean(rows.map(_(k)))).toMap
  }
}
