package perfbench

import scala.jdk.CollectionConverters._

import Harness.{median, percentile}

/** Turns served requests and spans into metric lines. */
object Report {
  /** The percentile for the tail-latency metric; a run must hold at least
    * ten samples beyond it (see [[tailSamplesNeeded]]). */
  val TailP = 0.9
  val tailSamplesNeeded: Int = math.ceil(10 / (1 - TailP)).toInt

  /** Layer that serves each request kind. */
  def layerOf(kind: String): String = kind match {
    case "knn" | "hybrid" => "pipeline"
    case _ => "fts"
  }

  /** End-to-end metrics common to every workload, over the served reads.
    * A failed request counts as the slowest possible: the whole window. */
  def common(reads: Seq[Served], loopS: Double): Seq[Metric] = {
    val lat = reads.map(s => if (s.error.isDefined) loopS * 1000 else s.ms)
    Seq(
      Metric("qps", reads.size / loopS, "1/s"),
      Metric("latency_p50_ms", median(lat), "ms"),
      Metric("latency_p90_ms", percentile(lat, TailP), "ms"))
  }

  def kindP50(reads: Seq[Served], loopS: Double, kind: String, name: String): Metric = {
    val lat = reads.filter(_.kind == kind).map(s => if (s.error.isDefined) loopS * 1000 else s.ms)
    Metric(name, median(lat), "ms")
  }

  private def spansByReq(): Map[Long, Seq[Span]] = Trace.spans.asScala.toSeq.groupBy(_.req)

  /** Per-kind layer metrics for a traced run: build / plan / exec wall
    * time (medians), work counts per request (means), and the pruning
    * ratio of the execute step. */
  def perKind(reads: Seq[Served]): Seq[Metric] = {
    val byReq = spansByReq()
    reads.map(_.kind).distinct.sorted.flatMap { kind =>
      val reqs = reads.filter(r => r.kind == kind && r.error.isEmpty).flatMap(r => byReq.get(r.req))
      val layer = layerOf(kind)
      def phaseMs(pred: Span => Boolean) = median(reqs.map(_.filter(pred).map(_.ms).sum))
      def mean(f: Seq[Span] => Double) = if (reqs.isEmpty) 0.0 else reqs.map(f).sum / reqs.size
      val exec = reqs.flatMap(_.filter(_.name == "exec.run"))
      val sql = reqs.exists(_.exists(_.name == "ext.analyze"))
      // jobs of the build step and of any span opened inside it
      val notBuild = Set("req", "ext.optimize", "ext.physical", "exec.run")
      val build =
        if (sql) Seq(Metric(s"ext.$kind.analyze_ms", phaseMs(_.name == "ext.analyze"), "ms"))
        else Seq(Metric(s"$layer.$kind.build_ms", phaseMs(_.name == s"$layer.build"), "ms"),
          Metric(s"$layer.$kind.build_jobs",
            mean(_.filterNot(s => notBuild(s.name)).map(_.jobs.sum.toDouble).sum), "count"))
      build ++ Seq(
        Metric(s"ext.$kind.optimize_ms", phaseMs(_.name == "ext.optimize"), "ms"),
        Metric(s"ext.$kind.physical_ms", phaseMs(_.name == "ext.physical"), "ms"),
        Metric(s"$layer.$kind.exec_ms", phaseMs(_.name == "exec.run"), "ms"),
        Metric(s"$layer.$kind.jobs", mean(_.map(_.jobs.sum.toDouble).sum), "count"),
        Metric(s"$layer.$kind.tasks", mean(_.map(_.tasks.sum.toDouble).sum), "count"),
        Metric(s"$layer.$kind.task_s", mean(_.map(_.taskNs.sum / 1e9).sum), "s"),
        Metric(s"$layer.$kind.input_rows_per_result",
          exec.map(_.inputRows.sum.toDouble).sum / math.max(1L, exec.map(_.resultRows).sum), "ratio"))
    }
  }

  /** Workload-wide layer metrics over the served reads: the Spark work per
    * request, the plan and build phases, and how busy the cores were while
    * the plans executed. */
  def perWorkload(reads: Seq[Served], cores: Int): Seq[Metric] = {
    val byReq = spansByReq()
    val reqs = reads.filter(_.error.isEmpty).flatMap(r => byReq.get(r.req))
    val n = math.max(1, reqs.size).toDouble
    def sum(f: Span => Double, pred: Span => Boolean = _ => true) =
      reqs.iterator.flatMap(_.iterator.filter(pred)).map(f).sum
    val execWallS = sum(_.ms / 1000, _.name == "exec.run")
    val execTaskS = sum(_.taskNs.sum / 1e9, _.name == "exec.run")
    val execs = reqs.flatMap(_.filter(_.name == "exec.run"))
    def phaseMed(pred: Span => Boolean) = median(reqs.map(_.filter(pred).map(_.ms).sum))
    Seq(
      Metric("ext.optimize_ms", phaseMed(_.name == "ext.optimize"), "ms"),
      Metric("ext.physical_ms", phaseMed(_.name == "ext.physical"), "ms"),
      Metric("exec.build_ms", phaseMed(s => s.name.endsWith(".build") || s.name == "ext.analyze"), "ms"),
      Metric("exec.jobs_per_query", sum(_.jobs.sum.toDouble) / n, "count"),
      Metric("exec.stages_per_query", sum(_.stages.sum.toDouble) / n, "count"),
      Metric("exec.tasks_per_query", sum(_.tasks.sum.toDouble) / n, "count"),
      Metric("exec.task_s_per_query", sum(_.taskNs.sum / 1e9) / n, "s"),
      Metric("exec.shuffle_mb_per_query", sum(_.shuffleBytes.sum / 1048576.0) / n, "MB"),
      Metric("exec.spill_mb", sum(_.spillBytes.sum / 1048576.0), "MB"),
      Metric("exec.busy_frac", if (execWallS > 0) execTaskS / (execWallS * cores) else 0.0, "ratio"),
      Metric("exec.input_rows_per_result",
        execs.map(_.inputRows.sum.toDouble).sum / math.max(1L, execs.map(_.resultRows).sum), "ratio"))
  }

  /** Share of each client's timed-loop wall time covered by request spans. */
  def coverage(reads: Seq[Served], loopS: Double): Double =
    reads.map(_.ms).sum / 1000 / loopS

  def line(m: Metric): String = f"  ${m.name}%-40s ${fmt(m.value)}%16s ${m.unit}"

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).bigDecimal.toPlainString

  /** The result line: the end-to-end metrics when untraced, the per-layer
    * metrics BENCHMARK.json names when traced. */
  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"
}
