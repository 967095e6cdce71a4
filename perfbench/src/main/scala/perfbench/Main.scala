package perfbench

/** Entry point: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workdir>`.
  * Prints the end-to-end table (and, traced, the per-layer table), then
  * the result JSON as the last line. Exits non-zero without a result when
  * the workload cannot run. */
object Main {
  /** Metrics BENCHMARK.json lists: reported by every workload. */
  val EndToEnd = Seq("setup_s", "qps", "latency_p50_ms", "index_bytes_ratio", "heap_peak_mb")
  val PerLayer = Seq("core.session_s", "ext.install_ms", "ext.optimize_ms", "ext.physical_ms",
    "exec.build_ms", "exec.jobs_per_query", "exec.stages_per_query", "exec.tasks_per_query",
    "exec.task_s_per_query", "exec.shuffle_mb_per_query", "exec.busy_frac",
    "exec.input_rows_per_result", "fts.create_index_s", "fts.index_bytes")

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work) = args
    val ctx = Ctx(workload, seed.toLong, seconds.toInt, trace == "1", work)
    val outcome = workload match {
      case "fts_serve" => FtsServe.run(ctx)
      case "vector_serve" => VectorServe.run(ctx)
      case "ingest_serve" => IngestServe.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val (checkS, results) = {
      val t0 = System.nanoTime
      val r = outcome.checked.map(s => s -> (s.error.isEmpty && s.check()))
      ((System.nanoTime - t0) / 1e9, r)
    }
    val errors = results.count(_._1.error.isDefined)
    val wrong = results.count { case (s, ok) => s.error.isEmpty && !ok }
    results.filter(r => r._1.error.isEmpty && !r._2).take(5).foreach { case (s, _) =>
      System.err.println(s"perfbench: wrong answer for ${s.kind} request ${s.req}")
    }
    val attempted = results.size
    val failFrac = (errors + wrong).toDouble / math.max(1, attempted)
    val tailN = outcome.reads.size
    println(s"workload ${ctx.workload} seed ${ctx.seed} seconds ${ctx.seconds} trace ${if (ctx.trace) 1 else 0}" +
      s" cores ${ctx.cores} inputs_sha256 ${outcome.inputDigest}")
    println(s"requests $attempted (timed reads $tailN; ten samples beyond p90 need ${Report.tailSamplesNeeded})," +
      s" errors $errors, wrong $wrong, oracle check ${"%.2f".format(checkS)} s")
    println("end-to-end:")
    (outcome.e2e :+ Metric("fail_frac", failFrac, "ratio")).foreach(m => println(Report.line(m)))
    if (ctx.trace) {
      println("per-layer:")
      outcome.layers.foreach(m => println(Report.line(m)))
      println(Report.line(Metric("trace.coverage", Report.coverage(outcome.reads, outcome.loopS), "ratio")))
      // beside the per-run directory, which the launcher deletes
      val spans = java.nio.file.Paths.get(ctx.work).resolveSibling(
        s"spans-${ctx.workload}-seed${ctx.seed}.jsonl").toString
      Trace.write(spans)
      println(s"spans written to $spans")
    }
    val byName = (if (ctx.trace) outcome.layers else outcome.e2e).map(m => m.name -> m).toMap
    val keep = (if (ctx.trace) PerLayer else EndToEnd).map(byName)
    println(Report.json(errors + wrong == 0, attempted, errors + wrong, keep))
    System.out.flush()
    sys.exit(0)
  }
}
