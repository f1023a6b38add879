package graftbench

/** Per-layer metrics of a traced run, from the span tree. Times and
  * counts are per pass (one pass of the query list, or one store cycle),
  * so they read on the same scale as `pass_s`. Workloads that never
  * reach a layer report zero for it.
  */
object Layers {

  val StoreNames: Seq[(String, String)] = Seq(
    "stmt_append_ms" -> "ms", "fpx_append_ms" -> "ms", "ingest_stmts_per_s" -> "1/s",
    "bytes_written_mb" -> "MB", "files_written" -> "count", "write_amp" -> "ratio",
    "lookup_p50_ms" -> "ms", "lookup_p90_ms" -> "ms", "rows_scanned_per_row" -> "ratio",
    "scan_p50_ms" -> "ms", "versions_ratio" -> "ratio", "store_files" -> "count",
    "pop_ms" -> "ms", "compact_stmt_ms" -> "ms", "compact_fpx_ms" -> "ms",
    "compact_s" -> "s")

  def metrics(ctx: Ctx, w: Workload): Seq[(String, (Double, String))] = {
    val spans = ctx.tracer.spans
    val passes = math.max(1, ctx.passWalls.size).toDouble
    val roots = ctx.ops.flatMap(o => Option(o.span)).toSeq
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    def under(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).toSeq.flatMap(k => k +: under(k))
    val phases = roots.flatMap(r => kids.getOrElse(r.id, Nil))
    val jobs = roots.flatMap(under).filter(_.name == "job")
    val self = Tracer.selfNs(spans.toSeq)
    def ms(ns: Double): Double = ns / 1e6
    def durMs(ss: Seq[Span]): Double = ms(ss.map(_.durNs.toDouble).sum)
    def selfMs(ss: Seq[Span]): Double = ms(ss.map(s => self(s.id).toDouble).sum)
    def jobSum(ss: Seq[Span], k: String): Double = ss.map(_.attrs.getOrElse(k, 0.0)).sum
    def opSum(k: String): Double = roots.map(_.attrs.getOrElse(k, 0.0)).sum
    def layer(l: String) = phases.filter(_.layer == l)
    def layerJobs(l: String) = jobs.filter(_.layer == l)
    val opWallMs = durMs(roots)
    val taskRun = jobSum(jobs, "task_run_ms")
    val (shuffles, broadcasts) = w match {
      case r: Registry => r.planTotals
      case _ => (0.0, 0.0)
    }
    val store = w.storeMetrics().toMap
    def per(x: Double) = x / passes
    val base: Seq[(String, (Double, String))] = Seq(
      "traced_pass_s" -> (Stats.median(ctx.passWalls.toSeq), "s"),
      "query_p90_ms" -> (Stats.quantile(w.queryMs, 0.9), "ms"),
      "phase_cover" -> (durMs(phases) / opWallMs, "ratio"),
      "op_self_ms" -> (per(selfMs(roots)), "ms"),
      "session_ms" -> (ctx.sessionMs, "ms"),
      "table_load_ms" -> (per(durMs(layerJobs("tables"))), "ms"),
      "table_load_jobs" -> (per(layerJobs("tables").size), "count"),
      "build_ms" -> (per(durMs(layer("build"))), "ms"),
      "build_self_ms" -> (per(selfMs(layer("build"))), "ms"),
      "build_jobs" -> (per(layerJobs("build").size), "count"),
      "rdds_pinned_delta" -> (per(opSum("rdds_pinned_delta")), "count"),
      "plan_ms" -> (per(durMs(layer("plan"))), "ms"),
      "plan_self_ms" -> (per(selfMs(layer("plan"))), "ms"),
      "plan_shuffles" -> (per(shuffles), "count"),
      "plan_broadcasts" -> (per(broadcasts), "count"),
      "exec_ms" -> (per(durMs(layer("exec"))), "ms"),
      "exec_self_ms" -> (per(selfMs(layer("exec"))), "ms"),
      "exec_jobs" -> (per(layerJobs("exec").size), "count"),
      "store_ms" -> (per(durMs(layer("store"))), "ms"),
      "store_self_ms" -> (per(selfMs(layer("store"))), "ms"),
      "store_jobs" -> (per(layerJobs("store").size), "count"),
      "stages" -> (per(jobSum(jobs, "stages")), "count"),
      "tasks" -> (per(jobSum(jobs, "tasks")), "count"),
      "task_run_ms" -> (per(taskRun), "ms"),
      "task_cpu_ms" -> (per(jobSum(jobs, "task_cpu_ms")), "ms"),
      "core_busy" -> (taskRun / (opWallMs * ctx.cores), "ratio"),
      "input_rows" -> (per(jobSum(jobs, "input_rows")), "count"),
      "input_mb" -> (per(jobSum(jobs, "input_mb")), "MB"),
      "shuffle_read_mb" -> (per(jobSum(jobs, "shuffle_read_mb")), "MB"),
      "shuffle_write_mb" -> (per(jobSum(jobs, "shuffle_write_mb")), "MB"),
      "codegen_compiles" -> (per(opSum("codegen_compiles")), "count"),
      "codegen_ms" -> (per(opSum("codegen_ms")), "ms"),
      "jit_ms" -> (per(opSum("jit_ms")), "ms"),
      "gc_ms" -> (per(opSum("gc_ms")), "ms"))
    require(roots.nonEmpty, "traced run recorded no operations")
    base ++ StoreNames.map { case (n, u) => n -> store.getOrElse(n, (0.0, u)) }
  }
}
