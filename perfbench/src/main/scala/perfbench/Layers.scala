package perfbench

/** The per-layer metrics every workload reports in a traced run, so that
  * one list of names holds for all three workloads. An "op" is the
  * workload's unit of work: a streaming epoch, a served request, or a
  * batch query. */
object Layers {
  def record(out: Outcome, t: Tracer, ops: Seq[String], build: Seq[Double],
      plan: Seq[Double], exec: Seq[Double], gcS: Double,
      overheadShare: Double): Unit = {
    val n = math.max(ops.size, 1).toDouble
    def per(f: OpCounters => Long): Double = sum(t, ops)(f) / n
    out.layer("engine.build_s_p50") = (Stats.median(build), "s")
    out.layer("spark.plan_s_p50") = (Stats.median(plan), "s")
    out.layer("spark.exec_s_p50") = (Stats.median(exec), "s")
    out.layer("spark.jobs_per_op") = (per(_.jobs), "count")
    out.layer("spark.stages_per_op") = (per(_.stages), "count")
    out.layer("spark.tasks_per_op") = (per(_.tasks), "count")
    out.layer("spark.input_bytes_per_op") = (per(_.inputBytes), "B")
    out.layer("spark.shuffle_bytes_per_op") = (per(_.shuffleBytes), "B")
    out.layer("spark.task_cpu_s_per_op") = (per(_.taskCpuNs) / 1e9, "s")
    out.layer("spark.gc_s") = (gcS, "s")
    out.layer("trace.overhead_share") = (overheadShare, "ratio")
    out.info("traced_ops") = ops.size.toString
  }

  /** Counter totals over `ops`, for workload-specific layer metrics. */
  def sum(t: Tracer, ops: Seq[String])(f: OpCounters => Long): Long =
    ops.flatMap(o => Option(t.counters.get(o))).map(f).sum
}
