package graftbench

/** Per-layer metrics of a traced run. Span times and self times are
  * medians over the ops that ran the span; Spark counters (plans.*,
  * engine.*) are per-op means, so a mix of short and long ops keeps its
  * totals. A layer a workload never calls reads 0. */
object Layers {
  /** The per-layer metrics every workload reports (BENCHMARK.json's
    * per_layer list), with units, in report order. Span times of layers
    * only the unlisted workloads call (the mwa flag stages, the catalog
    * queries) follow them as `<span>_s`. */
  val metrics: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.rows_per_s" -> "1/s", "sources.partitions" -> "count",
    "mwa.store_write_s" -> "s", "mwa.store_bytes_ratio" -> "ratio",
    "functions.minhash_s" -> "s", "functions.lsh_bands_s" -> "s",
    "operators.exact_dedup_s" -> "s", "operators.minhash_lsh_s" -> "s",
    "operators.clusters_s" -> "s", "operators.cluster_jobs" -> "count",
    "operators.lsh_pairs" -> "count", "operators.lsh_verified_share" -> "ratio",
    "queries.d11_tail_s" -> "s",
    "plans.analysis_s" -> "s", "plans.optimizer_s" -> "s", "plans.physical_s" -> "s",
    "plans.driver_s" -> "s", "plans.jobs" -> "count", "plans.codegen_compiles" -> "count",
    "engine.task_s" -> "s", "engine.task_cpu_s" -> "s", "engine.gc_s" -> "s",
    "engine.busy_frac" -> "ratio", "engine.shuffle_write_mb" -> "MB",
    "engine.shuffle_read_mb" -> "MB", "engine.spill_mb" -> "MB",
    "engine.peak_task_mem_mb" -> "MB", "engine.tasks" -> "count", "engine.jit_s" -> "s",
    "engine.heap_after_gc_mb" -> "MB",
    "self.op_s" -> "s", "self.sources_s" -> "s", "self.mwa_s" -> "s",
    "self.functions_s" -> "s", "self.operators_s" -> "s", "self.queries_s" -> "s",
    "trace.op_p50_s" -> "s", "trace.untraced_op_p50_s" -> "s", "trace.overhead_s" -> "s")

  def report(tr: Tracer, w: Workload, recs: Seq[OpRec], wall: Double, cores: Int,
             untracedP50: Double, loopStats: Map[String, Double]): Seq[(String, (Double, String))] = {
    tr.drain()
    val spans = tr.spans.toSeq
    // span -1 collects jobs run outside any span (traceExtras below)
    val counters = tr.allCounters.filter(_._1 >= 0)
    val extras = w.traceExtras(tr)
    val ops = recs.map(_.id).toSet
    val opSpans = spans.filter(s => ops.contains(s.op)).groupBy(_.op)
    val nOps = math.max(1, recs.length).toDouble
    def c(s: Span): Option[Counters] = counters.get(s.id)
    val children = spans.groupBy(_.parent)
    def selfTime(s: Span): Double =
      s.dur - Intervals.covered(children.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
        s.start, s.end)

    val v = scala.collection.mutable.LinkedHashMap[String, Double]()
    // span wall time by layer span name: per op sum, median over ops that
    // ran it (the root "op" span is trace.op_p50_s)
    for ((name, ss) <- spans.groupBy(_.name) if name != "op") {
      val perOp = ss.groupBy(_.op).values.map(_.map(_.dur / 1e3).sum).toSeq
      v(s"${name}_s") = Stats.median(perOp)
    }
    for ((layer, _) <- spans.groupBy(_.layer)) {
      val perOp = opSpans.values.map(_.filter(_.layer == layer).map(selfTime(_) / 1e3))
        .filter(_.nonEmpty).map(_.sum).toSeq
      v(s"self.${layer}_s") = Stats.median(perOp)
    }
    def spanStat(name: String)(f: Counters => Double): Double =
      Stats.median(spans.filter(_.name == name).map(s => c(s).fold(0.0)(f)))
    v("sources.partitions") = spanStat("sources.scan")(_.tasks.toDouble)
    v("operators.cluster_jobs") = spanStat("operators.clusters")(_.jobs.toDouble)

    val all = counters.values.toSeq
    def perOp(f: Counters => Double): Double = all.map(f).sum / nOps
    v("plans.analysis_s") = perOp(_.analysisMs / 1e3)
    v("plans.optimizer_s") = perOp(_.optimizerMs / 1e3)
    v("plans.physical_s") = perOp(_.physicalMs / 1e3)
    v("plans.jobs") = perOp(_.jobs.toDouble)
    v("plans.driver_s") = opSpans.values.map { ss =>
      val jobs = ss.flatMap(s => c(s).toSeq.flatMap(_.jobIntervals))
      ss.filter(_.parent < 0).map(r => r.dur - Intervals.covered(jobs, r.start, r.end)).sum / 1e3
    }.sum / nOps
    val taskS = all.map(_.taskMs).sum / 1e3
    v("engine.task_s") = taskS / nOps
    v("engine.task_cpu_s") = perOp(_.cpuNs / 1e9)
    v("engine.gc_s") = perOp(_.gcMs / 1e3)
    v("engine.busy_frac") = taskS / (wall * cores)
    v("engine.shuffle_write_mb") = perOp(_.shuffleWrite / 1048576.0)
    v("engine.shuffle_read_mb") = perOp(_.shuffleRead / 1048576.0)
    v("engine.spill_mb") = perOp(_.spill / 1048576.0)
    v("engine.peak_task_mem_mb") = (0L +: all.map(_.peakMem)).max / 1048576.0
    v("engine.tasks") = perOp(_.tasks.toDouble)
    val tracedP50 = Stats.median(recs.map(r => if (r.ok) r.seconds else Double.PositiveInfinity))
    v("trace.op_p50_s") = tracedP50
    v("trace.untraced_op_p50_s") = untracedP50
    v("trace.overhead_s") = tracedP50 - untracedP50
    v ++= extras
    v ++= loopStats
    val listed = metrics.map(_._1).toSet
    metrics.map { case (n, u) => n -> (v.getOrElse(n, 0.0), u) } ++
      v.keys.toSeq.filterNot(listed).sorted.map(n => n -> (v(n), "s"))
  }
}
