package graft.perfbench

/** The metric names and units of BENCHMARK.json, and the arithmetic that
  * turns op records into them. An untraced run prints every end-to-end
  * metric; a traced run prints every per-layer metric, with 0 for the
  * metrics its workload declares it does not load. */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_s" -> "s", "latency_p90_s" -> "s",
    "throughput_ops_s" -> "1/s", "cpu_s_per_op" -> "s", "space_amp" -> "ratio",
    "retained_heap_mb" -> "MiB")

  val Kernels: Seq[String] = Seq("cosine_sim", "pq_adc_distance", "int_l2_sq",
    "trigram_counts", "trigram_profile_hits")

  val Buckets: Seq[String] = Seq("sel1", "sel10", "sel50", "sel100")

  val PerLayer: Seq[(String, String)] = Seq(
    "error_rate" -> "ratio",
    "commit_p50_s" -> "s", "commit_p90_s" -> "s", "write_rows_s" -> "rows/s",
    "freshness_p90_s" -> "s",
    "plans.plan_ms_per_op" -> "ms", "plans.plan_share" -> "ratio",
    "operators.build_ms_per_op" -> "ms", "operators.barrier_jobs_per_op" -> "count",
    "operators.relational.p50_s" -> "s") ++
    Kernels.flatMap(k => Seq(s"functions.$k.ns_per_row" -> "ns",
      s"functions.$k.hof_ns_per_row" -> "ns")) ++ Seq(
    "exec.task_cpu_s_per_op" -> "s", "exec.task_run_s_per_op" -> "s",
    "exec.task_gc_s_per_op" -> "s", "exec.tasks_per_op" -> "count",
    "exec.stages_per_op" -> "count", "exec.shuffle_read_mb_per_op" -> "MiB",
    "exec.shuffle_write_mb_per_op" -> "MiB", "exec.spill_mb_per_op" -> "MiB",
    "exec.sched_wait_ms_per_op" -> "ms", "exec.core_util" -> "ratio",
    "sources.objects_total" -> "count", "sources.objects_scanned_per_op" -> "count",
    "sources.prune_ratio" -> "ratio", "sources.bytes_scanned_mb_per_op" -> "MiB",
    "sources.rows_out_per_op" -> "rows", "sources.rows_out_per_result_row" -> "ratio",
    "sources.footer_ops" -> "count", "sources.reader_agg_ops" -> "count") ++
    Buckets.map(b => s"sources.pushdown_speedup.$b" -> "ratio") ++ Seq(
    "sources.write_ms_per_commit" -> "ms", "sources.objects_written_per_commit" -> "count",
    "sources.bytes_written_mb_per_commit" -> "MiB", "sources.commit_conflicts" -> "count",
    "sources.compact_ms" -> "ms", "sources.objects_live" -> "count",
    "streaming.batch_ms_p50" -> "ms", "streaming.rows_per_batch" -> "rows",
    "streaming.batches" -> "count",
    "jvm.gc_pause_s" -> "s", "jvm.stime_ratio" -> "ratio", "trace.overhead" -> "ratio")

  /** Per-layer metrics only the scan workload measures: the kernel
    * phase and the selectivity curve. */
  val ScanLayers: Set[String] =
    (Kernels.flatMap(k => Seq(s"functions.$k.ns_per_row", s"functions.$k.hof_ns_per_row")) ++
      Buckets.map(b => s"sources.pushdown_speedup.$b")).toSet

  /** Per-layer metrics only the ingest workload measures: commits and
    * the change feed. */
  val WriteLayers: Set[String] = Set("commit_p50_s", "commit_p90_s", "write_rows_s",
    "freshness_p90_s", "sources.write_ms_per_commit", "sources.objects_written_per_commit",
    "sources.bytes_written_mb_per_commit", "sources.commit_conflicts", "sources.compact_ms",
    "sources.objects_live", "streaming.batch_ms_p50", "streaming.rows_per_batch",
    "streaming.batches")

  private val MiB = 1048576.0

  /** p90 under the sample rule, or an error naming the shortfall. */
  def p90(name: String, xs: Seq[Double]): Double =
    Stats.percentile(xs, 0.9).getOrElse(throw new IllegalStateException(
      s"$name: ${xs.size} samples leave fewer than ${Stats.MinBeyond} beyond p90; " +
        "the window is too short for this host"))

  /** Median of a non-empty sample, or an error naming the metric. */
  def p50(name: String, xs: Seq[Double]): Double =
    if (xs.isEmpty) throw new IllegalStateException(s"$name: no samples")
    else Stats.median(xs)

  /** End-to-end metrics of an untraced window over `ops` (the workload's
    * query ops). */
  def endToEnd(ops: Seq[OpRecord], windowS: Double, cpuS: Double, setupS: Double,
      spaceAmp: Double, heapMb: Double): Map[String, Double] = {
    val lat = ops.filter(_.ok).map(_.latencyS)
    Map(
      "setup_s" -> setupS,
      "latency_p50_s" -> Stats.median(lat),
      "latency_p90_s" -> p90("latency_p90_s", lat),
      "throughput_ops_s" -> lat.size / windowS,
      "cpu_s_per_op" -> cpuS / lat.size,
      "space_amp" -> spaceAmp,
      "retained_heap_mb" -> heapMb)
  }

  /** Per-layer metrics common to every workload, from the traced query
    * and write ops of a traced run. `tracedWallS` is the time tracing
    * was on. `trace.overhead` compares traced and untraced query ops. */
  def layers(queryOps: Seq[OpRecord], writeOps: Seq[OpRecord], listener: ExecListener,
      cores: Int, tracedWallS: Double): Map[String, Double] = {
    val traced = queryOps.filter(o => o.traced && o.ok)
    val ops = traced ++ writeOps.filter(o => o.traced && o.ok)
    val n = ops.size
    if (n == 0) throw new IllegalStateException("no traced op completed")
    val counters = ops.flatMap(o => Seq(o.group, o.buildGroup)).distinct.map(listener.counters)
    def sumC(f: listener.Counters => Long): Double = counters.map(f).sum.toDouble
    val scanOps = ops.filter(_.scan.isDefined)
    val scans = scanOps.flatMap(_.scan)
    if (scans.isEmpty) throw new IllegalStateException("no traced op scanned graft-objects")
    val scanned = scans.map(_.objectsScanned).sum.toDouble
    val total = scans.map(_.objectsTotal).sum.toDouble
    val rowsOut = scans.map(_.rowsOut).sum.toDouble
    val runS = sumC(_.runMs) / 1000
    Map(
      "plans.plan_ms_per_op" -> ops.map(_.planS).sum * 1000 / n,
      "plans.plan_share" -> ops.map(_.planS).sum / ops.map(_.latencyS).sum,
      "operators.build_ms_per_op" -> ops.map(_.buildS).sum * 1000 / n,
      "operators.barrier_jobs_per_op" ->
        ops.map(o => listener.counters(o.buildGroup).jobs).sum.toDouble / n,
      "operators.relational.p50_s" ->
        p50("operators.relational.p50_s", traced.filter(_.kind == "relational").map(_.latencyS)),
      "exec.task_cpu_s_per_op" -> sumC(_.cpuNs) / 1e9 / n,
      "exec.task_run_s_per_op" -> runS / n,
      "exec.task_gc_s_per_op" -> sumC(_.gcMs) / 1000 / n,
      "exec.tasks_per_op" -> sumC(_.tasks) / n,
      "exec.stages_per_op" -> sumC(_.stages) / n,
      "exec.shuffle_read_mb_per_op" -> sumC(_.shuffleRead) / MiB / n,
      "exec.shuffle_write_mb_per_op" -> sumC(_.shuffleWrite) / MiB / n,
      "exec.spill_mb_per_op" -> sumC(_.spill) / MiB / n,
      "exec.sched_wait_ms_per_op" -> sumC(_.schedMs) / n,
      "exec.core_util" -> runS / (tracedWallS * cores),
      "sources.objects_scanned_per_op" -> scanned / scanOps.size,
      "sources.prune_ratio" -> (1 - scanned / total),
      "sources.bytes_scanned_mb_per_op" -> scans.map(_.bytesScanned).sum / MiB / scanOps.size,
      "sources.rows_out_per_op" -> rowsOut / scanOps.size,
      "sources.rows_out_per_result_row" -> rowsOut / math.max(1L, scanOps.map(_.resultRows).sum),
      "sources.footer_ops" -> scans.count(_.footerAgg).toDouble,
      "sources.reader_agg_ops" -> scans.count(_.readerAgg).toDouble,
      "trace.overhead" -> p50("trace.overhead", traced.map(_.latencyS)) /
        p50("trace.overhead", queryOps.filter(o => !o.traced && o.ok).map(_.latencyS)))
  }

  /** The result line: `{"correct":…,"attempted":…,"failed":…,"metrics":{…}}`. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      names: Seq[(String, String)], values: Map[String, Double],
      notLoaded: Set[String] = Set.empty): String = {
    val ms = names.map { case (n, u) =>
      val v = values.get(n).orElse(if (notLoaded(n)) Some(0.0) else None)
        .getOrElse(throw new IllegalStateException(s"metric $n was not measured"))
      if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"metric $n is $v")
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> Json.obj(ms)))
  }
}
