package perfbench

/** Every metric the benchmark reports, with its unit. The result line
  * of an untraced run carries exactly [[endToEnd]]; a traced run carries
  * exactly [[perLayer]] (zero where the workload does not use a layer).
  */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "alerts_per_s" -> "alerts/s",
    "delivery_p50_ms" -> "ms",
    "delivery_p99_ms" -> "ms",
    "peak_rss_mb" -> "MB")

  /** Filters with their own timing: the live topics and the
    * after-night stages.
    */
  val nightStages: Seq[String] = Seq(
    "ztf.livestream.new_hostless", "ztf.livestream.new_hostless_fast",
    "ztf.livestream.intra_night_hostless",
    "ztf.livestream.intra_night_hostless_fast",
    "ztf.livestream.inter_night_hostless",
    "ztf.livestream.inter_night_hostless_fast",
    "ztf.early_tde_candidates", "ztf.known_tde", "ztf.livestream.magnetic_cvs",
    "ztf.symbiotic_stars", "ztf.dwarf_agn", "ztf.livestream.early_kn_candidates")

  val timedFilters: Seq[String] =
    (Expect.live.map(_._1) ++ nightStages).distinct

  def filterMetric(name: String): String = s"filters.${name}_ms"

  val perLayer: Seq[(String, String)] = Seq(
    "streaming.batches" -> "count",
    "streaming.add_batch_ms" -> "ms",
    "streaming.planning_ms" -> "ms",
    "streaming.source_ms" -> "ms",
    "streaming.commit_ms" -> "ms",
    "notifier.calls" -> "count",
    "notifier.failed" -> "count",
    "notifier.busy_ms" -> "ms",
    "notifier.call_p50_ms" -> "ms",
    "notifier.call_p99_ms" -> "ms",
    "notifier.rows_out" -> "rows",
    "notifier.files_out" -> "count",
    "notifier.bytes_out" -> "bytes",
    "notifier.pass_ratio" -> "ratio",
    "filters.bind_ms" -> "ms",
    "filters.count" -> "count") ++
    timedFilters.map(filterMetric(_) -> "ms") ++ Seq(
    "xmatch.ms" -> "ms",
    "xmatch.catalog_rows" -> "rows",
    "anomaly.topk_ms" -> "ms",
    "classify.histogram_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.task_cpu_ms" -> "ms",
    "spark.task_run_ms" -> "ms",
    "spark.gc_ms" -> "ms",
    "spark.scan_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "spark.plan_ms" -> "ms",
    "spark.codegen_ms" -> "ms",
    "spark.cpu_util" -> "ratio",
    "jvm.driver_cpu_ms" -> "ms",
    "jvm.heap_after_gc_mb" -> "MB",
    "jvm.cached_mb_end" -> "MB",
    "jvm.gc_pause_ms" -> "ms",
    "host.calibration_s" -> "s",
    "host.calibration_par_s" -> "s",
    "delivery.samples" -> "count") ++
    Seq("alerts_per_s", "delivery_p50_ms", "delivery_p99_ms", "peak_rss_mb")
      .map(m => s"tracing.${m}_delta" -> endToEnd.toMap.apply(m))

  /** Linear-interpolated percentile (`q` in [0, 100]). */
  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.size - 1) * q / 100
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
}
