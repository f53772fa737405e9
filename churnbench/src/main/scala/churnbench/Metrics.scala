package churnbench

/** Every metric the benchmark reports, with its unit. Untraced runs print
  * [[EndToEnd]], traced runs [[PerLayer]]; BENCHMARK.json lists the same
  * names (MetricsSpec keeps the two in step).
  */
object Metrics {

  /** The same three on every workload. An operation is one daily refresh
    * (daily_refresh), one predict request (serve) or one warm pass over
    * the query set (analytics).
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "op_p50_s" -> "s", "ops_per_s" -> "1/s", "setup_s" -> "s")

  val PipelineCalls: Seq[String] =
    Seq("bronze", "silver", "gold", "labels", "export")
  val Tables: Seq[String] =
    Seq("bronze", "bronze_audit", "silver", "gold", "labels")

  val PerLayer: Seq[(String, String)] =
    PipelineCalls.flatMap(c => Seq(s"pipeline.${c}_s" -> "s",
      s"pipeline.${c}_jobs" -> "count")) ++
    Seq("pipeline.snapshot_s" -> "s", "pipeline.snapshot_jobs" -> "count",
      "pipeline.retrain_s" -> "s") ++
    Tables.flatMap(t => Seq(s"tables.${t}_read_s" -> "s",
      s"tables.${t}_read_jobs" -> "count", s"tables.${t}_files" -> "count",
      s"tables.${t}_dirs" -> "count", s"tables.${t}_empty_files" -> "count")) ++
    Seq("tables.bytes_per_day" -> "bytes",
      "tables.lake_bytes_per_raw_byte" -> "ratio",
      "ml.train_s" -> "s", "ml.train_jobs" -> "count",
      "serving.bundle_load_s" -> "s", "serving.store_load_s" -> "s",
      "serving.store_heap_mb" -> "MB", "serving.score_us" -> "us",
      "serving.http_p50_ms" -> "ms", "serving.http_p99_ms" -> "ms") ++
    Analytics.QuerySet.map(q => s"queries.${q}_s" -> "s") ++
    Seq("queries.cold_s" -> "s", "queries.warm_s" -> "s",
      "queries.jobs" -> "count")
}
