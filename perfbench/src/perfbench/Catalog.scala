package perfbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json
  * lists the same names; the self-test checks that the two agree.
  */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_ms" -> "ms",
    "latency_p95_ms" -> "ms",
    "throughput_rps" -> "1/s",
    "retained_mb" -> "MB")

  val perLayer: Seq[(String, String)] =
    Seq("resource", "resources", "bot", "export").map(r => s"api.$r.p50_ms" -> "ms") ++ Seq(
      "api.response_bytes" -> "bytes",
      "api.http_overhead_ms" -> "ms",
      "generator.generate_ms" -> "ms",
      "generator.generate_xes_ms" -> "ms",
      "generator.eventlog_calls" -> "count/op",
      "xes.drain_ms" -> "ms",
      "xes.write_ms" -> "ms",
      "xes.bytes_written" -> "bytes/op",
      "cache.lookup_ms" -> "ms",
      "cache.files_written" -> "count/op") ++
      QueryMix.Queries.flatMap { q =>
        Seq(s"query.$q.wall_s" -> "s", s"query.$q.construct_s" -> "s") ++
          (if (QueryMix.Counted(q)) Seq(s"query.$q.jobs" -> "count") else Nil)
      } ++ Seq(
      "query.mix_wall_s" -> "s",
      "query.construct_s" -> "s",
      "query.exec_s" -> "s",
      "query.construct_jobs" -> "count",
      "spark.jobs_per_request" -> "count",
      "spark.plan_ms" -> "ms",
      "spark.task_wait_ms" -> "ms",
      "spark.stages" -> "count/op",
      "spark.tasks" -> "count/op",
      "spark.executor_cpu_s" -> "s/op",
      "spark.cpu_util" -> "ratio",
      "spark.shuffle_read_mb" -> "MB/op",
      "spark.shuffle_write_mb" -> "MB/op",
      "spark.spill_mb" -> "MB/op",
      "trace.overhead_pct" -> "%")
}
