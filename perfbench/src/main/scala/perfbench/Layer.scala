package perfbench

/** The per-layer metrics a traced run emits, with their units, in output
  * order. Span metrics are per traced pass (median over traced passes); a
  * layer a workload never calls reads 0 there. */
object Layer {
  private val spanTotals = Seq("parse.load_s", "sinks.csv_s", "sinks.jdbc_s",
    "queries.build_s", "plans.plan_s", "queries.exec_s")

  val spanMetrics: Seq[String] = spanTotals ++ (for {
    k <- Seq("queries.build_s", "plans.plan_s", "queries.exec_s")
    q <- Main.Queries
  } yield s"$k.$q")

  val metrics: Seq[(String, String)] =
    Seq("sources.list_s" -> "s", "ids.mint_s" -> "s",
      "parse.kernel_ns_per_byte" -> "ns/byte") ++
    spanMetrics.map(_ -> "s") ++
    Seq("sinks.rows" -> "count", "sinks.csv_bytes" -> "bytes",
      "sinks.csv_bytes_per_log_byte" -> "ratio") ++
    Seq("md5_le64", "minhash_signature", "simhash64", "cosine_sim",
      "cosine_sim_sq8", "bpe_token_count").map(k => s"functions.$k.ns_per_row" -> "ns/row") ++
    Seq("exec.jobs" -> "count", "exec.tasks" -> "count",
      "exec.task_run_s" -> "s", "exec.task_deser_s" -> "s", "exec.gc_s" -> "s",
      "exec.input_bytes" -> "bytes", "exec.shuffle_read_bytes" -> "bytes",
      "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
      "exec.core_busy_frac" -> "ratio", "exec.driver_only_s" -> "s",
      "trace.coverage_frac" -> "ratio", "trace.overhead_frac" -> "ratio")
}
