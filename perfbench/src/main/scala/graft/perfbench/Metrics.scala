package graft.perfbench

/** Every metric name a run can print; BENCHMARK.json declares the same set
  * with units and bounds (PerfbenchSpec and each run check that they agree).
  */
object Metrics {

  /** Printed by untraced runs, on every workload. */
  val endToEnd: Seq[String] = Seq("setup_s", "run_s", "heap_retained_mb")

  /** Printed by traced runs, on every workload: a layer the workload does
    * not exercise reads 0.
    */
  val perLayer: Seq[String] =
    Seq("analysis_s", "optimization_s", "planning_s", "plan_nodes").map("plans." + _) ++
      Seq("jobs", "stages", "tasks", "single_task_stages", "failed_tasks", "task_run_s",
        "task_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb",
        "block_store_mb", "core_busy").map("spark." + _) ++
      Seq("config_s", "compile_s", "sink_s", "ledger_wait_s", "screen_s", "enumerate_s",
        "bulks", "surfaces", "adslabs", "scored_cheap", "scored_expensive").map("domain." + _) ++
      Seq("cold_s", "warm_s", "computed_rows_cold", "computed_rows_warm", "hit_ratio_warm",
        "files", "mb").map("memo." + _) ++
      Registry.packNames.map("queries.pack_s." + _) ++
      Registry.hot.map("queries.query_s." + _) ++
      Registry.bases.map("ops.build_s." + _) :+
      "trace.overhead_s"

  def names(trace: Boolean): Seq[String] = if (trace) perLayer else endToEnd
}
