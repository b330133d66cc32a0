package graft.perfbench

/** Every per-layer metric, printed by every traced run. A layer that a
  * workload's timed operation never calls reads 0 there. */
object Layers {
  val flight: Seq[String] = Seq(
    "ingest.scan_s", "ingest.clean_self_s", "ingest.write_self_s", "ingest.rows_per_s",
    "ingest.input_bytes", "ingest.output_bytes", "ingest.fact_bytes_per_raw_byte",
    "ingest.tasks", "ingest.task_skew",
    "aggregate.s", "aggregate.wide_s", "aggregate.airline_monthly_s",
    "aggregate.airport_performance_s", "aggregate.jobs", "aggregate.fact_scans",
    "aggregate.broadcasts", "aggregate.shuffle_bytes", "aggregate.spill_bytes")
  val dashboard: Seq[String] = Seq(
    "dashboard.kpi_ms", "dashboard.ranking_ms", "dashboard.trend_ms", "dashboard.pie_ms",
    "dashboard.geo_ms", "dashboard.plan_ms_per_interaction", "dashboard.p95_ms")
  val mix: Seq[String] = OperatorMix.queries.flatMap(q => Seq(s"mix.${q}_s", s"mix.${q}_jobs")) ++
    Seq("mix.shuffle_bytes", "mix.spill_bytes", "mix.task_skew")
  val runtime: Seq[String] = Seq("spark.cpu_s", "spark.gc_s", "spark.jit_s", "spark.jobs",
    "spark.stages", "spark.codegen_compiles", "spark.codegen_ms", "ops")

  val all: Seq[String] = flight ++ dashboard ++ mix ++ runtime

  def unit(name: String): String = name.split('.').last match {
    case "rows_per_s" => "rows/s"
    case s if s.endsWith("_ms") || s.endsWith("ms_per_interaction") => "ms"
    case s if s == "s" || s.endsWith("_s") => "s"
    case s if s.endsWith("bytes") => "B"
    case "fact_bytes_per_raw_byte" | "task_skew" => "ratio"
    case _ => "count"
  }
}
