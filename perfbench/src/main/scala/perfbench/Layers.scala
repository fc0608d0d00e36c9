package perfbench

/** Every per-layer metric a traced run reports, with its unit and the
  * direction that is better. A workload reports 0 for the layers it
  * bypasses. `BENCHMARK.json` lists the same names (`--list-layers`
  * prints them in its format). */
object Layers {
  private def s(n: String) = (n, "s", "lower")

  val entries: Seq[(String, String, String)] = Seq(
    s("core.session_s"), ("live_heap_mb", "MB", "lower"), ("failed_share", "ratio", "lower"),
    ("host.loadavg_start", "load", "lower"), ("host.loadavg_end", "load", "lower"),
    ("host.contended", "flag", "lower"), ("process.cpu_share", "ratio", "higher"),
    s("process.gc_s"), ("trace.overhead_share", "ratio", "lower"), s("calls.geomean_s"),
    // cdc_daily
    s("cdc.full_load_s"), s("cdc.daily_refresh_s"), s("io.read_wall_s"),
    ("cdc.lake_files", "count", "lower"), ("cdc.lake_mb", "MB", "lower"),
    ("cdc.day2_divergent_tables", "count", "lower"), ("cdc.day2_revenue_ratio", "ratio", "lower")) ++
    (for (d <- 1 to 2; n <- Seq("cdc.bronze_fact", "cdc.bronze_snapshot", "silver.conform_items",
      "silver.conform_options", "silver.revenue", "gold.run_gold")) yield s(s"$n.d${d}_s")) ++
    CdcDaily.Marts.map(m => s(s"gold.${m.replace('/', '.')}.write_s")) ++
    CdcDaily.Zones.flatMap(z => Seq((s"io.$z.files_written", "count", "lower"), (s"io.$z.mb_written", "MB", "lower"))) ++
    Seq(("silver.order_item_options.rows.d1", "count", "lower"),
      ("silver.order_item_options.rows.d2", "count", "lower")) ++
    Seq("marts", "silver_range", "ltv_user").flatMap(k => Seq(s(s"io.read.${k}_s"),
      (s"io.read.$k.files_read", "count", "lower"), (s"io.read.$k.mb_read", "MB", "lower"))) ++
    (Seq("phase.full_load", "phase.reads", "phase.daily_refresh") ++
      Seq("cdc.bronze_fact", "silver.conform_items", "silver.revenue", "gold.run_gold").map(_ + ".d1") ++
      Seq("phase.pass")).flatMap(counters) ++
    // analytics_mix
    Seq(s("mix.warm_pass_s"), s("bindings.order_revenue_cached_s"),
      ("bindings.cached_rdds_end", "count", "lower")) ++
    AnalyticsMix.Queries.map(q => s(s"query.${q._1}_s")) ++
    AnalyticsMix.Modules.map(m => s(s"${m}_s"))

  private def counters(p: String) = Seq((s"$p.tasks", "count", "lower"),
    (s"$p.shuffle_mb", "MB", "lower"), (s"$p.spill_mb", "MB", "lower"),
    (s"$p.gc_s", "s", "lower"), (s"$p.cpu_share", "ratio", "higher"))

  val all: Seq[(String, String)] = entries.map(e => (e._1, e._2))
  def unit(n: String): String = entries.find(_._1 == n).map(_._2).getOrElse("")
}
