"""Per-layer metrics from the spans of a traced run.

Each metric is a per-pass mean over the traced passes, except
``session.start_s`` (once per run), the ``analytics.*_s`` query times and
``trace.*`` (medians), and ``caching.storage_mb`` (the largest after any
query). Stage figures (executor time, bytes, rows) come from the Spark
jobs each span launched; operator figures from the SQL metrics of the
executions those jobs ran. The span names are the layers' names:
``sources``, ``retail`` (plans.retail), ``forecast``, ``staged``,
``incremental``, ``analytics`` (plans.analytics). A layer a workload does
not touch reads 0.

Which end-to-end metric each should move, and on which workload:

- session.start_s -> setup_s, both workloads
- sources.* scan -> pass_s on retail (JSON, CSV and lake parquet); on
  registry they count the parquet scans of the queries
- sources.* write -> pass_s on retail only; the registry writes nothing
- depletion.* -> pass_s and lines_per_s on retail (the Arrow/pandas
  boundary of operators.depletion; kernel_runs_per_pass is a waste ratio,
  one run per pipeline invocation is ideal); on registry only a5 runs it
- retail.* (every span outside the registry) -> pass_s on retail
- forecast.fit_s -> pass_s on retail, as a small share
- staged.*, incremental.* -> pass_s on retail
- analytics.*, caching.* -> pass_s on registry (caching trades pass_s for
  peak_rss_mb, so read both)
- spark.* -> pass_s and peak_rss_mb, both workloads
- trace.* -> the cost of tracing itself (traced minus untraced pass)
"""

from __future__ import annotations

import statistics

#: the 17 registry queries the registry workload runs, in run order
QUERIES = (
    "s2_parallel_digest", "j1_join_inner_broadcast", "q1_pricing_summary",
    "a1_orders_rollup", "a2_daily_summary", "a5_inventory_depletion",
    "e2_sessionize", "d1_dedup_exact", "d3_minhash_lsh", "n1_ann_bruteforce",
    "x5_tfidf", "w4_window_pack", "j6_range_join", "n3_ann_ivf",
    "q3_shipping_priority", "x7_corpus_curation", "q10_returned_items",
)

METRICS = {
    "session.start_s": "s",
    "sources.scan_mb": "MB",
    "sources.scan_rows": "count",
    "sources.scan_stage_s": "s",
    "sources.write_mb": "MB",
    "sources.files_written": "count",
    "sources.write_s": "s",
    "depletion.python_run_s": "s",
    "depletion.python_start_s": "s",
    "depletion.python_init_s": "s",
    "depletion.arrow_mb_in": "MB",
    "depletion.arrow_mb_out": "MB",
    "depletion.rows": "count",
    "depletion.task_max_over_median": "ratio",
    "depletion.kernel_runs_per_pass": "count",
    "retail.agg_build_s": "s",
    "retail.sort_s": "s",
    "retail.shuffle_mb": "MB",
    "retail.spill_mb": "MB",
    "retail.jobs_per_pass": "count",
    "forecast.fit_s": "s",
    "staged.ingest_s": "s",
    "staged.process_s": "s",
    "staged.report_s": "s",
    "incremental.refresh_s": "s",
    "incremental.rows_scanned_per_new_row": "ratio",
    **{f"analytics.{q}_s": "s" for q in QUERIES},
    "analytics.query_p50_s": "s",
    "analytics.shuffle_mb": "MB",
    "analytics.spill_mb": "MB",
    "analytics.tasks": "count",
    "analytics.parallel_eff": "ratio",
    "caching.persisted_after_query": "count",
    "caching.storage_mb": "MB",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.fetch_wait_s": "s",
    "trace.traced_pass_s": "s",
    "trace.overhead_s": "s",
}

MB = 2**20


def _stage(spans, key):
    return sum(s.get("stages", {}).get(key, 0) for s in spans)


def _sql(spans, prefix, key):
    return sum(
        entry.get(key, 0)
        for s in spans
        for op, entry in s.get("sql", {}).items()
        if op.startswith(prefix)
    )


def _wall(spans, name):
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def per_layer(spans, workload, session_s, cpus, traced_pass_s,
              untraced_pass_s) -> dict[str, tuple[float, str]]:
    spans = [s for s in spans if s["end"] is not None]
    n = max(1, len({s["pass"] for s in spans}))
    analytics = [s for s in spans if s["name"].startswith("analytics.")]
    batch = [s for s in spans if not s["name"].startswith("analytics.")]
    kernel = "FlatMapGroupsInPandas"
    med = _sql(spans, kernel, "task_med_s")
    refresh = [s for s in spans if s["name"] == "incremental.refresh"]
    late = getattr(workload, "late_lines", 0)
    q_times = {
        q: [s["end"] - s["start"] for s in analytics if s["name"] == f"analytics.{q}"]
        for q in QUERIES
    }
    all_q = [t for ts in q_times.values() for t in ts]
    a_wall = sum(all_q)
    cached = [s for s in analytics if "persisted" in s]
    v = {
        "session.start_s": session_s,
        "sources.scan_mb": _stage(spans, "input_b") / MB / n,
        "sources.scan_rows": _stage(spans, "input_rows") / n,
        "sources.scan_stage_s": _stage(spans, "scan_run_s") / n,
        "sources.write_mb": _stage(spans, "output_b") / MB / n,
        "sources.files_written": _sql(spans, "Execute InsertIntoHadoopFsRelation",
                                      "number of written files") / n,
        "sources.write_s": _stage(spans, "write_run_s") / n,
        "depletion.python_run_s": _sql(spans, kernel, "time to run Python workers") / n,
        "depletion.python_start_s": _sql(spans, kernel, "time to start Python workers") / n,
        "depletion.python_init_s":
            _sql(spans, kernel, "time to initialize Python workers") / n,
        "depletion.arrow_mb_in": _sql(spans, kernel, "data sent to Python workers") / MB / n,
        "depletion.arrow_mb_out":
            _sql(spans, kernel, "data returned from Python workers") / MB / n,
        "depletion.rows": _sql(spans, kernel, "number of output rows") / n,
        "depletion.task_max_over_median":
            _sql(spans, kernel, "task_max_s") / med if med else 0.0,
        "depletion.kernel_runs_per_pass": _sql(spans, kernel, "runs") / n,
        "retail.agg_build_s": _sql(batch, "HashAggregate", "time in aggregation build") / n,
        "retail.sort_s": _sql(batch, "Sort", "sort time") / n,
        "retail.shuffle_mb": _stage(batch, "shuffle_write_b") / MB / n,
        "retail.spill_mb": _stage(batch, "spill_b") / MB / n,
        "retail.jobs_per_pass": sum(s.get("jobs", 0) for s in batch) / n,
        "forecast.fit_s": _wall(spans, "forecast.fit") / n,
        "staged.ingest_s": _wall(spans, "staged.ingest") / n,
        "staged.process_s": _wall(spans, "staged.process") / n,
        "staged.report_s": _wall(spans, "staged.report") / n,
        "incremental.refresh_s": _wall(spans, "incremental.refresh") / n,
        "incremental.rows_scanned_per_new_row":
            _stage(refresh, "input_rows") / n / late if late else 0.0,
        **{f"analytics.{q}_s": statistics.median(ts) if ts else 0.0
           for q, ts in q_times.items()},
        "analytics.query_p50_s": statistics.median(all_q) if all_q else 0.0,
        "analytics.shuffle_mb": _stage(analytics, "shuffle_write_b") / MB / n,
        "analytics.spill_mb": _stage(analytics, "spill_b") / MB / n,
        "analytics.tasks": _stage(analytics, "tasks") / n,
        "analytics.parallel_eff":
            _stage(analytics, "run_s") / (a_wall * cpus) if a_wall else 0.0,
        "caching.persisted_after_query":
            statistics.mean(s["persisted"] for s in cached) if cached else 0.0,
        "caching.storage_mb": max((s["storage_mb"] for s in cached), default=0.0),
        "spark.task_s": _stage(spans, "run_s") / n,
        "spark.cpu_s": _stage(spans, "cpu_s") / n,
        "spark.gc_s": _stage(spans, "gc_s") / n,
        "spark.fetch_wait_s": _stage(spans, "fetch_wait_s") / n,
        "trace.traced_pass_s": traced_pass_s,
        "trace.overhead_s": traced_pass_s - untraced_pass_s,
    }
    return {k: (float(v[k]), unit) for k, unit in METRICS.items()}
