"""Self-tests of the benchmark's own parts.

Run from the root of a checkout:

    python3 -m pytest perfbench/test_selftest.py -q

The Spark test starts one session the way the runner does (so
``spark.ui.enabled=false``) and shows that a traced pass over a tiny corpus
fills the per-layer metrics from the status stores, with correct outputs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

import corpus
import layers
import run
import workloads
from spans import Tracer, parse_metric

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_oracle_litmus_and_invariants():
    assert corpus.selfcheck().startswith("ok:")


def test_parse_metric_forms():
    dist = ("total (min, med, max (stageId: taskId))\n"
            "1.5 m (2.0 s, 3.1 s, 10.2 s (stage 2.0: task 3))")
    assert parse_metric(dist) == (90.0, 3.1, 10.2)
    assert parse_metric("4,150") == (4150.0, 4150.0, 4150.0)
    assert parse_metric("16.0 MiB")[0] == 16 * 2**20
    assert parse_metric(None) == (0.0, 0.0, 0.0)


def test_benchmark_json_names_match_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [m["name"] for m in doc["per_layer"]] == list(layers.METRICS)
    assert {m["name"] for m in doc["end_to_end"]} == {
        "setup_s", "pass_s", "lines_per_s", "peak_rss_mb"}
    assert [w["name"] for w in doc["workloads"]] == list(workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    env = run.pin_environment(ROOT, work)
    sys.path.insert(0, ROOT)
    session = run.start_session(env, work)
    yield session, work
    run.stop_session(session)
    shutil.rmtree(work, ignore_errors=True)


def test_traced_pass_fills_layers_with_ui_disabled(spark):
    session, work = spark
    assert session.conf.get("spark.ui.enabled") == "false"
    wl = workloads.Retail()
    wl.days, wl.tx_per_day = 3, 200
    wl.warm_days, wl.warm_tx_per_day = 2, 100
    wl.prepare(work, seed=5)
    tracer = Tracer(session)
    tracer.pass_no = 1
    assert wl.check(wl.run_pass(session, tracer)) == []
    # every completed stage and SQL execution of a span's jobs was harvested
    assert tracer.missed() == []
    got = {k: v for k, (v, _) in layers.per_layer(
        tracer.spans, wl, session_s=1.0, cpus=4,
        traced_pass_s=2.0, untraced_pass_s=1.0).items()}
    for name in ("sources.scan_rows", "sources.write_mb", "sources.files_written",
                 "depletion.rows", "depletion.arrow_mb_in",
                 "depletion.python_run_s", "depletion.kernel_runs_per_pass",
                 "retail.jobs_per_pass", "retail.shuffle_mb", "staged.process_s",
                 "incremental.refresh_s", "spark.task_s"):
        assert got[name] > 0, name
    # the batch pipeline's kernel output is one row per kept line
    assert got["depletion.rows"] >= wl.want["order_line_items"]["rows"]
