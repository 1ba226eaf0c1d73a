"""Benchmark runner for the retail analytics engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload retail --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 1

One run is one process and one closed-loop client on ``local[<cpus>]``:
generate the workload's inputs and expected outputs from the seed, start
the session, make one untimed warm pass (session start plus warm pass is
``setup_s``), then run whole passes until ``--seconds`` have elapsed. Every
pass's outputs are checked after its clock stops; a mismatch or an error
fails that operation (a pass, or one registry query), never the run.

With ``--trace 0`` the last stdout line is the end-to-end metrics; with
``--trace 1`` the passes alternate untraced and traced, and it is the
per-layer metrics from the traced ones (see perfbench/layers.py), with the
tracing overhead. A readable table goes to stderr and a full record
(environment, per-pass samples, the oracle digests, spans) to
``.perfbench_out/``.
A run exits 1 if any output was wrong; ``--workload all`` runs each
workload in its own process and exits 1 if any of them did.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

PACKAGE = "retail_data_pipeline_and_forecasting_system_spark"


def _mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(root: str, work: str) -> dict:
    """Pin cpus, heap and every scratch directory before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    # the engine's 16g default can exceed the machine; 2g is ample for
    # these inputs, and a smaller heap leaves less room for run-to-run
    # drift in how much of it the JVM commits (peak_rss_mb)
    heap_mib = max(1024, min(2048, _mem_total_mib() // 8))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        # the short-lived launcher JVM that spark-submit starts first
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{heap_mib}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    return {"cpus": cpus, "master": f"local[{cpus}]", "heap": f"{heap_mib}m",
            "mem_total_mib": _mem_total_mib(), "tmp": tmp}


def _git_commit(root: str) -> str:
    def read(path: str) -> str:
        with open(path) as f:
            return f.read().strip()

    head = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown (not a git checkout)"
    ref = read(head)
    if ref.startswith("ref: "):
        path = os.path.join(root, ".git", ref[5:])
        return read(path) if os.path.exists(path) else ref
    return ref


class RssSampler(threading.Thread):
    """Peak resident memory of this process's descendants (the JVM and its
    Python workers), sampled from /proc."""

    interval = 0.2  # seconds between samples

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_mb = 0.0
        self.peak_parts: dict = {}  # the peak sample, by command name
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def processes() -> dict[int, tuple[int, int, int, str]]:
        """pid -> (parent pid, virtual size, resident pages, command)."""
        procs = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    head, _, tail = f.read().rpartition(")")
            except OSError:
                continue
            fields = tail.split()
            procs[int(entry)] = (int(fields[1]), int(fields[20]),
                                 int(fields[21]), head.split("(", 1)[1])
        return procs

    @staticmethod
    def descendants(procs=None) -> list[int]:
        procs = RssSampler.processes() if procs is None else procs
        children: dict[int, list[int]] = {}
        for pid, (ppid, *_) in procs.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = [], [os.getpid()]
        while todo:
            for c in children.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> tuple[float, dict]:
        """(total MB, {command: [processes, MB]}) over the descendants.

        A child caught between fork and exec still maps its parent's
        memory (the JVM spawns Python workers this way) and would count it
        twice, so a child whose size equals its parent's is skipped."""
        procs = self.processes()
        total, parts = 0, {}
        for pid in self.descendants(procs):
            ppid, vsize, pages, comm = procs[pid]
            if ppid in procs and procs[ppid][1:3] == (vsize, pages):
                continue
            mb = pages * self._page / 2**20
            total += mb
            part = parts.setdefault(comm, [0, 0.0])
            part[0] += 1
            part[1] += mb
        return total, parts

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            mb, parts = self.sample()
            if mb > self.peak_mb:
                self.peak_mb, self.peak_parts = mb, parts

    def stop(self) -> None:
        self._halt.set()
        self.join()


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def start_session(env: dict, work: str):
    from retail_data_pipeline_and_forecasting_system_spark.session import get_session

    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={env['tmp']} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for it and its Python workers."""
    from pyspark import SparkContext

    pids = RssSampler.descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def run_pass(wl, spark, tr, warm: bool = False) -> tuple[list[str], float]:
    """One pass, then its check: (errors, pass seconds without the check).
    A pass or check that raises fails every operation the pass holds."""
    t = time.perf_counter()
    elapsed = None
    try:
        got = wl.run_pass(spark, tr, warm=warm)
        elapsed = time.perf_counter() - t
        return wl.check(got), elapsed
    except Exception as e:  # the engine failed; record it and go on
        error = f"pass raised {type(e).__name__}: {e}"
        return [error] * wl.operations(), elapsed or time.perf_counter() - t


def measure(wl, spark, tracer, seconds: float):
    """Whole passes until ``seconds`` have elapsed (at least one). With a
    tracer, passes alternate untraced and traced, ending on a traced one."""
    from workloads import NoTrace

    no_trace = NoTrace()
    samples: dict[str, list[float]] = {"untraced": [], "traced": []}
    attempted = failed = 0
    errors: list[str] = []
    start = time.perf_counter()
    while True:
        traced = tracer is not None and len(samples["untraced"]) > len(samples["traced"])
        if traced:
            tracer.pass_no += 1
        errs, elapsed = run_pass(wl, spark, tracer if traced else no_trace)
        samples["traced" if traced else "untraced"].append(elapsed)
        attempted += wl.operations()
        failed += min(len(errs), wl.operations())
        errors += errs
        if time.perf_counter() - start >= seconds and (
            tracer is None or samples["traced"]
        ):
            return samples, attempted, failed, errors


def run_one(args, root: str) -> int:
    sys.path.insert(0, root)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: no {PACKAGE} package under {root}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work", args.workload)
    out_dir = os.path.join(root, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    env = pin_environment(root, work)

    import pyspark

    import layers
    import workloads
    from spans import Tracer

    wl = workloads.WORKLOADS[args.workload]()
    env.update(load_before=os.getloadavg(), commit=_git_commit(root),
               pyspark=pyspark.__version__, python=sys.version.split()[0])
    t = time.perf_counter()
    wl.prepare(work, args.seed)
    prep_s = time.perf_counter() - t

    rss = RssSampler()
    rss.start()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(env, work)
        session_s = time.perf_counter() - t
        env["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        warm_errors, warm_s = run_pass(wl, spark, workloads.NoTrace(), warm=True)
        tracer = Tracer(spark) if args.trace else None
        samples, attempted, failed, errors = measure(wl, spark, tracer, args.seconds)
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop()
    env["load_after"] = os.getloadavg()

    untraced = samples["untraced"]
    q1, pass_s, q3 = quartiles(untraced)
    end_to_end = {
        "setup_s": (session_s + warm_s, "s"),
        "pass_s": (pass_s, "s"),
        "lines_per_s": (wl.lines / pass_s, "1/s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    per_layer = {}
    if args.trace:
        per_layer = layers.per_layer(
            tracer.spans, wl, session_s=session_s, cpus=env["cpus"],
            traced_pass_s=statistics.median(samples["traced"]),
            untraced_pass_s=pass_s,
        )
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "prepare_s": prep_s,
        "session_s": session_s, "warm_pass_s": warm_s,
        "warm_errors": warm_errors, "passes": samples,
        "peak_rss_parts": rss.peak_parts,
        "pass_quartiles_s": [q1, pass_s, q3], "input_lines": wl.lines,
        "oracle": wl.want,
        "attempted": attempted, "failed": failed, "errors": errors[:20],
        "end_to_end": end_to_end, "per_layer": per_layer,
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(out_dir, stem + "-spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    report(record, sys.stderr)
    shown = per_layer if args.trace else end_to_end
    correct = failed == 0 and not warm_errors
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }))
    return 0 if correct else 1


def report(rec: dict, out) -> None:
    env = rec["env"]
    samples = rec["passes"]["untraced"]
    q1, q2, q3 = rec["pass_quartiles_s"]
    print(f"# {rec['workload']} seed={rec['seed']} cpus={env['cpus']} "
          f"master={env['master']} heap={env['heap']} commit={env['commit']} "
          f"pyspark={env['pyspark']} java={env.get('java')} "
          f"load {env['load_before'][0]:.2f} -> {env['load_after'][0]:.2f}", file=out)
    print(f"# input: {rec['input_lines']} lines; prepare {rec['prepare_s']:.2f} s; "
          f"passes n={len(samples)} q1={q1:.3f} median={q2:.3f} q3={q3:.3f} s; "
          f"failed {rec['failed']}/{rec['attempted']} "
          f"(failed_frac {rec['failed'] / max(rec['attempted'], 1):.3f})", file=out)
    parts = ", ".join(f"{comm} {n} x {mb:.0f} MB" for comm, (n, mb) in
                      sorted(rec["peak_rss_parts"].items()))
    print(f"# peak rss by process: {parts}", file=out)
    for err in rec["errors"] + rec["warm_errors"]:
        print(f"# MISMATCH {err}", file=out)
    for k, (v, u) in rec["end_to_end"].items():
        print(f"{k:>40} {v:14.4f} {u}", file=out)
    for k, (v, u) in rec["per_layer"].items():
        print(f"{k:>40} {v:14.4f} {u}", file=out)


def run_all(args) -> int:
    """Every workload in its own process; non-zero if any output was wrong."""
    bad = []
    for name in ("retail", "registry"):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
        print(json.dumps({"workload": name, **(result or {"rc": proc.returncode})}))
        if not result or not result["correct"]:
            bad.append(name)
    if bad:
        print(f"perfbench: wrong or missing results from {bad}", file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["retail", "registry", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args, os.getcwd())


if __name__ == "__main__":
    sys.exit(main())
