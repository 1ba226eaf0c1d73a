"""x42 trainer decade cell (SCALE.md round-11) — bespoke because the
standard harness would meter hits on the session's trained-merges memo
(`caching.state(spark).models`), not training, and the
cell's point is the TRAINER's cost structure:

- end-to-end wall at N=20 merges, 1x vs 10x documents (id-offset
  copies: same vocab, 10x corpus — isolates the corpus-proportional
  stage from the vocab-proportional loop)
- the one corpus-touching stage (word-frequency agg + symbolize)
  vs the per-iteration cost (pair-count agg + literal replace),
  split via an N=1 run: per_iter = (t_N20 - t_N1) / 19
- shuffle-write bytes over one timed run (Spark UI REST)
- the DRIVER-SIDE alternative priced: collect the Zipf-collapsed
  word-frequency table once and train in pure Python — the path a
  real 32k-merge vocab takes, where N sequential Spark jobs lose to
  per-iteration latency no matter how small each job is

Usage: python tools/scale_check_bpe_train.py [--reps 2] [--merges 20]
Prints one table row per (arm, scale); writes nothing permanent.
"""

from __future__ import annotations

import argparse
import re
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

from pyspark.sql import functions as F  # noqa: E402

from retail_data_pipeline_and_forecasting_system_spark.operators import (  # noqa: E402
    bpe as BP,
)
from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (  # noqa: E402
    _t,
)
from retail_data_pipeline_and_forecasting_system_spark.session import (  # noqa: E402
    get_session,
)
from scale_check import SF, _last_job_id, _shuffle_write_bytes, _stage  # noqa: E402


def driver_train(word_freqs: list[tuple[str, int]], n_merges: int):
    """Pure-Python trainer over the COLLECTED word-frequency table —
    the driver-side alternative the cell prices. Naive full recount per
    merge (same as the distributed loop's semantics); a production
    32k-merge trainer additionally keeps incremental pair-count deltas
    (Sennrich's learn_bpe), which only helps this arm."""
    wf = {w: f for w, f in word_freqs if len(w) >= 2}
    words = {w: list(w) for w in wf}
    merges = []
    for k in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            f = wf[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(),
            key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode()),
        )
        merges.append((k, left, right, cnt))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--merges", type=int, default=20)
    args = ap.parse_args()

    spark = get_session(
        "scale-bpe-train", extra_conf={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    N = args.merges

    tmp = Path(tempfile.mkdtemp(prefix="bpe_decade_"))
    print("staging 10x documents ...", file=sys.stderr)
    _stage(spark, tmp / "x10", 10, ["documents"])

    results = {}
    for scale, sf_dir in ((1, SF), (10, str(tmp / "x10"))):
        docs = _t(spark, sf_dir, "documents")
        docs.count()  # warm page cache
        words = docs.select(
            F.explode(
                F.split(
                    F.translate(
                        F.col("text"), BP.ASCII_UPPER, BP.ASCII_LOWER
                    ),
                    BP.WHITESPACE_CLASS,
                )
            ).alias("word")
        ).filter(F.length("word") >= 2)
        wf = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
        n_vocab = wf.count()
        n_occ = words.count()

        best20 = best1 = float("inf")
        shuf = None
        table = None
        for _ in range(args.reps):
            j0 = _last_job_id(app_id)
            t0 = time.perf_counter()
            table = BP.bpe_train(docs, N)
            dt = time.perf_counter() - t0
            if dt < best20:
                best20 = dt
                shuf = _shuffle_write_bytes(app_id, j0)
            t0 = time.perf_counter()
            BP.bpe_train(docs, 1)
            best1 = min(best1, time.perf_counter() - t0)

        # driver-side arm: ship the Zipf-collapsed table once, train
        # in Python (time collect and train separately)
        t0 = time.perf_counter()
        collected = [(r["word"], int(r["freq"])) for r in wf.collect()]
        t_collect = time.perf_counter() - t0
        t0 = time.perf_counter()
        drv = driver_train(collected, N)
        t_driver = time.perf_counter() - t0

        assert [(k, l, r) for k, l, r, _ in table] == [
            (k, l, r) for k, l, r, _ in drv
        ], "distributed and driver-side trainers diverged"

        # N=1 leaves no marginal iterations to price (--merges 1)
        per_iter = (best20 - best1) / (N - 1) if N > 1 else float("nan")
        results[scale] = (
            n_vocab, n_occ, best20, best1, per_iter, shuf,
            t_collect, t_driver,
        )
        print(
            f"x42 {scale}x: vocab={n_vocab} occ={n_occ} "
            f"tN{N}={best20:.2f}s tN1={best1:.2f}s "
            f"per_iter={per_iter:.3f}s shufW={shuf} "
            f"collect={t_collect:.2f}s driver_train={t_driver:.2f}s"
        )

    r1, r10 = results[1], results[10]
    print(
        f"ratios 10x/1x: vocab {r10[0] / r1[0]:.2f} "
        f"tN{N} {r10[2] / r1[2]:.2f} per_iter {r10[4] / r1[4]:.2f} "
        f"driver_train {r10[7] / max(r1[7], 1e-9):.2f}"
    )
    # trained tables at 1x and 10x must be IDENTICAL up to 10x counts
    # (same vocab, same ranks) — the determinism the staging implies
    spark.stop()


if __name__ == "__main__":
    main()
