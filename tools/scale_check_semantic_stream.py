"""Measure the semantic-ingest claim: refit sink cost grows with the
corpus, incremental-model sink cost stays flat.

Drives BOTH sinks through the same synthetic feed — EPOCHS epochs of
BATCH deterministic random vectors each (unit-ish gaussians, so dup
pressure is low and the corpus grows ~linearly) — and prints per-epoch
wall time. The refit sink re-fits k-means on the accepted corpus and
re-assigns it every epoch (O(corpus) passes); the model sink absorbs
the batch into the running model and joins stored corpus cells
(O(batch) passes). The trend, not the constant, is the claim.

Usage: python tools/scale_check_semantic_stream.py [EPOCHS] [BATCH]
"""

from __future__ import annotations

import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import numpy as np  # noqa: E402

from retail_data_pipeline_and_forecasting_system_spark.session import (  # noqa: E402
    get_session,
)
from retail_data_pipeline_and_forecasting_system_spark.streaming import (  # noqa: E402
    incremental_semantic_model_sink,
    incremental_semantic_sink,
)

EPOCHS = int(sys.argv[1]) if len(sys.argv) > 1 else 12
BATCH = int(sys.argv[2]) if len(sys.argv) > 2 else 400
DIM = int(sys.argv[3]) if len(sys.argv) > 3 else 32


def main() -> None:
    spark = get_session("semantic_stream_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    rng = np.random.default_rng(3)
    feeds = []
    next_id = 0
    for _ in range(EPOCHS):
        vecs = rng.normal(size=(BATCH, DIM))
        feeds.append(
            [
                (next_id + i, [float(x) for x in vecs[i]])
                for i in range(BATCH)
            ]
        )
        next_id += BATCH

    from retail_data_pipeline_and_forecasting_system_spark.streaming import (
        rebuild_semantic_model,
    )

    REBUILD_EVERY = 3  # the model+rebuild arm's cadence

    results = {}
    rebuild_times = []
    for label, mk in (
        (
            "refit",
            lambda d: incremental_semantic_sink(
                f"{d}/corpus", f"{d}/verdicts", k="auto", salt=None
            ),
        ),
        (
            "model",
            lambda d: incremental_semantic_model_sink(
                f"{d}/corpus", f"{d}/verdicts", f"{d}/model",
                k="auto", salt=None, auto_rebuild=None,
            ),
        ),
        (
            "model+rebuild",
            lambda d: incremental_semantic_model_sink(
                f"{d}/corpus", f"{d}/verdicts", f"{d}/model",
                k="auto", salt=None, auto_rebuild=None,
            ),
        ),
        (
            # the self-healing arm: no manual rebuild calls at all —
            # the sink's own auto_rebuild trigger (default 2.0) fires
            # on geometric corpus growth. Its per-epoch trend should
            # track model+rebuild, not the frozen-k "model" arm.
            "model+auto",
            lambda d: incremental_semantic_model_sink(
                f"{d}/corpus", f"{d}/verdicts", f"{d}/model",
                k="auto", salt=None, auto_rebuild=2.0,
            ),
        ),
    ):
        tmp = tempfile.mkdtemp(prefix=f"sem_{label.replace('+', '_')}_")
        sink = mk(tmp)
        times = []
        for i, rows in enumerate(feeds):
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            )
            t0 = time.perf_counter()
            sink(df, i)
            times.append(time.perf_counter() - t0)
            if label == "model+rebuild" and (i + 1) % REBUILD_EVERY == 0:
                t0 = time.perf_counter()
                rebuild_semantic_model(
                    spark, f"{tmp}/corpus", f"{tmp}/model", epoch=i
                )
                rebuild_times.append(time.perf_counter() - t0)
        results[label] = times

    print(
        f"{'epoch':>6s}{'corpus':>9s}{'refit_s':>9s}{'model_s':>9s}"
        f"{'m+rb_s':>9s}{'m+auto_s':>9s}"
    )
    for i in range(EPOCHS):
        print(
            f"{i:6d}{(i + 1) * BATCH:9d}"
            f"{results['refit'][i]:9.2f}{results['model'][i]:9.2f}"
            f"{results['model+rebuild'][i]:9.2f}"
            f"{results['model+auto'][i]:9.2f}"
        )
    if rebuild_times:
        print(
            f"rebuilds (every {REBUILD_EVERY}): "
            + ", ".join(f"{t:.1f}s" for t in rebuild_times)
        )
    h = EPOCHS // 2
    if h < 2:
        print("trend: needs EPOCHS >= 4 (epoch 0 is skipped)")
        return
    for label, t in results.items():
        first = sum(t[1:h]) / (h - 1)  # skip epoch 0 (init/codegen)
        last = sum(t[h:]) / (EPOCHS - h)
        print(
            f"{label}: mean epoch {first:.2f}s (early) -> {last:.2f}s "
            f"(late), ratio {last / first:.2f}x"
        )


if __name__ == "__main__":
    main()
