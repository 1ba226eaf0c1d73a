"""Python kernels give the same output when a task is retried.

A separate Spark session (``local[4,3]``: 4 cores, up to 3 attempts per
task, 1 GB driver) runs the greedy depletion kernel and a multimodal
decoder twice over the same input: once clean, and once with a
pass-through ``mapInPandas`` in the kernel's stage that raises on every
task's first attempt, so every task of that stage is run a second time.
The job can only finish by retrying, and both runs must be
byte-identical (Arrow IPC of the sorted output). A subprocess keeps the
retry session apart from the suite's own session and its memory.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from conftest import REPO

SCRIPT = r"""
import hashlib, io, json, sys

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import functions as F

from retail_data_pipeline_and_forecasting_system_spark.operators import multimodal as MM
from retail_data_pipeline_and_forecasting_system_spark.operators.depletion import (
    greedy_inventory_depletion,
)
from retail_data_pipeline_and_forecasting_system_spark.session import get_session

spark = get_session("retry-determinism", master="local[4,3]", shuffle_partitions=4)


def fail_first_attempt(batches):
    if TaskContext.get().attemptNumber() == 0:
        raise RuntimeError("injected failure of a first task attempt")
    yield from batches


def digest(df, retried):
    if retried:
        df = df.mapInPandas(fail_first_attempt, schema=df.schema)
    t = df.toArrow()
    t = t.sort_by([(c, "ascending") for c in t.column_names]).combine_chunks()
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return hashlib.sha256(sink.getvalue()).hexdigest(), t.num_rows


ids = F.col("id")
lines = spark.range(3000, numPartitions=4).select(
    (ids % 50).alias("product_id"),
    ids.alias("transaction_id"),
    (ids % 3).alias("line_pos"),
    (ids * 7 % 1000).alias("timestamp"),
    ((ids * 37) % 11 - 1).cast("int").alias("qty"),
)
products = spark.range(50).select(
    ids.alias("product_id"), (ids * 3 + 20).alias("stock")
)
media = MM.synthesize_gradient_png_payloads(
    spark.range(400, numPartitions=4).withColumnRenamed("id", "doc_id"),
    per_id_phase=True,
).unionByName(
    spark.createDataFrame(
        [(-1, bytearray(b"")), (-2, bytearray(b"not an image"))],
        "doc_id long, payload binary",
    )
)
cases = {
    "depletion": lambda: greedy_inventory_depletion(lines, products),
    "decode_media_real": lambda: MM.decode_media_real(media),
}
print(json.dumps({
    name: [digest(build(), retried=r) for r in (False, True)]
    for name, build in cases.items()
}))
spark.stop()
"""


def test_python_kernels_are_retry_deterministic():
    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(got) == {"depletion", "decode_media_real"}
    for name, (clean, retried) in got.items():
        assert clean[1] > 0, name
        assert retried == clean, name
