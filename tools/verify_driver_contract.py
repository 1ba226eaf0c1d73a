"""Local mirror of the driver's correctness gate (verify skill, surface 2).

Runs every ``queries()`` entry against its ``oracle_sql()`` DuckDB twin
at sf0.01 with the driver's compare (sorted rows, column-name-sorted,
stringified value equality). Pass query names as argv to scope the run:

    python tools/verify_driver_contract.py              # all entries
    python tools/verify_driver_contract.py d14_semantic_dedup n9_knn_join_ivf
"""

import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import duckdb

import __spark_entry__ as e
from retail_data_pipeline_and_forecasting_system_spark.session import get_session

only = set(sys.argv[1:])  # optional: verify just these query names

spark = get_session("verify")
print("entry rows:", e.entry(spark).count())
# the test suite's bounds (tests/conftest.py duck_connect): an oracle
# that outgrows 2 GB fails with DuckDB's OutOfMemoryException instead of
# the OOM killer taking the Spark JVM; spill goes to a throwaway dir
spill = tempfile.TemporaryDirectory(prefix="duckdb-")
con = duckdb.connect(
    config={
        "memory_limit": "2GB",
        "threads": min(4, os.cpu_count() or 1),
        "temp_directory": spill.name,
    }
)
# override with VERIFY_SF_DIR to run the same compare at another scale
sf = os.environ.get("VERIFY_SF_DIR", "/root/testdata/sf0.01")
for t in [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
oracles = e.oracle_sql()
n_pass = n_fail = 0
for name, fn in e.queries().items():
    if only and name not in only:
        continue
    mine = fn(spark, sf).toPandas()
    if name not in oracles:
        print(name, "rows-only:", len(mine))
        continue
    want = con.execute(oracles[name]).df()
    mine = (
        mine[sorted(mine.columns)]
        .sort_values(sorted(mine.columns))
        .reset_index(drop=True)
    )
    want = (
        want[sorted(want.columns)]
        .sort_values(sorted(want.columns))
        .reset_index(drop=True)
    )
    match = mine.shape == want.shape and bool(
        (mine.astype(str).values == want.astype(str).values).all()
    )
    n_pass += match
    n_fail += not match
    if not match:
        print(name, "match: False")
print(f"DRIVER CONTRACT: {n_pass} pass / {n_fail} fail")
