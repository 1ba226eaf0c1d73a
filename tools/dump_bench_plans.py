"""Dump `.explain("formatted")` for every bench query into plans/<round>/.

Usage: python tools/dump_bench_plans.py --round r16 before|after [query ...]

Writes plans/<round>/<query>_<tag>.txt for each bench=True registry entry
(default) or just the named ones. The retail pipeline's four outputs are
dumped as retail_<name>_<tag>.txt. Plans are captured at sf0.1 — the scale
the driver benches — so Exchange counts / join strategies match the
measured numbers.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from retail_data_pipeline_and_forecasting_system_spark.plans.analytics import (  # noqa: E402
    QUERIES,
)
from retail_data_pipeline_and_forecasting_system_spark.session import (  # noqa: E402
    get_session,
)

SF = "/root/testdata/sf0.1"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--round", required=True,
                    help="directory under plans/ to write, e.g. r16")
    ap.add_argument("tag", choices=["before", "after"])
    ap.add_argument("queries", nargs="*",
                    help="only these entries (default: every bench entry)")
    args = ap.parse_args()
    tag = args.tag
    only = set(args.queries)
    out_dir = REPO / "plans" / args.round
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_session(f"dump-{args.round}-plans")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n, s in QUERIES.items() if s.bench]
    if only:
        names = [n for n in names if n in only]
    for name in names:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[name].fn(spark, SF).explain("formatted")
        (out_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        print(f"wrote {name}_{tag}.txt")

    if not only or any(n.startswith("retail") for n in only):
        ds = Path("/root/reference/data/dataset_15")
        if ds.exists():
            from retail_data_pipeline_and_forecasting_system_spark.plans.retail import (  # noqa: E402
                release_retail_pipeline,
                run_retail_pipeline,
            )
            from retail_data_pipeline_and_forecasting_system_spark.sources import (  # noqa: E402
                read_products_csv,
                read_transactions_json,
            )

            products = read_products_csv(spark, str(ds / "products.csv"))
            raw = read_transactions_json(
                spark, str(ds / "transactions_*.json")
            )
            outs = run_retail_pipeline(raw, products)
            for out_name in (
                "orders", "order_line_items", "daily_summary",
                "products_updated",
            ):
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    outs[out_name].explain("formatted")
                (out_dir / f"retail_{out_name}_{tag}.txt").write_text(
                    buf.getvalue()
                )
                print(f"wrote retail_{out_name}_{tag}.txt")
            release_retail_pipeline(outs)
    spark.stop()


if __name__ == "__main__":
    main()
