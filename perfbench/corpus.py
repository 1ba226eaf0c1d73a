"""Seeded candy-store corpus and its pure-Python reference oracle.

The corpus follows the distribution facts in FIXTURES.md:

- a 36-product catalog (category x subcategory x shape names, decimal(3,2)
  prices with cost below price);
- one JSON array file per business day, so arrival order is file order;
- 1-5 distinct products per transaction, qty uniform 1-5 with 7.5 %
  nulls, which leaves about 1.6 % of transactions with all items null;
- a few hot products whose demand runs past their stock late in the period,
  so the greedy depletion cancels lines (the reference data cancels ~0.8 %).

``oracle`` replays the reference main loop in plain Python: explode,
drop null-qty lines, greedy-with-skip fold per product in arrival order,
then the four outputs. ``digest`` turns an output's canonical columns into
one order-sensitive hash, so the Spark outputs can be checked against the
oracle without keeping either side around.

Run ``python3 perfbench/corpus.py`` for the self-check (FIXTURES.md
invariant 6 litmus and invariants 1-5 on an oracle run).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from decimal import Decimal

import numpy as np

CATEGORIES = {
    "Chocolate": ["Truffles", "Bars"],
    "Gummy": ["Bears", "Worms"],
    "Hard Candy": ["Lollipops", "Drops"],
}
SHAPES = ["Discs", "Coins", "Cubes", "Stars", "Hearts", "Spheres"]
FLAVORS = ["Sprinkles", "Caramel", "Mint", "Cherry", "Hazelnut", "Lemon"]
FIRST = ["Brad", "Ana", "Li", "Omar", "Sara", "Ken", "Maya", "Ivan", "Zoe", "Raj"]
LAST = ["Lawrence", "Ng", "Diaz", "Okafor", "Smith", "Kowalski", "Haddad", "Ito"]
START = dt.date(2024, 2, 1)
N_HOT = 3
P_NULL_QTY = 0.075
#: hot products get this share of their realised demand as stock
HOT_STOCK = 0.96


def catalog(rng: np.random.Generator) -> list[dict]:
    """36 products; prices in cents so money stays exact downstream."""
    out = []
    pid = 1
    for cat, subs in CATEGORIES.items():
        for sub in subs:
            for shape in SHAPES:
                price = int(rng.integers(50, 1000))
                cost = int(rng.integers(10, price))
                out.append(
                    {
                        "product_id": pid,
                        "product_name": f"{FLAVORS[pid % 6]} {sub} {shape}",
                        "product_category": cat,
                        "product_subcategory": sub,
                        "product_shape": shape,
                        "price_cents": price,
                        "cost_cents": cost,
                    }
                )
                pid += 1
    return out


def _cents(c: int) -> str:
    return f"{c // 100}.{c % 100:02d}"


def generate(
    out_dir: str, seed: int, days: int, tx_per_day: int, late_days: int = 0
) -> dict:
    """Write products.csv, customers.csv and one transactions JSON per day.

    The last ``late_days`` days go to ``out_dir/late`` instead of
    ``out_dir`` (a late-arriving slice to fold into the summary); stock is
    sized on the on-time days only. Returns the in-memory corpus the
    oracle consumes: products and the per-day documents in arrival order.
    """
    rng = np.random.default_rng(seed)
    products = catalog(rng)
    n_prod = len(products)
    weights = np.ones(n_prod)
    hot = rng.choice(n_prod, size=N_HOT, replace=False)
    weights[hot] = 4.0
    weights /= weights.sum()

    total_days = days + late_days
    n_tx = total_days * tx_per_day
    n_cust = 500
    # unique ids in random order (orders sort by id, arrival does not)
    tx_ids = rng.permutation(
        10_000_000 + np.arange(n_tx, dtype=np.int64) * 7
        + rng.integers(0, 7, n_tx)
    ).tolist()
    cust = rng.integers(1, n_cust + 1, n_tx).tolist()
    n_items = rng.integers(1, 6, n_tx).tolist()
    # microseconds into the day, sorted, then with neighbours swapped now
    # and then, so arrival order and timestamp order disagree
    secs = np.sort(rng.integers(0, 86_400_000_000, n_tx).reshape(total_days, -1))
    swap = rng.random(secs.shape) < 0.05
    for d in range(total_days):
        idx = np.nonzero(swap[d][:-1])[0]
        secs[d, idx], secs[d, idx + 1] = secs[d, idx + 1], secs[d, idx]

    day_docs: list[list[dict]] = []
    log_w = np.log(weights)
    names = [p["product_name"] for p in products]
    k = 0
    for d in range(total_days):
        day = START + dt.timedelta(days=d)
        # weighted sampling without replacement (Gumbel top-k): the first
        # n_items columns of each row are that transaction's products
        keys = log_w + rng.gumbel(size=(tx_per_day, n_prod))
        pids = (np.argsort(-keys, axis=1)[:, :5] + 1).tolist()
        qtys = rng.integers(1, 6, (tx_per_day, 5)).tolist()
        nulls = (rng.random((tx_per_day, 5)) < P_NULL_QTY).tolist()
        day_secs = secs[d].tolist()
        docs = []
        for j in range(tx_per_day):
            items = [
                {
                    "product_id": pid,
                    "product_name": names[pid - 1],
                    "qty": None if nul else q,
                }
                for pid, q, nul in zip(pids[j][: n_items[k]], qtys[j], nulls[j])
            ]
            us = day_secs[j]
            ts = (
                f"{day.isoformat()}T{us // 3_600_000_000:02d}:"
                f"{us // 60_000_000 % 60:02d}:{us // 1_000_000 % 60:02d}."
                f"{us % 1_000_000:06d}"
            )
            docs.append(
                {
                    "transaction_id": tx_ids[k],
                    "customer_id": cust[k],
                    "timestamp": ts,
                    "items": items,
                }
            )
            k += 1
        day_docs.append(docs)

    # Stock from the realised on-time demand: headroom for the normal
    # products, a shortfall for the hot ones so they stock out late.
    demand = np.zeros(n_prod + 1, dtype=np.int64)
    for docs in day_docs[:days]:
        for doc in docs:
            for it in doc["items"]:
                demand[it["product_id"]] += it["qty"] or 0
    for i, p in enumerate(products):
        factor = HOT_STOCK if i in hot else 1.5
        p["stock"] = int(demand[i + 1] * factor) + 20

    os.makedirs(os.path.join(out_dir, "late"), exist_ok=True)
    with open(os.path.join(out_dir, "products.csv"), "w") as f:
        f.write(
            "product_id,product_name,product_category,product_subcategory,"
            "product_shape,sales_price,cost_to_make,stock\n"
        )
        for p in products:
            f.write(
                f"{p['product_id']},{p['product_name']},{p['product_category']},"
                f"{p['product_subcategory']},{p['product_shape']},"
                f"{_cents(p['price_cents'])},{_cents(p['cost_cents'])},{p['stock']}\n"
            )
    with open(os.path.join(out_dir, "customers.csv"), "w") as f:
        f.write("customer_id,first_name,last_name,email,address,phone\n")
        for c in range(1, n_cust + 1):
            fn, ln = FIRST[c % len(FIRST)], LAST[c % len(LAST)]
            f.write(
                f'{c},{fn},{ln},{fn.lower()}{c}@example.com,'
                f'"{100 + c} Gray Coves Suite {c % 900}, New Douglas, MS {70000 + c}",'
                f"({c % 900 + 100:03d})582-{c % 10000:04d}\n"
            )

    for d, docs in enumerate(day_docs):
        day = START + dt.timedelta(days=d)
        sub = "late" if d >= days else ""
        path = os.path.join(out_dir, sub, f"transactions_{day:%Y%m%d}.json")
        with open(path, "w") as f:
            f.write(json.dumps(docs, separators=(",", ":")))
    return {"products": products, "days": day_docs}


def oracle(products: list[dict], day_docs: list[list[dict]]) -> dict:
    """The reference main loop: explode, null filter, greedy-with-skip
    fold in arrival order (day, file position, item position), outputs.

    Money is integer cents; ``total_profit`` is exact Decimal rounded to
    2 dp the way the engine rounds its double (compared with +-0.01).
    """
    price = {p["product_id"]: p["price_cents"] for p in products}
    cost = {p["product_id"]: p["cost_cents"] for p in products}
    stock = {p["product_id"]: p["stock"] for p in products}
    orders, lines, daily = [], [], []
    cancelled = fulfilled = units = 0
    for docs in day_docs:
        day_orders = 0
        day_sales = day_cost = 0
        for doc in docs:
            kept = [it for it in doc["items"] if it["qty"] is not None]
            if not kept:
                continue
            total = 0
            for it in kept:
                pid, qty = it["product_id"], it["qty"]
                if qty <= stock[pid]:
                    stock[pid] -= qty
                    fulfilled += 1
                    units += qty
                else:
                    qty = 0
                    cancelled += 1
                line = qty * price[pid]
                total += line
                day_cost += qty * cost[pid]
                lines.append((doc["transaction_id"], pid, qty, price[pid], line))
            orders.append(
                (doc["transaction_id"], doc["timestamp"], doc["customer_id"],
                 total, len(kept))
            )
            day_orders += 1
            day_sales += total
        day = doc["timestamp"][:10]
        profit = (Decimal(day_sales - day_cost) / 100).quantize(Decimal("0.01"))
        daily.append((day, day_orders, day_sales, float(profit)))
    orders.sort()
    lines.sort()
    return {
        "orders": orders,
        "order_line_items": lines,
        "daily_summary": daily,
        "products_updated": [
            (p["product_id"], p["product_name"], stock[p["product_id"]])
            for p in products
        ],
        "metrics": {
            "cancelled_lines": cancelled,
            "fulfilled_lines": fulfilled,
            "units_fulfilled": units,
        },
        "last_day": daily[-1][0],
    }


#: canonical column layout of each output, shared by the oracle rows and
#: the Spark side (perfbench/workloads.py projects the engine's outputs to
#: these columns: money as integer cents, timestamps as their ISO string)
COLUMNS = {
    "orders": ("order_id", "order_datetime", "customer_id", "total_cents",
               "num_items"),
    "order_line_items": ("order_id", "product_id", "quantity", "unit_cents",
                         "line_cents"),
    "daily_summary": ("date", "num_orders", "total_sales_cents"),
    "products_updated": ("product_id", "product_name", "current_stock"),
}


def digest(columns: list) -> str:
    """Order-sensitive hash of an output given column-wise (sequences of
    ints or strings). Identical for numpy arrays and Python lists."""
    h = hashlib.sha256()
    for col in columns:
        arr = np.asarray(col)
        if arr.dtype.kind in "iu":
            h.update(b"i" + arr.astype("<i8").tobytes())
        else:
            h.update(b"s" + "\x1f".join(map(str, col)).encode())
    return h.hexdigest()


def oracle_digests(out: dict) -> dict:
    """Digests of the oracle output in the COLUMNS layout, plus the small
    outputs' exact rows for readable mismatch reports."""
    res = {}
    for name, cols in COLUMNS.items():
        rows = out[name]
        columns = [[r[i] for r in rows] for i in range(len(cols))]
        res[name] = {"rows": len(rows), "digest": digest(columns)}
    res["daily_profit"] = [r[3] for r in out["daily_summary"]]
    res["metrics"] = out["metrics"]
    res["last_day"] = out["last_day"]
    return res


def selfcheck() -> str:
    """Check the oracle on the FIXTURES.md litmus and invariants 1-5;
    returns a one-line summary of a small generated corpus."""
    import tempfile

    # FIXTURES.md invariant 6: greedy-with-skip, not a cumulative sum
    prods = [{"product_id": 1, "product_name": "p", "price_cents": 100,
              "cost_cents": 50, "stock": 5}]
    docs = [[{"transaction_id": i, "customer_id": 1,
              "timestamp": f"2024-02-01T00:00:0{i}.000000",
              "items": [{"product_id": 1, "product_name": "p", "qty": q}]}
             for i, q in enumerate([3, 3, 2], start=1)]]
    got = [ln[2] for ln in oracle(prods, docs)["order_line_items"]]
    if got != [3, 0, 2]:
        raise RuntimeError(f"invariant 6 litmus: {got} != [3, 0, 2]")

    with tempfile.TemporaryDirectory() as tmp:
        corpus = generate(tmp, seed=7, days=5, tx_per_day=2000, late_days=1)
        day_files = [f for f in os.listdir(tmp) if f.endswith(".json")]
        late = os.listdir(os.path.join(tmp, "late"))
    products, day_docs = corpus["products"], corpus["days"][:5]
    out = oracle(products, day_docs)
    stock0 = {p["product_id"]: p["stock"] for p in products}
    used: dict[int, int] = {}
    n_lines: dict[int, int] = {}
    for oid, pid, qty, unit, line in out["order_line_items"]:
        used[pid] = used.get(pid, 0) + qty
        n_lines[oid] = n_lines.get(oid, 0) + 1
        if line != qty * unit:
            raise RuntimeError("invariant 4: line_total != quantity x unit_price")
    for pid, name, cur in out["products_updated"]:  # invariant 1
        if cur < 0 or stock0[pid] - used.get(pid, 0) != cur:
            raise RuntimeError(f"invariant 1 broken for product {pid}")
    totals: dict[int, int] = {}
    for oid, pid, qty, unit, line in out["order_line_items"]:
        totals[oid] = totals.get(oid, 0) + line
    for oid, ts, cust, total, n in out["orders"]:  # invariants 2 and 4
        if n != n_lines[oid] or total != totals[oid]:
            raise RuntimeError(f"invariant 2/4 broken for order {oid}")
    docs = [d for day in day_docs for d in day]
    all_null = sum(all(i["qty"] is None for i in d["items"]) for d in docs)
    if not (sum(r[1] for r in out["daily_summary"]) == len(out["orders"])
            == len(docs) - all_null):  # invariant 3
        raise RuntimeError("invariant 3: order counts disagree")
    if len(set(d["transaction_id"] for d in docs)) != len(docs):
        raise RuntimeError("invariant 5: duplicate transaction ids")
    for day, day_list in zip(out["daily_summary"], day_docs):  # invariant 5
        if any(d["timestamp"][:10] != day[0] for d in day_list):
            raise RuntimeError("invariant 5: timestamp date != batch date")
    n_all = sum(len(d["items"]) for d in docs)
    nulls = sum(i["qty"] is None for d in docs for i in d["items"])
    m = out["metrics"]
    return (
        f"ok: {len(day_files)} day files + {len(late)} late, {n_all} lines, "
        f"null qty {nulls / n_all:.3f}, all-null tx {all_null / len(docs):.3f}, "
        f"cancelled {m['cancelled_lines'] / (n_all - nulls):.4f} of kept lines"
    )


if __name__ == "__main__":
    print(selfcheck())
