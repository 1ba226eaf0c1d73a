"""Slowly-changing-dimension operators: MERGE-style upsert (SCD type 1)
and change-interval reconstruction (SCD type 2).

The reference mutates its ``products`` dimension in place per batch
(``/root/reference/src/data_processor.py:346-355`` rebuilds the stock
column from a driver-side dict). A warehouse engine needs the general
form: apply a source of changes to a target dimension without driver
state. Both operators here are pure DataFrame compositions — no
``collect()``, no Python row loops.

Scale notes
-----------
- ``merge_upsert`` is ONE full-outer shuffle join on the key. Spark
  cannot broadcast either side of a full outer join, so a small change
  set does not make it a broadcast join: both sides shuffle and sort.
  Matched rows take source values, unmatched target rows pass through,
  unmatched source rows become inserts — MERGE WHEN MATCHED / NOT
  MATCHED semantics with deterministic column-level resolution. Where
  the source replaces whole rows, a tagged union plus one aggregate per
  key needs no join (``plans/incremental.py``).
- ``scd2_intervals`` is the classic two-window reconstruction: detect
  state changes with ``lag`` then close intervals with ``lead``. Both
  windows partition on the same entity key, so the whole operator rides
  ONE shuffle; ties are broken on a caller-supplied sequence column so
  results are deterministic under parallel sort.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key: str,
    update_cols: Mapping[str, str],
    insert_defaults: Mapping[str, Column] | None = None,
    action_col: str | None = None,
) -> DataFrame:
    """MERGE ``source`` into ``target`` on ``key`` (SCD type 1).

    ``update_cols`` maps target column -> source column: matched rows
    take the source value, unmatched target rows keep their own.
    Unmatched source rows are inserted; target columns absent from
    ``update_cols`` take ``insert_defaults`` (else null).
    ``action_col`` optionally names an output column tagging each row
    ``update`` / ``keep`` / ``insert``.

    Contract: ``source`` must be unique on ``key`` (SQL MERGE raises on
    multiple matches; here a duplicate source key would fan out the
    matched target row). Aggregate the change feed first.
    """
    insert_defaults = dict(insert_defaults or {})
    t_key, s_key = target[key], source[key]
    joined = target.join(source, t_key == s_key, "full_outer")

    matched = t_key.isNotNull() & s_key.isNotNull()
    insert = t_key.isNull()

    cols: list[Column] = [F.coalesce(t_key, s_key).alias(key)]
    for c in target.columns:
        if c == key:
            continue
        if c in update_cols:
            upd = source[update_cols[c]]
            cols.append(
                F.when(matched | insert, upd).otherwise(target[c]).alias(c)
            )
        elif c in insert_defaults:
            cols.append(
                F.when(insert, insert_defaults[c]).otherwise(target[c]).alias(c)
            )
        else:
            cols.append(target[c].alias(c))
    if action_col:
        cols.append(
            F.when(insert, F.lit("insert"))
            .when(matched, F.lit("update"))
            .otherwise(F.lit("keep"))
            .alias(action_col)
        )
    return joined.select(*cols)


def scd2_intervals(
    df: DataFrame,
    entity: str,
    state: str,
    ts: str,
    seq: str,
) -> DataFrame:
    """Collapse an event log into SCD2 validity intervals.

    One output row per run of equal ``state`` values per ``entity``
    (ordered by ``ts`` with ``seq`` as the deterministic tiebreak):
    ``valid_from`` = first ts of the run, ``valid_to`` = start of the
    next run (null for the open/current interval).
    """
    order = W.partitionBy(entity).orderBy(ts, seq)
    changes = (
        df.withColumn("_prev", F.lag(state).over(order))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(state)))
        .select(entity, state, F.col(ts).alias("valid_from"), seq)
    )
    close = W.partitionBy(entity).orderBy("valid_from", seq)
    nxt = F.lead("valid_from").over(close)
    return changes.select(
        entity,
        state,
        "valid_from",
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("is_current"),
    )


def propagate_deletes(
    dim: DataFrame,
    tombstones: DataFrame,
    on: str,
    tombstone_key: str | None = None,
) -> DataFrame:
    """Right-to-be-forgotten / tombstone propagation: drop every dim row
    whose key appears in the tombstone set.

    The third leg of dimension maintenance beside :func:`merge_upsert`
    (SCD1 update/insert) and :func:`scd2_intervals` (history): MERGE
    WHEN MATCHED THEN DELETE, as one anti join. Tombstone sets are tiny
    relative to the dimension (always broadcast), so the dim is
    never shuffled — at 100 TB the delete pass is a single map-side
    scan per partition, and idempotent: re-applying the same tombstones
    is a no-op, which is what a replayed changelog needs.
    """
    tk = tombstone_key or on
    keys = F.broadcast(tombstones.select(F.col(tk).alias(on)).distinct())
    return dim.join(keys, on=on, how="left_anti")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str | Sequence[str],
) -> DataFrame:
    """CDC extraction from two dimension snapshots: which rows were
    ``added`` / ``removed`` / ``changed`` between ``old`` and ``new``.

    The fourth leg of dimension maintenance: when a source system can't
    emit a change feed, the feed is DERIVED by diffing consecutive
    snapshots — this operator is that derivation. Output: key columns +
    ``change_type`` (added | removed | changed); unchanged rows are
    dropped (a change feed carries changes only). Every non-key column
    of ``new`` is compared.

    Column comparison is null-safe per column (``IS DISTINCT FROM``
    semantics via ``eqNullSafe``), so NULL -> value, value -> NULL and
    NULL -> NULL all classify correctly — a hash-compare shortcut would
    need the same care around NULL encoding.

    Scale: ONE full-outer shuffle join on the key. Two snapshots of the
    same table land with the same partitioner, so when both are
    bucketed by key (sources/writers.write_bucketed_table) the diff is
    shuffle-free; AQE handles the skewed-key case otherwise.
    """
    keys = [key] if isinstance(key, str) else list(key)
    compare_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = eq if cond is None else cond & eq
    joined = o.join(n, on=cond, how="full_outer")
    # no compare columns (key covers every column) -> a pure membership
    # diff: rows present on both sides are never "changed"
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    out_keys = [
        F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k)
        for k in keys
    ]
    return (
        joined.select(
            *out_keys,
            F.when(F.col("__in_old").isNull(), F.lit("added"))
            .when(F.col("__in_new").isNull(), F.lit("removed"))
            .when(changed, F.lit("changed"))
            .otherwise(F.lit(None))
            .alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )
