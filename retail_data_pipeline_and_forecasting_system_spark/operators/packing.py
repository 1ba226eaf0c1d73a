"""Greedy sequence packing — fixed-token-budget training-batch assembly.

A training-data pipeline's last mile: pack whole documents, in a stable
order, into sequences of at most ``capacity`` tokens (no document is
split; a document longer than the capacity occupies a sequence alone).
The greedy rule is the standard streaming packer: walk the group's docs
in order, keep appending while the running fill stays within capacity,
else close the sequence and start the next one.

Like the inventory fold (operators/depletion.py, reference
src/data_processor.py:288-331 pattern), the fold is sequential *within*
a pack group but independent *across* groups, so it maps onto one
hash-bucketed ``applyInPandas`` pass: each Arrow batch carries many
groups, state is O(1) per group, and a 1000-executor cluster packs
thousands of sources concurrently. Token counting stays JVM-side
(``size(split(text))``) so only (id, group, n_tokens) rows — never the
text — cross into Python.

Scale notes
-----------
- Parallelism = number of distinct pack groups (sources/domains). For a
  single giant group, pre-split its doc range into epochs and chain the
  last sequence's fill into the next epoch (same staged-fold mitigation
  as depletion's hot-product note).
- The kernel is O(rows) with one Python pass per group; rows are just
  three scalars wide, so a 10M-doc group folds in seconds and memory is
  bounded by the group's (id, tokens) pairs, not its text.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# group-tracking sentinel distinct from every real key INCLUDING None
_UNSET = object()


def pack_oracle(tokens: list[int], capacity: int) -> list[int]:
    """Pure-Python greedy packer; the property-test oracle."""
    out, seq, fill = [], 0, 0
    for i, n in enumerate(tokens):
        if i > 0 and fill + n > capacity:
            seq, fill = seq + 1, 0
        fill += n
        out.append(seq)
    return out


def pack_sequences(docs: DataFrame, capacity: int = 256) -> DataFrame:
    """Assign every document a ``seq_id`` (0-based per ``source``) such
    that each sequence's total whitespace-token count is <= ``capacity``
    (except single over-long docs). Order within a group is ``doc_id``
    ascending — deterministic at any parallelism.

    Returns (doc_id, source, n_tokens int, seq_id int).
    """
    slim = docs.select(
        F.col("doc_id"),
        F.col("source"),
        F.size(F.split(F.col("text"), " ")).cast("int").alias("n_tokens"),
    )
    return pack_counts(slim, capacity=capacity)


def pack_counts(
    counts: DataFrame,
    capacity: int = 256,
    group_col: str = "source",
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
) -> DataFrame:
    """The packing fold over a PRE-COMPUTED token-count frame
    (``id_col``, ``group_col``, ``count_col``) — the entry point for
    true-tokenizer counts (x36 packs on BPE ids via operators/bpe.py,
    where :func:`pack_sequences`'s whitespace ``size(split())`` is the
    pre-tokenizer estimate). Same greedy rule, same hash-bucketed
    applyInPandas shape, same output schema (count column emitted as
    ``n_tokens``)."""
    slim = counts.select(
        F.col(id_col),
        F.col(group_col),
        F.col(count_col).cast("int").alias("n_tokens"),
    )

    out_schema = T.StructType(
        [
            T.StructField(id_col, slim.schema[id_col].dataType, True),
            T.StructField(group_col, slim.schema[group_col].dataType, True),
            T.StructField("n_tokens", T.IntegerType(), True),
            T.StructField("seq_id", T.IntegerType(), True),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # pack_counts is generic over group_col: a float/datetime group
        # column delivers missing keys as NaN/NaT, and NaN != NaN would
        # make the group-reset branch fire on EVERY row of the missing
        # group (sequence counter reset per row — silent mis-packing).
        # Normalize missing to None, which compares stably under `!=`
        # (round-10 ADVICE; string sources deliver None already).
        if pdf[group_col].dtype.kind in "fcMm":
            gcol = pdf[group_col]
            pdf[group_col] = gcol.astype(object).where(gcol.notna(), None)
        pdf = pdf.sort_values([group_col, id_col], kind="mergesort")
        seq_ids = []
        # unique sentinel, NOT None: Arrow delivers NULL group keys as
        # None, and a None start value would make the NULL group's
        # first row skip the group-reset branch — an overlong first
        # doc would then open at seq_id 1 while the oracle anchors it
        # at 0 (round-9 ADVICE, regression-pinned)
        cur_group, seq, fill = _UNSET, 0, 0
        for g, n in zip(pdf[group_col].values, pdf["n_tokens"].values):
            n = int(n)
            if g != cur_group:
                cur_group, seq, fill = g, 0, 0
            elif fill + n > capacity:
                seq, fill = seq + 1, 0
            fill += n
            seq_ids.append(seq)
        pdf = pdf[[id_col, group_col, "n_tokens"]].copy()
        pdf["seq_id"] = pd.array(seq_ids, dtype="int32")
        return pdf

    from .bucketed import bucketed_fold

    return bucketed_fold(slim, group_col, kernel, out_schema)
