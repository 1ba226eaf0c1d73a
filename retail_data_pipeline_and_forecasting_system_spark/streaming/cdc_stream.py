"""Streaming CDC apply: a change feed maintains a versioned snapshot table.

The third leg of the ingest-service trio (dedup_stream gates documents,
semantic_stream gates embeddings; this one maintains DIMENSION state):
a stream of ``upsert``/``delete`` change rows is applied per micro-batch
to a :mod:`sources.versioned` snapshot table — the streaming MERGE shape
lakehouse formats call "apply changes", built from two pieces this repo
already trusts: ``operators.scd.merge_upsert`` (the batch MERGE) and the
stage-then-flip versioned writer (atomic commit, time travel).

Each epoch:

1. collapse the batch to its LATEST change per key (``seq`` descending —
   an upsert followed by a delete of the same key inside one epoch nets
   to the delete, and vice versa);
2. MERGE the upserts into the current snapshot (matched rows take the
   new values, unmatched insert);
3. anti-join the deletes out;
4. commit the result as the table's next version.

Every epoch is one committed version, so the table's version history IS
the epoch history: ``read_version(spark, dir, v)`` time-travels to the
state after any past epoch — the reproducibility contract a training
run needs ("features as of dataset v17").

Crash/replay: Structured Streaming re-runs the last uncommitted epoch.
Re-applying a batch is CONVERGENT, not byte-idempotent: upserts of the
same values and deletes of already-absent keys are no-ops, so the
replayed epoch commits a new version whose CONTENT equals the crashed
attempt's (the version counter advances — same contract as the
epoch-keyed delete-then-insert JDBC sink, where replay converges rather
than dedupes). The apply is additionally SEQUENCE-GUARDED: each change
is dropped unless its seq >= the snapshot's last applied seq for that
key, so even a MID-HISTORY re-fire (lost checkpoint, feed re-drain
replaying epoch k of n) converges for every key the snapshot holds —
the stale epoch's deletes cannot clobber newer upserts; only the
guard's no-op version advances. (The one shape needing more machinery
is delete-resurrection: a stale upsert of a key deleted LATER finds no
seq watermark and re-inserts. ``tombstones=True`` closes it the way
production table formats do — deletes persist as ``__tombstone`` rows
whose seq keeps guarding, :func:`read_cdc_snapshot` serves the live
view, both tested. Last-epoch replay, Structured Streaming's actual
contract, never hits it: the replayed epoch's seqs are the highest
applied, so the guard passes its changes untouched.) A vacuum policy
(``vacuum_versions``) bounds history.

Scale: the merge is one full-outer shuffle of snapshot x batch on the
key (batch side is epoch-sized — AQE broadcasts it); the snapshot
rewrite is the versioned table's O(table) write, the honest cost of a
format-free snapshot store — at lakehouse scale the same sink logic
targets a MERGE-capable table format instead, and ``merge_upsert``'s
plan is exactly what that MERGE executes.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.scd import merge_upsert
from ..sources.versioned import current_version, read_version, write_version
from .sinks import drain_available_now


def cdc_apply_sink(
    table_dir: str,
    key_col: str,
    op_col: str = "op",
    seq_col: str = "seq",
    tombstones: bool = False,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function applying a change feed to a versioned table.

    Batch schema: ``key_col``, ``op_col`` ('upsert'|'delete'),
    ``seq_col`` (monotone change-order within the feed), plus any
    payload columns. The snapshot keeps key + payload + ``seq_col``
    (the last applied change per key).

    ``tombstones=True`` stores deletes as ``__tombstone=True`` rows
    instead of removing them, so a deleted key KEEPS its seq watermark:
    the one replay shape the plain guard cannot catch — a stale upsert
    of a key deleted later (delete-resurrection) — is then guarded out
    too, making the apply convergent under arbitrary mid-history
    replays. Read the live view with :func:`read_cdc_snapshot` (filters
    tombstones); vacuum them on a retention window once no replayable
    feed segment is older (the same contract lakehouse MERGE formats
    ship). Default stays tombstone-free: physical deletes, lighter
    snapshots, last-epoch-replay-safe.

    Use::

        stream.writeStream.foreachBatch(
            cdc_apply_sink(table_dir, "k")
        ).option("checkpointLocation", ckpt).start()
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # no changes -> no new (identical) version committed
        spark = batch_df.sparkSession
        payload = [
            c for c in batch_df.columns if c not in (op_col,)
        ]  # key, seq, values — what the snapshot stores
        # seq is the collapse key; the contract says it is monotone per
        # key, but nothing upstream enforces uniqueness, so break seq
        # ties deterministically: delete-before-upsert ('delete' < 'upsert'
        # ascending -> delete wins the tie, the conservative read of an
        # ambiguous feed), then the payload columns so even two same-seq
        # upserts collapse to a stable winner.
        tiebreak = [F.col(op_col).asc()] + [
            F.col(c).asc_nulls_first() for c in payload if c != key_col
        ]
        w = Window.partitionBy(key_col).orderBy(
            F.col(seq_col).desc(), *tiebreak
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        if tombstones:
            latest = latest.withColumn(
                "__tombstone", F.col(op_col) == "delete"
            )
            payload = payload + ["__tombstone"]
        if current_version(table_dir) is None:
            cur = spark.createDataFrame(
                [], latest.select(payload).schema
            )
        else:
            cur = read_version(spark, table_dir)

        # SEQUENCE GUARD — the snapshot stores the last applied seq per
        # key, so drop any change OLDER than what the key already holds
        # (seq >= survives: a crash-replayed epoch re-applies its own
        # changes as no-ops). This makes the apply safe for ANY replay,
        # not just the last epoch: a mid-history re-fire (lost
        # checkpoint, feed re-drain) carries stale seqs that the guard
        # filters out, instead of its deletes clobbering newer upserts.
        # Cost: one equi-join of the epoch-sized batch against the
        # snapshot's (key, seq) projection — AQE broadcasts the batch.
        guard = cur.select(
            F.col(key_col), F.col(seq_col).alias("__cur_seq")
        )
        latest = (
            latest.join(guard, key_col, "left")
            .filter(
                F.col("__cur_seq").isNull()
                | (F.col(seq_col) >= F.col("__cur_seq"))
            )
            .drop("__cur_seq")
        )

        if tombstones:
            # deletes MERGE in as tombstone rows (payload nulls, seq
            # kept) — the watermark survives, nothing is anti-joined out
            ups = latest.select(payload)
            out = merge_upsert(
                cur,
                ups,
                key=key_col,
                update_cols={c: c for c in payload if c != key_col},
            )
        else:
            ups = latest.filter(F.col(op_col) == "upsert").select(payload)
            dels = latest.filter(F.col(op_col) == "delete").select(key_col)
            merged = merge_upsert(
                cur,
                ups,
                key=key_col,
                update_cols={c: c for c in payload if c != key_col},
            )
            out = merged.join(dels, key_col, "left_anti")
        write_version(out, table_dir)

    return apply


def read_cdc_snapshot(
    spark,
    table_dir: str,
    include_tombstones: bool = False,
) -> DataFrame:
    """Live view of a CDC-maintained snapshot: the latest version, with
    deleted keys filtered (for tombstone-mode tables) unless
    ``include_tombstones``. Works on tombstone-free tables
    too (no ``__tombstone`` column -> nothing to filter)."""
    df = read_version(spark, table_dir)
    if "__tombstone" in df.columns and not include_tombstones:
        df = df.filter(~F.col("__tombstone")).drop("__tombstone")
    return df


def run_cdc_apply(
    spark,
    input_glob: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str = "k long, op string, seq long, val string",
    max_files_per_trigger: int = 1,
    **sink_kwargs,
) -> None:
    """Drain a JSON-lines change feed into the versioned table with
    ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_glob, schema, max_files_per_trigger,
        cdc_apply_sink(table_dir, "k", **sink_kwargs), checkpoint_dir,
        fmt="json",
    )
