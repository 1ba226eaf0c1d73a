"""Streaming export-manifest maintenance: x55's receipt, per epoch.

The seventh leg of the ingest-service family (dedup_stream gates
documents, semantic_stream gates embeddings, cdc_stream maintains
dimensions, rollup_stream maintains aggregates, anomaly/segment score
streams): a documents stream maintains the per-shard export manifest
INCREMENTALLY — each micro-batch reduces to a per-shard delta state
(``operators.manifest.manifest_state``) and merges into the stored
state (``merge_manifest_states``). Because every state column is
algebraic — counts/bytes/tokens sum, spans min/max, and the content
digest is a commutative u64 sum mod 2^64 — draining the same documents
through ANY epoch slicing yields the identical manifest the batch
query ``x55_export_manifest`` computes in one pass, Merkle root
included (``tests/test_manifest_stream.py`` asserts exact equality).

This is the 100 TB operational story for the export receipt: a
continuously-appended corpus keeps its manifest CURRENT at
delta-proportional cost per epoch (the full-corpus rehash is never
paid again), and the ingest side can verify any snapshot against the
maintained root.

Replay safety: a digest/count merge is NOT naturally convergent
(re-applying an epoch double-counts, unlike the CDC upsert), so the
sink runs under ``sinks.versioned_state_sink``'s epoch guard (the
contract is stated in rollup_stream).

Scale: the stored state is shard-cardinality-sized (16 rows here,
~100k at 100 TB — still trivially small); each epoch hashes ONLY its
delta rows (map-side combined) and merges by one shard-keyed
full-outer join. The state rewrite per epoch is the versioned-table
O(state) write — and state is shard-grain, so it is O(#shards), not
O(corpus).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.manifest import (
    finalize_manifest,
    manifest_state,
    merge_manifest_states,
)
from ..sources.versioned import read_version
from .sinks import drain_available_now, versioned_state_sink


def manifest_state_sink(
    table_dir: str, **manifest_kwargs
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the per-shard manifest state.

    Use::

        stream.writeStream.foreachBatch(
            manifest_state_sink(table_dir)
        ).option("checkpointLocation", ckpt).start()
    """
    return versioned_state_sink(
        "manifest_state_sink",
        table_dir,
        lambda b: manifest_state(b, **manifest_kwargs),
        merge_manifest_states,
    )


def read_manifest(spark, table_dir: str) -> DataFrame:
    """The maintained manifest, shaped exactly like
    x55_export_manifest's batch output (per-shard rows + the corpus
    Merkle root recomputed from the shard-grain state at read time)."""
    state = read_version(spark, table_dir).drop("__epoch")
    return finalize_manifest(state)


def run_manifest_ingest(
    spark,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string, source string",
    max_files_per_trigger: int = 1,
    **sink_kwargs,
) -> None:
    """Drain a parquet drop-dir of document rows into the manifest
    state with ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_dir, schema, max_files_per_trigger,
        manifest_state_sink(table_dir, **sink_kwargs), checkpoint_dir,
    )
