"""Streaming zone-map maintenance: ops8's data-skipping manifest, per
epoch.

The NINTH leg of the ingest-service family (dedup_stream gates
documents, scrub_stream decontaminates them, semantic_stream gates
embeddings, cdc_stream maintains dimensions, rollup_stream maintains
aggregates, manifest_stream maintains the export receipt): an orders
stream maintains the per-month zone-map manifest INCREMENTALLY — each
micro-batch reduces to a per-month delta state
(``operators.zonemap.zone_state``) and merges into the stored state
(``merge_zone_states``). Every state column is algebraic (counts sum,
stat spans min/max), so draining the same orders through ANY epoch
slicing yields the identical manifest the batch query
``ops8_zone_map`` computes in one pass — verdict columns included,
because verdicts are derived from the state at READ time
(``finalize_zone_map``), never stored.

This is how a real lakehouse works: Delta/Iceberg update file stats
ON WRITE, and the planner prunes against the manifest — the
full-table stats scan is paid never, not once. At 100 TB the state is
partition-cardinality-sized (~thousands of rows), each epoch reduces
only its delta (map-side combined), and the merge is one
month-keyed full-outer join on a tiny frame.

Replay safety: min/max merges are idempotent but COUNTS double-apply
under replay, so the sink runs under ``sinks.versioned_state_sink``'s
epoch guard (the contract is stated in rollup_stream).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.zonemap import (
    finalize_zone_map,
    merge_zone_states,
    zone_state,
)
from ..sources.versioned import read_version
from .sinks import drain_available_now, versioned_state_sink


def zone_state_sink(
    table_dir: str, **zone_kwargs
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the per-month zone-map state.

    Use::

        stream.writeStream.foreachBatch(
            zone_state_sink(table_dir)
        ).option("checkpointLocation", ckpt).start()
    """
    return versioned_state_sink(
        "zone_state_sink",
        table_dir,
        lambda b: zone_state(b, **zone_kwargs),
        merge_zone_states,
    )


def read_zone_map(spark, table_dir: str, **finalize_kwargs) -> DataFrame:
    """The maintained manifest, shaped exactly like ops8_zone_map's
    batch output (stats + skip/false-scan verdicts derived at read
    time from the month-grain state)."""
    state = read_version(spark, table_dir).drop("__epoch")
    return finalize_zone_map(state, **finalize_kwargs)


def run_zonemap_ingest(
    spark,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp"
    ),
    max_files_per_trigger: int = 1,
    **sink_kwargs,
) -> None:
    """Drain a parquet drop-dir of order rows into the zone-map state
    with ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_dir, schema, max_files_per_trigger,
        zone_state_sink(table_dir, **sink_kwargs), checkpoint_dir,
    )
