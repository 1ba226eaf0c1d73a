"""Streaming M4 maintenance: h15's viz downsample, kept current per
epoch.

The TENTH leg of the ingest-service family, and the first in the
IDEMPOTENT-merge class: the M4 state is four lexicographic-extreme
structs per (series, day-bucket), and min/max of a multiset ignores
multiplicity — re-applying a crash-replayed epoch (or any subset of
already-seen rows) is a mathematical no-op. So unlike the counted
manifests (manifest/zonemap/rollup/scrub_stream, whose SUM columns
double-apply and need the last-epoch guard), this sink needs NO epoch
guard: it is naturally convergent, the same replay class as
cdc_stream's keyed upsert. ``tests/test_m4_stream.py`` pins exactly
that (double-applying an epoch leaves the state bit-identical).

Operationally this is the live-dashboard shape: a monitoring UI
renders the maintained M4 table directly — pixel-perfect line charts
over any history at (series x days x 4) rows — while the raw event
stream is never re-scanned. Per epoch the cost is one
map-side-combined agg over the delta plus a group-keyed full-outer
join against the (small) state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from ..operators.m4 import finalize_m4, m4_state, merge_m4_states
from ..sources.versioned import read_version
from .sinks import drain_available_now, versioned_state_sink


def m4_state_sink(table_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining the per-(series, bucket) M4
    state. No epoch guard: the extreme-struct merge is idempotent, so
    replay convergence holds by construction (see module docstring).
    """
    return versioned_state_sink(
        "m4_state_sink", table_dir, m4_state, merge_m4_states, guard=False
    )


def read_m4(spark, table_dir: str) -> DataFrame:
    """The maintained downsample, shaped exactly like
    h15_m4_downsample's batch output (role rows derived from the
    extreme structs at read time)."""
    state = read_version(spark, table_dir).drop("__epoch")
    return finalize_m4(state)


def run_m4_ingest(
    spark,
    input_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schema: str = (
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    ),
    max_files_per_trigger: int = 1,
) -> None:
    """Drain a parquet drop-dir of event rows into the M4 state with
    ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up."""
    drain_available_now(
        spark, input_dir, schema, max_files_per_trigger,
        m4_state_sink(table_dir), checkpoint_dir,
    )
