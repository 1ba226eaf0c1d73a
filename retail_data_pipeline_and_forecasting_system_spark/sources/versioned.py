"""Versioned parquet tables: snapshot isolation + time travel on a plain
filesystem, no table-format dependency.

Why this exists in a training-data engine: a training run must be able to
name the EXACT corpus snapshot it read ("dataset v17"), re-read it later
bit-for-bit, and never observe a half-written update — while ingest keeps
appending new versions. The reference has no notion of this (it
TRUNCATEs MySQL tables in place, src/data_processor.py:98-139); lakehouse
formats solve it with a transaction log. This module implements the same
core idea with two primitives Spark already has:

- **Immutable version directories** ``<table>/v=<n>/`` — a writer stages
  its files under a new version dir; existing versions are never touched
  (writers never conflict with readers).
- **A tiny manifest** ``<table>/_latest`` naming the current version,
  flipped LAST via atomic rename — the single commit point. Readers that
  resolved a version before the flip keep reading their (still intact)
  snapshot; readers after the flip see the new one. A crashed writer
  leaves only an orphaned staging dir, never a corrupt table.

Scale notes: the manifest is one small file regardless of table size (no
listing of data files, so commit cost is O(1)); version dirs can hold any
partitioning inside (``partition_by`` passes through); old versions are
retired explicitly with :func:`vacuum_versions` — the same
retention-window contract as lakehouse VACUUM, so long-running readers
get a grace period instead of FileNotFound.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _latest_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_latest")


def current_version(table_dir: str) -> int | None:
    """The committed version number, or None for an empty/new table."""
    try:
        with open(_latest_path(table_dir)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def list_versions(table_dir: str) -> list[int]:
    """All committed (non-staging) versions present on disk, ascending.

    Orphaned staging dirs (``_staging_v=<n>``, from crashed writers) are
    excluded — they are invisible to readers by construction.
    """
    if not os.path.isdir(table_dir):
        return []
    out = []
    for name in os.listdir(table_dir):
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


def write_version(df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as the next version of the table; returns its number.

    Stage-then-flip: data lands in ``_staging_v=<n>`` (a crash strands
    only this dir), is renamed to ``v=<n>`` (same filesystem ⇒ atomic dir
    rename), and only then does ``_latest`` flip via write-temp +
    ``os.replace`` (atomic on POSIX). Concurrent readers of any earlier
    version are untouched; a reader that calls :func:`read_version`
    mid-commit sees either the old or the new version, never a mix.

    Single-writer by contract (like a lakehouse table without a lock
    service); concurrent writers would race on the version number.
    """
    n = (current_version(table_dir) or 0) + 1
    # skip over any higher-numbered commit dirs AND orphaned staging dirs
    # from a crashed (or still-running) writer: version numbers are never
    # reused, and an in-flight staging dir is never clobbered
    if os.path.isdir(table_dir):
        for name in os.listdir(table_dir):
            num = None
            if name.startswith("v=") and name[2:].isdigit():
                num = int(name[2:])
            elif name.startswith("_staging_v=") and name[11:].isdigit():
                num = int(name[11:])
            if num is not None:
                n = max(n, num + 1)
    os.makedirs(table_dir, exist_ok=True)
    staging = os.path.join(table_dir, f"_staging_v={n}")
    final = os.path.join(table_dir, f"v={n}")
    df.write.mode("overwrite").parquet(staging)
    os.rename(staging, final)
    tmp = _latest_path(table_dir) + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(n))
    os.replace(tmp, _latest_path(table_dir))
    return n


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read a pinned snapshot (time travel) or the committed latest.

    ``version=None`` resolves ``_latest`` ONCE, so the returned DataFrame
    stays pinned to that snapshot even if the table advances before the
    plan executes — the reproducibility contract a training run needs.
    """
    if version is None:
        version = current_version(table_dir)
        if version is None:
            raise FileNotFoundError(f"no committed version in {table_dir}")
    path = os.path.join(table_dir, f"v={version}")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"version {version} not present in {table_dir} "
            f"(have {list_versions(table_dir)})"
        )
    return spark.read.parquet(path)


def vacuum_versions(table_dir: str, keep: int = 2) -> list[int]:
    """Retire all but the newest ``keep`` committed versions; returns the
    removed version numbers. Also clears orphaned staging dirs.

    The version ``_latest`` points to is ALWAYS kept, even when a
    crashed writer left a higher-numbered ``v=<n>`` dir that never got
    its manifest flip — the newest-N window is taken over committed
    dirs but the current version is explicitly excluded from the drop
    set, so a reader resolving ``_latest`` can never lose its table.

    Runs under the same single-writer contract as :func:`write_version`
    (one maintenance actor at a time): clearing staging dirs while a
    writer is mid-stage would delete the data out from under it.
    """
    import shutil

    keep = max(1, keep)
    current = current_version(table_dir)
    # retention window over COMMITTED history only: a crash-stranded
    # v-dir NEWER than _latest (rename happened, manifest flip didn't)
    # must not occupy a keep slot — it would silently shorten the grace
    # period for genuinely committed old versions. Such orphans are
    # left untouched (write_version already skips past their numbers).
    versions = [
        n
        for n in list_versions(table_dir)
        if current is None or n <= current
    ]
    drop = [
        n
        for n in (versions[:-keep] if len(versions) > keep else [])
        if n != current
    ]
    for n in drop:
        shutil.rmtree(os.path.join(table_dir, f"v={n}"))
    if os.path.isdir(table_dir):
        for name in os.listdir(table_dir):
            if name.startswith("_staging_v="):
                shutil.rmtree(os.path.join(table_dir, name))
    return drop
