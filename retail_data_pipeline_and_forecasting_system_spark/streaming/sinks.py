"""Exactly-once streaming sinks via foreachBatch, and the epoch scaffold
every streaming service here is built on.

Structured Streaming's file sinks are append-only and its checkpoint
guarantees at-least-once delivery to arbitrary sinks: after a crash
between "sink write" and "checkpoint commit", the next run REPLAYS the
last micro-batch. A sink that appends blindly duplicates that batch.

``idempotent_parquet_sink`` makes the replay harmless the standard way:
every micro-batch writes to its own ``batch_id=<epoch>`` partition with
dynamic partition overwrite, so a replayed epoch OVERWRITES its own
(possibly partial) output instead of appending beside it. Write +
re-write converge to the same bytes — effectively exactly-once at the
file level, the same idea table formats implement with manifest commits.

The reference appends per-day CSVs with no replay story
(src/data_processor.py single-shot batch); this is what its output
contract needs to survive a mid-batch crash when run continuously.

The scaffold — the three decisions every service shares:

- :func:`write_epoch` / :func:`overwrite_partitions`: the
  epoch-partitioned overwrite above. Dynamic overwrite is a WRITER
  option, so it covers exactly this write: the session's overwrite-mode
  conf is never touched, and no other thread's concurrent write changes
  meaning. :func:`read_other_epochs` is the matching read: a store minus
  the replayed epoch's own (possibly partial) partition, or None before
  the first epoch.
- :func:`versioned_state_sink`: the agg-state services' foreachBatch
  body — delta, merge into the stored state, commit one
  ``sources.versioned`` version per epoch, with the ``__epoch`` replay
  guard (``rollup_stream``'s docstring states the contract).
- :func:`drain_available_now`: drain a json or parquet drop-dir through
  a foreachBatch sink with ``Trigger.AvailableNow`` (one epoch per file
  at ``max_files_per_trigger=1``), blocking until caught up — the batch
  harness for a sink; a service would ``start()`` without AvailableNow
  and run forever.

At 100 TB: the sink adds no shuffle (partitionBy on a literal column),
each epoch directory is independently compactable (see
sources/writers.compact_partition), and downstream batch readers just
read the root — Spark merges the batch_id partitions.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from ..sources.versioned import current_version, read_version, write_version


def overwrite_partitions(frame: DataFrame, out_dir: str, col: str) -> None:
    """Write ``frame`` partitioned by ``col``, replacing only the
    partitions it carries (dynamic overwrite as a writer option)."""
    (
        frame.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(out_dir)
    )


def write_epoch(
    frame: DataFrame, out_dir: str, batch_id: int, col: str = "batch_id"
) -> None:
    """Write ``frame`` as the ``<col>=<batch_id>`` partition of
    ``out_dir``; a replayed epoch replaces its own partition only."""
    overwrite_partitions(
        frame.withColumn(col, F.lit(int(batch_id))), out_dir, col
    )


def read_other_epochs(
    spark, store_dir: str, batch_id: int, col: str = "batch_id"
) -> DataFrame | None:
    """Every epoch of an epoch-partitioned store except ``batch_id``'s
    own — a replayed epoch must never read its own partial output from
    the crashed attempt. None when the store does not exist yet."""
    try:
        return spark.read.parquet(store_dir).filter(
            F.col(col) != int(batch_id)
        )
    except AnalysisException:
        return None


def versioned_state_sink(
    name: str,
    table_dir: str,
    delta: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
    guard: bool = True,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function maintaining a versioned state table:
    ``delta(batch)`` reduces the micro-batch, ``merge(state, delta)``
    folds it into the stored state, and the result is committed as the
    table's next version with the epoch id in a constant ``__epoch``
    column. An empty batch commits nothing.

    ``guard=True`` is for merges that double-count under replay: the
    crash-replayed epoch (``batch_id == __epoch``) is skipped, and a
    batch id BEHIND the stored epoch (a new checkpoint lineage against
    an existing table) raises. ``guard=False`` is for idempotent merges,
    where re-applying an epoch is already a no-op.
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return  # no rows -> no new (identical) version committed
        spark = batch_df.sparkSession
        d = delta(batch_df)
        if current_version(table_dir) is None:
            out = d
        else:
            cur = read_version(spark, table_dir)
            if guard:
                last = cur.agg(F.max("__epoch")).first()[0]
                if last is not None and batch_id == last:
                    return  # crash-replayed epoch, already applied
                if last is not None and batch_id < last:
                    raise ValueError(
                        f"{name}: batch_id {batch_id} is "
                        f"behind the table's last applied epoch {last} — "
                        "a new checkpoint lineage is pointed at an "
                        "existing state table; use a fresh table_dir (or "
                        "resume the original checkpoint)"
                    )
            out = merge(cur.drop("__epoch"), d)
        write_version(
            out.withColumn("__epoch", F.lit(batch_id).cast("bigint")),
            table_dir,
        )

    return apply


def drain_available_now(
    spark,
    source: str,
    schema: str,
    max_files_per_trigger: int,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    fmt: str = "parquet",
) -> None:
    """Drain the ``fmt`` (json or parquet) files at ``source`` through
    ``sink`` with ``Trigger.AvailableNow``, blocking until caught up."""
    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .format(fmt)
        .load(source)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def idempotent_parquet_sink(
    out_dir: str,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing each epoch to its own overwritten
    partition. Use:

    ``stream.writeStream.foreachBatch(idempotent_parquet_sink(d))...``
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        write_epoch(batch_df, out_dir, batch_id)

    return write


def quarantine_parquet_sink(
    clean_dir: str,
    quarantine_dir: str,
    rules,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: route each micro-batch through the
    data-quality gate (``operators.quality.split_by_expectations``) —
    clean rows to ``clean_dir``, violating rows (tagged with their
    ';'-joined rule list) to ``quarantine_dir``. Both sides are
    epoch-partitioned with dynamic partition overwrite, so a replayed
    epoch converges instead of duplicating — bad rows are never silently
    dropped OR double-counted.

    The streaming rendition of dq1/dq2: the reference drops NaN rows
    inline (src/data_processor.py:320-335); a 24/7 ingest needs the
    rejects routed somewhere replayable for triage and backfill.

    Scale: the split is a pair of filters over the SAME tagged frame —
    row-local rules are pure column expressions, so the gate adds no
    shuffle and no extra pass beyond the two writes. ``rules`` must be
    row-local or foreign_key (see ``tag_violations``).
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.quality import split_by_expectations

        clean, bad = split_by_expectations(batch_df, rules)
        write_epoch(clean, clean_dir, batch_id)
        write_epoch(bad, quarantine_dir, batch_id)

    return write


def idempotent_jdbc_sink(
    url: str,
    table: str,
    user: str = "",
    password: str = "",
    driver: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function delivering each epoch to a JDBC table
    exactly-once-under-replay: DELETE the epoch's rows, then append them
    tagged with the epoch id.

    The transactional-store twin of :func:`idempotent_parquet_sink`:
    Structured Streaming replays the last uncommitted micro-batch after
    a crash, so a blind append duplicates it — the epoch-keyed
    delete-then-insert converges instead (replaying epoch n first wipes
    whatever partial slice of epoch n landed). The DELETE runs on the
    driver over one JDBC statement (it touches one epoch's keys); the
    INSERT is Spark's distributed JDBC writer, one connection per
    partition.

    The delete+insert pair is not atomic; a reader polling mid-replay
    can briefly see the epoch missing. Stores with MERGE support would
    collapse the pair into one statement — same idempotence, no window.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        jvm = spark.sparkContext._jvm
        if driver:
            jvm.java.lang.Class.forName(driver)
        conn = jvm.java.sql.DriverManager.getConnection(url, user, password)
        try:
            md = conn.getMetaData()
            # first epoch: the table does not exist yet (Spark's writer
            # will create it) — checked explicitly via metadata so that a
            # REAL delete failure (lock timeout, dropped connection,
            # revoked grant) still raises: swallowing it would let the
            # append run and duplicate the replayed epoch, the exact
            # failure this sink exists to prevent. The probe is SCOPED:
            # name and schema are store-case-folded and passed into
            # getTables as filters — an unqualified name resolves in the
            # connection's CURRENT schema (where the writer's CREATE and
            # the DELETE both resolve), so a same-named table in another
            # schema can neither flip exists=True (breaking first-run
            # bootstrap with a doomed DELETE) nor be deleted from.
            # Supports plain or schema-qualified ("app.events") unquoted
            # names, matching what Spark's dbtable option accepts.
            if md.storesUpperCaseIdentifiers():
                fold = str.upper
            elif md.storesLowerCaseIdentifiers():
                fold = str.lower
            else:
                fold = lambda s: s  # noqa: E731 — store keeps mixed case
            t_parts = [fold(p) for p in table.split(".")]
            t_name = t_parts[-1]
            t_schema = t_parts[-2] if len(t_parts) > 1 else None
            if t_schema is None:
                try:
                    t_schema = conn.getSchema()  # JDBC 4.1
                except Exception:
                    t_schema = None  # older driver: match any schema
            rs = md.getTables(None, t_schema, t_name, None)
            exists = False
            try:
                # getTables' patterns are LIKE patterns ('_' wildcards),
                # so re-check the name exactly
                while rs.next():
                    if rs.getString("TABLE_NAME") == t_name:
                        exists = True
                        break
            finally:
                rs.close()
            if exists:
                # Spark's JDBC writer QUOTES column names at CREATE
                # TABLE, so the epoch column is case-sensitive — quote
                # it (and the store-folded table identifier) with the
                # store's own identifier quote (portable: Derby/Postgres
                # `"`, MySQL backtick)
                qt = md.getIdentifierQuoteString()
                q_table = ".".join(f"{qt}{p}{qt}" for p in t_parts)
                stmt = conn.createStatement()
                try:
                    stmt.executeUpdate(
                        f"DELETE FROM {q_table} "
                        f"WHERE {qt}batch_id{qt} = {int(batch_id)}"
                    )
                finally:
                    stmt.close()
        finally:
            conn.close()

        writer = (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("user", user)
            .option("password", password)
            .mode("append")
        )
        if driver:
            writer = writer.option("driver", driver)
        writer.save()

    return write


def vacuum_epoch_partitions(
    store_dir: str,
    keep_latest: int,
    partition_col: str | None = None,
) -> list[int]:
    """Retire old epoch partitions from an epoch-partitioned store
    (``batch_id=<n>/`` or ``epoch=<n>/`` dirs — the layout every
    foreachBatch service here writes), keeping the newest
    ``keep_latest``. Returns the vacuumed epoch ids.

    The replay contract shrinks accordingly: a vacuumed epoch can no
    longer be re-fired convergently (its partition — and for the
    segment store, its first-seen segments; for the model store, the
    model its successor read — is gone), so keep the retention at least
    as deep as the streaming checkpoint's replay horizon, exactly like
    ``sources.versioned.vacuum_versions``. Deleting a whole partition
    directory is metadata-only for readers: the next scan simply lists
    fewer partitions; no rewrite, no tombstone files.

    NOTE for the dedup/segment corpus stores: vacuuming ADMISSION
    epochs changes dedup semantics (early segments/vectors stop
    guarding future arrivals). That is sometimes exactly what a
    retention policy wants (dedup against the last N days only) — this
    function is that policy's mechanism; it is NOT safe compaction for
    a store meant to guard forever. For the model store it is always
    safe beyond the replay horizon: only the newest version is read.
    """
    import re
    import shutil
    from pathlib import Path

    root = Path(store_dir)
    if not root.is_dir():
        return []
    pat = re.compile(
        rf"^{re.escape(partition_col)}=(\d+)$"
        if partition_col
        else r"^(?:batch_id|epoch)=(\d+)$"
    )
    parts = sorted(
        (int(m.group(1)), p)
        for p in root.iterdir()
        if p.is_dir() and (m := pat.match(p.name))
    )
    victims = parts[:-keep_latest] if keep_latest > 0 else parts
    for _, p in victims:
        shutil.rmtree(p)
    return [e for e, _ in victims]
