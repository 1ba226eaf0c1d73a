"""Streaming embedding ingestion with incremental SEMANTIC dedup.

The vector-corpus twin of ``dedup_stream``: embeddings arrive on a
stream, each micro-batch is cell-assigned against a k-means model and
checked only against same-cell ACCEPTED vectors
(``operators.similarity.incremental_semantic_dedup`` — the d15
semantics), verdicts are recorded, and only ``unique`` vectors join the
corpus. This is the ingestion loop behind a continuously-growing
embedding store (RAG index, SemDeDup-curated training corpus).

Layout mirrors ``dedup_stream`` exactly (epoch-partitioned for replay
idempotence):

- ``corpus_dir/batch_id=<n>/``   — accepted (unique) vectors of epoch n.
- ``verdicts_dir/batch_id=<n>/`` — (vec_id, cent_id, status, match_id).

Crash/replay: ``sinks.write_epoch`` for every write and
``sinks.read_other_epochs`` for every store read — a replayed epoch
overwrites its partial output and never dedups against its own
half-written copy (see dedup_stream's module docstring for the full
argument; the convergence proof is identical).

Model lifecycle: the cell model is refitted per epoch on the accepted
corpus (first epoch: on the batch itself — there is nothing else to fit
on). Refitting per epoch is exact and keeps the example self-contained;
a production service would maintain the model incrementally (mini-batch
k-means) or refresh it on a slower cadence and version it beside the
corpus — the verdict semantics do not depend on WHICH model assigned
the cells, only that batch and corpus share one, which refit-per-epoch
guarantees.

Scale: the CANDIDATE JOIN is the part that stays flat — candidates are
only (new x corpus) and (new x earlier-new) same-cell collisions;
corpus x corpus is already deduped by induction and never rescored, so
pair-scoring cost is O(batch x colliding-cell corpus) regardless of
corpus age. The refit-per-epoch model lifecycle above is NOT flat: the
k-means refit (n_iter full passes) and the corpus cell-assignment are
each O(corpus) scans per epoch — acceptable while the corpus is young.
:func:`incremental_semantic_model_sink` is the long-lived-service
rendition that removes BOTH O(corpus) terms: a mini-batch-maintained
model store (one batch pass per epoch) plus admission-time corpus cell
ids (the corpus is never re-assigned), leaving only the flat candidate
join — with the honest IVF-style recall trade its docstring states.
Salt-sharding keeps few-big-cells spread across the cluster.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.similarity import (
    assign_cells,
    auto_k,
    incremental_semantic_dedup,
    kmeans_lloyd,
    kmeans_minibatch_update,
    semantic_verdicts,
)
from .sinks import (
    drain_available_now,
    overwrite_partitions,
    read_other_epochs,
    write_epoch,
)


def incremental_semantic_sink(
    corpus_dir: str,
    verdicts_dir: str,
    k: int | str = 4,  # "auto" -> k ~ sqrt(corpus) via similarity.auto_k
    n_iter: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int | None = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: gate each embedding micro-batch through
    corpus-incremental semantic dedup, record verdicts, admit uniques.

    Use::

        stream.writeStream.foreachBatch(
            incremental_semantic_sink(corpus_dir, verdicts_dir)
        ).option("checkpointLocation", ckpt).start()
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, vec_col).withColumn(
            "__new", F.lit(True)
        )
        corpus = read_other_epochs(spark, corpus_dir, batch_id)
        if corpus is not None:
            corpus = corpus.select(id_col, vec_col).withColumn(
                "__new", F.lit(False)
            )
        has_corpus = corpus is not None and corpus.head(1)

        if has_corpus:
            full = corpus.unionByName(batch)
            fit_set = corpus.select(id_col, vec_col)
        else:
            # first epoch: nothing accepted yet — fit on the batch and
            # dedup it against itself (dup_batch/unique only)
            full = batch
            fit_set = batch.select(id_col, vec_col)

        cents = kmeans_lloyd(
            fit_set, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col
        )
        verdicts = incremental_semantic_dedup(
            full,
            new_pred=F.col("__new"),
            centroids=cents,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            salt=salt,
        )

        try:
            # consumed twice (verdict write + unique-filter join)
            verdicts = verdicts.persist()
            write_epoch(verdicts, verdicts_dir, batch_id)
            accepted = batch.select(id_col, vec_col).join(
                verdicts.filter(F.col("status") == "unique").select(id_col),
                id_col,
            )
            write_epoch(accepted, corpus_dir, batch_id)
        finally:
            verdicts.unpersist()

    return write


def incremental_semantic_model_sink(
    corpus_dir: str,
    verdicts_dir: str,
    model_dir: str,
    k: int | str = "auto",
    n_iter: int = 2,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int | None = 16,
    auto_rebuild: float | None = 2.0,
    target_cell_size: int = 32,
) -> Callable[[DataFrame, int], None]:
    """The INCREMENTAL-MODEL rendition of the semantic gate: no
    per-epoch O(corpus) refit or re-assignment passes; paired with
    periodic :func:`rebuild_semantic_model` calls (which restore
    k ~ sqrt(n)), per-epoch cost is amortized O(batch).

    :func:`incremental_semantic_sink` refits k-means on the accepted
    corpus and re-assigns the whole corpus every epoch (exact, and fine
    while the corpus is young, but both passes are O(corpus)). This
    sink removes them, the way a long-running service must:

    - the MODEL lives in ``model_dir/epoch=<n>/`` as
      (cent_id, cent_vec, n) and is maintained by mini-batch running
      means (:func:`kmeans_minibatch_update`) — one pass over the BATCH
      absorbs it; the corpus is never re-fit;
    - the CORPUS stores each vector's cell id AS OF ITS ADMISSION EPOCH
      (``corpus_dir/batch_id=<n>/`` rows carry cent_id), so candidate
      generation joins stored cells — the corpus is never re-assigned.

    Two honest, standard prices — run :func:`rebuild_semantic_model`
    on a cadence to pay both down:

    - recall: corpus cell ids age as the model drifts, so a batch
      vector and an old near-duplicate can land in different cells and
      be missed (exact duplicates are unaffected — identical vectors
      assign identically under any model);
    - K IS FROZEN between rebuilds: mini-batch updates move centroids
      but never add cells, so candidate work per epoch is
      batch x (corpus/k) with a k sized at the last rebuild — MEASURED
      growing 24 -> 94 s/epoch over 10 epochs at dim 256 while the
      refit sink (auto-k regrown each epoch) stayed flat (SCALE.md
      round-5). The rebuild restores k ~ sqrt(n) at O(corpus) once per
      cadence — amortized O(batch) when triggered every
      constant-factor corpus growth, which is how every IVF index is
      operated.

    AUTO-TRIGGER (``auto_rebuild``, default 2.0): after each epoch's
    writes the sink compares the corpus's CURRENT auto-k target
    (``auto_k(corpus_n, target_cell_size)`` — one metadata-cheap
    parquet count) against the live model's cell count and fires
    :func:`rebuild_semantic_model` when the target has outgrown the
    model by the given factor — i.e. every ~``auto_rebuild**2``-fold
    corpus growth, geometric cadence, so a long-lived feed self-heals
    without an operator remembering to call the rebuild. The trigger
    decision is a pure function of (corpus size, model k), both of
    which replay deterministically, so a re-fired epoch re-takes the
    same decision and the rebuilt model is bit-identical
    (deterministic Lloyd fit). ``auto_rebuild=None`` restores the
    manual-cadence behavior. Epochs OLDER than a fired rebuild lose
    byte-convergent replay exactly as a manual rebuild's docstring
    states — the trigger only fires at the stream head, so run
    checkpoint-horizon vacuuming on the same cadence.

    Replay: the model read takes the newest epoch STRICTLY BELOW the
    current batch_id, so a crashed epoch's half-written model partition
    is ignored and a mid-history re-fire reads exactly the model it
    originally saw; the update is deterministic (decimal batch sums +
    driver float math), so the rewritten model/verdict/corpus
    partitions are byte-identical.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(id_col, vec_col)

        prev_model = None
        models = read_other_epochs(spark, model_dir, batch_id, "epoch")
        if models is not None:
            models = models.filter(F.col("epoch") < int(batch_id))
            prev_epoch = models.agg(F.max("epoch")).collect()[0][0]
            if prev_epoch is not None:
                prev_model = models.filter(
                    F.col("epoch") == prev_epoch
                ).select("cent_id", "cent_vec", "n")

        if prev_model is None:
            # first epoch: structure from the batch itself, counts start
            # at 0 so the running mean degenerates to exact batch means
            k_res = auto_k(batch.count()) if k == "auto" else k
            cents0 = kmeans_lloyd(
                batch, k=k_res, n_iter=n_iter, id_col=id_col, vec_col=vec_col
            )
            prev_model = cents0.select(
                "cent_id", "cent_vec", F.lit(0).cast("bigint").alias("n")
            )

        model = kmeans_minibatch_update(
            prev_model, batch, id_col=id_col, vec_col=vec_col
        )

        batch_cells = assign_cells(
            batch, model.select("cent_id", "cent_vec"),
            id_col=id_col, vec_col=vec_col,
        ).select(id_col, vec_col, F.col("cent_id").cast("int").alias("cent_id"))

        corpus_cells = read_other_epochs(spark, corpus_dir, batch_id)
        if corpus_cells is None:
            corpus_cells = spark.createDataFrame([], batch_cells.schema)
        else:
            corpus_cells = corpus_cells.select(id_col, vec_col, "cent_id")

        verdicts = semantic_verdicts(
            batch_cells,
            corpus_cells,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            salt=salt,
        )

        try:
            verdicts = verdicts.persist()
            write_epoch(verdicts, verdicts_dir, batch_id)
            accepted = batch_cells.join(
                verdicts.filter(F.col("status") == "unique").select(id_col),
                id_col,
            )
            write_epoch(accepted, corpus_dir, batch_id)
            write_epoch(model, model_dir, batch_id, "epoch")
        finally:
            verdicts.unpersist()

        if auto_rebuild:
            # Head-only: a replayed OLD epoch must not rebuild (it would
            # rewrite corpus cell ids under a model the head batches
            # don't assign with, breaking the exact-dup invariant). At
            # the head the store's max epoch is our own write.
            max_epoch = (
                spark.read.parquet(model_dir)
                .agg(F.max("epoch"))
                .collect()[0][0]
            )
            at_head = max_epoch is None or int(max_epoch) <= int(batch_id)
            # Both inputs are cheap and replay-deterministic: the corpus
            # count is parquet-metadata work, k_cur is the k-row model.
            n_total = spark.read.parquet(corpus_dir).count()
            k_cur = model.count()
            if at_head and (
                auto_k(n_total, target_cell_size) >= auto_rebuild * k_cur
            ):
                rebuild_semantic_model(
                    spark,
                    corpus_dir,
                    model_dir,
                    epoch=int(batch_id),
                    n_iter=n_iter,
                    target_cell_size=target_cell_size,
                    id_col=id_col,
                    vec_col=vec_col,
                )

    return write


def rebuild_semantic_model(
    spark,
    corpus_dir: str,
    model_dir: str,
    epoch: int,
    n_iter: int = 2,
    target_cell_size: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """The periodic INDEX REBUILD the incremental-model sink requires:
    refit auto-k k-means on the whole accepted corpus, REWRITE every
    corpus partition's stored cell id under the new model, and commit
    the model as epoch ``epoch`` (pass the id of the last applied
    epoch; the next micro-batch picks the rebuilt model up). Returns
    the new k.

    WHY it exists — measured, not assumed: mini-batch updates move
    centroids but can never ADD cells, so under a frozen k the
    candidate join's batch x (corpus/k) work grows linearly with the
    corpus — a 10-epoch sweep (dim 256, 2k batch) measured the
    incremental sink's per-epoch wall going 24 -> 94 s while the
    refit sink (whose auto-k regrows every epoch) stayed flat
    (tools/scale_check_semantic_stream.py; SCALE.md round-5). The
    rebuild restores k ~ sqrt(n) at O(corpus) cost ONCE per cadence —
    amortized O(batch) when run every ~constant-factor corpus growth,
    which is exactly how IVF indexes are operated.

    Replay contract: rebuilding rewrites other epochs' partitions, so
    re-fires of epochs OLDER than the rebuild are no longer
    byte-convergent (their verdicts stand; only stored cell-id
    metadata changed). Like vacuuming, a rebuild advances the replay
    horizon — run it at or behind the streaming checkpoint's horizon.
    """
    corpus = spark.read.parquet(corpus_dir).select(
        id_col, vec_col, "batch_id"
    )
    n = corpus.count()
    if n == 0:
        return 0  # nothing accepted yet — nothing to rebuild
    k = auto_k(n, target_cell_size)
    cents = kmeans_lloyd(
        corpus.select(id_col, vec_col), k=k, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col,
    )
    from ..operators.similarity import _collect_centroids, centroid_dist_structs

    nearest = F.array_min(
        centroid_dist_structs(vec_col, _collect_centroids(cents))
    )
    assigned = corpus.select(
        id_col,
        vec_col,
        nearest.getField("cent_id").cast("int").alias("cent_id"),
        "batch_id",
    )
    counts = {
        int(r["cent_id"]): int(r["n"])
        for r in assigned.groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    model = cents.join(
        spark.createDataFrame(
            list(counts.items()), "cent_id INT, n BIGINT"
        ),
        "cent_id",
        "left",
    ).select("cent_id", "cent_vec", F.coalesce("n", F.lit(0)).alias("n"))

    overwrite_partitions(assigned, corpus_dir, "batch_id")
    write_epoch(model, model_dir, epoch, "epoch")
    return k


def run_semantic_ingest(
    spark,
    input_glob: str,
    corpus_dir: str,
    verdicts_dir: str,
    checkpoint_dir: str,
    schema: str = "vec_id long, embedding array<double>",
    max_files_per_trigger: int = 1,
    **dedup_kwargs,
) -> None:
    """Drain a JSON-lines embedding feed through the semantic-dedup gate
    with ``Trigger.AvailableNow`` (one epoch per file at
    ``max_files_per_trigger=1``), blocking until caught up; a service
    would ``start()`` without AvailableNow and run forever."""
    drain_available_now(
        spark, input_glob, schema, max_files_per_trigger,
        incremental_semantic_sink(corpus_dir, verdicts_dir, **dedup_kwargs),
        checkpoint_dir, fmt="json",
    )
