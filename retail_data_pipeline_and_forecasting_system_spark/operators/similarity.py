"""Similarity search over embedding columns (array<float>).

Vector math is pure column expressions — ``zip_with`` + a sequential
``aggregate`` fold, evaluated JVM-side. The fold order is left-to-right and
deterministic, which makes results bit-identical across engines (the DuckDB
oracles use the same sequential fold) and across cluster sizes.

Scale paths:
- ``cosine_topk``      : brute force — one broadcast of the query vector,
                         one pass, one top-k. The exact baseline.
- ``lsh_bucket_topk``  : sign-LSH (axis hyperplanes) buckets candidates
                         first; the scan then touches only the query's
                         bucket — the sublinear path. Bucketing is a plain
                         column expression, so the bucket id can be a
                         partition/cluster key for 100 TB corpora.
- ``cosine_pairs_blocked``: near-dup pairs with block-local self-join
                         (block key = label or LSH bucket) instead of n².
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _salt_partitions(df: DataFrame, salt: int) -> int:
    """Partition count for a salted block join's probe-side repartition.

    ``4 * salt`` alone can PIN the join below the cluster's parallelism
    when salt is small (repartition(8) on a 32-core session leaves 24
    cores idle — the opposite of what salting is for), so never go below
    the session's ``spark.sql.shuffle.partitions``.
    """
    default = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return max(4 * salt, default)


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold dot product in double precision (deterministic)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    # nullif: a zero vector has norm 0, and Spark 4's ANSI mode turns the
    # 0/0 into a job-killing exception — one null-ish embedding in a
    # 100 TB corpus must score NULL (and so never reach a top-k), not
    # fail the job; the DuckDB oracles carry the same guard
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine to a literal query vector.

    The query is a literal array column (broadcast by constant folding, no
    join); ties broken by id for total determinism. Output: (id, cos_sim).
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = embeddings.select(
        "vec_id", cosine(F.col("embedding"), q).alias("cos_sim")
    )
    return scored.orderBy(F.desc("cos_sim"), F.col("vec_id")).limit(k)


def sign_lsh_bucket(
    vec_col: Column | str, n_bits: int = 8, offset: int = 0
) -> Column:
    """Sign-random-projection LSH with axis-aligned hyperplanes: bit i =
    (vec[offset + i] > 0). Deterministic, engine-portable, and a valid
    (if weak) cosine LSH; swap in seeded random hyperplanes for
    production skew. Distinct ``offset`` values give INDEPENDENT
    bucketings of the same corpus (disjoint coordinate sets), the
    multi-hash trick nn_descent's seed graph relies on."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    b = None
    for i in range(n_bits):
        term = F.when(
            F.element_at(col, offset + i + 1) > 0, F.lit(1 << i)
        ).otherwise(0)
        b = term if b is None else b + term
    return b.cast("int")


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 8,
) -> DataFrame:
    """Approximate top-k: scan only the query's sign-LSH bucket.

    Recall is bucket-limited (single probe); production would multi-probe
    neighboring buckets. Output: (id, cos_sim) from within the bucket.
    """
    qbucket = sum((1 << i) for i, v in enumerate(query_vec[:n_bits]) if v > 0)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    bucketed = embeddings.withColumn("__bucket", sign_lsh_bucket("embedding", n_bits))
    return (
        bucketed.filter(F.col("__bucket") == qbucket)
        .select("vec_id", cosine(F.col("embedding"), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(k)
    )


def lsh_multiprobe_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 8,
) -> DataFrame:
    """Multi-probe sign-LSH top-k: scan the query's bucket AND every
    Hamming-distance-1 neighbor bucket (flip each of the ``n_bits``
    hyperplane signs once) — the standard recall fix for single-probe
    LSH (Lv et al., VLDB'07): a near neighbor on the far side of ONE
    hyperplane lands in a bucket differing in exactly that bit.

    Candidates grow from ~n/2^b to ~(b+1)·n/2^b — still sublinear —
    and the probe set is a LITERAL IN-list over the bucket column, so
    at 100 TB (bucket = partition/cluster key) this is a (b+1)-partition
    read, no shuffle before the final top-k.

    Output: (id, cos_sim) top-k by cosine, ties by id.
    """
    qbucket = sum((1 << i) for i, v in enumerate(query_vec[:n_bits]) if v > 0)
    probes = [qbucket] + [qbucket ^ (1 << i) for i in range(n_bits)]
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    bucketed = embeddings.withColumn(
        "__bucket", sign_lsh_bucket("embedding", n_bits)
    )
    return (
        bucketed.filter(F.col("__bucket").isin(probes))
        .select("vec_id", cosine(F.col("embedding"), q).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(k)
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (a < b) with cosine >= threshold, comparing only
    within blocks (a label, cluster id, or LSH bucket).

    The block-equi-join replaces the n² cross join with Σ block² work —
    the embedding-space analogue of LSH banding. Output:
    (vec_a, vec_b, cos_sim).

    ``salt``: when blocks are FEW and LARGE (k-means cells with small k,
    a dominant label), the plain block join concentrates every pair of a
    block in one task — pair scoring then runs at single-task speed no
    matter the cluster size. ``salt=S`` shards the probe side S ways on
    a hash of the id, replicates the build side per shard, and
    hash-repartitions the probe on (block, shard). Both planner regimes
    are covered: if the build side broadcasts (toy scale), tasks follow
    the probe's partitioning, which the repartition just spread; if the
    join shuffles (corpus-sized build side — the 100 TB case), the key
    (block, shard) has S x n_blocks groups instead of n_blocks, so no
    single task owns a whole cell. The pair SET is unchanged — salting
    is pure parallelism (measured 15 s -> 1.6 s on 32 cores for
    4 cells x 500k pairs at sf0.1), costing an S-fold replication of
    the build side. Leave None when blocks are plentiful, where
    key-parallelism is already enough.
    """
    a = embeddings.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("vec_a"),
        F.col(vec_col).alias("emb_a"),
    )
    b = embeddings.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("vec_b"),
        F.col(vec_col).alias("emb_b"),
    )
    if salt is None:
        joined = a.join(b, on="__blk")
    else:
        a = a.withColumn(
            "__shard", F.pmod(F.xxhash64("vec_a"), F.lit(salt))
        ).repartition(
            _salt_partitions(embeddings, salt),
            F.col("__blk"),
            F.col("__shard"),
        )
        b = b.withColumn(
            "__shard",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(salt - 1))),
        )
        joined = a.join(b, on=["__blk", "__shard"])
    return (
        joined
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cosine("emb_a", "emb_b"))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def l2sq(a: Column | str, b: Column | str) -> Column:
    """Sequential-fold squared-L2 distance in double precision.

    Same determinism contract as ``dot``: zip, per-element (x-y)^2 in
    doubles, left-to-right fold — bit-identical to the DuckDB
    ``list_reduce(list_transform(list_zip(...)))`` twin.
    """
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, v: acc + v)


def _collect_centroids(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """(cent_id, vector) list from a centroid frame — the k×dim model
    state, the one thing that legitimately crosses the driver."""
    return sorted(
        (int(r["cent_id"]), [float(x) for x in r["cent_vec"]])
        for r in centroids.collect()
    )


def centroid_dist_structs(
    vec_col: Column | str, cent_list: list[tuple[int, list[float]]]
) -> Column:
    """Array of (dist, cent_id) structs from a vector column to literal
    centroids — the map-only building block for nearest-centroid work.

    ``array_min`` of it is the argmin assignment; ``array_sort`` +
    ``slice`` is the n-probe ranking. ZERO shuffle either way: the
    round-1 design (broadcast-join the centroids, then
    ``row_number() over (partition by vec_id)``) exploded every row k
    times and then hash-shuffled the k-times-expanded corpus back on
    vec_id — at 100 TB with k=256 that shuffles 256× the data for a
    per-row argmin; map-only overtakes it from ~20k rows up (measured).
    Struct comparison is lexicographic (dist, then cent_id), reproducing
    the ties → lowest-centroid rule exactly.

    Shape matters twice. (1) The centroids enter as ONE literal k×dim
    matrix and a ``transform`` lambda computes the k distances — a
    constant-size expression tree (k independent fold expressions, or
    worse, k·dim unrolled arithmetic, cost seconds of analyzer time and
    grow with k). (2) The whole expression is emitted as a SINGLE SQL
    string parsed JVM-side: composing it with Column operations costs
    ~1 s of py4j round-trips at k=16/dim=64 (every lambda/struct/lit is
    a driver⇄JVM call), which dominated the query. ``repr(float)`` +
    ``D`` suffix round-trips every double bit-exactly, so results are
    identical to the Column-built form (verified) and the DuckDB oracle
    is unchanged.
    """
    name = vec_col if isinstance(vec_col, str) else vec_col._jc.toString()
    # plain column names get quoted; anything else (e.g. a slice(...)
    # fragment from pq_encode) is embedded as raw SQL
    name = f"`{name}`" if name.isidentifier() else name
    if not cent_list:
        # empty model (day-one deployment, zero-row fit corpus): a typed
        # empty struct array, so array_min yields NULL and every
        # assignment column is NULL — an untyped array() fails analysis
        return F.expr(
            "CAST(array() AS array<struct<dist:double,cent_id:int>>)"
        )
    d = lambda x: repr(float(x)) + "D"
    mat = "array(" + ",".join(
        "array(" + ",".join(d(x) for x in vec) + ")" for _, vec in cent_list
    ) + ")"
    ids = "array(" + ",".join(str(int(c)) for c, _ in cent_list) + ")"
    return F.expr(
        f"transform({mat}, (c, i) -> struct("
        f"aggregate(zip_with({name}, c, (x, y) -> "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dist, "
        f"element_at({ids}, i + 1) AS cent_id))"
    )


def _l2_py(a: list[float], b: list[float]) -> float:
    """Driver-side squared-L2 as the SAME sequential IEEE-double fold the
    engine expressions run — model math (probe selection, PQ distance
    tables) computed in Python is bit-identical to the SQL oracles."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


def ivf_topk(
    embeddings: DataFrame,
    query_id: int,
    n_centroids: int = 16,
    k: int = 10,
    n_probe: int = 1,
    centroids: DataFrame | None = None,
    model: tuple[list[tuple[int, list[float]]], list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors.

    The coarse quantizer uses the first ``n_centroids`` vectors by id as
    centroids (deterministic stand-in for k-means — the *plan shape* is the
    point: at 100 TB the cell id becomes a partition key, so a query scans
    one cell, not the corpus). Every vector is assigned to its nearest
    centroid by squared-L2 (ties → lowest centroid id) in a MAP-ONLY
    argmin over literal centroids (no join, no window, no shuffle — see
    :func:`centroid_dist_structs`); the query's ``n_probe`` nearest cells
    are chosen DRIVER-SIDE from the collected model state (k×dim flops —
    it is model math, not a data pass), and ranking is exact cosine
    against the literal query vector. The whole corpus pass is therefore
    scan → map (cell argmin) → filter(cell IN probe) → TakeOrdered: zero
    joins, zero shuffles, zero broadcasts — the same collapsed shape as
    :func:`ivfpq_topk`. (The previous design broadcast-joined a q-cells
    frame, costing two extra Spark jobs per query.)

    ``model``: optional pre-collected ``(cent_list, qvec)`` — an ANN
    service collects the quantizer once and serves many queries; pass it
    to skip the two tiny driver jobs on repeat calls.

    All distance math is the sequential double fold, so a SQL engine
    running the same assignment reproduces results bit-for-bit. Output:
    (vec_id, cos_sim) — the query row itself is excluded.
    """
    if model is not None:
        cent_list, qvec = model
    else:
        if centroids is None:
            # first-n-by-id stand-in quantizer (oracle-able); pass the
            # output of kmeans_lloyd/kmeans_mllib for a learned one
            centroids = embeddings.filter(
                F.col("vec_id") < n_centroids
            ).select(
                F.col("vec_id").alias("cent_id"),
                F.col("embedding").alias("cent_vec"),
            )
        cent_list = _collect_centroids(centroids)
        qrow = embeddings.filter(F.col("vec_id") == query_id).head()
        if qrow is None:
            raise ValueError(f"query_id {query_id!r} not found in vec_id")
        qvec = [float(x) for x in qrow["embedding"]]
    # multi-probe: the query searches its n_probe nearest cells (recall
    # lever — probe=1 is fastest, probe=n_centroids degenerates to brute
    # force); ties → lowest centroid id, exactly the engine's struct order
    probe_cells = [
        cid
        for _, cid in sorted(
            (_l2_py(qvec, cv), cid) for cid, cv in cent_list
        )[:n_probe]
    ]
    nearest = F.array_min(centroid_dist_structs("embedding", cent_list))
    q_lit = F.expr(
        "array(" + ",".join(repr(float(x)) + "D" for x in qvec) + ")"
    )
    return (
        embeddings.select(
            "vec_id", "embedding", nearest.getField("cent_id").alias("cent_id")
        )
        .filter(
            F.col("cent_id").isin(probe_cells)
            & (F.col("vec_id") != query_id)
        )
        .select("vec_id", cosine(F.col("embedding"), q_lit).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(k)
    )


def auto_k(n: int, target_cell_size: int = 32) -> int:
    """SemDeDup's k ~ sqrt(n) regime as a formula: k =
    ceil(sqrt(n / target_cell_size)), floored at 1.

    With k on this law, expected cell size is sqrt(n * target) and the
    cell-blocked pair join does n^2/k = n^1.5 * sqrt(target) work — the
    per-CELL work (cell_size^2 = n * target) grows only linearly in n,
    so the quadratic term a FIXED k suffers at scale vanishes
    (SCALE.md's measured n^2/k law and its cure). Pure float math
    (division, sqrt, ceil are all IEEE-correctly-rounded), so an oracle
    computing ``ceil(sqrt(count(*) / target.0))`` lands on the same k
    bit-for-bit.
    """
    import math

    return max(1, math.ceil(math.sqrt(n / float(target_cell_size))))


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int | str = 16,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column.

    ``k="auto"`` derives k from one cheap ``count()`` via
    :func:`auto_k` (k = ceil(sqrt(n / 32))) so callers
    building SemDeDup cells never pin a k that stops scaling — the
    count is a zero-column scan of the fit set (one cheap extra pass;
    trivial beside the n_iter full passes of the fit itself).

    Init = first ``k`` vectors by id (no RNG → rerun-identical); each
    iteration assigns points to their nearest centroid in a MAP-ONLY
    argmin over the current centroid literals (squared-L2 fold, ties →
    lowest centroid id — see :func:`centroid_dist_structs`; the only
    shuffle per iteration is the mean aggregation) and recomputes
    centroids as per-dimension means via posexplode + groupBy — all data
    stays distributed; only the k x dim centroid matrix (a few KB) passes
    through the driver between iterations, which is the irreducible model
    state of Lloyd's algorithm.

    Returns the final centroids as (cent_id, cent_vec). Feed to
    :func:`ivf_topk` via ``centroids=`` for a learned coarse quantizer.

    Each per-dimension mean is an exact DECIMAL(28,10) sum divided once
    as a double. A plain double ``avg`` sums in partition order, so
    reruns at different parallelism can differ in the last ulp and
    cascade through later iterations; decimal sums are
    order-independent, making the whole iterative fit BIT-IDENTICAL
    across partitionings AND across engines — the property the k1
    registry oracle checks.
    """
    spark = embeddings.sparkSession
    if k == "auto":
        k = auto_k(embeddings.count())
    cents_rows = (
        embeddings.orderBy(id_col)
        .limit(k)
        .select(id_col, vec_col)
        .collect()
    )
    centroids = [[float(x) for x in r[vec_col]] for r in cents_rows]

    # float -> DOUBLE -> decimal: the double hop is exact in every
    # engine; a direct float->decimal cast is engine-defined
    mean_expr = (
        F.sum(
            F.col("val").cast("double").cast("decimal(28,10)")
        ).cast("double")
        / F.count(F.lit(1))
    ).alias("mean")

    for _ in range(n_iter):
        nearest = F.array_min(
            centroid_dist_structs(vec_col, list(enumerate(centroids)))
        )
        assigned = embeddings.select(
            id_col, vec_col, nearest.getField("cent_id").alias("cent_id")
        )
        means = (
            assigned.select(
                "cent_id", F.posexplode(vec_col).alias("pos", "val")
            )
            .groupBy("cent_id", "pos")
            .agg(mean_expr)
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty cells keep old
        per_cell: dict[int, dict[int, float]] = {}
        for r in means:
            per_cell.setdefault(r["cent_id"], {})[r["pos"]] = r["mean"]
        for cid, dims in per_cell.items():
            for pos, mean in dims.items():
                new_centroids[cid][pos] = mean
        centroids = new_centroids

    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(centroids)],
        "cent_id INT, cent_vec ARRAY<DOUBLE>",
    )


def assign_cells(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment: (id, vec, cent_id, dist).

    Map-only: the centroid frame is collapsed to literals (k×dim model
    state) and the per-row argmin is an ``array_min`` over (dist, cent_id)
    structs — no join, no window, no shuffle (the round-1
    broadcast-join + row_number design shuffled the k-times-expanded
    corpus; see :func:`centroid_dist_structs`).
    """
    nearest = F.array_min(
        centroid_dist_structs(vec_col, _collect_centroids(centroids))
    )
    return embeddings.select(
        id_col,
        vec_col,
        nearest.getField("cent_id").alias("cent_id"),
        nearest.getField("dist").alias("dist"),
    )


def assign_cells_multiprobe(
    embeddings: DataFrame,
    centroids: DataFrame,
    n_probe: int = 2,
) -> DataFrame:
    """The ``n_probe`` NEAREST cells per vector, exploded to
    (id, vec, probe_rank, cent_id) — one row per probe, still map-only
    (array_sort over the same literal-matrix dist structs
    :func:`assign_cells` argmins; no join, no shuffle).

    Feed the QUERY side of an IVF join through this to trade n_probe×
    candidates for the cross-cell recall single-probe assignment loses
    — the join analogue of :func:`ivf_topk`'s multi-probe scan.
    """
    ranked = F.slice(
        F.array_sort(
            centroid_dist_structs("embedding", _collect_centroids(centroids))
        ),
        1,
        n_probe,
    )
    return embeddings.select(
        "vec_id",
        "embedding",
        F.posexplode(ranked).alias("probe_rank", "__p"),
    ).select(
        "vec_id",
        "embedding",
        (F.col("probe_rank") + 1).cast("int").alias("probe_rank"),
        F.col("__p").getField("cent_id").alias("cent_id"),
    )


def kmeans_minibatch_update(
    model: DataFrame,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Absorb one batch into a running k-means model (mini-batch
    k-means, Sculley 2010's running-mean form): assign the batch to the
    current centroid literals map-only, aggregate per-cell decimal sums
    + counts, and move each centroid to the count-weighted running mean
    ``(old_mean·old_n + batch_sum) / (old_n + batch_n)``.

    ``model`` is (cent_id INT, cent_vec ARRAY<DOUBLE>, n BIGINT) — the
    k×dim(+k) state that crosses the driver, same budget as
    :func:`kmeans_lloyd`. With ``n = 0`` rows (a fresh
    ``kmeans_lloyd`` fit) the update degenerates to exact batch cell
    means. Cost per call is ONE pass over the BATCH (assignment is
    map-only; the sum aggregation is (cell, pos)-keyed with map-side
    combine) — never over the corpus the model has already absorbed,
    which is what makes a long-running ingest service's model
    maintenance O(batch) instead of O(corpus) refits.

    Deterministic: decimal batch sums are partition-order-proof, and
    the merge arithmetic is plain driver-side float math — a replayed
    epoch absorbing the same batch from the same prior model lands on
    the bit-identical model.
    """
    spark = model.sparkSession
    state = {
        int(r["cent_id"]): ([float(x) for x in r["cent_vec"]], int(r["n"]))
        for r in model.collect()
    }
    cents = sorted((cid, vec) for cid, (vec, _) in state.items())
    dim = len(cents[0][1]) if cents else 0
    # Hostile-embedding guard (mirrors the null-safe cosine elsewhere):
    # a NULL element would null the per-(cell,pos) decimal sum — raising
    # TypeError below — and a ragged/short vector would silently mix
    # mismatched per-dim counts into the running mean. Drop such rows at
    # the boundary; the surviving batch is dense and dim-consistent.
    clean = batch.filter(
        F.col(vec_col).isNotNull()
        & (F.size(vec_col) == F.lit(dim))
        & ~F.exists(vec_col, lambda x: x.isNull())
    )
    nearest = F.array_min(centroid_dist_structs(vec_col, cents))
    assigned = clean.select(
        nearest.getField("cent_id").alias("cent_id"), F.col(vec_col)
    )
    sums = (
        assigned.select(
            "cent_id", F.posexplode(vec_col).alias("pos", "val")
        )
        .groupBy("cent_id", "pos")
        .agg(
            F.sum(
                F.col("val").cast("double").cast("decimal(28,10)")
            ).cast("double").alias("s"),
            F.count(F.lit(1)).alias("nb"),
        )
        .collect()
    )
    per_cell: dict[int, dict[int, tuple[float, int]]] = {}
    for r in sums:
        per_cell.setdefault(int(r["cent_id"]), {})[int(r["pos"])] = (
            float(r["s"]),
            int(r["nb"]),
        )
    out = []
    for cid, (vec, n_old) in sorted(state.items()):
        dims = per_cell.get(cid)
        if dims:
            nb = next(iter(dims.values()))[1]  # same count every dim
            vec = [
                (vec[pos] * n_old + dims[pos][0]) / (n_old + nb)
                for pos in range(len(vec))
            ]
            n_old += nb
        out.append((cid, vec, n_old))
    return spark.createDataFrame(
        out, "cent_id INT, cent_vec ARRAY<DOUBLE>, n BIGINT"
    )


def incremental_semantic_dedup(
    embeddings: DataFrame,
    new_pred: Column,
    centroids: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int | None = None,
) -> DataFrame:
    """Semantic-dedup an arriving embedding batch AGAINST an accepted
    corpus — the embedding-space twin of ``dedup.incremental_dedup``
    (the 24/7 ingest shape) composed with d14's SemDeDup cells.

    All vectors are cell-assigned in ONE map-only pass over the
    ``centroids`` literals (in production the model fitted on the
    accepted corpus, incrementally maintained); candidates are only
    (new x corpus) and (new x earlier-new) collisions WITHIN a cell —
    the corpus x corpus quadrant is never generated. Verdict per new
    vector:

    - ``dup_corpus`` — a same-cell corpus vector has cosine >=
      ``threshold`` (corpus always wins: it was accepted first);
    - ``dup_batch``  — no corpus match, but a smaller-id same-cell NEW
      vector is above the threshold (the same one-pass
      dominated-by-smaller-id policy as d14);
    - ``unique``     — neither.

    Output: (id, cent_id, status, match_id) with match_id the LOWEST
    matching id of the winning class, NULL for unique.

    ``salt`` shards the corpus side of the candidate join (and the
    batch self-join) exactly as in :func:`cosine_pairs_blocked` — with
    few cells the per-cell candidates otherwise score in one task.
    Scale: per ingest the batch is cell-assigned map-only and joined
    against the corpus cells pre-partitioned on (cell, shard); corpus
    work is proportional to the COLLIDING cells only, and nothing ever
    rescores corpus x corpus.
    """
    # evaluate the predicate BEFORE the cell projection (it may reference
    # columns the assignment drops, e.g. a batch_id), then cell-assign in
    # the same map-only pass as assign_cells
    flagged = embeddings.select(
        F.col(id_col), F.col(vec_col), new_pred.alias("__new")
    )
    nearest = F.array_min(
        centroid_dist_structs(vec_col, _collect_centroids(centroids))
    )
    cells = flagged.select(
        id_col,
        vec_col,
        "__new",
        nearest.getField("cent_id").alias("cent_id"),
    )

    new_cells = cells.filter(F.col("__new"))
    corpus_cells = cells.filter(~F.col("__new"))
    return semantic_verdicts(
        new_cells,
        corpus_cells,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        salt=salt,
    )


def semantic_verdicts(
    new_cells: DataFrame,
    corpus_cells: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: int | None = None,
) -> DataFrame:
    """Verdicts for an already-CELL-ASSIGNED batch against an
    already-cell-assigned corpus — the join half of
    :func:`incremental_semantic_dedup`, split out so callers that keep
    corpus cell ids STORED (the incremental-model streaming service,
    which must not re-assign the corpus every epoch) share one
    implementation with the recompute-everything batch path.

    Both inputs carry (id, vec, cent_id); output and policy are exactly
    incremental_semantic_dedup's (dup_corpus > dup_batch > unique,
    match_id = lowest winning id).
    """
    n = new_cells.select(
        F.col("cent_id").alias("__blk"),
        F.col(id_col).alias("new_id"),
        F.col(vec_col).alias("new_vec"),
    )
    c = corpus_cells.select(
        F.col("cent_id").alias("__blk"),
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("corpus_vec"),
    )
    if salt is None:
        cand = c.join(n, on="__blk")
    else:
        c = c.withColumn(
            "__shard", F.pmod(F.xxhash64("corpus_id"), F.lit(salt))
        ).repartition(
            _salt_partitions(corpus_cells, salt),
            F.col("__blk"),
            F.col("__shard"),
        )
        n = n.withColumn(
            "__shard",
            F.explode(F.sequence(F.lit(0).cast("long"), F.lit(salt - 1))),
        )
        cand = c.join(n, on=["__blk", "__shard"])
    corpus_match = (
        cand.filter(cosine("new_vec", "corpus_vec") >= threshold)
        .groupBy("new_id")
        .agg(F.min("corpus_id").alias("corpus_match"))
    )

    batch_match = (
        cosine_pairs_blocked(
            new_cells,
            threshold=threshold,
            block_col="cent_id",
            id_col=id_col,
            vec_col=vec_col,
            salt=salt,
        )
        .groupBy(F.col("vec_b").alias("new_id"))
        .agg(F.min("vec_a").alias("batch_match"))
    )

    out = (
        new_cells.select(
            F.col(id_col), F.col("cent_id").cast("int").alias("cent_id")
        )
        .join(
            corpus_match.withColumnRenamed("new_id", id_col), id_col, "left"
        )
        .join(
            batch_match.withColumnRenamed("new_id", id_col), id_col, "left"
        )
    )
    return out.select(
        id_col,
        "cent_id",
        F.when(F.col("corpus_match").isNotNull(), F.lit("dup_corpus"))
        .when(F.col("batch_match").isNotNull(), F.lit("dup_batch"))
        .otherwise(F.lit("unique"))
        .alias("status"),
        F.coalesce("corpus_match", "batch_match").alias("match_id"),
    )


def kmeans_mllib(
    embeddings: DataFrame,
    k: int = 16,
    n_iter: int = 20,
    seed: int = 42,
) -> DataFrame:
    """MLlib KMeans as the IVF coarse quantizer — the library twin of
    :func:`kmeans_lloyd` (same (cent_id, cent_vec) contract, feed to
    :func:`ivf_topk` via ``centroids=``).

    MLlib's implementation adds k-means|| initialization and runs its
    Lloyd iterations on the JVM over Vector columns — preferable at real
    scale; the hand-rolled Lloyd stays the fully-deterministic,
    oracle-matchable path.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        )
    )
    model = KMeans(k=k, maxIter=n_iter, seed=seed).fit(feat)
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [
            (i, [float(x) for x in c])
            for i, c in enumerate(model.clusterCenters())
        ],
        "cent_id INT, cent_vec ARRAY<DOUBLE>",
    )


def reduce_dims_pca(embeddings: DataFrame, out_dims: int):
    """MLlib PCA projection of an embedding column to ``out_dims``.

    Returns (model, projected) where projected has the same
    (id, vec) contract with ``embedding`` replaced by the reduced
    ``array<double>`` — drop-in input for :func:`cosine_topk` /
    :func:`ivf_topk` when the original dimensionality makes brute-force
    scoring or centroid learning too expensive. Training is distributed
    (covariance accumulates tree-aggregated on executors); the fitted
    k×d rotation broadcasts for projection.
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = embeddings.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("_fv"),
    )
    model = PCA(k=out_dims, inputCol="_fv", outputCol="_pv").fit(feat)
    projected = model.transform(feat).select(
        "vec_id", vector_to_array("_pv").alias("embedding")
    )
    return model, projected


def rp_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic ±1 sign matrix for a JL random projection.

    Same fixed-LCG scheme as :func:`lcg_hyperplanes` (different seed so
    the two matrices are unrelated): the SAME literal rows are embedded
    in the Spark expression and the SQL oracle, so the projection is
    rerun-identical everywhere with no RNG state. ±1 entries are the
    Achlioptas (2003) database-friendly JL construction — dot products
    become signed sums, exact in both engines.
    """
    out, state = [], 7
    for _ in range(out_dim):
        row = []
        for _ in range(in_dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(1 if ((state >> 16) & 1) == 0 else -1)
        out.append(row)
    return out


def rp_dot_sql(vec_col: str, row: list[int]) -> str:
    """Spark-SQL text for one projection coordinate's sequential fold
    (the DuckDB oracle mirrors it with list_reduce/list_transform —
    identical left-to-right double adds, so values are bit-exact)."""
    arr = "array(" + ",".join(str(int(c)) for c in row) + ")"
    return (
        f"aggregate(zip_with(`{vec_col}`, {arr}, (x, y) -> "
        f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def signed_random_projection(
    embeddings: DataFrame,
    out_dim: int,
    in_dim: int,
) -> DataFrame:
    """JL signed random projection to ``out_dim`` wide double columns
    ``y0..y{k-1}`` plus ``norm_ratio`` = |y|²/|x|² (the per-vector
    distortion audit; NULL for the zero vector).

    Each coordinate is dot(x, s_j)/sqrt(k) with s_j the deterministic
    ±1 row from :func:`rp_signs` — a plan-literal, so the whole
    operator is one row-local JVM projection over the scan: no shuffle,
    no broadcast variable, no Python. sqrt(k) is embedded as a Python
    repr literal so both engines parse the identical double.
    """
    signs = rp_signs(out_dim, in_dim)
    import math

    scale = repr(math.sqrt(out_dim))
    ys = [
        F.expr(f"({rp_dot_sql('embedding', row)}) / {scale}").alias(f"y{j}")
        for j, row in enumerate(signs)
    ]
    proj = embeddings.select(
        "vec_id",
        *ys,
        dot("embedding", "embedding").alias("__nx"),
    )
    normy = None
    for j in range(out_dim):
        term = F.col(f"y{j}") * F.col(f"y{j}")
        normy = term if normy is None else normy + term
    return proj.select(
        "vec_id",
        *[f"y{j}" for j in range(out_dim)],
        (normy / F.nullif(F.col("__nx"), F.lit(0.0))).alias("norm_ratio"),
    )


def lcg_hyperplanes(n_bits: int, dim: int) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes as small signed integers.

    A fixed LCG (glibc constants) drives the coefficients, so the SAME
    literal matrix is embedded in both the Spark expression and the SQL
    oracle — no RNG state, rerun-identical everywhere. Integer
    coefficients (cast to double inside the dot product) sidestep any
    decimal-literal parsing differences between engines.
    """
    out, state = [], 1
    for _ in range(n_bits):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append(((state >> 16) % 2039) - 1019)
        out.append(row)
    return out


def hyperplane_signature(
    vec_col: str, planes: list[list[int]]
) -> Column:
    """Random-hyperplane (SimHash-for-vectors) signature as one BIGINT.

    Bit i is ``dot(vec, h_i) >= 0`` — the classic rotation-sensitive LSH
    for cosine similarity: P(bit match) = 1 - angle/pi, so near-parallel
    vectors agree on almost every bit. The whole signature is ONE
    JVM-parsed SQL expression (see centroid_dist_structs for why the
    string form matters); each dot product is the sequential double fold
    the DuckDB oracle mirrors bit-for-bit.
    """
    terms = []
    for i, row in enumerate(planes):
        arr = "array(" + ",".join(str(int(c)) for c in row) + ")"
        dot_sql = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        terms.append(
            f"(CASE WHEN {dot_sql} >= 0.0D THEN {1 << i}L ELSE 0L END)"
        )
    return F.expr(" + ".join(terms))


def hyperplane_lsh_pairs(
    embeddings: DataFrame,
    n_bits: int = 32,
    n_bands: int = 4,
    threshold: float = 0.25,
) -> DataFrame:
    """Near-dup pairs by random-hyperplane LSH banding + exact-cosine verify.

    The rotation-invariant twin of the label blocking in
    :func:`cosine_pairs_blocked`: candidates are pairs agreeing exactly on
    at least one band of ``n_bits / n_bands`` signature bits, then every
    candidate is verified with the exact cosine fold. Output:
    (vec_a, vec_b, cos_sim).

    Scale: the band value is a partition key — one explode (n_bands
    rows/vector) + one hash equi-join, never an all-pairs comparison.
    Candidate volume tunes EXPONENTIALLY with band width: for
    near-orthogonal noise P(band match) ~ 0.5^width per band, while true
    near-dups (angle -> 0) survive at ~1, so widening bands prunes noise
    without losing recall. At 100 TB you'd raise n_bits/width, not the
    verify budget.
    """
    width = n_bits // n_bands
    mask = (1 << width) - 1
    planes = lcg_hyperplanes(n_bits, 64)
    sig = embeddings.select(
        "vec_id",
        "embedding",
        hyperplane_signature("embedding", planes).alias("sig"),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("sig"), b * width)
                .bitwiseAND(F.lit(mask))
                .alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        "vec_id", F.explode(band_structs).alias("bs")
    ).select(
        "vec_id", F.col("bs.band").alias("band"), F.col("bs.bval").alias("bval")
    )
    a = bands.select(F.col("vec_id").alias("vec_a"), "band", "bval")
    b = bands.select(F.col("vec_id").alias("vec_b"), "band", "bval")
    cand = (
        a.join(b, on=["band", "bval"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    ea = sig.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("__ea"))
    eb = sig.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("__eb"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("cos_sim", cosine("__ea", "__eb"))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    ksub: int = 8,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace PQ codebooks from the first ``ksub`` vectors by id.

    Deterministic stand-in quantizer (same convention as ivf_topk's
    coarse quantizer — swap in per-subspace k-means for a learned one):
    codebook ``s`` holds the s-th dim/m-wide slice of each of the first
    ksub vectors. Only m * ksub * dim/m floats cross the driver — the
    model state.
    """
    width = 64 // m
    rows = sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in embeddings.filter(F.col("vec_id") < ksub).collect()
    )
    return [
        [(cid, vec[s * width : (s + 1) * width]) for cid, vec in rows]
        for s in range(m)
    ]


def pq_encode(
    embeddings: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
) -> DataFrame:
    """Product-quantization encoding: (id, code array<int>), map-only.

    Each subspace's nearest-centroid id is the same literal-matrix argmin
    as IVF assignment (see centroid_dist_structs), applied to the
    subspace SLICE of the vector — m small argmins instead of one big
    one, zero shuffle, zero joins. The m-byte code replaces the
    dim * 4-byte vector: at 100 TB this is the difference between an
    index that fits in cluster memory and one that doesn't (64 dims x
    4 B -> 4 B per vector at m=4).
    """
    m = len(codebooks)
    width = len(codebooks[0][0][1])
    code_cols = []
    for s in range(m):
        sub = f"slice(`embedding`, {s * width + 1}, {width})"
        nearest = F.array_min(centroid_dist_structs(sub, codebooks[s]))
        code_cols.append(nearest.getField("cent_id"))
    return embeddings.select("vec_id", F.array(*code_cols).alias("code"))


def pq_topk(
    embeddings: DataFrame,
    query_id: int,
    m: int = 4,
    ksub: int = 8,
    k: int = 10,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance computation (ADC).

    The query stays EXACT (its raw subvectors); every corpus vector is
    its m-byte code. Approximate distance = sum over subspaces of the
    precomputed (query-subvector -> centroid) distance table entry for
    the row's code — m array lookups + m-1 adds per row, no vector math
    in the scan at all. The distance table (m x ksub doubles) is built
    driver-side with the same sequential fold the engines use, so every
    value is bit-identical to the SQL oracle's join-derived table.

    Output: (vec_id, approx_l2) — the k nearest by coded distance, ties
    to lowest id. Exact re-ranking of this shortlist (cosine on the raw
    vectors of k' > k survivors) is composition with cosine_topk.
    """
    width = 64 // m
    books = pq_codebooks(embeddings, m, ksub)
    _validate_codebook_ids(books)
    qrow = embeddings.filter(F.col("vec_id") == query_id).head()
    if qrow is None:
        raise ValueError(f"query_id {query_id!r} not found in vec_id")
    qvec = [float(x) for x in qrow["embedding"]]
    # driver-side table: Python float ops are the same IEEE doubles,
    # summed left-to-right exactly like the engine fold
    dtable = []
    for s in range(m):
        qs = qvec[s * width : (s + 1) * width]
        row = []
        for _, cent in books[s]:
            acc = 0.0
            for x, y in zip(qs, cent):
                acc = acc + (x - y) * (x - y)
            row.append(acc)
        dtable.append(row)
    coded = pq_encode(embeddings, books)
    d = lambda x: repr(float(x)) + "D"
    lookups = [
        f"element_at(array({','.join(d(v) for v in dtable[s])}), code[{s}] + 1)"
        for s in range(m)
    ]
    approx = F.expr(" + ".join(lookups))
    return (
        coded.filter(F.col("vec_id") != query_id)
        .select("vec_id", approx.alias("approx_l2"))
        .orderBy("approx_l2", F.col("vec_id"))
        .limit(k)
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    query_id: int,
    m: int = 4,
    ksub: int = 8,
    shortlist: int = 50,
    k: int = 10,
) -> DataFrame:
    """Two-stage retrieval: PQ-ADC shortlist, then EXACT cosine rerank —
    the standard serving pattern (compressed index prunes, raw vectors
    refine) that recovers most of the recall PQ quantization loses while
    touching only ``shortlist`` raw vectors.

    Stage 1 is :func:`pq_topk` (m-byte codes, table-lookup distances)
    over-fetching ``shortlist`` > ``k`` candidates; stage 2 joins the
    (tiny, broadcast) shortlist back to the raw vectors and ranks by
    exact cosine against the literal query vector. Output:
    (vec_id, cos_sim), ties to lowest id.

    Scale: stage 2 is a broadcast semi join — the corpus scan prunes to
    shortlist rows (at 100 TB the raw-vector fetch is a point lookup on
    a key-partitioned store; here the broadcast join expresses the same
    access path). No shuffle anywhere: stage 1 is map + TakeOrdered,
    stage 2 map + broadcast-join + TakeOrdered.
    """
    short = pq_topk(
        embeddings,
        query_id,
        m=m,
        ksub=ksub,
        k=shortlist,
    ).select("vec_id")
    qrow = embeddings.filter(F.col("vec_id") == query_id).head()
    if qrow is None:
        raise ValueError(f"query_id {query_id!r} not found in vec_id")
    qvec = [float(x) for x in qrow["embedding"]]
    q_lit = F.expr(
        "array(" + ",".join(repr(float(x)) + "D" for x in qvec) + ")"
    )
    return (
        embeddings.join(F.broadcast(short), "vec_id")
        .select("vec_id", cosine(F.col("embedding"), q_lit).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.col("vec_id"))
        .limit(k)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-PQ: the production ANN architecture — coarse cells to prune,
    PQ codes to compress, ADC to rank.

    Composition of :func:`ivf_topk`'s map-only cell assignment and
    :func:`pq_topk`'s asymmetric distance, with one further collapse:
    the query's probe cells AND its subspace distance table are both
    derived driver-side from the collected model state (k x dim
    centroids + m x ksub codebooks — a few KB), using the same
    sequential double fold the engines run, so the corpus pass is
    scan -> map (cell + code + table lookup) -> filter(cell IN probe)
    -> TakeOrdered: ZERO joins, ZERO shuffles, and the filter sits on a
    column that at 100 TB is the partition key, so probing reads
    n_probe/n_centroids of the data and each survivor costs m array
    lookups, not a dim-wide fold.

    Output: (vec_id, approx_l2) — k nearest by coded distance among the
    probed cells, ties to lowest id.
    """
    width = 64 // 4
    cents = embeddings.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
    )
    cent_list = _collect_centroids(cents)
    books = pq_codebooks(embeddings, 4, 8)
    _validate_codebook_ids(books)
    qrow = embeddings.filter(F.col("vec_id") == query_id).head()
    if qrow is None:
        raise ValueError(f"query_id {query_id!r} not found in vec_id")
    qvec = [float(x) for x in qrow["embedding"]]

    probe_cells = [
        cid
        for _, cid in sorted(
            (_l2_py(qvec, cv), cid) for cid, cv in cent_list
        )[:n_probe]
    ]
    dtable = [
        [
            _l2_py(qvec[s * width : (s + 1) * width], cent)
            for _, cent in books[s]
        ]
        for s in range(4)
    ]
    nearest = F.array_min(centroid_dist_structs("embedding", cent_list))
    code_cols = []
    for s in range(4):
        sub = f"slice(`embedding`, {s * width + 1}, {width})"
        code_cols.append(
            F.array_min(centroid_dist_structs(sub, books[s])).getField(
                "cent_id"
            )
        )
    coded = embeddings.select(
        "vec_id",
        nearest.getField("cent_id").alias("cell"),
        F.array(*code_cols).alias("code"),
    )
    d = lambda x: repr(float(x)) + "D"
    lookups = [
        f"element_at(array({','.join(d(v) for v in dtable[s])}), code[{s}] + 1)"
        for s in range(4)
    ]
    approx = F.expr(" + ".join(lookups))
    return (
        coded.filter(
            F.col("cell").isin(probe_cells) & (F.col("vec_id") != query_id)
        )
        .select("vec_id", approx.alias("approx_l2"))
        .orderBy("approx_l2", F.col("vec_id"))
        .limit(k)
    )


def _validate_codebook_ids(
    codebooks: list[list[tuple[int, list[float]]]],
) -> None:
    """ADC lookups index the flat dtable by CENT-ID VALUE
    (``s*ksub + code[s]``) while the table is laid out by codebook LIST
    POSITION — sound only when every codebook's cent_ids are exactly
    0..ksub-1 in order. pq_codebooks built from a corpus with
    non-contiguous ids would silently misindex (round-6 ADVICE), so the
    precondition is enforced here, loudly, at plan-build time."""
    for s, book in enumerate(codebooks):
        cids = [cid for cid, _ in book]
        if cids != list(range(len(book))):
            raise ValueError(
                f"codebook {s}: cent_ids {cids[:8]}... must be exactly "
                f"0..{len(book) - 1} in order for positional ADC lookups"
            )


def adc_dtable_col(
    vec_col: str, codebooks: list[list[tuple[int, list[float]]]]
) -> Column:
    """Row-local ADC distance table: a flat ``array<double>`` of
    m * ksub entries where element ``s * ksub + c`` is the squared L2
    between the row vector's subspace-``s`` slice and codebook entry
    ``c`` — the per-QUERY table a batch ADC join needs, computed
    distributed (one expression per row) instead of driver-side as the
    single-query :func:`pq_topk` does.

    Emitted as one SQL string with literal centroids (the
    :func:`centroid_dist_structs` convention: ``repr(float)+'D'``
    round-trips every double bit-exactly, and the sequential
    ``aggregate`` fold matches the oracle's ``list_reduce``), so a
    downstream ``element_at(dtable, s*ksub + code[s] + 1)`` lookup is
    bit-identical to the SQL-side join-derived table.
    """
    _validate_codebook_ids(codebooks)
    m = len(codebooks)
    width = len(codebooks[0][0][1])
    d = lambda x: repr(float(x)) + "D"
    entries = []
    for s in range(m):
        sub = f"slice(`{vec_col}`, {s * width + 1}, {width})"
        for _cid, cent in codebooks[s]:
            lit = "array(" + ",".join(d(x) for x in cent) + ")"
            entries.append(
                f"aggregate(zip_with({sub}, {lit}, (x, y) -> "
                f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
                f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
    return F.expr("array(" + ",".join(entries) + ")")


def knn_join_ivfpq(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 5,
) -> DataFrame:
    """Batch kNN join, IVF-blocked and PQ-scored — n9's candidate
    structure with ADC ranking: the full 100 TB retrieval shape where
    the corpus is touched only as (cell_id, m-byte code).

    Per side, ONE map-only pass: the corpus row becomes
    (id, cell, code) — coarse argmin + m subspace argmins over literal
    matrices, no join between the two assignments — and the query row
    becomes (id, cell, dtable) with its m x ksub ADC table computed
    row-local (:func:`adc_dtable_col`). Candidates are the cell-id
    equi-join (queries broadcast — |Q| is the small side), each scored
    by m array lookups + m-1 adds (a sequential fold over subspaces, so
    the double sum is order-fixed and oracle-exact); one query-keyed
    top-k window finishes. At scale the cell id doubles as the corpus
    partition key, so the join is co-located and a probe reads 1/k of
    the codes; raw vectors appear nowhere after the map passes —
    re-ranking survivors against raw vectors is composition with
    :func:`pq_rerank_topk`'s stage 2.

    Output: (query_id, neighbor_id, approx_l2, rnk), rnk 1..k by coded
    distance ascending, ties to lowest neighbor id.
    """
    _validate_codebook_ids(codebooks)
    m = len(codebooks)
    ksub = len(codebooks[0])
    cent_list = _collect_centroids(centroids)
    nearest = F.array_min(centroid_dist_structs("embedding", cent_list))
    width = len(codebooks[0][0][1])
    code_cols = []
    for s in range(m):
        sub = f"slice(`embedding`, {s * width + 1}, {width})"
        code_cols.append(
            F.array_min(centroid_dist_structs(sub, codebooks[s])).getField(
                "cent_id"
            )
        )
    cc = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        nearest.getField("cent_id").alias("cent_id"),
        F.array(*code_cols).alias("code"),
    )
    qc = queries.select(
        F.col("vec_id").alias("query_id"),
        nearest.getField("cent_id").alias("cent_id"),
        adc_dtable_col("embedding", codebooks).alias("dtable"),
    )
    approx = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("dtable"),
            (s * F.lit(ksub) + F.element_at(F.col("code"), s + 1) + 1).cast(
                "int"
            ),
        ),
    )
    scored = cc.join(F.broadcast(qc), "cent_id").select(
        "query_id", "neighbor_id", approx.alias("approx_l2")
    )
    w = Window.partitionBy("query_id").orderBy("approx_l2", "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
    )


def hard_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    margin: float = 0.2,
) -> DataFrame:
    """Semi-hard negative mining (FaceNet, Schroff et al. CVPR 2015) —
    the batch-construction primitive for contrastive/metric training
    data: for each anchor, the top-k DIFFERENT-label vectors inside the
    semi-hard band ``pos_sim - margin < cos < pos_sim``, where
    ``pos_sim`` is the anchor's best same-label similarity (its hardest
    positive, self excluded). Easier negatives teach nothing; harder-
    than-the-positive ones destabilize training — the band is the
    actionable middle.

    Plan: ONE scored frame (corpus x broadcast anchors, row-local
    cosine) feeds both branches — the per-anchor positive max (a
    map-side-combinable agg producing |anchors| rows, broadcast back)
    and the negative band filter; one query-keyed top-k window
    finishes. Anchors with no same-label positive drop out (inner
    join): there is no band without a positive.

    At 100 TB the |A| x |C| product is blocked exactly like the kNN
    joins: score only (anchor cell = corpus cell) pairs from an IVF
    assignment (n9's structure) — both branches read the same blocked
    frame, so the blocking is paid once. The band filter prunes before
    the window, so the top-k shuffle carries band survivors only.

    Output: (query_id, neighbor_id, cos_sim, pos_sim, rnk), rnk 1..k
    by cos_sim descending, ties to lowest neighbor id.
    """
    a = anchors.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__avec"),
        F.col("label").alias("__albl"),
    )
    scored = (
        corpus.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("__cvec"),
            F.col("label").alias("__clbl"),
        )
        .crossJoin(F.broadcast(a))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "__albl",
            "__clbl",
            cosine("__cvec", "__avec").alias("cos_sim"),
        )
    )
    # the scored product is the dominant cost and BOTH branches consume
    # it — Spark has no cross-branch subplan sharing, so persist (tracked:
    # the next registry query releases it), or the corpus is scanned and
    # cosined twice (round-7 review finding)
    from pyspark import StorageLevel

    from ..caching import track

    scored = track(scored.persist(StorageLevel.MEMORY_AND_DISK))
    pos = (
        scored.filter(F.col("__clbl") == F.col("__albl"))
        .groupBy("query_id")
        .agg(F.max("cos_sim").alias("pos_sim"))
    )
    band = (
        scored.filter(F.col("__clbl") != F.col("__albl"))
        .join(F.broadcast(pos), "query_id")
        .filter(
            (F.col("cos_sim") < F.col("pos_sim"))
            & (F.col("cos_sim") > F.col("pos_sim") - F.lit(float(margin)))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), "neighbor_id"
    )
    return (
        band.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "pos_sim", "rnk")
    )


def nn_descent(
    embeddings: DataFrame,
    k: int = 4,
    iters: int = 2,
    n_bits: int = 8,
) -> DataFrame:
    """Approximate kNN-GRAPH construction by NN-Descent (Dong et al.,
    WWW 2011) as pure DataFrame ops — the scalable alternative to any
    all-pairs scoring when the goal is every vector's neighbors (the
    substrate of graph-ANN serving indexes and embedding-dedup
    pipelines), not one query's.

    The local-join principle: a neighbor of my neighbor is likely my
    neighbor. Start from a CHEAP blocked guess, then iterate:
    candidates = current neighbors, reverse neighbors, and
    neighbors-of-neighbors over the UNDIRECTED graph; score candidates;
    keep each node's top-k. Every structure is edges keyed by vector id,
    so each round is two id-equi-joins (graph x graph, then edges x
    vectors) plus one per-node top-k window — candidate volume is
    O(n * k^2) per round vs the n^2 a direct kNN join pays.

    Seed graph: top-k inside TWO independent sign-LSH bucketings
    (disjoint coordinate sets — the paper uses random init; two hashes
    are its deterministic surrogate). One bucketing would be vacuous:
    neighbors-of-neighbors can never leave a connected component, and a
    single bucket-local seed's components ARE the buckets, so the
    iterations could only rediscover the per-bucket exact kNN. The
    second hash bridges components, which is what the descent then
    exploits to recover cross-bucket neighbors the seed missed.

    Determinism: fixed ``iters`` (no convergence test), ties to lowest
    dst id, `distinct` candidate dedup before scoring — bit-identical
    to the unrolled SQL oracle.

    Output: (src, dst, cos_sim, rnk) — the final graph, rnk 1..k per
    src by cosine descending.
    """
    # the second bucketing reads coordinates [n_bits, 2*n_bits); on a
    # narrower vector element_at past the end is NULL -> every row's
    # bkt2 = 0, one global bucket, and the seed self-join silently goes
    # quadratic (round-7 ADVICE). Guard PER ROW and lazily (a one-row
    # sample probe would eagerly materialize the upstream lineage and
    # still miss mixed-width tables — round-8 review finding): any row
    # too narrow for two independent bucketings raises at action time.
    dim_ok = F.assert_true(
        F.size(F.col("embedding")) >= 2 * n_bits,
        F.lit(
            f"nn_descent needs embedding dim >= 2*n_bits (= {2 * n_bits}) "
            "for two independent sign-LSH seed bucketings — lower n_bits "
            "or widen the vectors"
        ),
    )
    emb = embeddings.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        sign_lsh_bucket("embedding", n_bits).alias("bkt1"),
        F.when(
            dim_ok.isNull(), sign_lsh_bucket("embedding", n_bits, offset=n_bits)
        ).alias("bkt2"),
    )
    # r15: emb is read by BOTH sides of every round's scoring join plus
    # the seed self-join — ~2·iters + 5 corpus re-scans (and sign-LSH
    # recomputes) without a cache boundary. Same tracked one-shot
    # caching stance as the round frames below.
    from pyspark import StorageLevel as _SL

    from ..caching import track as _track

    emb = _track(emb.persist(_SL.MEMORY_AND_DISK))

    def topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("src").orderBy(F.desc("cs"), "dst")
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
        )

    def score(cand: DataFrame) -> DataFrame:
        return (
            cand.join(
                emb.select(F.col("id").alias("src"), F.col("vec").alias("svec")),
                "src",
            )
            .join(
                emb.select(F.col("id").alias("dst"), F.col("vec").alias("dvec")),
                "dst",
            )
            .select("src", "dst", cosine("dvec", "svec").alias("cs"))
        )

    a = emb.select(
        F.col("id").alias("src"), F.col("vec").alias("svec"), "bkt1", "bkt2"
    )
    b = emb.select(F.col("id").alias("dst"), "bkt1", "bkt2")
    seed = (
        a.join(b.select("dst", "bkt1"), "bkt1")
        .select("src", "dst")
        .union(a.join(b.select("dst", "bkt2"), "bkt2").select("src", "dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # keep each round's SCORED top-k: the final answer is the last
    # round's frame as-is — re-scoring it would pay one whole extra
    # edges-x-vectors join pair and window for bit-identical values
    # (round-7 review finding)
    # r15 (r14 verdict item 6): persist each round's graph. Round N's
    # frame is referenced ~4x by round N+1 (the undirected union feeds
    # both sides of the neighbor-of-neighbor self-join plus the
    # candidate union), and the loop is a LAZY unroll — without a cache
    # boundary the shared subtree re-evaluates once per reference, i.e.
    # combinatorially in ``iters``. The cache is k·n edge rows per
    # round (tiny, independent of vector width); it populates on first
    # use at the caller's action, so no action is added here. Tracked
    # in ..caching for the registry's scoped release; direct library
    # callers running many graphs per session should release via
    # caching.drop_stale(spark) in the same thread, or clearCache.
    from pyspark import StorageLevel

    from ..caching import track

    g_scored = track(
        topk(score(seed)).persist(StorageLevel.MEMORY_AND_DISK)
    )
    for _ in range(iters):
        g = g_scored.select("src", "dst")
        und = g.union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        g1, g2 = und.alias("g1"), und.alias("g2")
        non = g1.join(
            g2, F.col("g1.dst") == F.col("g2.src")
        ).select(F.col("g1.src").alias("src"), F.col("g2.dst").alias("dst"))
        cand = (
            und.union(non)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        g_scored = track(
            topk(score(cand)).persist(StorageLevel.MEMORY_AND_DISK)
        )
    return g_scored.select(
        "src", "dst", F.col("cs").alias("cos_sim"),
        F.col("rnk").cast("int").alias("rnk"),
    )


def _lsh_scored_frame(
    embeddings, n_queries, n_bits, id_col, vec_col
):
    """The ONE evaluation frame ev1 (recall) and ev4 (nDCG) share:
    queries (id < n_queries) broadcast against the corpus (self
    excluded), cosine scored once, each candidate tagged with whether
    its sign-LSH bucket equals the query's. Persisted (tracked) —
    every caller ranks it at least twice, and the |Q| x |C| cosine
    product is the dominant stage (round-7 review: ev1/ev4 previously
    each built their own copy of this block, the exact drift risk
    their docstrings warn about)."""
    from pyspark import StorageLevel

    from ..caching import track

    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        sign_lsh_bucket(vec_col, n_bits).alias("qbkt"),
    )
    c = embeddings.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cvec"),
        sign_lsh_bucket(vec_col, n_bits).alias("cbkt"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.col("cbkt") == F.col("qbkt")).alias("same_bkt"),
            cosine("cvec", "qvec").alias("cs"),
        )
    )
    return track(scored.persist(StorageLevel.MEMORY_AND_DISK))


def ann_recall(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    n_bits: int = 8,
) -> DataFrame:
    """Index-quality monitoring: recall@k of the single-probe sign-LSH
    search measured against exact brute force, per query, in ONE plan —
    the metric a production ANN deployment tracks continuously (recall
    decays as the corpus drifts away from the index's partitioning; see
    the semantic-stream rebuild trigger for the remediation side).

    Both retrievals share the scored frame: queries (id < n_queries)
    broadcast against the corpus (self excluded), cosine scored once.
    The EXACT list is the per-query top-k over everything; the APPROX
    list is the per-query top-k restricted to rows whose bucket equals
    the query's bucket (single probe, n2's search shape). Recall is the
    intersection size over k. Queries whose bucket holds fewer than k
    candidates naturally surface recall < 1 — the metric's job.

    Output: (query_id, n_exact, n_approx, n_hit, recall), recall
    rounded to 6dp for cross-engine hash stability.
    """
    scored = _lsh_scored_frame(
        embeddings, n_queries, n_bits, "vec_id", "embedding"
    )
    w_exact = Window.partitionBy("query_id").orderBy(F.desc("cs"), "cand_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w_exact))
        .filter(F.col("rnk") <= k)
        .select("query_id", "cand_id")
    )
    # approx renames BOTH columns: exact and approx share the scored
    # frame's lineage, so same-name refs in the join would resolve
    # ambiguously (Spark warns 'trivially true equals predicate')
    approx = (
        scored.filter(F.col("same_bkt"))
        .withColumn("rnk", F.row_number().over(w_exact))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("query_id").alias("aq_id"),
            F.col("cand_id").alias("approx_id"),
        )
    )
    hits = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("aq_id"))
            & (F.col("cand_id") == F.col("approx_id")),
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
        .join(
            approx.groupBy(F.col("aq_id").alias("query_id")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_approx")
            ),
            "query_id",
            "left",
        )
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_approx", F.lit(0)).cast("bigint").alias("n_approx"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
    )


def ann_ndcg(
    embeddings: DataFrame,
    n_queries: int = 20,
    k: int = 5,
    n_bits: int = 8,
) -> DataFrame:
    """Position-sensitive index-quality monitoring: nDCG@k of the
    single-probe sign-LSH retrieval against the exact ranking — the
    graded companion to :func:`ann_recall` (recall treats a hit at
    rank 1 and rank k the same; nDCG pays more for putting the BEST
    neighbors first, which is what a retrieval-augmented consumer of
    the index actually experiences).

    Relevance is graded by the exact ranking: the exact rank-1
    neighbor is worth k, rank-2 worth k-1, ... rank-k worth 1, and
    anything outside the exact top-k worth 0. DCG folds the approx
    list's rel / log2(pos + 1) in position order; IDCG folds the
    ideal (exact) placement the same way; nDCG = DCG / IDCG.

    Cross-engine exactness: discounts are written ln(p + 1) / ln(2)
    in BOTH engines (never a native log2 — Spark computes log2 as a
    quotient of natural logs while DuckDB calls libm log2, and the
    two can differ in the last ulp); both folds run in ascending
    position order as sequential left folds (the x17 rule), so the
    doubles are bit-identical before the final 6 dp round.

    Output: (query_id, n_approx, dcg, idcg, ndcg); queries whose
    probe bucket is empty score 0.0 — the decay signal this metric
    exists to surface.
    """
    scored = _lsh_scored_frame(
        embeddings, n_queries, n_bits, "vec_id", "embedding"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), "cand_id")
    exact = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            "cand_id",
            (F.lit(k) - F.col("rnk") + 1).cast("bigint").alias("rel"),
            F.col("rnk").alias("ipos"),
        )
    )
    approx = (
        scored.filter(F.col("same_bkt"))
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= k)
        .select(
            F.col("query_id").alias("aq_id"),
            F.col("cand_id").alias("approx_id"),
            "pos",
        )
    )

    def _fold_dcg(pairs):  # ordered (pos, rel) structs -> sum rel/disc
        return F.aggregate(
            pairs,
            F.lit(0.0),
            lambda acc, t: acc
            + t["rel"].cast("double")
            / (F.log(t["pos"].cast("double") + F.lit(1.0)) / F.log(F.lit(2.0))),
        )

    dcg_q = (
        approx.join(
            exact,
            (F.col("aq_id") == F.col("query_id"))
            & (F.col("approx_id") == F.col("cand_id")),
            "left",
        )
        .select(
            "aq_id",
            "pos",
            F.coalesce("rel", F.lit(0)).cast("bigint").alias("rel"),
        )
        .groupBy("aq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_approx"),
            _fold_dcg(
                F.sort_array(F.collect_list(F.struct("pos", "rel")))
            ).alias("dcg"),
        )
    )
    idcg_q = exact.groupBy("query_id").agg(
        _fold_dcg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("ipos").alias("pos"), "rel")
                )
            )
        ).alias("idcg")
    )
    spine = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id")
    )
    return (
        spine.join(idcg_q, "query_id", "left")
        .join(
            dcg_q.withColumnRenamed("aq_id", "query_id"),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.coalesce("n_approx", F.lit(0)).cast("bigint").alias(
                "n_approx"
            ),
            F.round(F.coalesce("dcg", F.lit(0.0)), 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(
                F.coalesce("dcg", F.lit(0.0))
                / F.when(F.col("idcg") > 0, F.col("idcg")),
                6,
            ).alias("ndcg"),
        )
    )


def graph_greedy_search(
    queries: DataFrame,
    corpus: DataFrame,
    graph: DataFrame,
    steps: int = 4,
) -> DataFrame:
    """Greedy best-first search over a kNN graph — the SERVING phase of
    graph-ANN (the walk HNSW/NSG run per query; Malkov & Yashunin 2018
    with beam width 1 on a flat graph): start every query at a fixed
    entry point (the corpus's minimum id), repeatedly move to the
    neighbor closest to the query while that strictly improves, stop at
    a local optimum or after ``steps`` improvement opportunities.

    The graph is searched UNDIRECTED (edges + reverse edges — real
    graph indexes keep back-links for exactly this reachability).

    Determinism: fixed ``steps`` unrolled (no convergence test — a
    converged query simply stops moving), the per-step argmax breaks
    ties to the lowest dst id, and a NULL similarity (zero vector)
    never counts as an improvement. Bit-identical to the unrolled SQL
    oracle by the n7 cosine rules (sequential-fold dot product).

    Output: (query_id, found_id, found_sim, n_steps) — n_steps counts
    MOVES taken, so n_steps < steps certifies local-optimum
    convergence, not budget exhaustion.

    Scale: the walk state is ONE row per query carrying only (ids,
    query vector, similarity) — query-sized, never corpus-sized — so
    each step is a broadcast of the state against the id-partitioned
    graph and corpus tables; the corpus text/vectors never re-shuffle,
    and the graph is built once (nn_descent) and reused across every
    query batch.
    """
    from ..caching import persist_tracked

    # persist the searched graph: every unrolled step joins against it,
    # and without the cache the (possibly expensive) graph-construction
    # lineage re-evaluates once per step
    und = persist_tracked(
        graph.select("src", "dst")
        .union(
            graph.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
    )
    vecs = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    entry = vecs.select(F.min("id").alias("eid"))
    state = (
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        .crossJoin(F.broadcast(entry))
        .join(
            vecs.select(F.col("id").alias("eid"), F.col("vec").alias("evec")),
            "eid",
        )
        .select(
            "query_id",
            "qv",
            F.col("eid").alias("cur_id"),
            cosine("qv", "evec").alias("cur_sim"),
            F.lit(0).alias("n_steps"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "dst")
    for _ in range(steps):
        cand = (
            state.join(und, state["cur_id"] == und["src"])
            .join(
                vecs.select(F.col("id").alias("dst"), F.col("vec").alias("dvec")),
                "dst",
            )
            .select("query_id", "dst", cosine("qv", "dvec").alias("sim"))
        )
        best = (
            cand.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("query_id", F.col("dst").alias("bid"), F.col("sim").alias("bsim"))
        )
        moved = F.col("bsim") > F.col("cur_sim")
        # localCheckpoint each step's state (|Q| rows — the graph.py
        # label-propagation pattern): the step references the PREVIOUS
        # state twice (candidate source + merge-back), and a chained
        # self-join lineage re-evaluates geometrically — measured 4.2 /
        # 12.2 / 25.4 / 68.9 s per step at sf0.1 under plain persist
        # (the re-aliased self-join branch misses the cache), constant
        # after truncation
        state = (
            state.join(best, "query_id", "left")
            .select(
                "query_id",
                "qv",
                F.when(moved, F.col("bid")).otherwise(F.col("cur_id"))
                .alias("cur_id"),
                F.when(moved, F.col("bsim")).otherwise(F.col("cur_sim"))
                .alias("cur_sim"),
                (F.col("n_steps") + F.when(moved, 1).otherwise(0))
                .alias("n_steps"),
            )
            .localCheckpoint()
        )
    return state.select(
        "query_id",
        F.col("cur_id").alias("found_id"),
        F.col("cur_sim").alias("found_sim"),
        F.col("n_steps").cast("int").alias("n_steps"),
    )
