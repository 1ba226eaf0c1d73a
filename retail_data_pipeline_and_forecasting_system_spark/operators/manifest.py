"""Export-manifest state: per-shard counts, byte/token totals and an
order-independent multiset content digest over the x32 shard layout.

Shared by the batch registry entry ``x55_export_manifest``
(plans/analytics.py) and the incremental maintenance service
``streaming/manifest_stream.py``: every state column is algebraic —
counts and digests sum (the digest is a commutative u64 sum mod 2^64),
min/max merge — so draining the same documents through ANY epoch
slicing yields the identical manifest a single batch pass yields, and a
retried task or a different partitioning cannot change a digest.

Digest construction (the cross-engine-exact md5 path, no xxhash64
dependence on JVM internals): per row, u64 = the md5(doc_id:text)
prefix folded as two 32-bit halves (hi * 2^32 + lo, each half via
``conv(hex, 16, 10)``); per shard, SUM(u64) mod 2^64 held in
DECIMAL(38,0)/DECIMAL(20,0) — matching the DuckDB oracle's HUGEINT
headroom exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 2^64 — the digest modulus (DECIMAL-held, both engines exact).
U64_MOD = "18446744073709551616"


def manifest_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Row-local manifest terms: (shard, doc_id, n_bytes, n_tokens,
    h64). shard is x32's md5-nibble layout; NULL-id rows quarantine to
    shard -1; NULL text hashes as '' (a receipt never drops a row)."""
    h = F.md5(
        F.concat(
            F.coalesce(F.col(id_col).cast("string"), F.lit("")),
            F.lit(":"),
            F.coalesce(F.col(text_col), F.lit("")),
        )
    )
    # Column API, not an F.expr SQL string: interpolating id_col into
    # SQL breaks (or injects) on names needing backticks (round-13
    # ADVICE). instr over the hex charset is the same md5-nibble value.
    shard = F.coalesce(
        (
            F.instr(
                F.lit("0123456789abcdef"),
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 1),
            )
            - 1
        ).cast("int")
        % n_shards,
        F.lit(-1),
    )
    return docs.select(
        shard.alias("shard"),
        F.col(id_col).alias("doc_id"),
        F.octet_length(F.coalesce(F.col(text_col), F.lit("")))
        .cast("bigint")
        .alias("n_bytes"),
        F.size(F.split(text_col, " ")).cast("bigint").alias("n_tokens"),
        h.alias("h"),
    ).select(
        "shard",
        "doc_id",
        "n_bytes",
        "n_tokens",
        (
            F.conv(F.substring("h", 1, 8), 16, 10)
            .cast("bigint")
            .cast("decimal(20,0)")
            * 4294967296
            + F.conv(F.substring("h", 9, 8), 16, 10).cast("bigint")
        ).alias("h64"),
    )


def manifest_state(docs: DataFrame, **kwargs) -> DataFrame:
    """Per-shard manifest state: ONE map-side-combined agg; sum64 is
    the digest sum already reduced mod 2^64 (DECIMAL(20,0))."""
    return (
        manifest_rows(docs, **kwargs)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_bytes").cast("bigint").alias("n_bytes"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
            F.pmod(
                F.sum("h64"), F.lit(U64_MOD).cast("decimal(38,0)")
            )
            .cast("decimal(20,0)")
            .alias("sum64"),
        )
    )


def merge_manifest_states(cur: DataFrame, delta: DataFrame) -> DataFrame:
    """Algebraic merge of two per-shard states (full outer on shard):
    counts and digests add (mod 2^64), spans take min/max. Exactly the
    ops6/rollup merge contract, so epoch slicing cannot change the
    result."""
    c = cur.select(*[F.col(x).alias(f"a_{x}") for x in cur.columns])
    d = delta.select(*[F.col(x).alias(f"b_{x}") for x in delta.columns])
    j = c.join(d, c.a_shard == d.b_shard, "full_outer")

    def add(x):
        return (
            F.coalesce(F.col(f"a_{x}"), F.lit(0))
            + F.coalesce(F.col(f"b_{x}"), F.lit(0))
        ).cast("bigint")

    return j.select(
        F.coalesce("a_shard", "b_shard").alias("shard"),
        add("n_docs").alias("n_docs"),
        add("n_bytes").alias("n_bytes"),
        add("n_tokens").alias("n_tokens"),
        F.least("a_min_doc", "b_min_doc").alias("min_doc"),
        F.greatest("a_max_doc", "b_max_doc").alias("max_doc"),
        F.pmod(
            F.coalesce(F.col("a_sum64"), F.lit(0)).cast("decimal(38,0)")
            + F.coalesce(F.col("b_sum64"), F.lit(0)).cast("decimal(38,0)"),
            F.lit(U64_MOD).cast("decimal(38,0)"),
        )
        .cast("decimal(20,0)")
        .alias("sum64"),
    )


def finalize_manifest(state: DataFrame) -> DataFrame:
    """Per-shard manifest rows + the corpus Merkle root (md5 over the
    shard digests in shard order — the shard-grain fold is model-sized
    at any corpus size). Output shape = x55_export_manifest."""
    per = state.select(
        "shard",
        "n_docs",
        "n_bytes",
        "n_tokens",
        "min_doc",
        "max_doc",
        F.col("sum64").cast("string").alias("content_sum64"),
    )
    root = per.agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("shard"),
                                F.col("content_sum64").alias("s"),
                            )
                        )
                    ),
                    lambda x: F.concat_ws(
                        ":", x.shard.cast("string"), x.s
                    ),
                ),
                "|",
            )
        ).alias("merkle_root")
    )
    return per.crossJoin(F.broadcast(root)).select(
        "shard",
        "n_docs",
        "n_bytes",
        "n_tokens",
        "min_doc",
        "max_doc",
        "content_sum64",
        "merkle_root",
    )
