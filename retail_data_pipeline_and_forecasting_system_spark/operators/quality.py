"""Declarative data-quality expectations — one-pass constraint validation.

The gate a 100 TB ingest runs before anything downstream sees the data:
declare rules (not-null, range, accepted values, uniqueness, foreign key,
arbitrary SQL predicate), get back one row per rule with its violation
count and pass/fail. Plan shape by rule class:

- **row-local rules** (not_null / in_range / accepted_values / predicate)
  all fold into a SINGLE conditional-aggregation pass over the table —
  adding a rule adds a sum(CASE WHEN...) column, never a scan;
- **uniqueness** is one hash-agg: violations = count(*) minus distinct
  key count (both map-side partial);
- **foreign_key** is one left-anti-join count per referenced table
  (broadcast when the dim is small, shuffle otherwise — Spark picks).

Results from every class union into one tiny report frame, so the whole
suite is O(#rule-classes) jobs regardless of rule count. The reference
validates implicitly (NaN drops in src/data_processor.py:320-335, CI
row-count existence checks in .gitlab-ci.yml:98); this makes the
contract explicit, declarative, and scalable.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "Expectation",
    "not_null",
    "in_range",
    "accepted_values",
    "predicate",
    "unique",
    "foreign_key",
    "check_expectations",
    "tag_violations",
    "split_by_expectations",
]


@dataclass
class Expectation:
    name: str
    kind: str  # rowwise | unique | foreign_key
    violation: Column | None = None  # rowwise: 1 when the row VIOLATES
    keys: list[str] = field(default_factory=list)
    ref: DataFrame | None = None
    ref_keys: list[str] = field(default_factory=list)


def not_null(col: str) -> Expectation:
    return Expectation(
        name=f"not_null({col})",
        kind="rowwise",
        violation=F.col(col).isNull(),
    )


def in_range(col: str, lo, hi) -> Expectation:
    """NULLs do not violate a range rule — pair with not_null to forbid."""
    return Expectation(
        name=f"in_range({col},{lo},{hi})",
        kind="rowwise",
        violation=F.col(col).isNotNull()
        & ~F.col(col).between(F.lit(lo), F.lit(hi)),
    )


def accepted_values(col: str, values: list) -> Expectation:
    return Expectation(
        name=f"accepted_values({col})",
        kind="rowwise",
        violation=F.col(col).isNotNull() & ~F.col(col).isin(values),
    )


def predicate(name: str, sql_condition: str) -> Expectation:
    """Arbitrary row-level rule; `sql_condition` is what must HOLD."""
    return Expectation(
        name=name,
        kind="rowwise",
        violation=~F.expr(sql_condition),
    )


def unique(cols: list[str]) -> Expectation:
    return Expectation(
        name=f"unique({','.join(cols)})", kind="unique", keys=list(cols)
    )


def foreign_key(
    cols: list[str], ref: DataFrame, ref_cols: list[str]
) -> Expectation:
    return Expectation(
        name=f"foreign_key({','.join(cols)})",
        kind="foreign_key",
        keys=list(cols),
        ref=ref,
        ref_keys=list(ref_cols),
    )


def check_expectations(
    df: DataFrame, rules: list[Expectation]
) -> DataFrame:
    """Run all rules; returns (rule, n_violations, passed), one row each,
    in the declared rule order (rank column omitted — order by rule name
    downstream if needed)."""
    reports: list[DataFrame] = []

    rowwise = [r for r in rules if r.kind == "rowwise"]
    if rowwise:
        # every row-local rule is one conditional-sum column in a single
        # aggregation — one scan total, map-side combined
        # coalesce: sum over an EMPTY table is NULL, but zero rows means
        # zero violations (the empty-input sweep exercises this)
        # positional __v{i} aliases + a typed explode(array(struct)) unpivot:
        # rule names appear only as F.lit values, never interpolated into
        # generated SQL text (a name containing a quote/backtick is safe)
        aggs = [
            F.coalesce(F.sum(r.violation.cast("long")), F.lit(0)).alias(
                f"__v{i}"
            )
            for i, r in enumerate(rowwise)
        ]
        wide = df.agg(*aggs)
        stacked = wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r.name).alias("rule"),
                            F.col(f"__v{i}").alias("n_violations"),
                        )
                        for i, r in enumerate(rowwise)
                    ]
                )
            ).alias("__kv")
        ).select("__kv.rule", "__kv.n_violations")
        reports.append(stacked)

    for r in rules:
        if r.kind == "unique":
            # distinct over a STRUCT of the keys: struct grouping is
            # NULL-safe, so a NULL-keyed row forms one distinct group —
            # matching the DuckDB oracle's count(DISTINCT (a,b)). Bare
            # countDistinct(a,b) would skip every NULL-containing tuple
            # and count each such row as a violation.
            rep = df.agg(
                F.lit(r.name).alias("rule"),
                (
                    F.count(F.lit(1))
                    - F.countDistinct(
                        F.struct(*[F.col(c) for c in r.keys])
                    )
                ).alias("n_violations"),
            )
            reports.append(rep)
        elif r.kind == "foreign_key":
            orphans = df.select(*r.keys).join(
                r.ref.select(
                    *[
                        F.col(rc).alias(c)
                        for c, rc in zip(r.keys, r.ref_keys)
                    ]
                ),
                on=r.keys,
                how="left_anti",
            )
            rep = orphans.agg(
                F.lit(r.name).alias("rule"),
                F.count(F.lit(1)).alias("n_violations"),
            )
            reports.append(rep)

    out = reports[0]
    for other in reports[1:]:
        out = out.unionByName(other)
    return out.select(
        "rule",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def tag_violations(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Enforcement side of the gate: every row gains a comma-joined list
    of the rules it violates ('' when clean).

    Row-local rules are pure column expressions (no extra pass at all);
    each foreign_key rule adds one left join against the DISTINCT
    referenced keys with a match marker (broadcast when the dim is
    small). `unique` rules are rejected here — "which duplicate is the
    bad one" needs an ordering policy, which is canonical-selection's
    job (see d13), not a row tag. The tag is a STRING, not an array, so
    reports serialize identically everywhere (CSV sinks, cross-engine
    oracles).
    """
    bad = [r for r in rules if r.kind == "unique"]
    if bad:
        raise ValueError(
            f"unique rules cannot tag individual rows: {[r.name for r in bad]}"
        )

    fk_markers: list[Column] = []
    marker_cols: list[str] = []
    for i, r in enumerate(rules):
        if r.kind != "foreign_key":
            continue
        marker = f"__fk_{i}"
        while marker in df.columns:  # never shadow a user column
            marker = "_" + marker
        marker_cols.append(marker)
        ref_keys = (
            r.ref.select(
                *[F.col(rc).alias(c) for c, rc in zip(r.keys, r.ref_keys)]
            )
            .distinct()
            .withColumn(marker, F.lit(True))
        )
        df = df.join(ref_keys, on=r.keys, how="left")
        fk_markers.append(
            F.when(F.col(marker).isNull(), F.lit(r.name))
        )

    parts = [
        F.when(r.violation, F.lit(r.name))
        for r in rules
        if r.kind == "rowwise"
    ] + fk_markers
    if not parts:
        return df.withColumn("violated", F.lit(""))
    # ';'-joined: rule names themselves contain commas (range bounds)
    tagged = df.withColumn(
        "violated", F.array_join(F.array_compact(F.array(*parts)), ";")
    )
    # drop exactly the markers this call added — a pre-existing user
    # column that happens to start with '__fk_' survives untouched
    return tagged.drop(*marker_cols)


def split_by_expectations(
    df: DataFrame, rules: list[Expectation]
) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): clean rows keep the input schema; quarantined
    rows carry the `violated` rule list for triage/replay. The standard
    ingest contract — bad rows are never silently dropped, they are
    routed (generalizes the reference's silent NaN drop,
    src/data_processor.py:320-335)."""
    tagged = tag_violations(df, rules)
    clean = tagged.filter(F.col("violated") == "").drop("violated")
    quarantine = tagged.filter(F.col("violated") != "")
    return clean, quarantine
