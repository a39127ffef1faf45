"""Aggregation operators (SURVEY.md §2d).

All aggregations are single-pass hash aggregates with map-side partial
aggregation (Spark plans partial_/final_ automatically). The one-pass
profile operators replace the reference's N+1 per-column job patterns
(/root/reference/src/main/helper_methods.py:58-79) with a single scan.

Exact-decimal helpers: summing doubles is order-dependent, and at
cluster scale partition order is nondeterministic — so any sum that
must be reproducible (or oracle-comparable) is computed by casting each
addend to a fixed-scale decimal (exact, order-free addition) and
casting the total back to double.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def exact_decimal_sum(col: Column | str, scale: int = 6, precision: int = 30) -> Column:
    """Order-independent SUM of a double column via decimal addition."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def exact_decimal_avg(col: Column | str, scale: int = 6, precision: int = 30) -> Column:
    """Order-independent AVG: exact decimal sum divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_decimal_sum(c, scale, precision) / F.count(c)


def grouped_agg(df: DataFrame, keys: Sequence[str], aggs: Sequence[Column]) -> DataFrame:
    """Grouped aggregation (A1/A10): hash agg, partial+final."""
    return df.groupBy(*keys).agg(*aggs)


def null_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column null counts in ONE pass (A5). Replaces the reference's
    per-column `where(isNull).count()` job loop
    (/root/reference/src/main/helper_methods.py:68)."""
    cols = list(cols or df.columns)
    return df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls") for c in cols]
    )


def distinct_counts(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact count-distinct for several columns in one job (A4)."""
    return df.agg(*[F.countDistinct(F.col(c)).alias(f"{c}_distinct") for c in cols])


def approx_distinct_counts(df: DataFrame, cols: Sequence[str], rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ count-distinct (A4 scale path): one pass, no
    shuffle of distinct values — the right cardinality probe at 100 TB,
    replacing the reference's per-column `distinct().count()` jobs
    (/root/reference/src/main/helper_methods.py:58-62)."""
    return df.agg(
        *[F.approx_count_distinct(F.col(c), rsd).alias(f"{c}_approx_distinct") for c in cols]
    )


def numeric_profile(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """One-pass min/max/mean/stddev/nulls per numeric column (C12/A11
    equivalent). Output: one row per input column (unpivoted via a
    stack of per-column structs computed in the same scan)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__count"),
            F.min(F.col(c)).cast("double").alias(f"{c}__min"),
            F.max(F.col(c)).cast("double").alias(f"{c}__max"),
            exact_decimal_avg(c).alias(f"{c}__mean"),
            F.stddev_samp(F.col(c)).alias(f"{c}__stddev"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
        ]
    wide = df.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args.append(
            f"'{c}', `{c}__count`, `{c}__min`, `{c}__max`, `{c}__mean`, `{c}__stddev`, `{c}__nulls`"
        )
    stack = ", ".join(stack_args)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as (column_name, n, min_val, max_val, mean_val, stddev_val, n_nulls)"
    )


def exact_quantiles(df: DataFrame, col: str, probs: Sequence[float]) -> DataFrame:
    """Exact interpolated percentiles (A6 exact form). For 100 TB use
    F.percentile_approx (GK sketch, single pass, mergeable across
    partitions) instead; exact percentile sorts the column within
    groups."""
    cols = [
        F.expr(f"percentile({col}, {p})").alias(f"p{int(p * 100):02d}") for p in probs
    ]
    return df.agg(*cols)


def pearson_corr(df: DataFrame, x: str, y: str) -> DataFrame:
    """Pearson correlation as a single-pass aggregate (A7,
    /root/reference/src/main/helper_methods.py:69)."""
    return df.agg(F.corr(F.col(x), F.col(y)).alias("corr"))


def salted_grouped_agg(
    df: DataFrame,
    keys: Sequence[str],
    count_alias: str,
    sum_cols: dict[str, str],
    factor: int = 8,
) -> DataFrame:
    """Skew-resistant grouped count+sum: phase 1 aggregates on
    (keys, salt) so a hot key's rows spread over `factor` reduce
    tasks, phase 2 merges the partials per key. Spark's own map-side
    partials help only before the shuffle — when one key dominates,
    its FINAL reduce task still receives everything; salting splits
    that reduce `factor` ways (AQE has skew-join handling but no
    skew-agg). Sums use exact decimal addition, so the two-phase
    result is bit-identical to the direct groupBy — mergeability is
    what makes the rewrite free.

    `sum_cols` maps input column -> output alias. Salt is a
    deterministic hash of the whole row, not a random number: reruns
    and retries produce identical partials."""
    salt = F.pmod(F.abs(F.hash(*[F.col(c) for c in df.columns])), F.lit(factor))
    partial = (
        df.withColumn("__salt", salt)
        .groupBy(*keys, "__salt")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.col(c).cast("decimal(30,6)")).alias(f"__s_{c}")
                for c in sum_cols
            ],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n").alias(count_alias),
        *[
            F.sum(f"__s_{c}").cast("double").alias(alias)
            for c, alias in sum_cols.items()
        ],
    )


def correlation_matrix(df: DataFrame, cols: Sequence[str], digits: int = 6) -> DataFrame:
    """EDA correlation matrix (reference helper_methods.py:82-90,
    notebook cells 4-9) as ONE hash aggregate: all k·(k-1)/2 upper-
    triangle Pearson pairs (plus the unit diagonal) computed in a
    single pass, then unpivoted with `stack` to long form
    (x, y, corr_val). Equivalent to ml.stat.Correlation on an
    assembled vector, but stays inside whole-stage codegen — corr is a
    mergeable 6-moment sketch, so the pass partial-aggregates map-side
    and the shuffle carries k² scalars regardless of input size."""
    pairs = [(x, y) for i, x in enumerate(cols) for y in cols[i:]]
    aggs = [
        (
            F.lit(1.0) if x == y else F.round(F.corr(x, y), digits)
        ).alias(f"__c_{i}")
        for i, (x, y) in enumerate(pairs)
    ]
    stack_args = ", ".join(
        f"'{x}', '{y}', __c_{i}" for i, (x, y) in enumerate(pairs)
    )
    return (
        df.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(pairs)}, {stack_args}) AS (x, y, corr_val)"
            )
        )
    )


def crosstab_counts(df: DataFrame, row_col: str, col_col: str, col_values: Sequence[str]) -> DataFrame:
    """Contingency counts (A10) as conditional aggregates: one hash agg,
    explicit pivot values so the schema is static (no extra distinct-job
    that `pivot()` without values runs, and zeros instead of nulls)."""
    aggs = [
        F.count(F.when(F.col(col_col) == v, 1)).alias(f"{col_col}_{v}")
        for v in col_values
    ]
    return df.groupBy(row_col).agg(*aggs)
