"""Aggregation operators (reference SURVEY §2.4 A1-A11).

Every reference mart is a hash aggregate over multi-column group keys with
sum/count (jb_de_enhancement_t2_salesbyageproducts_s2s.py:55-56); the Athena
query set adds count(distinct), unit-scaled rounding, and count ratios
(document/glue_t2.md:26-128).

Scale notes: ``groupBy().agg()`` gives map-side partial aggregation for
sum/count/avg for free (HashAggregate partial -> shuffle on keys -> final);
exact countDistinct forces a second expand+shuffle, so `approx=True` swaps in
HLL `approx_count_distinct` for the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def grouped_sales_agg(
    df: DataFrame, keys: list[str | Column], amount_col: str
) -> DataFrame:
    """The reference's mart kernel: groupBy(keys).agg(sum, count) with the
    reference's output aliases (jb_de_enhancement_t2_salesbyageproducts_s2s.py:55-56)."""
    return df.groupBy(*keys).agg(
        F.sum(amount_col).alias("total_purchase_amount"),
        F.count(amount_col).alias("count_of_purchase"),
    )


def customer_base_stats(
    df: DataFrame,
    group_key: str,
    customer_col: str,
    amount_col: str,
    *,
    approx: bool = False,
    presto_int_division: bool = False,
) -> DataFrame:
    """Reference A10 (document/glue_t2.md:101-113): per-group distinct
    customers, purchase count, purchases-per-customer, and unit-scaled spend
    averages. ``approx=True`` uses HLL for the 100 TB path (one less shuffle).

    ``presto_int_division``: in the reference's Athena/Presto SQL,
    count/count(distinct) is BIGINT / BIGINT -- INTEGER division (7/2 = 3),
    a fidelity trap SURVEY §2.4 A10 flags. The default keeps true division
    (pinned by the repo's DuckDB oracle); flip this on to reproduce the
    reference's Presto answer bit-for-bit. Only the count ratio is affected:
    the amount ratios divide a DOUBLE sum, real division in every engine."""
    ndv: Column = (
        F.approx_count_distinct(customer_col) if approx else F.count_distinct(customer_col)
    ).alias("count_of_customers")
    ndv_expr = (
        F.approx_count_distinct(customer_col) if approx else F.count_distinct(customer_col)
    )
    if presto_int_division and not approx:
        # Spark's `div` is the exact bigint-division twin of Presto's `/`
        # on two bigints (truncation; counts are non-negative so == floor)
        ratio: Column = F.expr(
            f"count({customer_col}) div count(distinct {customer_col})"
        )
    else:
        ratio = F.round(F.count(customer_col) / ndv_expr, 2)
    return df.groupBy(group_key).agg(
        ndv,
        F.count(customer_col).alias("count_of_purchase"),
        ratio.alias("purchase_per_customer"),
        F.round(F.sum(amount_col) / F.count(customer_col) / 10000, 2).alias(
            "amount_per_purchase_10k"
        ),
        F.round(
            F.sum(amount_col)
            / (F.approx_count_distinct(customer_col) if approx else F.count_distinct(customer_col))
            / 10000,
            2,
        ).alias("amount_per_customer_10k"),
    )


def merge_partial_aggs(
    mart: DataFrame,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    count_col: str,
) -> DataFrame:
    """Incremental aggregation maintenance: combine an EXISTING pre-aggregated
    mart with the partial aggregate of a new batch -- union + re-agg over the
    associative components (sums / counts), never re-reading history.

    This is the 100 TB mart-refresh shape: a day's delta shuffles
    delta-sized rows, the mart contributes group-cardinality rows, and the
    merged result is byte-equal to a full recompute because sum and count
    are commutative monoids. Derived columns (avg = sum/count) must be
    recomputed AFTER the merge, never merged -- callers add them on the
    result. Both inputs must carry exactly ``keys + sum_cols + [count_col]``.
    """
    cols = [*keys, *sum_cols, count_col]
    unioned = mart.select(*cols).unionByName(delta.select(*cols))
    return unioned.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.sum(count_col).cast("long").alias(count_col),
    )
