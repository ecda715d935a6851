"""Skew mitigation: salted aggregation.

AQE's skew-join splitting (`session.py` turns it on) handles join
skew at runtime by splitting oversized shuffle partitions. Salting is
the *plan-level* complement for the case AQE can't fix: a hot GROUP BY
key whose single reducer becomes the straggler (AQE can split a
partition, not a key). The result equals the unsalted plan exactly —
the salt only changes physical distribution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_groupby_agg(
    df: DataFrame,
    keys: list[str],
    aggs: list[tuple[Column, Column, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation over a salted key.

    ``aggs`` is a list of (partial_agg_col, final_agg_expr_builder
    applied to the partial column name, output name) triples expressed
    as (partial Column, final Column over the partial alias, name):
    stage 1 aggregates per (keys, salt) — hot keys spread over
    ``salt_buckets`` reducers — stage 2 combines the per-salt partials
    (a shuffle of |keys| x salt_buckets rows, tiny by construction).

    Only algebraic aggregates decompose this way (SUM/COUNT/MIN/MAX —
    AVG as SUM+COUNT); that is exactly the set the reference engine
    supports (``/root/reference/src/qp/utils/AggregateAttribute.java``).
    """
    salted = df.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    partials = salted.groupBy(*keys, "_salt").agg(
        *[p.alias(f"_p_{name}") for p, _f, name in aggs]
    )
    return partials.groupBy(*keys).agg(
        *[f(F.col(f"_p_{name}")).alias(name) for _p, f, name in aggs]
    )
